package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.FlashscorePipeline

/** Runnable end-to-end demo of the reference workflow (SURVEY.md §3 E1):
  * generates Flashscore-shaped JSON files, runs the BATCH pipeline, then
  * the STREAMING pipeline with a new file arriving, and prints the four
  * output table counts. `runMain graft.FlashscoreDemo [workDir]`.
  */
object FlashscoreDemo {

  private def recJson(home: String, score: String): String =
    s"""{"current_status":"Finished","current_country":"FR",
       |"current_tournament":"Ligue 1","participant_home":"$home",
       |"participant_away":"vs_$home",
       |"participant_home_current_score":"$score",
       |"participant_away_current_score":"1","year":2023,"month":11,
       |"day":4,"hour":18,"minute":38,"match_hour":"18:38",
       |"lineups_data":{
       |  "Team1":[${(1 to 11).map(i => s"""{"name":"${home}_p$i"}""").mkString(",")}],
       |  "Team2":[${(1 to 11).map(i => s"""{"name":"${home}_q$i"}""").mkString(",")}]},
       |"bookmakers_data":[
       |  {"bookmaker":"Winamax","odds":["1.42","4.10","7.30"]},
       |  {"bookmaker":"bet365","odds":["1.40","4.00","7.50"]}]}
       |""".stripMargin.replace("\n", " ")

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("flashscore_demo").toString)
    val in = s"$work/in"; Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "04_11_2023-18_38_54.json"),
      Seq(recJson("PSG", "3"), recJson("OM", "abandoned"))
        .mkString("[", ",", "]"))

    val spark = GraftSession.start()

    println(s"[demo] work dir: $work")
    FlashscorePipeline.runBatch(spark, in, s"$work/batch_out")
    Seq(FlashscorePipeline.factTable, FlashscorePipeline.homeLineupTable,
      FlashscorePipeline.awayLineupTable, FlashscorePipeline.oddsTable)
      .foreach { t =>
        val n = spark.read.parquet(s"$work/batch_out/$t").count()
        println(s"[demo] batch  $t: $n rows")
      }

    // streaming: consume the same file, then a late-arriving second file
    val q1 = FlashscorePipeline.runStream(spark, in, s"$work/stream_out",
      s"$work/ckpt", archiveDir = Some(s"$work/archive"))
    q1.awaitTermination()
    Files.writeString(Paths.get(in, "04_11_2023-23_00_19.json"),
      s"[${recJson("Lyon", "2")}]")
    val q2 = FlashscorePipeline.runStream(spark, in, s"$work/stream_out",
      s"$work/ckpt", archiveDir = Some(s"$work/archive"))
    q2.awaitTermination()
    val facts = spark.read.parquet(
      s"$work/stream_out/${FlashscorePipeline.factTable}")
    println(s"[demo] stream ${FlashscorePipeline.factTable}: " +
      s"${facts.count()} rows (exactly-once across two triggers)")
    facts.select("NAME_TEAM_HOME", "SCORE_TEAM_HOME", "SCORE_TEAM_AWAY")
      .show(10, truncate = false)
    spark.stop()
  }
}
