package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue,
  ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.io.FlashscoreIO
import graft.pipeline.FlashscorePipeline

/** End-to-end pipeline tests: one read → four Parquet tables; streaming
  * incremental consumption is exactly-once per file (the semantic upgrade
  * over the reference's duplicate-on-retry window, SURVEY.md §3 E1). */
class PipelineSpec extends SparkTestBase {

  private def recJson(home: String): String =
    s"""{"current_status":"Finished","current_country":"FR",
       |"current_tournament":"L1","participant_home":"$home",
       |"participant_away":"A$home","participant_home_current_score":"2",
       |"participant_away_current_score":"0","year":2023,"month":11,
       |"day":4,"hour":18,"minute":0,"match_hour":"18:00",
       |"lineups_data":{
       |  "Team1":[${(1 to 11).map(i => s"""{"name":"${home}p$i"}""").mkString(",")}],
       |  "Team2":[${(1 to 11).map(i => s"""{"name":"${home}q$i"}""").mkString(",")}]},
       |"bookmakers_data":[{"bookmaker":"Winamax","odds":["1.2","3.4","6.7"]}]}
       |""".stripMargin.replace("\n", " ")

  private def writeFile(dir: String, name: String, homes: Seq[String]): Unit =
    Files.writeString(Paths.get(dir, name),
      homes.map(recJson).mkString("[", ",", "]"))

  private def countRows(path: String): Long =
    if (Files.exists(Paths.get(path))) spark.read.parquet(path).count() else 0L

  private val lineupAndOddsTables = Seq(FlashscorePipeline.homeLineupTable,
    FlashscorePipeline.awayLineupTable, FlashscorePipeline.oddsTable)

  /** Production (`uuid()`) keys: every fact key is unique, and every
    * lineup and odds row joins to a fact row. */
  private def assertKeysJoin(out: String, matches: Long): Unit = {
    val fact = spark.read.parquet(s"$out/${FlashscorePipeline.factTable}")
      .select("ID_MATCH")
    assert(fact.count() == matches)
    assert(fact.distinct().count() == matches, "fact ID_MATCH not unique")
    lineupAndOddsTables.foreach { table =>
      val ids = spark.read.parquet(s"$out/$table").select("ID_MATCH")
      assert(ids.count() == matches, table)
      assert(ids.join(fact, Seq("ID_MATCH"), "left_anti").isEmpty,
        s"$table has an ID_MATCH the fact table lacks")
    }
  }

  /** Live threads of the load's write pool. */
  private def writerThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "flashscore-write" && t.isAlive)
      .toSet

  test("batch: one input dir -> four output tables") {
    val tmp = Files.createTempDirectory("graft_batch").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    Files.createDirectories(Paths.get(in))
    writeFile(in, "f1.json", Seq("M1", "M2"))
    writeFile(in, "f2.json", Seq("M3"))
    FlashscorePipeline.runBatch(spark, in, out, deterministicKeys = true)
    assert(countRows(s"$out/${FlashscorePipeline.factTable}") == 3)
    assert(countRows(s"$out/${FlashscorePipeline.homeLineupTable}") == 3)
    assert(countRows(s"$out/${FlashscorePipeline.awayLineupTable}") == 3)
    assert(countRows(s"$out/${FlashscorePipeline.oddsTable}") == 3)
    // only Winamax odds present -> other 21 odds columns null
    val odds = spark.read.parquet(s"$out/${FlashscorePipeline.oddsTable}")
    assert(odds.filter(odds("WINAMAX_AWAY_ODD") === 6.7).count() == 3)
    assert(odds.filter(odds("BET365_HOME_ODD").isNotNull).count() == 0)
  }

  test("batch discovery honors modifiedAfter (main.py:48-52 semantics)") {
    // reference filters bucket blobs by modification date before the ETL
    // loop; the batch analogue is the file-source modifiedAfter option,
    // applied at listing time
    val tmp = Files.createTempDirectory("graft_modafter").toString
    writeFile(tmp, "stale.json", Seq("OLD1", "OLD2"))
    writeFile(tmp, "fresh.json", Seq("NEW1"))
    val cut = java.time.Instant.now().minusSeconds(3600)
    Files.setLastModifiedTime(Paths.get(tmp, "stale.json"),
      java.nio.file.attribute.FileTime.from(cut.minusSeconds(3600)))
    val fresh = graft.io.FlashscoreIO.readJsonModifiedAfter(spark, tmp, cut)
    val homes = fresh.select("participant_home")
      .collect().map(_.getString(0)).toSet
    assert(homes == Set("NEW1"))
    // and without the cut, both files are read
    val all = graft.io.FlashscoreIO.readJson(spark, tmp)
    assert(all.count() == 3)
  }

  test("streaming: incremental files, exactly-once across restarts") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"; val archive = s"$tmp/archive"
    Files.createDirectories(Paths.get(in))
    writeFile(in, "f1.json", Seq("S1", "S2"))

    val q1 = FlashscorePipeline.runStream(spark, in, out, ckpt,
      archiveDir = Some(archive), deterministicKeys = true)
    q1.awaitTermination()
    val fact = s"$out/${FlashscorePipeline.factTable}"
    assert(countRows(fact) == 2)

    // restart with no new data -> no duplicates (checkpoint replay guard)
    val q2 = FlashscorePipeline.runStream(spark, in, out, ckpt,
      archiveDir = Some(archive), deterministicKeys = true)
    q2.awaitTermination()
    assert(countRows(fact) == 2)

    // new file -> only its rows appended
    writeFile(in, "f2.json", Seq("S3"))
    val q3 = FlashscorePipeline.runStream(spark, in, out, ckpt,
      archiveDir = Some(archive), deterministicKeys = true)
    q3.awaitTermination()
    assert(countRows(fact) == 3)
    val facts = spark.read.parquet(fact)
    assert(facts.select("NAME_TEAM_HOME").distinct().count() == 3)
  }

  test("batch with uuid() keys: facts unique, lineups and odds join") {
    val tmp = Files.createTempDirectory("graft_batch_uuid").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    Files.createDirectories(Paths.get(in))
    writeFile(in, "f1.json", Seq("U1", "U2"))
    writeFile(in, "f2.json", Seq("U3"))
    FlashscorePipeline.runBatch(spark, in, out)
    assertKeysJoin(out, 3)
  }

  test("streaming with uuid() keys: facts unique, lineups and odds join") {
    val tmp = Files.createTempDirectory("graft_stream_uuid").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(in))
    writeFile(in, "f1.json", Seq("V1", "V2"))
    FlashscorePipeline.runStream(spark, in, out, ckpt).awaitTermination()
    writeFile(in, "f2.json", Seq("V3"))
    FlashscorePipeline.runStream(spark, in, out, ckpt).awaitTermination()
    assertKeysJoin(out, 3)
  }

  test("a failing table write: its own exception, after the other three") {
    val tmp = Files.createTempDirectory("graft_batch_fail").toString
    val in = s"$tmp/in"
    Files.createDirectories(Paths.get(in))
    writeFile(in, "f1.json", Seq("F1", "F2", "F3"))
    val tables = FlashscorePipeline.factTable +: lineupAndOddsTables
    // ODDS is written last in table order, MATCH_FINISHED first
    Seq(FlashscorePipeline.oddsTable, FlashscorePipeline.factTable)
      .foreach { failing =>
        val out = s"$tmp/out-$failing"
        Files.createDirectories(Paths.get(out))
        // a regular file where the table's directory would go
        Files.writeString(Paths.get(out, failing), "")
        val direct = intercept[Exception](FlashscoreIO.writeTable(
          spark.range(1).toDF(), out, failing))
        // only NEW entries count: the context cleaner may drop older ones
        def persisted = spark.sparkContext.getPersistentRDDs.keySet
        val before = persisted
        val thrown = intercept[Exception](FlashscorePipeline.runBatch(
          spark, in, out, deterministicKeys = true))
        assert(!thrown.isInstanceOf[ExecutionException] &&
          !thrown.isInstanceOf[CompletionException], s"a wrapper: $thrown")
        assert(thrown.getClass == direct.getClass, s"$thrown vs $direct")
        assert(thrown.getMessage == direct.getMessage)
        tables.filter(_ != failing).foreach { table =>
          assert(countRows(s"$out/$table") == 3, s"$table beside $failing")
        }
        assert((persisted -- before).isEmpty, "the keyed frame stayed cached")
        assert(writerThreads.isEmpty, s"write threads alive: $writerThreads")
      }
  }

  test("every table write carries the caller's job group") {
    val tmp = Files.createTempDirectory("graft_batch_group").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    Files.createDirectories(Paths.get(in))
    writeFile(in, "f1.json", Seq("G1", "G2"))
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        groups.add(Option(job.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("flashscore-load", "PipelineSpec job group")
      try FlashscorePipeline.runBatch(spark, in, out) finally sc.clearJobGroup()
      // listener bus is async — poll with a deadline for the four writes
      val deadline = System.currentTimeMillis + 20000
      while (groups.size < 4 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      val seen = groups.asScala.toList
      assert(seen.size >= 4, s"expected four write jobs, saw $seen")
      assert(seen.forall(_ == "flashscore-load"), seen)
    } finally sc.removeSparkListener(listener)
    assert(writerThreads.isEmpty, s"write threads alive: $writerThreads")
  }
}
