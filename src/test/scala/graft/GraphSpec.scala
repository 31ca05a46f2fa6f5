package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph
import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pagerank matches the hand-computed one-iteration values") {
    // A→B, A→C, B→C; n=3, d=0.85, init 1/3
    // iter1: base = 0.15/3 = 0.05
    //   B gets prA/2 = 1/6  → 0.05 + 0.85/6
    //   C gets prA/2 + prB  → 0.05 + 0.85·(1/6 + 1/3)
    //   A gets nothing      → 0.05
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C")).toDF("src", "dst")
    val pr = Graph.pagerank(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr("A") - 0.05) < 1e-12)
    assert(math.abs(pr("B") - (0.05 + 0.85 / 6)) < 1e-12)
    assert(math.abs(pr("C") - (0.05 + 0.85 * 0.5)) < 1e-12)
  }

  test("pagerank: authority accumulates at sinks, mass stays bounded") {
    val edges = Seq(("A", "D"), ("B", "D"), ("C", "D"), ("D", "E"))
      .toDF("src", "dst")
    val pr = Graph.pagerank(edges, iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // D aggregates 3 sources; E drains the hub D — both far outrank the
    // leaves (E even outranks D: it receives D's whole mass while D's
    // inputs are three base-rank leaves)
    assert(Set("D", "E") ==
      pr.toSeq.sortBy(-_._2).take(2).map(_._1).toSet)
    assert(pr("D") > pr("A") && pr("E") > pr("A"))
    // leaky formulation: total mass never exceeds 1
    assert(pr.values.sum <= 1.0 + 1e-12)
    assert(pr.values.forall(_ > 0))
  }

  test("pagerank: reliable-checkpoint arm equals the localCheckpoint arm") {
    // the cluster fault-tolerance arm must not change a single bit of the
    // fixpoint trace — only the lineage-truncation medium differs
    val e = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select(concat(lit("P"), col("l_partkey")).as("src"),
        concat(lit("S"), col("l_suppkey")).as("dst"))
    val local = Graph.pagerank(e, iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    try {
      val reliable = withCheckpointDir(dir)(Graph.pagerank(e, iterations = 2)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
      assert(local == reliable) // bit-identical
      assert(filesUnder(dir).nonEmpty) // the truncations were reliable
      assert(local.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir)); ()
    }
  }

  test("pagerank is deterministic across partition layouts") {
    val e = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(spark.read.parquet(s"$sf001/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("src"),
        concat(lit("C"), col("o_custkey")).as("dst"))
    val a = Graph.pagerank(e.repartition(3), iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Graph.pagerank(e.repartition(17), iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b) // bit-identical, not approximately equal
    assert(a.nonEmpty)
  }

  test("pagerank: truncation period never changes the ranks") {
    val e = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(spark.read.parquet(s"$sf001/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("src"),
        concat(lit("C"), col("o_custkey")).as("dst"))
    val every = Graph.pagerank(e, iterations = 4, truncateEvery = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // period 3 over 4 iterations: one mid-chain cut + the final cut —
    // exercises both the fused stretch and the periodic boundary
    val fused = Graph.pagerank(e, iterations = 4, truncateEvery = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // period > iterations: the whole chain fuses into the final cut
    val onlyFinal = Graph.pagerank(e, iterations = 4, truncateEvery = 9)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(every == fused) // bit-identical
    assert(every == onlyFinal)
    assert(every.nonEmpty)
    intercept[IllegalArgumentException] {
      Graph.pagerank(e, iterations = 1, truncateEvery = 0)
    }
  }
}
