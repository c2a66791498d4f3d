package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Fixed-point PageRank: hand-computed iterations on a 3-cycle graph,
  * self-loop/duplicate-edge hygiene, isolated-node base mass, and exact
  * partitioning invariance (the whole point of integer arithmetic).
  */
class CentralitySpec extends SparkSpec {
  import spark.implicits._

  /** Ids of the checkpointed RDDs `df` reads (its `LogicalRDD`s). */
  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  test("two hand-computed iterations on a 4-edge graph") {
    // 0->1, 0->2, 1->2, 2->0; outdeg 0:2 1:1 2:1; node 9 isolated
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L),
      (0L, 1L),   // duplicate: one edge = one vote
      (3L, 3L)    // self-loop: dropped (3 becomes effectively isolated)
    ).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 3L, 9L).toDF("id")
    def ranks(iters: Int) =
      Centrality.pageRankFixedPoint(edges, nodes, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = ranks(1)
    assert(r1(0L) == 1000000000L) // 15e7 + 85% of 1e9 (from node 2)
    assert(r1(1L) == 575000000L)  // 15e7 + 85% of 5e8
    assert(r1(2L) == 1425000000L) // 15e7 + 85% of 15e8
    assert(r1(3L) == 150000000L && r1(9L) == 150000000L) // base mass only
    val r2 = ranks(2)
    assert(r2(0L) == 1361250000L)
    assert(r2(1L) == 575000000L)
    assert(r2(2L) == 1063750000L)
  }

  test("zero iterations returns the uniform start; iteration is exactly partitioning-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"))
    val n = docs.count()
    def run(d: org.apache.spark.sql.DataFrame) = {
      val edges = d.select(col("id").as("src"),
        explode(array((1 to 3).map(j =>
          pmod(col("id") * (2 * j + 1) + j, lit(n))): _*)).as("dst"))
      Centrality.pageRankFixedPoint(edges, d, iterations = 3)
        .orderBy("id").collect().toSeq
    }
    val base = run(docs)
    // integer arithmetic: EXACT equality under a hostile repartitioning
    assert(base == run(docs.repartition(7, col("id")).localCheckpoint()))
    val r0 = Centrality.pageRankFixedPoint(
      Seq((0L, 1L)).toDF("src", "dst"), docs, iterations = 0)
      .collect().map(_.getLong(1)).toSet
    assert(r0 == Set(1000000000L))
  }

  test("iteration releases superseded rank snapshots (the BpeSpec leak bound)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"))
    val n = docs.count()
    val edges = docs.select(col("id").as("src"),
      explode(array((1 to 3).map(j =>
        pmod(col("id") * (2 * j + 1) + j, lit(n))): _*)).as("dst"))
    var out: DataFrame = null
    val left = leakedRdds {
      out = Centrality.pageRankFixedPoint(edges, docs, iterations = 6)
      out.count()
    }
    // only the RETURNED frame's checkpoint may remain — the 5 superseded
    // rank rounds plus withDeg/ids must all have been released
    assert(left.subsetOf(checkpointIds(out)), s"leaked ${left -- checkpointIds(out)}")
  }

  test("iterations=0 releases the edge-degree snapshot (withDeg is never returned)") {
    var out: DataFrame = null
    val left = leakedRdds {
      out = Centrality.pageRankFixedPoint(
        Seq((0L, 1L), (1L, 0L)).toDF("src", "dst"),
        Seq(0L, 1L).toDF("id"), iterations = 0)
      out.count()
    }
    // only ids may remain (it backs the returned frame's RDD); withDeg —
    // computed eagerly, never referenced by the return — must be released
    assert(left.subsetOf(checkpointIds(out)), s"leaked ${left -- checkpointIds(out)}")
    assert(out.collect().map(_.getLong(1)).toSet == Set(1000000000L))
  }
}
