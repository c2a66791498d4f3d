package graft.operators

import java.nio.file.{Files, Path}
import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.{Pipeline, SparkSpec}

/** The r22 pluggable materialization strategy: `local` (default,
  * localCheckpoint) vs `reliable` (Dataset.checkpoint to the checkpoint
  * dir). Results must be identical; reliable mode must fail loudly without
  * a checkpoint dir, and a released reliable frame leaves no files behind.
  * `scoped` releases what its body takes.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs away fast", "en"),
    (2L, "the quick brown fox jumps over the lazy dog and runs away fast", "en"),
    (3L, "the quick brown fox jumps over the lazy dog and walks away fast", "en"),
    (4L, "completely different content about spark distributed engines here", "en")
  ).toDF("doc_id", "text", "lang")

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(Materialize.ModeKey, mode)
    try body finally spark.conf.unset(Materialize.ModeKey)
  }

  test("default mode is local: frame() materializes and preserves rows") {
    val out = Materialize.frame(docs).collect().toSet
    assert(out == docs.collect().toSet)
  }

  test("reliable mode produces identical results through a full LSH operator") {
    val local = Dedup.minhashLshPortable(docs, "doc_id", "text", 16, 8, 0.05)
      .as[(Long, Long, Double)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("mat_reliable").toString
    spark.sparkContext.setCheckpointDir(dir)
    val reliable = withMode("reliable") {
      Dedup.minhashLshPortable(docs, "doc_id", "text", 16, 8, 0.05)
        .as[(Long, Long, Double)].collect().toSet
    }
    assert(reliable == local && local.nonEmpty)
    // the reliable store was actually used (checkpoint files on disk)
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, "no checkpoint data written")
  }

  test("reliable mode without a checkpoint dir fails loudly, unknown mode rejected") {
    // a fresh context-level dir can't be unset, so assert the message path
    // via the mode validation instead when a dir exists
    val e = intercept[IllegalArgumentException] {
      withMode("bogus") { Materialize.frame(docs) }
    }
    assert(e.getMessage.contains(Materialize.ModeKey))
  }

  /** A fresh context checkpoint dir under reliable mode; `body` gets the dir. */
  private def withReliableDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("mat_release")
    spark.sparkContext.setCheckpointDir(dir.toString)
    withMode("reliable")(body(dir))
  }

  /** The reliable checkpoint data dirs (`<dir>/<uuid>/rdd-<id>`) under `dir`. */
  private def rddDirs(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
      .toArray.map(_.toString).toSeq
    finally s.close()
  }

  test("reliable mode: release deletes the frame's checkpoint files") {
    withReliableDir { dir =>
      val f = Materialize.frame(docs)
      assert(rddDirs(dir).nonEmpty, "reliable frame wrote no checkpoint data")
      Materialize.release(f)
      assert(rddDirs(dir).isEmpty, s"left after release: ${rddDirs(dir)}")
    }
  }

  test("reliable mode: a one-file runBatch onto existing state leaves no checkpoint files") {
    val header = Layout.validColumns.mkString(",")
    val inDir = Files.createTempDirectory("mat_in")
    val outDir = Files.createTempDirectory("mat_out")
    Files.write(inDir.resolve("report_a.txt"), (header +
      "\nalice@example.com,x,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-" +
      "\nnotanemail,z,-,-,01/02/2024 10:00,,1,0,,0,0,-,-,-,-").getBytes)
    assert(Pipeline.runBatch(spark, inDir.toString, outDir.toString,
      Date.valueOf("2024-02-15")) == Pipeline.RunSummary(1, 1, 1))
    Files.write(inDir.resolve("report_b.txt"), (header +
      "\nalice@example.com,x,-,-,03/02/2024 10:00,,1,0,,0,0,-,-,-,-" +
      "\nbob@example.com,y,-,-,03/02/2024 11:00,,1,0,,0,0,-,-,-,-").getBytes)
    withReliableDir { dir =>
      // the flagged frame, the visitantes delta and the SCD changes join
      // each take a reliable checkpoint; the batch releases all three
      assert(Pipeline.runBatch(spark, inDir.toString, outDir.toString,
        Date.valueOf("2024-02-16")) == Pipeline.RunSummary(1, 2, 0))
      assert(rddDirs(dir).isEmpty, s"left after runBatch: ${rddDirs(dir)}")
    }
    val vis = Pipeline.currentVisitantes(spark, outDir.toString).get
      .select("email", "visitasTotales").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(vis == Map("alice@example.com" -> 2, "bob@example.com" -> 1))
  }

  /** Whether the checkpoint blocks behind `df` are still persisted. */
  private def held(df: DataFrame): Boolean = {
    val ids = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
    assert(ids.nonEmpty, "not a checkpointed frame")
    ids.forall(spark.sparkContext.getPersistentRDDs.contains)
  }

  test("scoped releases every frame and round taken in it when the body returns") {
    var (f, r): (DataFrame, DataFrame) = (null, null)
    val n = Materialize.scoped {
      f = Materialize.frame(docs)
      r = Materialize.round(docs)
      assert(held(f) && held(r))
      f.count() + r.count()
    }
    assert(n == 8)
    assert(!held(f) && !held(r))
  }

  test("scoped releases its checkpoints when the body throws") {
    var f: DataFrame = null
    val e = intercept[IllegalStateException] {
      Materialize.scoped {
        f = Materialize.frame(docs)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(!held(f))
  }

  test("a nested scope releases only its own checkpoints; frames taken outside any scope stay") {
    val outside = Materialize.frame(docs)
    var (outer, inner): (DataFrame, DataFrame) = (null, null)
    Materialize.scoped {
      outer = Materialize.frame(docs)
      Materialize.scoped { inner = Materialize.frame(docs) }
      assert(!held(inner) && held(outer))
    }
    assert(!held(outer))
    assert(held(outside))
    Materialize.release(outside)
  }

  test("scoped refuses a Dataset result and still releases its checkpoints") {
    var f: DataFrame = null
    val e = intercept[IllegalArgumentException] {
      Materialize.scoped {
        f = Materialize.frame(docs)
        f.select("doc_id")
      }
    }
    assert(e.getMessage.contains("Dataset"), e.getMessage)
    assert(!held(f))
  }
}
