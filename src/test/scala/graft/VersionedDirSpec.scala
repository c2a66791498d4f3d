package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import graft.streaming.StreamingPipeline

/** The pointer-swapped version store's own contract, beyond what the batch
  * and streaming sink specs exercise through it.
  */
class VersionedDirSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def names(root: String): Set[String] = {
    val p = new Path(root)
    p.getFileSystem(conf).listStatus(p).map(_.getPath.getName).toSet
  }

  test("streaming state written with unpadded v=N names is still read and extended") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("vd_legacy").toString
    // the on-disk layout streaming state has always had: unpadded v=<batchId>
    // dirs and a pointer naming one; v=10 must outrank v=9 numerically
    Seq((1L, "old")).toDF("k", "v").write.parquet(s"$stateDir/v=8")
    Seq((1L, "stale")).toDF("k", "v").write.parquet(s"$stateDir/v=9")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$stateDir/v=10")
    Files.writeString(java.nio.file.Paths.get(stateDir, "_CURRENT"), "v=10")
    assert(StreamingPipeline.cdcCurrentState(spark, stateDir).get.count() == 2L)

    StreamingPipeline.cdcApplyBatch(
      Seq((3L, "upsert", "c", Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
        .toDF("k", "op", "v", "ts", "seq"),
      11L, stateDir, "k", Seq("v"))
    assert(StreamingPipeline.cdcCurrentState(spark, stateDir).get
      .orderBy("k").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(names(stateDir).filter(_.startsWith("v=")) == Set("v=9", "v=10", "v=11"))
    assert(Files.readString(java.nio.file.Paths.get(stateDir, "_CURRENT")) == "v=11")
  }

  test("GC keeps the published version when newer unpublished dirs outrank it") {
    val local = Files.createTempDirectory("vd_gc")
    val root = local.toUri.toString.stripSuffix("/") // a file: URI root
    val vd = new VersionedDir(root, "v%06d", conf)
    val fs = new Path(root).getFileSystem(conf)
    (1L to 6L).foreach(v => fs.mkdirs(new Path(vd.path(v))))
    // 3..6 were written by runs that died before their publish
    vd.publish(2L)
    assert(vd.current.contains(2L))
    assert(names(root).filter(_.startsWith("v")) == Set("v000002", "v000004", "v000005", "v000006"))
  }

  test("publish leaves no _CURRENT.tmp behind and refuses an unwritten version") {
    val root = Files.createTempDirectory("vd_tmp").toString
    val vd = new VersionedDir(root, "v=%d", conf)
    assert(vd.current.isEmpty)
    (0L to 1L).foreach { v =>
      new Path(vd.path(v)).getFileSystem(conf).mkdirs(new Path(vd.path(v)))
      vd.publish(v)
      assert(vd.current.contains(v))
      assert(!names(root).exists(_.contains("_CURRENT.tmp")), names(root))
    }
    intercept[IllegalStateException](vd.publish(7L))
    assert(vd.current.contains(1L))
  }
}
