package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** SCD Type-2 apply: close-changed / open-new / insert-first-seen /
  * pass-through, against a hand-computed scenario.
  */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("one batch: change closes+opens, no-op passes, new key inserts, history untouched") {
    val dim = Seq(
      // key 1: one closed historical row + one open row (will change)
      (1L, "bronze", ts("2020-01-01 00:00:00"), Option(ts("2022-01-01 00:00:00"))),
      (1L, "silver", ts("2022-01-01 00:00:00"), Option.empty[Timestamp]),
      // key 2: open row, update carries the SAME attrs -> no-op
      (2L, "gold", ts("2021-06-01 00:00:00"), Option.empty[Timestamp]),
      // key 3: open row, no update at all
      (3L, "bronze", ts("2021-01-01 00:00:00"), Option.empty[Timestamp])
    ).toDF("k", "tier", "valid_from", "valid_to")
    val updates = Seq(
      (1L, "gold", ts("2024-03-01 00:00:00")),   // real change
      (2L, "gold", ts("2024-03-01 00:00:00")),   // no-op
      (9L, "silver", ts("2024-03-01 00:00:00"))  // first-seen key
    ).toDF("k", "tier", "eff")

    val out = Scd.applyBatch(dim, updates, "k", Seq("tier"), "eff")
      .orderBy("k", "valid_from")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq

    assert(out == Seq(
      (1L, "bronze", ts("2020-01-01 00:00:00"), Some(ts("2022-01-01 00:00:00"))),
      (1L, "silver", ts("2022-01-01 00:00:00"), Some(ts("2024-03-01 00:00:00"))),
      (1L, "gold", ts("2024-03-01 00:00:00"), None),
      (2L, "gold", ts("2021-06-01 00:00:00"), None),
      (3L, "bronze", ts("2021-01-01 00:00:00"), None),
      (9L, "silver", ts("2024-03-01 00:00:00"), None)), out.mkString("\n"))
  }

  test("null-safe attr comparison: null -> value and value -> null both version") {
    val dim = Seq(
      (1L, Option.empty[String], ts("2020-01-01 00:00:00"), Option.empty[Timestamp]),
      (2L, Option("a"), ts("2020-01-01 00:00:00"), Option.empty[Timestamp])
    ).toDF("k", "tier", "valid_from", "valid_to")
    val updates = Seq(
      (1L, Option("b"), ts("2024-01-01 00:00:00")),
      (2L, Option.empty[String], ts("2024-01-01 00:00:00"))
    ).toDF("k", "tier", "eff")
    val out = Scd.applyBatch(dim, updates, "k", Seq("tier"), "eff")
    assert(out.count() == 4) // both keys: one closed + one opened
    val open = out.filter(col("valid_to").isNull).orderBy("k")
      .select("k", "tier").as[(Long, Option[String])].collect().toSeq
    assert(open == Seq((1L, Some("b")), (2L, None)), open)
  }

  test("invariant: exactly one open row per key after apply") {
    val dim = Seq((1L, "x", ts("2020-01-01 00:00:00"), Option.empty[Timestamp]))
      .toDF("k", "tier", "valid_from", "valid_to")
    val updates = Seq((1L, "y", ts("2024-01-01 00:00:00")),
      (2L, "z", ts("2024-01-01 00:00:00"))).toDF("k", "tier", "eff")
    val out = Scd.applyBatch(dim, updates, "k", Seq("tier"), "eff")
    val opens = out.filter(col("valid_to").isNull)
      .groupBy("k").count().filter(col("count") =!= 1)
    assert(opens.isEmpty)
  }

  test("tombstoned key (all rows closed) reopens on its next update") {
    val dim = Seq(
      // key 1 was closed out entirely (e.g. a delete was modeled by closing
      // the open row) — its next update must insert a fresh open row, not
      // silently vanish
      (1L, "bronze", ts("2020-01-01 00:00:00"), Option(ts("2022-01-01 00:00:00"))),
      (2L, "gold", ts("2021-06-01 00:00:00"), Option.empty[Timestamp])
    ).toDF("k", "tier", "valid_from", "valid_to")
    val updates = Seq((1L, "silver", ts("2024-03-01 00:00:00")))
      .toDF("k", "tier", "eff")
    val out = Scd.applyBatch(dim, updates, "k", Seq("tier"), "eff")
      .orderBy("k", "valid_from")
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq
    assert(out == Seq(
      (1L, "bronze", ts("2020-01-01 00:00:00"), Some(ts("2022-01-01 00:00:00"))),
      (1L, "silver", ts("2024-03-01 00:00:00"), None),
      (2L, "gold", ts("2021-06-01 00:00:00"), None)), out.mkString("\n"))
  }

  test("applyBatchDelta: closed-extent files untouched on disk, union == applyBatch") {
    val dim = Seq(
      (1L, "bronze", ts("2020-01-01 00:00:00"), Option(ts("2022-01-01 00:00:00"))),
      (1L, "silver", ts("2022-01-01 00:00:00"), Option.empty[Timestamp]),
      (2L, "gold", ts("2021-06-01 00:00:00"), Option.empty[Timestamp]),
      (3L, "bronze", ts("2021-01-01 00:00:00"), Option.empty[Timestamp])
    ).toDF("k", "tier", "valid_from", "valid_to")
    val updates = Seq(
      (1L, "gold", ts("2024-03-01 00:00:00")),   // change: closes + opens
      (2L, "gold", ts("2024-03-01 00:00:00")),   // no-op
      (9L, "silver", ts("2024-03-01 00:00:00"))  // first-seen
    ).toDF("k", "tier", "eff")

    val root = java.nio.file.Files.createTempDirectory("scd_delta").toString
    val (closedDir, openDir) = (s"$root/closed", s"$root/open")
    dim.filter(col("valid_to").isNotNull).write.parquet(closedDir)
    dim.filter(col("valid_to").isNull).write.parquet(openDir)
    def closedFiles() = new java.io.File(closedDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = closedFiles()
    assert(before.nonEmpty)

    val delta = Scd.applyBatchDelta(dim, updates, "k", Seq("tier"), "eff")
    // the partitioned write protocol from the scaladoc
    delta.closedDelta.write.mode("append").parquet(closedDir)
    delta.newOpen.write.mode("overwrite").parquet(openDir)

    // every pre-existing closed file still present, byte-untouched (mtime)
    val after = closedFiles()
    before.foreach { case (name, mtime) =>
      assert(after.get(name).contains(mtime), s"closed file $name rewritten")
    }

    // the two extents together equal the full applyBatch result (multiset)
    val fromDisk = spark.read.parquet(closedDir)
      .unionByName(spark.read.parquet(openDir))
    val full = Scd.applyBatch(dim, updates, "k", Seq("tier"), "eff")
    assert(fromDisk.count() == full.count())
    assert(fromDisk.exceptAll(full).isEmpty && full.exceptAll(fromDisk).isEmpty)

    // delta components line up: one closed row (key 1), opened = key 1,
    // firstSeen = key 9, newOpen covers keys 1,2,3,9
    assert(delta.closedDelta.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(delta.opened.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(delta.firstSeen.select("k").as[Long].collect().toSeq == Seq(9L))
    assert(delta.newOpen.select("k").as[Long].collect().toSeq.sorted == Seq(1L, 2L, 3L, 9L))
  }

  test("applyBatchDeltaDirs: dim READ from openDir parquet survives its own overwrite") {
    // the lineage hazard the write protocol exists for: batch 2's newOpen is
    // derived from a frame read from openDir, then overwrites that same path
    // — without the materialize-first protocol Spark throws 'Cannot
    // overwrite a path that is also being read from' (or reads deleted
    // files). This test runs the WHOLE cycle from disk, twice.
    val root = java.nio.file.Files.createTempDirectory("scd_dirs").toString
    val (openDir, closedDir) = (s"$root/open", s"$root/closed")

    val b1 = Seq(
      (1L, "bronze", ts("2024-01-01 00:00:00")),
      (2L, "gold", ts("2024-01-01 00:00:00"))).toDF("k", "tier", "eff")
    val (c1, o1) = Scd.applyBatchDeltaDirs(spark, openDir, closedDir, b1, "k", Seq("tier"), "eff")
    assert(c1 == 0 && o1 == 2, s"bootstrap: $c1 closed, $o1 open")

    def closedFiles() = new java.io.File(closedDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = closedFiles()

    val b2 = Seq(
      (1L, "silver", ts("2024-06-01 00:00:00")),  // change: closes + opens
      (2L, "gold", ts("2024-06-01 00:00:00")),    // no-op
      (3L, "bronze", ts("2024-06-01 00:00:00"))   // first-seen
    ).toDF("k", "tier", "eff")
    val (c2, o2) = Scd.applyBatchDeltaDirs(spark, openDir, closedDir, b2, "k", Seq("tier"), "eff")
    assert(c2 == 1 && o2 == 3, s"batch 2: $c2 closed, $o2 open")

    // batch-1 closed files byte-untouched after batch 2's append
    val after = closedFiles()
    before.foreach { case (name, mtime) =>
      assert(after.get(name).contains(mtime), s"closed file $name rewritten")
    }

    val open = spark.read.parquet(openDir)
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq.sortBy(_._1)
    assert(open == Seq(
      (1L, "silver", ts("2024-06-01 00:00:00"), None),
      (2L, "gold", ts("2024-01-01 00:00:00"), None),
      (3L, "bronze", ts("2024-06-01 00:00:00"), None)), open.mkString("\n"))
    val closed = spark.read.parquet(closedDir)
      .as[(Long, String, Timestamp, Option[Timestamp])].collect().toSeq
    assert(closed == Seq(
      (1L, "bronze", ts("2024-01-01 00:00:00"), Some(ts("2024-06-01 00:00:00")))),
      closed.mkString("\n"))
  }

  /** A seeded dimension plus one update batch covering every per-key case of
    * the Type-2 contract: changed, no-op, untouched, tombstoned (all rows
    * closed, must reopen), first-seen, null attrs on either side, and a null
    * key on each side. `day` maps a day number to an effCol value.
    * Returns (dim, updates, changed keys, first-seen keys); a null key is
    * reported as None.
    */
  private def generated(seed: Long, effType: DataType, day: Int => AnyRef)
      : (DataFrame, DataFrame, Set[Option[Long]], Set[Option[Long]]) = {
    val rnd = new scala.util.Random(seed)
    def tier(): String = Seq(null, "a", "b")(rnd.nextInt(3))
    def score(): Integer = Seq[Integer](null, 1, 2)(rnd.nextInt(3))
    val dimRows = Seq.newBuilder[Row]
    val updRows = Seq.newBuilder[Row]
    val changed, firstSeen = Set.newBuilder[Option[Long]]
    val eff = day(100)
    for (k <- 0L until 300L) {
      val kind = rnd.nextInt(4) // 0 open only, 1 history + open, 2 tombstoned, 3 absent
      val closedN = if (kind == 1 || kind == 2) 1 + rnd.nextInt(2) else 0
      val starts = (0 to closedN).map(i => i * 20 + rnd.nextInt(10))
      for (i <- 0 until closedN)
        dimRows += Row(k, tier(), score(), day(starts(i)), day(starts(i + 1)))
      val open = if (kind <= 1) Some((tier(), score())) else None
      open.foreach { case (t, sc) => dimRows += Row(k, t, sc, day(starts(closedN)), null) }
      if (rnd.nextInt(10) < 7) {
        val (t, sc) = open.filter(_ => rnd.nextBoolean()).getOrElse((tier(), score()))
        updRows += Row(k, t, sc, eff)
        open match {
          case Some(o) if o != ((t, sc)) => changed += Some(k) // == is null-safe here
          case Some(_) =>
          case None => firstSeen += Some(k)
        }
      }
    }
    dimRows += Row(null, "n", 1, day(5), null)
    updRows += Row(null, "n", 1, eff)
    firstSeen += None
    val dimSchema = StructType(Seq(StructField("k", LongType), StructField("tier", StringType),
      StructField("score", IntegerType), StructField("valid_from", effType),
      StructField("valid_to", effType)))
    val updSchema = StructType(dimSchema.fields.take(3) :+ StructField("eff", effType))
    def df(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    (df(dimRows.result(), dimSchema), df(updRows.result(), updSchema),
      changed.result(), firstSeen.result())
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  for ((label, effType, day) <- Seq[(String, DataType, Int => AnyRef)](
      ("DATE", DateType, d => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d))),
      ("TIMESTAMP", TimestampType, d => Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 6, 30).plusDays(d).plusMinutes(d)))))
    test(s"applyBatchDelta == applyBatch over seeded dimensions, $label effCol; writeDelta counts") {
      for (seed <- Seq(11L, 12L, 13L)) {
        val (dim, updates, changed, firstSeen) = generated(seed, effType, day)
        assert(changed.nonEmpty && firstSeen.size > 1, s"seed $seed misses a case")
        val attrs = Seq("tier", "score")
        val full = Scd.applyBatch(dim, updates, "k", attrs, "eff")

        // the dimension on disk, read back: the open slice's overwrite must
        // survive reading its own source
        val root = java.nio.file.Files.createTempDirectory("scd_seeded").toString
        val (closedDir, openDir) = (s"$root/closed", s"$root/open")
        dim.filter(col("valid_to").isNotNull).write.parquet(closedDir)
        dim.filter(col("valid_to").isNull).write.parquet(openDir)
        val onDisk = spark.read.parquet(openDir).unionByName(spark.read.parquet(closedDir))
        val delta = Scd.applyBatchDelta(onDisk, updates, "k", attrs, "eff")

        def keys(f: DataFrame) = f.select("k").collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
        assert(keys(delta.closedDelta) == changed, s"seed $seed")
        assert(keys(delta.opened) == changed, s"seed $seed")
        assert(keys(delta.firstSeen) == firstSeen, s"seed $seed")
        assert(sameRows(dim.filter(col("valid_to").isNotNull)
          .unionByName(delta.closedDelta).unionByName(delta.newOpen), full), s"seed $seed")

        val (nClosed, nOpen) = Scd.writeDelta(delta, closedDir, openDir)
        val (closedOnDisk, openOnDisk) = (spark.read.parquet(closedDir), spark.read.parquet(openDir))
        assert(nClosed == changed.size && nOpen == openOnDisk.count(), s"seed $seed")
        assert(nOpen == dim.filter(col("valid_to").isNull).count() + firstSeen.size)
        assert(closedOnDisk.count() ==
          dim.filter(col("valid_to").isNotNull).count() + nClosed, s"seed $seed")
        assert(sameRows(closedOnDisk.unionByName(openOnDisk), full), s"seed $seed")
        assert(openOnDisk.schema("valid_to").dataType == effType)
      }
    }
}
