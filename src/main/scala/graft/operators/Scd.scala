package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance: apply a batch of attribute
  * updates to a versioned dimension, closing the changed rows' validity
  * intervals and opening new ones, so every historical attribute state stays
  * queryable by time (the warehouse-standard dimension-history discipline;
  * the reference's visitantes MERGE — utils/utils_load.py:43-82 — is the
  * Type-1 "overwrite in place" cousin, implemented as J1).
  *
  * Scale shape: ONE equi-join of the dimension's open rows against the
  * update batch on the business key plus a union — no windows, no
  * per-key iteration. Updates are typically dimension-sized or smaller, so
  * AQE broadcasts them; at worst this is a key-partitioned shuffle join.
  * Only the open slice ever joins; whether the closed extent is also kept
  * untouched ON DISK depends on the write path — [[applyBatch]] returns the
  * whole dimension (a caller that overwrites the full table rewrites cold
  * history every batch), while [[applyBatchDelta]] returns just the frames
  * an open/closed-partitioned layout needs, so the closed extent is
  * append-only at any scale.
  */
object Scd {

  /** The change frames one Type-2 batch produces, plus the complete new
    * open slice. All four are projections of ONE materialized frame,
    * `changes`: the full-outer join of the open slice with the updates, each
    * row tagged untouched/no-op, changed or first-seen ([[applyBatchDelta]]).
    * None of them carries lineage through the dimension's source, so the
    * open slice's overwrite reads only the checkpoint — even when `dim` was
    * read from `openDir`, where a lazy plan would either throw Spark's
    * "Cannot overwrite a path that is also being read from" or, on stores
    * without that guard, read deleted files. Write protocol for a dimension
    * laid out as an append-only closed extent + a small open slice:
    * [[writeDelta]] (or [[applyBatchDeltaDirs]] for the whole
    * read-apply-write cycle). The closed extent's existing files are never
    * touched. `opened` and `firstSeen` are the two disjoint sources of new
    * open rows (changed keys vs keys with no open row); both are already
    * contained in `newOpen` and exposed for callers that audit or notify on
    * them.
    */
  final case class ScdDelta(closedDelta: DataFrame, opened: DataFrame,
                            firstSeen: DataFrame, newOpen: DataFrame,
                            changes: DataFrame)

  /** Tag column of [[ScdDelta.changes]] and its three values. */
  private val ChangeCol = "_scd_change"
  private val Keep = 0     // open row untouched by the batch, or a no-op update
  private val Changed = 1  // open row closed at eff, new state opened
  private val FirstSeen = 2 // update for a key with no open row

  /** [[applyBatch]]'s change detection against the OPEN slice only.
    * Returns (changed keys with new attrs + `_eff`, opened rows, firstSeen
    * rows) — every output column list is `key, attrs*, validFrom, validTo`
    * except `changed` which carries `_eff` for the close join.
    */
  private def changeParts(dim: DataFrame, updates: DataFrame, key: String,
                          attrs: Seq[String], effCol: String,
                          validFrom: String, validTo: String)
      : (DataFrame, DataFrame, DataFrame) = {
    require(attrs.nonEmpty, "attrs must be non-empty")
    // The update batch feeds three branches (close, open, first-seen); if it
    // is itself derived from a fact-table aggregate, lazy recompute would
    // scan the fact table three times — materialize once (it is at most
    // dimension-sized by contract).
    val u0 = Materialize.frame(updates)
    val open = dim.filter(col(validTo).isNull)

    val differs = attrs.map(a => !(col(s"d.$a") <=> col(s"u.$a"))).reduce(_ || _)
    // changed = (key, eff, new attr values) for keys whose OPEN row differs
    val changed = open.alias("d")
      .join(u0.alias("u"), col(s"d.$key") === col(s"u.$key"))
      .filter(differs)
      .select(col(s"u.$key").as(key) +:
        attrs.map(a => col(s"u.$a").as(a)) :+
        col(s"u.$effCol").as("_eff"): _*)

    // new open rows: one per changed key. The open NULL valid_to takes
    // effCol's OWN type (not a hardcoded timestamp): closedDelta's valid_to
    // is the eff value, and a DATE effCol — e.g. the Pipeline's lit(asOf) —
    // must not leave the open slice TIMESTAMP-typed while the closed extent
    // is DATE-typed, or a merged read over both dirs fails to unify.
    val nullValidTo = lit(null).cast(u0.schema(effCol).dataType).as(validTo)
    val opened = changed
      .select(col(key) +: attrs.map(col) :+
        col("_eff").as(validFrom) :+ nullValidTo: _*)
    // ...plus first rows for keys with NO open row. Anti-join against OPEN
    // keys only (not all keys): a key whose rows are all closed (tombstoned)
    // must reopen on its next update, not vanish — it matches neither
    // `changed` (open-row join) nor an all-keys anti.
    val firstSeen = u0
      .join(open.select(key), Seq(key), "left_anti")
      .select(col(key) +: attrs.map(col) :+
        col(effCol).as(validFrom) :+ nullValidTo: _*)

    (changed, opened, firstSeen)
  }

  /** Apply one update batch to a Type-2 dimension, returning the FULL new
    * dimension (history rows pass through the union unchanged; use
    * [[applyBatchDelta]] when the table layout lets you avoid rewriting
    * them on disk).
    *
    * `dim` carries `key`, the tracked `attrs`, and [`validFrom`, `validTo`]
    * timestamps where a NULL `validTo` marks each key's single open row.
    * `updates` carries `key`, the same `attrs`, and `effCol` — the instant
    * the new state takes effect. At most one update per key per batch (the
    * daily-batch contract; pre-aggregate upstream if a feed can repeat).
    *
    * Per key: an update whose attrs differ (null-safely) from the open
    * row's closes that row at `effCol` and inserts a new open row; an
    * identical update is a no-op; an update for a key with NO open row —
    * never seen, or previously tombstoned (all rows closed) — inserts a
    * fresh open row effective at `effCol`; closed history rows pass
    * through untouched.
    */
  def applyBatch(dim: DataFrame, updates: DataFrame, key: String,
                 attrs: Seq[String], effCol: String,
                 validFrom: String = "valid_from",
                 validTo: String = "valid_to"): DataFrame = {
    val outCols: Seq[Column] =
      (key +: attrs).map(col) :+ col(validFrom) :+ col(validTo)
    val (changed, opened, firstSeen) =
      changeParts(dim, updates, key, attrs, effCol, validFrom, validTo)

    // existing rows: open-and-changed rows get their interval closed at eff
    val closed = dim.alias("d")
      .join(changed.select(col(key), col("_eff")).alias("c"),
        col(s"d.$key") === col(s"c.$key"), "left")
      .select(
        (key +: attrs).map(a => col(s"d.$a").as(a)) :+
          col(s"d.$validFrom").as(validFrom) :+
          when(col(s"d.$validTo").isNull, col("_eff"))
            .otherwise(col(s"d.$validTo")).as(validTo): _*)

    closed.select(outCols: _*)
      .unionByName(opened)
      .unionByName(firstSeen)
  }

  /** Delta form of [[applyBatch]] for open/closed-partitioned layouts: the
    * same per-key semantics, but instead of the full dimension it returns
    * [[ScdDelta]] — the rows to APPEND to the closed extent and the
    * complete new open slice to overwrite — so the closed extent's files
    * are never rewritten. At 100 TB the closed extent is the bulk of the
    * dimension and strictly cold; this is the write path that keeps it so.
    *
    * One full-outer join of the open slice with the updates, tagged per
    * row and materialized once (eagerly, via [[Materialize.frame]]): the
    * updates are read once, and every [[ScdDelta]] frame is a projection of
    * the checkpoint. A side-presence flag, not the key, tells the sides
    * apart, so a null key behaves as in [[applyBatch]]: a null-keyed open row
    * passes through and a null-keyed update is first-seen.
    *
    * Equivalence contract (spec-checked): for any (dim, updates),
    * `dim.filter(validTo.isNotNull) ∪ closedDelta ∪ newOpen` ==
    * `applyBatch(dim, updates, ...)` as a multiset.
    */
  def applyBatchDelta(dim: DataFrame, updates: DataFrame, key: String,
                      attrs: Seq[String], effCol: String,
                      validFrom: String = "valid_from",
                      validTo: String = "valid_to"): ScdDelta = {
    require(attrs.nonEmpty, "attrs must be non-empty")
    def d(a: String) = s"_d_$a" // the open row's value
    def u(a: String) = s"_u_$a" // the update's value
    val open = dim.filter(col(validTo).isNull).withColumn("_in", lit(true))
    val upd = updates.withColumn("_in", lit(true))
    val differs = attrs.map(a => !(col(s"d.$a") <=> col(s"u.$a"))).reduce(_ || _)
    val change = when(col("u._in").isNull, Keep)
      .when(col("d._in").isNull, FirstSeen)
      .when(differs, Changed)
      .otherwise(Keep)
    val changes = Materialize.frame(
      open.alias("d").join(upd.alias("u"), col(s"d.$key") === col(s"u.$key"), "full_outer")
        .select(Seq(coalesce(col(s"d.$key"), col(s"u.$key")).as(key), change.as(ChangeCol)) ++
          attrs.map(a => col(s"d.$a").as(d(a))) ++ attrs.map(a => col(s"u.$a").as(u(a))) ++
          Seq(col(s"d.$validFrom").as(d(validFrom)), col(s"u.$effCol").as(u(effCol))): _*))

    // the open NULL valid_to takes effCol's own type, as in changeParts
    val nullValidTo = lit(null).cast(updates.schema(effCol).dataType).as(validTo)
    def tagged(t: Int) = changes.filter(col(ChangeCol) === t)
    val newState = (col(key) +: attrs.map(a => col(u(a)).as(a))) :+
      col(u(effCol)).as(validFrom) :+ nullValidTo
    val closedDelta = tagged(Changed).select(
      (col(key) +: attrs.map(a => col(d(a)).as(a))) :+
        col(d(validFrom)).as(validFrom) :+ col(u(effCol)).as(validTo): _*)
    val keep = col(ChangeCol) === Keep
    val newOpen = changes.select(
      (col(key) +: attrs.map(a => when(keep, col(d(a))).otherwise(col(u(a))).as(a))) :+
        when(keep, col(d(validFrom))).otherwise(col(u(effCol))).as(validFrom) :+
        nullValidTo: _*)
    ScdDelta(closedDelta, tagged(Changed).select(newState: _*),
      tagged(FirstSeen).select(newState: _*), newOpen, changes)
  }

  /** Write one [[ScdDelta]] to an open/closed-partitioned layout. Every
    * frame is a projection of the one materialized `changes` join, so the
    * open-slice overwrite reads only that checkpoint, never `openDir` (see
    * [[ScdDelta]]), and both row counts come from one aggregate over it.
    * The cold extent appends FIRST, so a crash between the two writes
    * never loses closed history; it does leave the batch half-applied
    * (closed rows present in the extent AND still open on disk), and
    * re-running the same batch then re-appends the same closed rows — a
    * single-writer caller needing exactly-once wraps the pair in its own
    * versioned-pointer swap (the S5 pattern). Returns (closed, newOpen) row
    * counts.
    */
  def writeDelta(delta: ScdDelta, closedDir: String, openDir: String): (Long, Long) = {
    val counts = delta.changes
      .agg(count(when(col(ChangeCol) === Changed, true)), count(lit(1))).head()
    val (nClosed, nOpen) = (counts.getLong(0), counts.getLong(1))
    // A no-change batch appends NOTHING to the cold extent (a continuous
    // stream's steady state is mostly no-change batches — unconditional
    // empty appends would accrete one file set per batch forever). The one
    // exception bootstraps the dir on first write so readers always find a
    // schema'd extent.
    val cdir = new org.apache.hadoop.fs.Path(closedDir)
    val cfs = cdir.getFileSystem(
      delta.changes.sparkSession.sparkContext.hadoopConfiguration)
    if (nClosed > 0 || !cfs.exists(cdir))
      delta.closedDelta.write.mode("append").parquet(closedDir)
    delta.newOpen.write.mode("overwrite").parquet(openDir)
    (nClosed, nOpen)
  }

  /** One whole Type-2 batch against a dimension ON DISK: read the open
    * slice from `openDir` (absent → empty dimension, so the first batch
    * bootstraps the layout), [[applyBatchDelta]], [[writeDelta]]. The
    * closed extent at `closedDir` only ever receives appends — its existing
    * files stay byte-untouched at any scale (PipelineSpec asserts this
    * across batches). Single-writer, like every sink in this engine.
    */
  def applyBatchDeltaDirs(spark: org.apache.spark.sql.SparkSession,
                          openDir: String, closedDir: String,
                          updates: DataFrame, key: String, attrs: Seq[String],
                          effCol: String, validFrom: String = "valid_from",
                          validTo: String = "valid_to"): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(openDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the open slice's schema follows from the updates' (what writeDelta
    // wrote it with), so reading it back needs no inference job
    val schema = updates.select(
      (key +: attrs).map(col) :+ col(effCol).as(validFrom) :+ col(effCol).as(validTo): _*).schema
    val dim =
      if (fs.exists(p)) spark.read.schema(schema).parquet(openDir)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    Materialize.scoped(writeDelta(
      applyBatchDelta(dim, updates, key, attrs, effCol, validFrom, validTo), closedDir, openDir))
  }
}
