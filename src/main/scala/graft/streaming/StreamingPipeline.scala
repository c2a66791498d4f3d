package graft.streaming

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.{CommittedBatches, Pipeline, SinkMode, VersionedDir}
import graft.operators.{Layout, Materialize}

/** One finalized user session (same shape/epoch-second semantics as the
  * batch `e9b_session_windows` query, so batch and stream agree row-for-row
  * on session-complete data).
  */
final case class SessionOut(user_id: Long, session_start: Long, n_events: Long, duration_sec: Long)

/** Open-session state carried between micro-batches (milliseconds). */
final case class OpenSession(startMs: Long, lastMs: Long, n: Long)

/** Structured Streaming form of the ETL (SURVEY.md §2.10).
  *
  * The reference "streams" by listing an SFTP directory daily and fanning out
  * one Prefect subflow per file (flows/orchestrator_flow.py:16-56). The
  * Spark-native idiom is a file-source stream: the source discovers new
  * files, the checkpoint records which files each micro-batch consumed,
  * and `Trigger.AvailableNow` gives the same "drain everything pending, then
  * stop" semantics as the daily batch — one code path for both scheduled
  * batch and continuous tailing.
  *
  * Each micro-batch reuses the batch's per-file ladder ([[Pipeline.ingest]],
  * which also skips files the bitacora ledger holds) and
  * [[Pipeline.processBatch]] verbatim, so batch and streaming runs are
  * observably identical per file set.
  */
object StreamingPipeline {

  /** The one batch lifecycle of every streaming sink: drain everything
    * pending in `df` (`Trigger.AvailableNow`) through `body`, one call per
    * micro-batch, then stop. `checkpointDir` carries the consumed-input
    * state across restarts. Each body runs in its own
    * [[Materialize.scoped]], so a long-lived stream pins no checkpoint from
    * one micro-batch to the next.
    */
  private def drain(df: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) => Materialize.scoped(body(batch, batchId)))
      .start()

  /** File-source stream of report rows, tagged with their source file. */
  def reportStream(spark: SparkSession, inputDir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .option("header", "true")
      .option("pathGlobFilter", "report_*.txt")
      .schema(Layout.rawSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.csv(inputDir)
      .withColumn("nombreArchivo", Pipeline.fileName)
  }

  /** Drain all currently-available files through the ETL, then stop.
    * `checkpointDir` carries processed-file state across restarts.
    *
    * Each micro-batch's decoded file set ([[Pipeline.decodedPath]]) is
    * passed through the same per-file ladder as
    * [[Pipeline.runBatch]] ([[Pipeline.ingest]]):
    *  - files already in the bitacora ledger are skipped. A micro-batch that
    *    Spark replays because it crashed after the ledger append and before
    *    its commit-log entry is a no-op, and so is a file `runBatch` already
    *    ledgered. The visitantes publish → ledger append window stays open
    *    here as in the batch (README "Rerun idempotence"): a crash inside it
    *    re-merges the replayed files.
    *  - P16 layout gate: the schema-enforced stream read cannot itself fail
    *    layout (columns are imposed positionally), so the driver-side header
    *    check runs per file; wrong-layout files are quarantined with a
    *    'Fallido' ledger row and their (garbage) rows excluded.
    *  - a header check that THROWS although the source delivered rows (ACL
    *    flipped, truncated rewrite, deletion race) goes through the
    *    system-failure horizon; the file's rows are excluded and, since the
    *    checkpoint never redelivers it, [[reconcilePendingFiles]] re-enters
    *    it after recovery. `partial = true`: the micro-batch sees only its
    *    own files, and a whole rewrite would erase every other pending
    *    file's retry row (and the first-failure date the horizon runs on).
    *
    * `sink` routes each micro-batch through the SAME [[SinkMode]] switch as
    * the batch driver — the reference's MySQL-sink semantics (JDBC appends,
    * visitantes staging replace/upsert) hold under the streaming entry too,
    * not just `Pipeline.runBatch`.
    */
  def runAvailableNow(spark: SparkSession, inputDir: String, outDir: String,
                      checkpointDir: String, asOf: Date,
                      sink: SinkMode = SinkMode.Parquet,
                      horizonDays: Int = 2,
                      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(reportStream(spark, inputDir, maxFilesPerTrigger), checkpointDir) { (batch, _) =>
      val files = batch.select(input_file_name()).distinct()
        .collect().map(r => Pipeline.decodedPath(r.getString(0))).toSeq
      Pipeline.ingest(spark, outDir, files, asOf, sink, horizonDays, partial = true) {
        admitted =>
          if (admitted.size == files.size) batch
          else batch.filter(col("nombreArchivo").isin(admitted.map(Pipeline.baseName): _*))
      }
    }

  /** Post-drain reconciliation: the pending (listed, not yet ledgered) files
    * the stream itself cannot deliver, run through the same per-file ladder
    * ([[Pipeline.ingest]]) as the batch driver. It owns three classes:
    *
    *  - ZERO-ROW files: a header-only file emits no rows, so it is
    *    invisible to `foreachBatch` (whose file set derives from
    *    `input_file_name()` over data rows). The ladder quarantines a bad
    *    header; `processBatch` ledgers a good one 'Completado' 0/0.
    *  - SYSTEM-FAILING files (open throws — broken ACL, truncated upload,
    *    a directory wearing a report name): the file source never delivers
    *    them, so without this pass they would silently never surface. The
    *    retry horizon (README.md:110-115) retries them while it holds — on
    *    recovery the source delivers them on the next drain — and
    *    quarantines them 'Fallido' once it passes.
    *  - CONSUMED-BUT-EXCLUDED files: the micro-batch's header check hit a
    *    system failure after the source had already delivered the rows.
    *    The checkpoint will never redeliver them, so a pending data file
    *    that carries a retry-ledger row is processed here once it reads
    *    again. The ladder loads it before it rewrites the retry ledger, so
    *    the row, and this pass's claim on the file, outlive any failure
    *    before its ledger append.
    *
    * Pending data files with NO retry row are left alone (they belong to
    * the stream — e.g. a file that arrived after the drain). Single-writer
    * assumption as elsewhere; a rerun re-merges a file caught in the
    * visitantes publish → ledger append window (README "Rerun idempotence").
    */
  def reconcilePendingFiles(spark: SparkSession, inputDir: String,
                            outDir: String, asOf: Date,
                            sink: SinkMode = SinkMode.Parquet,
                            horizonDays: Int = 2): Unit = {
    val retryDir = s"$outDir/reintentos"
    val retryListed: Set[String] =
      if (!Pipeline.exists(spark, retryDir)) Set.empty
      else spark.read.parquet(retryDir)
        .select("nombreArchivo").collect().map(_.getString(0)).toSet
    def owns(f: String): Boolean =
      retryListed(Pipeline.baseName(f)) ||
        scala.util.Try(Pipeline.isHeaderOnly(spark, f)).getOrElse(true)
    Pipeline.ingest(spark, outDir, Pipeline.listReports(spark, inputDir), asOf, sink,
      horizonDays, prune = true, owns = owns)(Pipeline.readReports(spark, _))
  }

  /** Streaming sessionization with CUSTOM state — the charter's
    * `flatMapGroupsWithState` surface (`session_window` covers the declarative
    * case; this is the escape hatch for session logic Spark's built-in can't
    * express, e.g. per-session caps or value-dependent gaps).
    *
    * State per user = the single open session (start, last, count) —
    * bounded, watermark-expired, O(1) per user regardless of history, so a
    * 100 TB/day stream holds |active users| rows of state, not events.
    * Sessions close either when a new event arrives ≥ `gapSec` after the
    * last, or when the event-time timeout fires (watermark passed
    * last + gap). Boundary matches batch `session_window`, which MERGES an
    * event landing exactly `gapSec` after the previous one (verified in
    * StreamingPipelineSpec; sessions close only when the gap strictly
    * exceeds `gapSec`). Epoch seconds floor-truncate, matching
    * `unix_timestamp`.
    *
    * Ordering contract: events are sorted within each micro-batch; a
    * cross-batch straggler (allowed by the watermark) merges into the open
    * session conservatively (min/max extend) rather than re-splitting
    * already-closed sessions — the standard state-streaming tradeoff.
    */
  def sessionizeStream(events: DataFrame, gapSec: Long = 1800,
                       watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSec * 1000L

    events.select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, it, state) =>
          def close(s: OpenSession) =
            SessionOut(uid, s.startMs / 1000, s.n, s.lastMs / 1000 - s.startMs / 1000)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val closed = Seq.newBuilder[SessionOut]
            var open = state.getOption
            it.map(_._2.getTime).toArray.sorted.foreach { t =>
              open = open match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  Some(OpenSession(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
                case Some(s) =>
                  closed += close(s)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              // +1: an event exactly gapSec after `last` still merges, so the
              // session may only time out once the watermark strictly passes
              // last + gap
              val deadline = s.lastMs + gapMs + 1
              if (deadline <= state.getCurrentWatermarkMs()) {
                // already expired per the watermark — emit now, keep no state
                closed += close(s)
                state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(deadline)
              }
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exactly-once event dedup: drops re-deliveries of the same
    * `idCols` within the watermark horizon (state expires with the
    * watermark, so memory is bounded by the horizon's id cardinality, not
    * the stream's). The streaming twin of `Dedup.exact` for at-least-once
    * sources.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming E9: watermarked tumbling-window aggregate over an event
    * stream — the streaming twin of the batch `e9_hourly_window` query.
    * Late rows beyond the watermark are dropped; state is bounded.
    */
  def hourlyWindow(events: DataFrame, tsCol: String = "ts", valueCol: String = "value",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("n"), col("sum_value"))

  /** Stream-stream interval join (the streaming twin of the batch as-of
    * attribution aj1): each purchase joins the same user's clicks from the
    * trailing `windowSec` seconds. Both sides are watermarked, and the join
    * condition bounds click_ts to [buy_ts − window, buy_ts], so Spark can
    * expire buffered state once the watermark passes the bound — state stays
    * proportional to the window, not the stream.
    *
    * Inputs: buys(user_id, buy_id, buy_ts), clicks(user_id, click_id,
    * click_ts). Emits one row per (buy, matching click) pair.
    */
  def attributionJoin(buys: DataFrame, clicks: DataFrame,
                      windowSec: Long = 3600,
                      watermark: String = "1 hour"): DataFrame = {
    val b = buys.withWatermark("buy_ts", watermark)
    val c = clicks.withColumnRenamed("user_id", "c_user")
      .withWatermark("click_ts", watermark)
    b.join(c,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("buy_ts") - expr(s"INTERVAL $windowSec SECOND") &&
        col("click_ts") <= col("buy_ts"))
      .select(col("buy_id"), col("user_id"), col("click_id"),
        unix_timestamp(col("buy_ts")).as("buy_epoch"),
        unix_timestamp(col("click_ts")).as("click_epoch"))
  }

  /** Parquet file-source stream for the gate family — the production entry
    * a 100 TB backlog drains through. `Trigger.AvailableNow` alone lists
    * EVERYTHING pending into one effective micro-batch (fine for tests and
    * daily deltas; one batch = the whole corpus on a cold start), so the
    * bounded-batch knob matters exactly at scale: `maxFilesPerTrigger`
    * caps each micro-batch's file count and AvailableNow then drains the
    * backlog as a SEQUENCE of bounded batches before stopping — same
    * checkpoint, same at-least-once replay contract, and the gates'
    * per-batch protocols (exclusion + batch-scoped overwrite + committed
    * markers) are already batch-size-agnostic, so the final state is
    * identical to the one-big-batch drain (StreamingPipelineSpec pins
    * this). Schema is imposed, not inferred: streaming sources require it,
    * and inference over a petabyte listing would be a driver-side scan.
    */
  def docStream(spark: SparkSession, inputDir: String,
                schema: org.apache.spark.sql.types.StructType,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(inputDir)
  }

  /** Streaming incremental dedup gate: each micro-batch of documents is
    * admitted only if it is not an exact/near duplicate of the PERSISTED
    * dedup index ([[graft.operators.Dedup.buildDedupIndex]]) — which
    * includes every previously-admitted stream doc, because survivors are
    * appended to the index when the batch commits. Cross-batch dedup
    * WITHOUT unbounded executor state: the "state" is the linear parquet
    * index rather than state-store rows, so it survives restarts and is
    * shared with the batch gate — one dedup truth for both entries.
    *
    * Within a batch: exact self-duplicates keep their lowest id; near-dup
    * self-pairs drop the higher id of each verified pair (greedy keeper,
    * same discipline as the batch curation pipeline).
    *
    * Restart-safe for real (round-8 advice): foreachBatch is at-least-once,
    * so the whole per-batch body ([[dedupGateBatch]]) is idempotent under
    * the [[graft.CommittedBatches]] replay protocol. Output lands under
    * `outDir/batch=<id>/` (partition-discovered as a `batch` column;
    * `spark.read.parquet(outDir)` still reads the union).
    *
    * Each micro-batch re-reads the parquet index: a drain-scoped cache of
    * it as checkpointed blocks measured slower (0.80×, SURVEY.md round 20).
    */
  def dedupGateStream(docs: DataFrame, indexDir: String, outDir: String,
                      checkpointDir: String, idCol: String = "doc_id",
                      textCol: String = "text",
                      threshold: Double = 0.5): StreamingQuery =
    drain(docs, checkpointDir)(
      dedupGateBatch(_, _, indexDir, outDir, idCol, textCol, threshold))

  /** One idempotent micro-batch of the dedup gate, under the
    * [[graft.CommittedBatches]] replay protocol: (1) gate excluding this
    * batch's own ids, (2) overwrite the batch-scoped output partition,
    * (3) append the survivors to the index behind the committed-batch
    * marker. Every checkpoint the batch takes is released on the way out.
    */
  def dedupGateBatch(batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     threshold: Double = 0.5): Unit = Materialize.scoped {
    import graft.operators.Dedup
    val exactKeepers = Dedup.exactByFingerprint(batch, textCol, idCol).select(idCol)
    val selfExact = batch.join(exactKeepers, Seq(idCol), "left_semi")
    val nearSelfDrop = Dedup
      .minhashLshPortable(selfExact, idCol, textCol, threshold = threshold)
      .select(col("b").as(idCol)).distinct()
    val selfDeduped = selfExact.join(nearSelfDrop, Seq(idCol), "left_anti")
    // survivors feed two sinks (output + index append); compute once
    val survivors = Materialize.frame(Dedup.incrementalSurvivorsIndexed(
      indexDir, selfDeduped, idCol, textCol, threshold = threshold,
      excludeIds = Some(selfDeduped.select(idCol))))
    survivors.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    CommittedBatches.once(indexDir, batchId, batch.sparkSession.sparkContext.hadoopConfiguration)(
      Dedup.appendToDedupIndex(survivors, idCol, textCol, indexDir))
  }

  /** Streaming SEMANTIC dedup gate — [[dedupGateStream]]'s embedding twin
    * over the persisted semantic index
    * ([[graft.operators.Similarity.buildSemanticIndex]]): each micro-batch
    * of (vec_id, embedding) rows is admitted only where it has no
    * ≥`threshold` rounded-cosine neighbor in (index ∪ smaller-id batch
    * rows) within its quantizer cell. Cross-batch dedup without executor
    * state: the index is linear parquet shared with the batch gate, and
    * the quantizer frame rides inside it (assigning under different
    * centroids would invalidate every stored cell membership).
    */
  def semanticGateStream(vectors: DataFrame, indexDir: String, outDir: String,
                         checkpointDir: String,
                         threshold: Double = 0.9): StreamingQuery =
    drain(vectors, checkpointDir)(semanticGateBatch(_, _, indexDir, outDir, threshold))

  /** One idempotent micro-batch of the semantic gate, under the
    * [[graft.CommittedBatches]] replay protocol (without step 1's exclusion
    * the replay's own index rows would veto every vector via cosine-1.0
    * self-pairs). Intra-batch keep-smallest needs no separate pass — the
    * admission core already drops a vector with a smaller-id ≥threshold
    * neighbor in its own batch.
    */
  def semanticGateBatch(batch: DataFrame, batchId: Long, indexDir: String,
                        outDir: String, threshold: Double = 0.9): Unit = Materialize.scoped {
    import graft.operators.Similarity
    val vecs = batch.select(col("vec_id"), col("embedding"))
    // full index layout back from the gate: the append below reuses this
    // assignment instead of re-scoring the batch against the centroids;
    // materialized because it feeds two sinks (output + index append)
    val admitted = Materialize.frame(Similarity.semanticDedupIncrementalIndexedFull(
      indexDir, vecs, threshold, excludeIds = Some(vecs.select("vec_id"))))
    admitted.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    CommittedBatches.once(indexDir, batchId, batch.sparkSession.sparkContext.hadoopConfiguration)(
      Similarity.appendAssignedToSemanticIndex(admitted, indexDir))
  }

  /** Streaming MEDIA near-dup gate — [[dedupGateStream]]'s multimodal twin,
    * and the proof the signature layer is MODALITY-AGNOSTIC: above
    * `(media_id, dhash)` this is the same persisted-index + pigeonhole-band
    * machinery the text gates run, with the image decode confined to one
    * `mapPartitions` ([[graft.operators.Multimodal.dHashSigs]]). Each
    * micro-batch of (media_id, payload, meta) rows is admitted only where
    * its perceptual hash has no Hamming ≤ `maxDist` neighbor in the
    * persisted index ([[graft.operators.Multimodal.buildMediaIndex]]) or
    * among smaller-id batch rows; admitted payload rows land under
    * `outDir/batch=<id>/` and their SIGNATURES (8 bytes/image — the index
    * never stores payloads) append to the index. Payloads that yield no
    * signature (null/undecodable/undersized) are NOT admitted — they
    * cannot be safely deduplicated; route them through a quarantine path.
    * Candidates are batch-bands × index-bands ([[graft.operators.Dedup
    * .simhashCrossPairs]]): per-batch cost never touches index × index.
    */
  def mediaGateStream(media: DataFrame, indexDir: String, outDir: String,
                      checkpointDir: String, maxDist: Int = 3,
                      quarantineDir: Option[String] = None): StreamingQuery =
    drain(media, checkpointDir)(
      mediaGateBatch(_, _, indexDir, outDir, maxDist, quarantineDir))

  /** One idempotent micro-batch of the media gate, under the
    * [[graft.CommittedBatches]] replay protocol; step 3 appends the
    * admitted signatures.
    *
    * `quarantineDir` (optional) receives the rows that yielded NO signature
    * (null/undecodable/undersized payloads) under `batch=<id>` — they are
    * never admitted (can't be safely deduplicated) and would otherwise
    * vanish silently; a pipeline that must account for every input row
    * reads the quarantine next to the output. Overwrite-scoped, so replays
    * rewrite rather than duplicate.
    */
  def mediaGateBatch(batch: DataFrame, batchId: Long, indexDir: String,
                     outDir: String, maxDist: Int = 3,
                     quarantineDir: Option[String] = None): Unit = Materialize.scoped {
    import graft.operators.{Dedup, Multimodal}
    // one decode per payload; both the self-join and the cross-join read it
    val sigs = Materialize.frame(Multimodal.dHashSigs(batch))
    // within-batch: greedy keeper — drop the higher id of each near pair
    val selfDrop = Dedup.simhashPairsFromSigs(sigs, "media_id", "dhash", maxDist, 64)
      .select(col("b").as("media_id")).distinct()
    val selfKept = sigs.join(selfDrop, Seq("media_id"), "left_anti")
    val index = Multimodal.mediaIndexSigs(batch.sparkSession, indexDir)
      .join(sigs.select("media_id"), Seq("media_id"), "left_anti")
    val vsIndexDrop = Dedup.simhashCrossPairs(selfKept, index, "media_id", "dhash", maxDist, 64)
      .select(col("a").as("media_id")).distinct()
    // feeds two sinks (output semi-join + index append); compute once
    val admitted = Materialize.frame(
      selfKept.join(vsIndexDrop, Seq("media_id"), "left_anti"))
    quarantineDir.foreach { qd =>
      batch.join(sigs.select("media_id"), Seq("media_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$qd/batch=$batchId")
    }
    batch.join(admitted.select("media_id"), Seq("media_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    // batch-scoped overwrite append: a replay re-running this step (crash
    // between append and marker) rewrites sigs/b<id> instead of
    // accumulating duplicate signature rows per crash loop
    CommittedBatches.once(indexDir, batchId, batch.sparkSession.sparkContext.hadoopConfiguration)(
      Multimodal.appendToMediaIndex(admitted, indexDir, batchId))
  }

  /** Streaming DECONTAMINATION monitor — the eval-suite-overlap member of
    * the gate family: each micro-batch of TRAINING documents probes the
    * persisted contamination index
    * ([[graft.operators.Dedup.buildContaminationIndex]]) and appends the
    * newly matched (eval_id, shingle) pairs. Unlike the dedup gates nothing
    * is filtered — the stream maintains the eval-suite-bounded matched
    * STATE from which [[graft.operators.Dedup.contaminationVerdictsIndexed]]
    * reads per-eval-doc overlap verdicts at any time (the "is our benchmark
    * leaking into the crawl" live monitor). Because verdicts count DISTINCT
    * matched shingles, duplicate appends are harmless: a replayed
    * at-least-once batch re-appends the same pairs and every verdict is
    * unchanged — exactly-once BY ALGEBRA, so this gate needs neither the
    * exclusion step nor the committed-batch marker the dedup gates carry.
    */
  def contaminationGateStream(docs: DataFrame, indexDir: String,
                              checkpointDir: String, idCol: String = "doc_id",
                              textCol: String = "text"): StreamingQuery =
    drain(docs, checkpointDir) { (batch, _) =>
      graft.operators.Dedup.contaminationGateBatch(indexDir, batch, idCol, textCol)
    }

  /** Streaming quality/language CLASSIFIER gate — the third member of the
    * gate family (exact-dedup, semantic, classifier): each micro-batch of
    * documents is scored against a PERSISTED Naive Bayes model
    * ([[graft.operators.LanguageModel.buildNbModel]] — trained once,
    * offline, on a labeled corpus) and only documents whose predicted
    * class is in `keepLabels` pass (the CCNet/fastText-style "keep the
    * target language / quality tier" stream filter). Unlike the dedup
    * gates the model is READ-ONLY — admission depends on nothing but the
    * batch and the static model, so the per-batch body is a pure function
    * and replay idempotency needs no exclusion/marker protocol, only the
    * batch-scoped overwrite.
    */
  def classifierGateStream(docs: DataFrame, modelDir: String, outDir: String,
                           checkpointDir: String, keepLabels: Seq[String],
                           idCol: String = "doc_id", textCol: String = "text",
                           labelCol: String = "lang"): StreamingQuery = {
    // fail BEFORE start(): inside the streaming thread these would only
    // surface asynchronously (a fire-and-forget caller sees a started
    // query while every batch dies in the background)
    require(keepLabels.nonEmpty, "keepLabels must not be empty")
    requireNoReservedCols(docs, labelCol)
    drain(docs, checkpointDir)(
      classifierGateBatch(_, _, modelDir, outDir, keepLabels, idCol, textCol, labelCol))
  }

  /** Streaming BPE token annotator over a PERSISTED merge table
    * ([[graft.operators.Bpe.saveMerges]]): every micro-batch gets
    * `n_bpe_tokens` attached, and rows over `maxTokens` (if set) are
    * dropped — the ingest-side token accounting/length gate a training
    * pipeline runs as documents arrive, priced under the SAME tokenizer the
    * final export bills with. The merge table loads ONCE at stream
    * construction (it is tokenizer-sized and becomes the rank map of the
    * production applier — per-batch reload would re-collect it on every
    * trigger for no freshness gain: the artifact is immutable by contract,
    * like the NB model). Read-only model ⇒ pure per-batch body ⇒ replay
    * needs only the batch-scoped overwrite, no marker protocol. The
    * applier is [[graft.operators.Bpe.tokenCountsScalable]], so `idCol`
    * must be integral (documents' long ids; it fails loudly otherwise).
    */
  def tokenGateStream(docs: DataFrame, mergesDir: String, outDir: String,
                      checkpointDir: String, maxTokens: Long = Long.MaxValue,
                      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery = {
    import graft.operators.Bpe
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(!docs.columns.contains("n_bpe_tokens"),
      "input must not contain reserved column n_bpe_tokens")
    val merges = Bpe.loadMerges(docs.sparkSession, mergesDir)
    drain(docs, checkpointDir) { (batch, batchId) =>
      // the rank-priority applier, not the replace chain: a persisted
      // PRODUCTION merge table (32k merges) would otherwise compile to a
      // 32k-deep expression per batch (BpeSpec pins the two identical)
      batch.join(
          Bpe.tokenCountsScalable(batch, idCol, textCol, merges), Seq(idCol), "left")
        .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
        .filter(col("n_bpe_tokens") <= maxTokens)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  /** The gate's output attaches `pred_<labelCol>` and `score` next to the
    * input columns — an input already carrying either would make the
    * admitted join ambiguous and kill the parquet write on the FIRST
    * batch, so refuse the reserved names up front (the componentSplit
    * collision-guard idiom).
    */
  private def requireNoReservedCols(docs: DataFrame, labelCol: String): Unit = {
    val reserved = Seq(s"pred_$labelCol", "score")
    require(!docs.columns.exists(reserved.contains),
      s"input must not contain reserved columns ${reserved.mkString(", ")}")
  }

  /** One micro-batch of the classifier gate: score, keep the admitted
    * docs (original columns + pred_<labelCol> + score), overwrite the
    * batch-scoped partition. Documents that tokenize to nothing carry no
    * evidence, get no prediction, and are dropped — the same contract as
    * the batch classifier.
    */
  def classifierGateBatch(batch: DataFrame, batchId: Long, modelDir: String,
                          outDir: String, keepLabels: Seq[String],
                          idCol: String = "doc_id", textCol: String = "text",
                          labelCol: String = "lang"): Unit = {
    require(keepLabels.nonEmpty, "keepLabels must not be empty")
    requireNoReservedCols(batch, labelCol)
    val scored = graft.operators.LanguageModel
      .scoreWithNbModel(modelDir, batch, idCol, textCol, labelCol)
    batch.join(scored.filter(col(s"pred_$labelCol").isin(keepLabels: _*)),
        Seq(idCol))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Continuous CDC materialization: apply each micro-batch of changes to a
    * persisted keyed state table via [[graft.operators.Cdc.applyLog]] —
    * the streaming form of Delta/Hudi-style upsert materialization, with
    * the state on plain versioned parquet instead of executor state-store
    * rows (unbounded key spaces stay off-heap, restarts re-read parquet).
    *
    * Replay protocol (same at-least-once discipline as [[dedupGateBatch]]):
    * the batch reads the newest version STRICTLY OLDER than its own batchId
    * (never the pointer — a crashed attempt of THIS batch may already have
    * written/published its version), rewrites `stateDir/v=<batchId>` whole,
    * then publishes it for external readers ([[VersionedDir]]). Every step
    * is an overwrite keyed by batchId, so replays converge on identical
    * state.
    */
  def cdcApplyStream(changes: DataFrame, stateDir: String, checkpointDir: String,
                     key: String, attrs: Seq[String], opCol: String = "op",
                     tsCol: String = "ts", tieCol: String = "seq"): StreamingQuery =
    drain(changes, checkpointDir)(
      cdcApplyBatch(_, _, stateDir, key, attrs, opCol, tsCol, tieCol))

  /** Continuous SCD-2 materialization: drain an attribute-update stream into
    * an on-disk open/closed dimension layout via
    * [[graft.operators.Scd.applyBatchDeltaDirs]] — the streaming form of the
    * batch pipeline's `visitantes_scd` sink. Each micro-batch is reduced to
    * ONE row per key (latest by `effCol`, ties by `tieCol`) before the
    * Type-2 apply, since a Type-2 batch closes at most one interval per key.
    *
    * Replay protocol (foreachBatch is at-least-once): a completed batch
    * leaves its committed-batch marker under `closedDir`
    * ([[graft.CommittedBatches]]) and replays skip on it. A crash INSIDE
    * the batch either
    * happened before the open slice's overwrite — the replay recomputes the
    * identical delta and re-appends the same closed rows (the d8
    * append-then-marker trade: closed-extent duplicates are STORED, never
    * lost; `Dedup.compactDedupIndex`-style distinct compaction or a
    * read-side dropDuplicates absorbs them) — or after it, where the
    * recomputed delta is empty (attrs already equal) and the replay is a
    * pure no-op. Closed history cannot be lost at any crash point because
    * the cold extent appends BEFORE the open slice swaps.
    *
    * The state dirs are tied to ONE checkpoint lineage: resetting the
    * checkpoint restarts batchIds at 0, where the surviving markers of the
    * last three batches would silently skip the first batches (and replaying already-
    * applied data into live state double-closes intervals anyway). A new
    * checkpoint means new open/closed dirs — same rule as every versioned
    * sink in this engine.
    */
  def scdApplyStream(updates: DataFrame, openDir: String, closedDir: String,
                     checkpointDir: String, key: String, attrs: Seq[String],
                     effCol: String, tieCol: String): StreamingQuery =
    drain(updates, checkpointDir)(
      scdApplyBatch(_, _, openDir, closedDir, key, attrs, effCol, tieCol))

  /** One replay-guarded SCD-2 micro-batch (see [[scdApplyStream]]). */
  def scdApplyBatch(batch: DataFrame, batchId: Long, openDir: String,
                    closedDir: String, key: String, attrs: Seq[String],
                    effCol: String, tieCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    CommittedBatches.once(closedDir, batchId, spark.sparkContext.hadoopConfiguration) {
      // latest row per key: window over the (unbounded-cardinality) business
      // key — the same per-key discipline as the CDC heap collapse
      val latest = batch
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col(key)).orderBy(col(effCol).desc, col(tieCol).desc)))
        .filter(col("_rn") === 1).drop("_rn")
      graft.operators.Scd.applyBatchDeltaDirs(
        spark, openDir, closedDir, latest, key, attrs, effCol)
    }
  }

  /** The versioned state of a streaming sink: `v=<batchId>` dirs. */
  private def stateVersions(spark: SparkSession, stateDir: String): VersionedDir =
    new VersionedDir(stateDir, "v=%d", spark.sparkContext.hadoopConfiguration)

  /** One replayable versioned-state micro-batch, the shared body of
    * [[cdcApplyBatch]], [[countMinBatch]] and [[preferenceFoldBatch]]:
    * `fold` the batch onto the newest version below `batchId` (None before
    * the first), write the result as `v=<batchId>` and publish it.
    */
  private def foldVersion(spark: SparkSession, stateDir: String, batchId: Long)(
      fold: Option[DataFrame] => DataFrame): Unit = {
    val versions = stateVersions(spark, stateDir)
    val base = versions.latestBelow(batchId).map(v => spark.read.parquet(versions.path(v)))
    fold(base).write.mode("overwrite").parquet(versions.path(batchId))
    versions.publish(batchId)
  }

  /** One idempotent CDC micro-batch (see [[cdcApplyStream]]). */
  def cdcApplyBatch(batch: DataFrame, batchId: Long, stateDir: String,
                    key: String, attrs: Seq[String], opCol: String = "op",
                    tsCol: String = "ts", tieCol: String = "seq"): Unit =
    foldVersion(batch.sparkSession, stateDir, batchId) { base =>
      graft.operators.Cdc.applyLog(
        base.getOrElse(batch.select((key +: attrs).map(col): _*).limit(0)),
        batch, key, attrs, opCol, tsCol, tieCol)
    }

  /** Read the state table an external reader would see: the published
    * version, None before the first publish.
    */
  def cdcCurrentState(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val versions = stateVersions(spark, stateDir)
    versions.current.map(v => spark.read.parquet(versions.path(v)))
  }

  /** Continuous Count-Min maintenance — the streaming twin of cm1: each
    * micro-batch's counters ([[graft.operators.Frequency.countMinCounters]])
    * merge BY ADDITION into a versioned on-disk counter table, exercising
    * the sketch's mergeability (halves-summed == whole, FrequencySpec)
    * operationally. State is ≤ depth·width cells at ANY stream length —
    * the whole point of sketching a stream — and the protocol is
    * [[cdcApplyBatch]]'s: v=batchId computed from the latest prior
    * version, replays recompute it identically (deterministic addition),
    * published atomically, two prior versions retained.
    * External readers resolve estimates against [[cdcCurrentState]]'s view
    * with [[graft.operators.Frequency.countMinEstimate]].
    */
  def countMinStream(items: DataFrame, stateDir: String, checkpointDir: String,
                     itemCol: String = "item", depth: Int = 4,
                     width: Int = 512): StreamingQuery =
    drain(items, checkpointDir)(countMinBatch(_, _, stateDir, itemCol, depth, width))

  def countMinBatch(batch: DataFrame, batchId: Long, stateDir: String,
                    itemCol: String, depth: Int, width: Int): Unit =
    foldVersion(batch.sparkSession, stateDir, batchId) { base =>
      val delta = graft.operators.Frequency.countMinCounters(batch, col(itemCol), depth, width)
      base.fold(delta)(_.unionByName(delta).groupBy("j", "idx").agg(sum(col("cnt")).as("cnt")))
    }

  /** Streaming PREFERENCE-STATE fold — the fine-tuning tier's member of
    * the versioned-state family ([[cdcApplyBatch]], [[countMinBatch]]):
    * each micro-batch of scored candidates folds into the persisted
    * per-prompt (count, best, worst) state via
    * [[graft.operators.Preference.mergePreferenceState]]'s monoid merge,
    * and [[currentPreferencePairs]] reads live DPO pairs from the
    * published version at any time. Replay-idempotent WITHOUT markers:
    * a replayed batch merges the same batch state onto the same parent
    * (versions strictly below its id — never one containing itself) and
    * overwrites `v=<id>` with identical rows, so the one non-idempotent
    * component (the candidate count, a sum) can never double-fold. State
    * size is the prompt domain, forever, no matter how many candidates
    * stream through.
    */
  def preferenceFoldStream(scored: DataFrame, stateDir: String,
                           checkpointDir: String, promptCol: String,
                           idCol: String, qFpCol: String): StreamingQuery =
    drain(scored, checkpointDir)(
      preferenceFoldBatch(_, _, stateDir, promptCol, idCol, qFpCol))

  /** One replayable preference-fold micro-batch (see
    * [[preferenceFoldStream]]).
    */
  def preferenceFoldBatch(batch: DataFrame, batchId: Long, stateDir: String,
                          promptCol: String, idCol: String,
                          qFpCol: String): Unit =
    foldVersion(batch.sparkSession, stateDir, batchId) { base =>
      import graft.operators.Preference
      val delta = Preference.preferenceState(batch, promptCol, idCol, qFpCol)
      base.fold(delta)(Preference.mergePreferenceState(_, delta))
    }

  /** Live preference pairs from the last published state version (None
    * before the first publish) — what a sampling-loop consumer polls.
    */
  def currentPreferencePairs(spark: SparkSession, stateDir: String,
                             minMarginFp: Long): Option[DataFrame] =
    cdcCurrentState(spark, stateDir)
      .map(graft.operators.Preference.pairsFromState(_, minMarginFp))

  /** Sliding-window aggregate (the tumbling [[hourlyWindow]]'s overlapping
    * twin): each event contributes to size/slide overlapping windows, state
    * is one aggregate row per OPEN window (bounded by watermark ÷ slide),
    * and windows finalize exactly once when the watermark passes their end.
    * Decimal sum keeps the emitted totals order-insensitive, same
    * discipline as the batch side.
    */
  def slidingWindow(events: DataFrame, size: String = "1 hour",
                    slide: String = "15 minutes", tsCol: String = "ts",
                    valueCol: String = "value",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), size, slide).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_epoch"), col("n"), col("sum_value"))

  /** Streaming frequent-item candidates per tumbling window via the
    * mergeable Misra-Gries aggregate ([[graft.functions.MisraGries]]):
    * per-window state is the k-entry sketch, not the window's item
    * multiset — O(k) state per open window at any event volume, same
    * discipline as [[hourlyTopK]]. Emits (hour_epoch, candidates) when the
    * watermark closes a window; candidates are a guaranteed SUPERSET of
    * every item with in-window frequency > n/(k+1) (MG completeness), with
    * the exact verify pass left to the batch side
    * ([[graft.operators.Frequency.heavyHitters]]) on windows worth the
    * second look.
    */
  def hourlyFrequentItems(events: DataFrame, k: Int, itemCol: String = "item",
                          tsCol: String = "ts",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(call_function("mg_sketch", col(itemCol).cast("string"), lit(k)).as("sk"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("sk.item").as("candidates"))

  /** Streaming top-k per tumbling window via the native bounded-heap
    * aggregate ([[graft.functions.TopKStruct]]): per-window state is the
    * k-element heap buffer, not the window's rows — so streaming top-k
    * carries O(k) state per open window regardless of event volume. Emits
    * (hour_epoch, [ids in rank order]) when the watermark closes a window.
    */
  def hourlyTopK(events: DataFrame, k: Int, idCol: String = "id",
                 tsCol: String = "ts", valueCol: String = "value",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(call_function("topk_struct",
        struct(col(valueCol), (-col(idCol)).as("neg_id")),
        col(idCol), lit(k)).as("top_ids"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("top_ids"))
}
