package etlbench

import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.LocalDate
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Pipeline, SparkEntry}
import graft.Pipeline.RunSummary
import graft.operators.Integrity
import graft.streaming.StreamingPipeline

/** What one repetition measured. `layers` is filled only on traced
  * repetitions.
  */
final case class Rep(runS: Double, rows: Long, diskBytes: Long,
                     layers: Map[String, Double] = Map.empty)

/** One benchmark workload: `warmup` runs the setup's code paths once,
  * untimed; `setup` makes the inputs (and any state) from the seed; `rep`
  * resets what the previous repetition left, runs the timed unit of work
  * and checks its outputs, throwing on a mismatch.
  */
trait Workload {
  /** The setup's code paths once, so that the timed setups run in a warm
    * JVM.
    */
  def warmup(): Unit
  def setup(): Unit
  def rep(tracer: Option[Tracer]): Rep
  /** How many times a run sets up; `setup_s` is their median. */
  def setups: Int = 3
  /** Untimed repetitions before the timed ones. */
  def warmupReps: Int = 1
  /** Per-layer metrics of work done once per traced run, after the
    * repetitions.
    */
  def tracedOnce(tracer: Tracer): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("daily_increment", "lanes_full")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload = name match {
    case "daily_increment" => new DailyIncrement(spark, work, seed)
    case "lanes_full" => new LanesFull(spark, work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `body` as a span when tracing, else just timed. */
  def spanned[A](tracer: Option[Tracer])(body: => A): (A, Double, Option[Span]) =
    tracer match {
      case Some(t) => val (a, s) = t.span(body); (a, s.wallS, Some(s))
      case None => val (a, w) = time(body); (a, w, None)
    }

  def asOf(spec: ReportGen.Spec): Date = Date.valueOf(spec.firstDay.plusDays(spec.files - 1L))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { s =>
      val d = to.resolve(from.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    } finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close()
  }

  def expectEq[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new IllegalStateException(s"output check failed: $what = $got, expected $want")

  /** What the checks read back from an ETL output dir, in four Spark jobs:
    * ledger rows and quarantined files; estadisticas and errores row counts
    * (with a checksum when `checksums`); visitantes keys, Σ visitasTotales
    * and a checksum of the key set.
    */
  final case class EtlOut(ledger: Long, quarantined: Long, estadisticas: Row, errores: Row,
                          visitantes: Row)

  def readEtl(spark: SparkSession, out: Path, checksums: Boolean): EtlOut = {
    def table(t: String) = {
      val df = spark.read.parquet(out.resolve(t).toString)
      if (checksums) Integrity.tableChecksum(df, df.columns.toSeq.sorted).head()
      else Row(df.count())
    }
    val bit = spark.read.parquet(out.resolve("bitacora").toString)
      .agg(count(lit(1)), sum(when(col("estatus") === "Fallido", 1L).otherwise(0L))).head()
    val vis = Pipeline.currentVisitantes(spark, out.toString)
      .getOrElse(throw new IllegalStateException("output check failed: no visitantes version"))
      .agg(count(lit(1)), sum("visitasTotales"), Integrity.checksumAgg(Seq("email"))).head()
    EtlOut(bit.getLong(0), bit.getLong(1), table("estadisticas"), table("errores"), vis)
  }

  /** The ETL output checks against the generator's ground truth. */
  def checkEtl(o: EtlOut, files: Int, wrongHeader: Int, validRows: Long, errorCells: Long,
               keys: Int): Unit = {
    expectEq("bitacora rows", o.ledger, files.toLong)
    expectEq("quarantined files", o.quarantined, wrongHeader.toLong)
    expectEq("estadisticas rows", o.estadisticas.getLong(0), validRows)
    expectEq("errores rows", o.errores.getLong(0), errorCells)
    expectEq("visitantes keys", o.visitantes.getLong(0), keys.toLong)
    expectEq("sum(visitasTotales)", o.visitantes.getLong(1), validRows)
  }

  /** Per-layer probes of the batch pipeline's public pieces, run on the
    * state a repetition starts from: the ledger read, the listing, and the
    * header gate over the files the run will find pending.
    */
  def pipelineProbes(spark: SparkSession, in: Path, out: Path): Map[String, Double] = {
    val (done, ledgerS) = time(Pipeline.processedFiles(spark, out.toString))
    val (listed, listS) = time(Pipeline.listReports(spark, in.toString))
    val pending = listed.filterNot(p => done(p.substring(p.lastIndexOf('/') + 1)))
    val (_, gateS) = time(pending.foreach(Pipeline.checkHeader(spark, _)))
    Map("pipeline.ledger_read_s" -> ledgerS, "pipeline.ledger_files" -> done.size.toDouble,
      "pipeline.list_s" -> listS, "pipeline.listed_files" -> listed.size.toDouble,
      "pipeline.header_gate_s" -> gateS, "pipeline.header_checks" -> pending.size.toDouble)
  }

  /** Rows written into visitantes versions during a span. */
  def visitantesRowsWritten(s: Span): Long =
    s.writes.filter(_.path.matches(".*/visitantes/v\\d+")).map(_.rows).sum

  def scdOpenRows(spark: SparkSession, out: Path): Double =
    spark.read.parquet(out.resolve("visitantes_scd").resolve("open").toString).count().toDouble

  /** Engine counters of a span under the `spark.*` names. */
  def sparkLayers(s: Span, cores: Int): Map[String, Double] = {
    val modules = Metrics.modules.map(m => s"spark.module.${m}_s" -> 0.0).toMap ++
      s.moduleS.groupBy { case (m, _) => if (Metrics.modules.contains(m)) m else "other" }
        .map { case (m, kv) => s"spark.module.${m}_s" -> kv.values.sum }.toMap
    modules ++ Map(
      "spark.jobs" -> s.jobs.toDouble, "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.toDouble, "spark.task_cpu_s" -> s.taskCpuS,
      "spark.task_run_s" -> s.taskRunS, "spark.gc_s" -> s.gcS,
      "spark.shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> s.spillBytes.toDouble,
      "spark.input_bytes" -> s.inputBytes.toDouble,
      "spark.output_bytes" -> s.outputBytes.toDouble,
      "spark.busy_ratio" -> s.taskRunS / (s.wallS * cores),
      "spark.driver_gap_s" -> s.driverGapS)
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}

import Workloads._

/** One new 2k-row file on a ~21k-visitor state; then the no-op reruns,
  * `runBatch` with nothing pending.
  * Each setup writes the files and builds the state with one
  * empty-directory `runBatch` over 5 days of files, one with a wrong header
  * and one header-only, so `setup_s` also times a cold batch: the header
  * gate, the quarantine and empty-file ledger paths and the per-file
  * partitioned writes. About half of the new file's emails already exist in
  * the state.
  *
  * Traced runs also drain the same new file through the streaming pipeline
  * onto a copy of the state, and check its output against the truth and
  * against the last repetition's batch output.
  */
final class DailyIncrement(spark: SparkSession, work: Path, seed: Long) extends Workload {
  private val stateSpec = ReportGen.Spec(files = 5, rowsPerFile = 16000, badEmailRate = 0.03,
    badDateRate = 0.02, wrongHeaderFiles = 1, headerOnlyFiles = 1,
    firstDay = LocalDate.of(2024, 1, 1))
  private val stateKeys = 24000
  private val deltaSpec = stateSpec.copy(files = 1, rowsPerFile = 2000, wrongHeaderFiles = 0,
    headerOnlyFiles = 0, firstDay = stateSpec.firstDay.plusDays(stateSpec.files.toLong),
    prefix = "report_delta")
  /** No-op reruns after each repetition: one checks the result, a traced
    * repetition times three for `pipeline.noop_rerun_s`. */
  private def reruns(traced: Boolean) = if (traced) 3 else 1
  private val in = work.resolve("daily_in")
  private val state = work.resolve("daily_state")
  private val out = work.resolve("daily_out")
  // the new file alone, for the streaming pipeline
  private val streamIn = work.resolve("daily_stream_in")
  private val streamOut = work.resolve("daily_stream_out")
  private val streamCkpt = work.resolve("daily_stream_ckpt")
  private var stateTruth, deltaTruth: ReportGen.Truth = _

  /** A full setup: a smaller batch left the first timed setup half cold,
    * and this one is needed anyway, so two timed setups follow it.
    */
  def warmup(): Unit = setup()
  override def setups: Int = 2

  /** `spec`'s files written to `into` and one `runBatch` of them into the
    * empty dir `stateDir`, checked against their truth.
    */
  private def buildState(spec: ReportGen.Spec, into: Path, stateDir: Path): ReportGen.Truth = {
    Seq(into, stateDir).foreach(deleteTree)
    val truth = ReportGen.write(into, spec, seed, _.nextInt(stateKeys))
    expectEq("state RunSummary", Pipeline.runBatch(spark, into.toString, stateDir.toString,
      asOf(spec)), RunSummary(truth.files, truth.validRows, truth.errorCells))
    truth
  }

  def setup(): Unit = {
    deleteTree(streamIn)
    stateTruth = buildState(stateSpec, in, state)
    val existing = stateTruth.keys.toArray
    def draw(r: SplittableRandom) =
      if (r.nextBoolean()) existing(r.nextInt(existing.length)) else stateKeys + r.nextInt(stateKeys)
    deltaTruth = ReportGen.write(in, deltaSpec, seed + 1, draw)
    ReportGen.write(streamIn, deltaSpec, seed + 1, draw)
  }

  def rep(tracer: Option[Tracer]): Rep = {
    deleteTree(out)
    copyTree(state, out)
    val probes: Map[String, Double] =
      if (tracer.isDefined) pipelineProbes(spark, in, out) else Map.empty
    val (summary, runS, span) = spanned(tracer)(
      Pipeline.runBatch(spark, in.toString, out.toString, asOf(deltaSpec)))
    expectEq("RunSummary", summary, RunSummary(1, deltaTruth.validRows, deltaTruth.errorCells))
    val o = readEtl(spark, out, checksums = false)
    checkTotals(o)
    val rerunS = (1 to reruns(tracer.isDefined)).map { _ =>
      val (s, t) = time(Pipeline.runBatch(spark, in.toString, out.toString, asOf(deltaSpec)))
      expectEq("no-op rerun RunSummary", s, RunSummary(0, 0, 0))
      t
    }
    val layers = span.fold(Map.empty[String, Double]) { s =>
      probes ++ sparkLayers(s, cores(spark)) ++ Map(
        "pipeline.run_batch_s" -> runS, "pipeline.noop_rerun_s" -> Stats.median(rerunS),
        "pipeline.quarantined_files" -> o.quarantined.toDouble,
        "state.visitantes_rows" -> o.visitantes.getLong(0).toDouble,
        "state.ledger_rows" -> o.ledger.toDouble,
        "state.scd_open_rows" -> scdOpenRows(spark, out),
        "merge.rewrite_ratio" -> visitantesRowsWritten(s).toDouble / deltaTruth.distinctKeys)
    }
    Rep(runS, deltaTruth.dataRows, treeBytes(out), layers)
  }

  /** An output dir's tables against the generator's truth for state + new file. */
  private def checkTotals(o: EtlOut): Unit =
    checkEtl(o, stateTruth.files + deltaTruth.files, stateTruth.wrongHeader + deltaTruth.wrongHeader,
      stateTruth.validRows + deltaTruth.validRows, stateTruth.errorCells + deltaTruth.errorCells,
      (stateTruth.keys | deltaTruth.keys).size)

  /** The streaming pipeline's layer: the new file drained under the tracer
    * onto a copy of the state from a fresh checkpoint, then reconciled. Its
    * output must equal the truth and the batch output the last repetition
    * left.
    */
  override def tracedOnce(tracer: Tracer): Map[String, Double] = {
    val batch = readEtl(spark, out, checksums = true)
    Seq(streamOut, streamCkpt).foreach(deleteTree)
    copyTree(state, streamOut)
    val ((query, reconcileS), span) = tracer.span {
      val q = StreamingPipeline.runAvailableNow(spark, streamIn.toString, streamOut.toString,
        streamCkpt.toString, asOf(deltaSpec))
      q.awaitTermination()
      (q, time(StreamingPipeline.reconcilePendingFiles(
        spark, streamIn.toString, streamOut.toString, asOf(deltaSpec)))._2)
    }
    val stream = readEtl(spark, streamOut, checksums = true)
    checkTotals(stream)
    // visitasAnioActual/visitasMesActual are left out of the comparison:
    // they depend on where micro-batch boundaries fall
    expectEq("estadisticas (rows, checksum) batch vs stream", batch.estadisticas, stream.estadisticas)
    expectEq("errores (rows, checksum) batch vs stream", batch.errores, stream.errores)
    expectEq("visitantes (keys, sum(visitasTotales), key checksum) batch vs stream",
      batch.visitantes, stream.visitantes)
    val progress = query.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
    def ms(k: String) = progress.map(_.durationMs.get(k).longValue / 1e3)
    Map("streaming.drain_s" -> span.wallS,
      "streaming.microbatches" -> progress.size.toDouble,
      "streaming.trigger_s" -> Stats.median(ms("triggerExecution")),
      "streaming.addbatch_s" -> Stats.median(ms("addBatch")),
      "streaming.overhead_s" -> (ms("triggerExecution").sum - ms("addBatch").sum),
      "streaming.reconcile_s" -> reconcileS)
  }
}

/** Composed query lanes, each constructed and fully materialized through a
  * `noop` sink.
  */
final class LanesFull(spark: SparkSession, work: Path, seed: Long) extends Workload {
  private val dir = work.resolve("lanes_sf")
  private val spec = TableGen.Spec()

  def warmup(): Unit = {
    val small = work.resolve("lanes_warm")
    TableGen.write(spark, small.toString,
      TableGen.Spec(docs = 60, vectors = 60, events = 1000, users = 30), seed)
    deleteTree(small)
  }

  def setup(): Unit = {
    deleteTree(dir)
    TableGen.write(spark, dir.toString, spec, seed)
  }

  /** The optimizing JIT keeps shortening these repetitions for several of
    * them; a second warm-up repetition puts the timed ones on the flatter
    * part.
    */
  override def warmupReps: Int = 2

  private def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** Block-manager bytes (memory + disk) of the RDDs created after
    * `firstRdd` that the built lanes still hold. Superseded fixpoint
    * snapshots are released by Spark's cleaner once a collection finds them
    * unreachable, so collect, then read until three reads in a row agree.
    */
  private def heldBytes(firstRdd: Int): Long = {
    def read() = spark.sparkContext.getRDDStorageInfo.filter(_.id > firstRdd)
      .map(i => i.memSize + i.diskSize).sum
    System.gc()
    var (cur, same, n) = (read(), 0, 0)
    while (same < 2 && n < 50) {
      Thread.sleep(100)
      val next = read()
      same = if (next == cur) same + 1 else 0
      cur = next
      n += 1
    }
    cur
  }

  /** One lane's pass: what its `noop` write materialized and the spans of
    * its construction and action.
    */
  private final case class Pass(lane: String, df: DataFrame, rows: Long, buildS: Double,
                                noopS: Double, spans: Option[(Span, Span)])

  def rep(tracer: Option[Tracer]): Rep = {
    val firstRdd = spark.sparkContext.emptyRDD[Int].id
    val passes = Metrics.lanes.map { lane =>
      val (df, buildS, build) = spanned(tracer)(SparkEntry.queries(lane)(spark, dir.toString))
      val (rows, noopS, action) = spanned(tracer)(noop(df))
      Pass(lane, df, rows, buildS, noopS, build.zip(action))
    }
    val runS = passes.map(p => p.buildS + p.noopS).sum
    val held = heldBytes(firstRdd)
    val counts = passes.map { p =>
      val (n, countS) = time(p.df.count())
      expectEq(s"${p.lane} noop rows vs count()", p.rows, n)
      countS
    }
    val layers = if (tracer.isEmpty) Map.empty[String, Double] else {
      val spans = passes.flatMap(_.spans.toSeq.flatMap { case (b, a) => Seq(b, a) })
      sparkLayers(spans.reduce(_ + _), cores(spark)) ++ passes.zip(counts).flatMap {
        case (Pass(lane, _, _, buildS, noopS, Some((build, action))), countS) =>
          Seq(s"queries.$lane.build_s" -> buildS, s"queries.$lane.build_jobs" -> build.jobs.toDouble,
            s"queries.$lane.count_s" -> countS, s"queries.$lane.noop_s" -> noopS,
            s"queries.$lane.action_jobs" -> action.jobs.toDouble,
            s"queries.$lane.count_hides" -> noopS / countS)
        case _ => Seq.empty
      }
    }
    // rows_per_s counts the input rows the lanes read (c1 the documents, j1
    // the events), the same on every seed; the rows they emit vary with it
    Rep(runS, spec.docs.toLong + spec.events, held, layers)
  }
}
