package etlbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.Sessions

/** Metric names and units, in the order they are printed. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "rows_per_s" -> "rows/s", "disk_bytes" -> "B")

  val lanes: Seq[String] = Seq("c1_curation_pipeline", "j1_visitantes_merge")

  /** Engine files whose Spark jobs get their own `spark.module.<File>_s`;
    * every other call site, the benchmark's own `noop` writes included,
    * counts under `other`.
    */
  val modules: Seq[String] = Seq("Pipeline", "Scd", "Materialize", "Dedup", "other")

  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.header_gate_s" -> "s", "pipeline.header_checks" -> "count",
    "pipeline.ledger_read_s" -> "s", "pipeline.ledger_files" -> "count",
    "pipeline.list_s" -> "s", "pipeline.listed_files" -> "count",
    "pipeline.run_batch_s" -> "s", "pipeline.noop_rerun_s" -> "s",
    "pipeline.quarantined_files" -> "count",
    "state.visitantes_rows" -> "count", "state.ledger_rows" -> "count",
    "state.scd_open_rows" -> "count", "merge.rewrite_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B", "spark.output_bytes" -> "B",
    "spark.busy_ratio" -> "ratio", "spark.driver_gap_s" -> "s",
    "spark.heap_peak_mb" -> "MB") ++
    modules.map(m => s"spark.module.${m}_s" -> "s") ++ Seq(
    "streaming.drain_s" -> "s", "streaming.microbatches" -> "count", "streaming.trigger_s" -> "s",
    "streaming.addbatch_s" -> "s", "streaming.overhead_s" -> "s",
    "streaming.reconcile_s" -> "s") ++
    lanes.flatMap(l => Seq(s"queries.$l.build_s" -> "s", s"queries.$l.build_jobs" -> "count",
      s"queries.$l.count_s" -> "s", s"queries.$l.noop_s" -> "s",
      s"queries.$l.action_jobs" -> "count", s"queries.$l.count_hides" -> "ratio")) ++ Seq(
    "tracing.overhead" -> "ratio")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** `etlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: runs the setup's code paths once untimed, sets the
  * workload up (`setups` times), runs `warmupReps` untimed repetitions,
  * then repeats the timed unit of work until the timed units add up to
  * `--seconds` and at least five have run, and prints one JSON result line
  * last.
  *
  * With `--trace 1` the first half of the timed repetitions runs untraced
  * and the second half traced; the traced half yields the per-layer
  * metrics and the ratio of the two halves' median `run_s` is
  * `tracing.overhead`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, Workloads(workload, spark, work, seed), seconds, trace))
    finally spark.stop()
  }

  /** Fewest timed repetitions of an untraced run, and of each half of a
    * traced one.
    */
  private def minReps(trace: Boolean): Int = if (trace) 2 else 5

  private def run(spark: SparkSession, w: Workload, seconds: Double, trace: Boolean): String = {
    val (_, warmS) = Workloads.time(w.warmup())
    val setupS = (1 to w.setups).map(_ => Workloads.time(w.setup())._2)
    var attempted, failed = 0
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"$what failed: $e")
          None
      }
    }
    // repetitions until their timed units add up to `budget` seconds and
    // there are at least `minReps` of them for the median; a failed one
    // ends the loop
    def repeat(tracer: Option[Tracer], budget: Double): Seq[Rep] = {
      val reps = Seq.newBuilder[Rep]
      var timed = 0.0
      var n = 0
      while (timed < budget || n < minReps(trace)) {
        n += 1
        // every repetition starts from a collected heap, so the collections
        // inside its timed unit see the same heap each time
        System.gc()
        val r = attempt(s"repetition ${attempted + 1}")(w.rep(tracer))
        r.foreach(reps += _)
        if (r.isEmpty) n = minReps(trace)
        timed += r.fold(budget)(_.runS)
      }
      reps.result()
    }
    // untimed repetitions warm the repetition's own code paths
    val (_, warmupS) = Workloads.time((1 to w.warmupReps).foreach(i =>
      attempt(s"warm-up repetition $i")(w.rep(None))))
    val (untraced, untracedWallS) = Workloads.time(repeat(None, if (trace) seconds / 2 else seconds))
    val heap = new HeapWatch
    var onceLayers = Map.empty[String, Double]
    val traced = if (!trace) Seq.empty else {
      val t = new Tracer(spark)
      t.install()
      try {
        val reps = heap.watch(repeat(Some(t), seconds / 2))
        onceLayers = attempt("traced drain")(w.tracedOnce(t)).getOrElse(Map.empty)
        reps
      } finally t.uninstall()
    }
    val runS = Stats.median(untraced.map(_.runS))
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> Stats.median(setupS),
          "run_s" -> runS,
          "rows_per_s" -> Stats.median(untraced.map(r => r.rows / r.runS)),
          "disk_bytes" -> Stats.median(untraced.map(_.diskBytes.toDouble)))
        Metrics.endToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val layers = Metrics.perLayer.map(_._1).map { n =>
          n -> Stats.median(traced.map(_.layers.getOrElse(n, 0.0)))
        }.toMap ++ onceLayers + ("spark.heap_peak_mb" -> heap.peakMb) +
          ("tracing.overhead" -> Stats.median(traced.map(_.runS)) / runS)
        Metrics.perLayer.map { case (n, u) => (n, u, layers(n)) }
      }
    val reps = untraced ++ traced
    println(f"reps=${reps.size} attempted=$attempted failed=$failed " +
      f"failed_ratio=${failed.toDouble / attempted}%.3f setups=${setupS.size} " +
      f"collections=${heap.count}")
    println("run_s samples: " + untraced.map(r => f"${r.runS}%.3f").mkString(" "))
    println("setup_s samples: " + setupS.map(t => f"$t%.3f").mkString(" ") +
      f"  warm-up repetitions: $warmupS%.3f s")
    println(f"phases: warm-up setup $warmS%.1f s, setups ${setupS.sum}%.1f s, warm-up repetitions " +
      f"$warmupS%.1f s, untraced repetitions with their checks $untracedWallS%.1f s")
    for ((n, u, v) <- metrics) println(f"$n%-44s $v%.6g $u")
    val ok = failed == 0 && untraced.nonEmpty && (!trace || traced.nonEmpty)
    Json.result(ok, attempted, failed, metrics)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, String, Double)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
