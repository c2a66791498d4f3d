package graft

import java.sql.{Date, DriverManager}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType}
import graft.operators.{Layout, Materialize, Merge, Prepare, Validate}

/** Where the pipeline's four relations (estadisticas, errores, visitantes,
  * bitacora) are materialized and read back from.
  *
  *  - [[SinkMode.Parquet]] (default): the scale-native mode — partitioned
  *    parquet appends + the versioned visitantes pointer swap.
  *  - [[SinkMode.Jdbc]]: the reference's literal sink family (MySQL via
  *    SQLAlchemy append loaders, utils/utils_load.py:24-31, and the staging
  *    replace + rename for visitantes, tasks/load.py:33-55) re-expressed as
  *    `df.write.jdbc`. Intended for dimension-sized outputs that must land
  *    in an operational database; the 100 TB relations stay on Parquet.
  */
sealed trait SinkMode
object SinkMode {
  case object Parquet extends SinkMode
  /** @param url JDBC url (e.g. `jdbc:derby:/tmp/db;create=true`)
    * @param replace how the visitantes table is refreshed per batch —
    *   [[JdbcReplace.StagingSwap]] (default, works on any dialect with
    *   RENAME TABLE) or [[JdbcReplace.Upsert]] (the reference's stated
    *   MySQL intent, README.md:92: `ON DUPLICATE KEY UPDATE`; Derby gets
    *   the equivalent standard `MERGE INTO`)
    */
  final case class Jdbc(url: String, user: String = "", password: String = "",
                        replace: JdbcReplace = JdbcReplace.StagingSwap)
    extends SinkMode
}

/** Per-batch visitantes refresh protocol for [[SinkMode.Jdbc]]. */
sealed trait JdbcReplace
object JdbcReplace {
  /** Write to `visitantes_staging`, swap in via RENAME (readers never see a
    * half-written table). The default — dialect-portable, crash-recoverable.
    */
  case object StagingSwap extends JdbcReplace
  /** Stage the merged frame, then ONE set-based upsert into the live table —
    * the reference's documented intent for the broken MERGE (README.md:92,
    * `INSERT ... ON DUPLICATE KEY UPDATE`). Dialect-gated: MySQL uses the
    * stated `ON DUPLICATE KEY UPDATE` form (requires a PRIMARY KEY/UNIQUE on
    * email — the reference schema declares one, database/schema.sql:19-27);
    * Derby uses standard `MERGE INTO`, which needs no key. In-place updates:
    * concurrent readers see row-level progress rather than the staging
    * swap's atomic flip — the tradeoff that buys not needing RENAME rights.
    */
  case object Upsert extends JdbcReplace
}

/** End-to-end batch assembly of the reference ETL (SURVEY.md §3, §7.1):
  * file listing → per-file admission gate ([[Pipeline.ingest]]: ledger skip,
  * layout check P16, retry horizon) → validity flags (P4-P6) → single-pass
  * valid/invalid materialization (P7/P8) → `estadisticas` (P11-P15) /
  * `visitantes` merge (A1+J1) / `errores` (G1+P1) / `bitacora` (A3).
  *
  * Reference lifecycle: flows/etl_flow.py:20-47 + flows/orchestrator_flow.py:16-56.
  * The dispatcher's one-subflow-per-file fan-out becomes ONE Spark job over
  * all files with per-file grouping (`groupBy(nombreArchivo)`) — same
  * observable outputs, arbitrarily many files per run.
  *
  * Scale design (100 TB framing):
  *  - ONE scan of the input CSVs: the flagged frame is materialized once
  *    and released when the batch ends; the split, both sinks, the
  *    visitantes delta and the bitacora read it instead of re-parsing CSV
  *    (the reference parses once but holds everything in RAM; a naive
  *    two-filter Spark plan would scan the CSV twice).
  *  - `estadisticas`/`errores` are written partitioned by `nombreArchivo`
  *    with dynamic partition overwrite → re-running a file replaces exactly
  *    its own partitions. Idempotent reruns subsume the reference's
  *    per-file transaction rollback (tasks/load.py:33-55).
  *  - the `visitantes` upsert (J1) rewrites via full-outer join into a NEW
  *    version directory and an atomic pointer swap ([[VersionedDir]]) makes
  *    it current — readers never observe a half-written table.
  *  - `bitacora` is appended LAST: it is the ledger consumers audit
  *    (README.md:166-174), so a file appears there only after its data
  *    committed.
  */
object Pipeline {

  /** One row per processed file, mirroring the reference's bitacora insert. */
  final case class RunSummary(files: Long, okRows: Long, errRows: Long)

  /** S1+S3: the CSV scan of the admitted report files, all columns raw
    * strings (validation precedes casts), rows tagged with their source file
    * (replaces the reference's per-file dispatch identity).
    */
  def readReports(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Layout.rawSchema)
      .csv(files: _*)
      .withColumn("nombreArchivo", fileName)

  /** `nombreArchivo`, the ledgers' key, for the batch and streaming reads:
    * `input_file_name()` is a percent-encoded URI, decoded by URI rules (a
    * literal `+` is escaped first, or `url_decode` would make it a space).
    */
  private[graft] def fileName: Column =
    url_decode(regexp_replace(element_at(split(input_file_name(), "/"), -1), "\\+", "%2B"))

  /** An `input_file_name()` URI decoded to a path [[checkHeader]] can open. */
  private[graft] def decodedPath(uri: String): String =
    new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString

  /** S1: driver-side file listing (metadata only — never a data scan). */
  def listReports(spark: SparkSession, inputDir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(inputDir, "report_*.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getPath.toString).sorted
  }

  /** A report path's file name: the key the ledgers store. */
  def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  // ---------- JDBC sink plumbing (SinkMode.Jdbc) ----------

  private def jdbcProps(m: SinkMode.Jdbc): java.util.Properties = {
    val p = new java.util.Properties()
    if (m.user.nonEmpty) { p.put("user", m.user); p.put("password", m.password) }
    p
  }

  /** Case-insensitive table existence via DatabaseMetaData (Derby folds
    * unquoted identifiers to upper case; MySQL keeps them as written).
    * Scoped to the connection's current schema: an unscoped getTables(null,
    * null, ...) would match a same-named table in ANOTHER user's schema and
    * misdirect the rename/drop ladder in [[jdbcReplaceVisitantes]]. Falls
    * back to unscoped only when the driver reports no current schema (e.g.
    * MySQL, where schema == catalog and unqualified names already resolve
    * against the connection's database).
    */
  private def jdbcTableExists(m: SinkMode.Jdbc, table: String): Boolean = {
    val conn = DriverManager.getConnection(m.url, jdbcProps(m))
    try {
      val md = conn.getMetaData
      // getTables treats its schema/table arguments as SQL LIKE patterns, so
      // a literal '_' or '%' (e.g. schema 'app_user', table 'visitantes_old')
      // would wildcard the match — exactly the cross-schema false positive
      // the schema scoping exists to exclude. Escape both with the driver's
      // declared escape string before passing them as patterns.
      val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
      def escapeLike(s: String): String = esc match {
        case Some(e) =>
          s.replace(e, e + e).replace("_", e + "_").replace("%", e + "%")
        case None => s // driver has no escape char; pass through unaltered
      }
      val schema =
        try Option(conn.getSchema).filter(_.nonEmpty).map(escapeLike).orNull
        catch { case _: Throwable => null } // pre-JDBC-4.1 drivers
      Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists { t =>
        val rs = md.getTables(null, schema, escapeLike(t), null)
        try rs.next() finally rs.close()
      }
    } finally conn.close()
  }

  private def jdbcExec(m: SinkMode.Jdbc, sql: String): Unit = {
    val conn = DriverManager.getConnection(m.url, jdbcProps(m))
    try {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    } finally conn.close()
  }

  /** Key/filter string columns that must be created VARCHAR(255) — the
    * reference's declared types (database/schema.sql:19-39). Spark's
    * Derby/MySQL dialects default StringType to CLOB/TEXT, and Derby
    * refuses to COMPARE a CLOB (error 42818), which breaks the upsert
    * MERGE's ON clause and any pushed-down equality filter on the ledger.
    */
  private val jdbcVarcharCols: Map[String, Seq[String]] = Map(
    "visitantes" -> Seq("email"),
    "bitacora" -> Seq("nombreArchivo", "estatus"),
    "errores" -> Seq("email", "tipoError", "nombreArchivo"),
    "estadisticas" -> Seq("email", "nombreArchivo"))

  /** All JDBC table writes funnel through here so creation types stay
    * consistent between the live tables and their staging twins (which get
    * RENAMEd into, or MERGEd against, the live name).
    */
  private def writeJdbc(df: DataFrame, m: SinkMode.Jdbc, table: String,
                        mode: String): Unit = {
    val base = table.stripSuffix("_staging").stripSuffix("_upsert_src")
    val types = jdbcVarcharCols.getOrElse(base, Nil)
      .filter(df.columns.contains)
      .map(c => s"$c VARCHAR(255)").mkString(", ")
    val w = df.write.mode(mode)
    (if (types.nonEmpty) w.option("createTableColumnTypes", types) else w)
      .jdbc(m.url, table, jdbcProps(m))
  }

  /** The reference's staging-replace load for visitantes (tasks/load.py:33-55
    * + utils_load staging table): write the merged table to
    * `visitantes_staging`, then swap it in with RENAMEs so readers never see
    * a half-written table (RENAME TABLE is metadata-only in Derby and MySQL
    * alike). On entry, repair any crash between the two renames of a prior
    * run (same roll-forward/roll-back ladder as VersionedDir.recoverAside).
    */
  private def jdbcReplaceVisitantes(df: DataFrame, m: SinkMode.Jdbc): Unit = {
    if (!jdbcTableExists(m, "visitantes") && jdbcTableExists(m, "visitantes_old"))
      jdbcExec(m, "RENAME TABLE visitantes_old TO visitantes") // roll back
    if (jdbcTableExists(m, "visitantes_old"))
      jdbcExec(m, "DROP TABLE visitantes_old")
    writeJdbc(df, m, "visitantes_staging", "overwrite")
    if (jdbcTableExists(m, "visitantes"))
      jdbcExec(m, "RENAME TABLE visitantes TO visitantes_old")
    jdbcExec(m, "RENAME TABLE visitantes_staging TO visitantes")
    if (jdbcTableExists(m, "visitantes_old"))
      jdbcExec(m, "DROP TABLE visitantes_old")
  }

  /** [[JdbcReplace.Upsert]]: stage the merged rows of the batch's keys
    * ([[processBatch]] semi-joins them, so a row the batch did not touch is
    * neither staged nor updated), apply them with ONE
    * set-based upsert statement (bulk, not row-at-a-time — the staging
    * write is a normal parallel `df.write.jdbc`, and the DB merges
    * internally). First batch (no target table yet) creates the table via
    * explicit DDL WITH `PRIMARY KEY (email)` before appending: Spark's JDBC
    * writer emits no key constraint, and on MySQL a keyless table makes
    * every later `ON DUPLICATE KEY UPDATE` degenerate to plain INSERT —
    * duplicate emails would silently accumulate each batch (Derby's MERGE
    * matches on the ON clause and would mask the defect in tests).
    */
  private def jdbcUpsertVisitantes(df: DataFrame, m: SinkMode.Jdbc): Unit = {
    if (!jdbcTableExists(m, "visitantes")) {
      jdbcExec(m, createKeyedTableDdl(m.url, "visitantes", df.schema, "email"))
      writeJdbc(df, m, "visitantes", "append")
      return
    }
    writeJdbc(df, m, "visitantes_upsert_src", "overwrite")
    jdbcExec(m, upsertStatement(m.url, "visitantes", "email",
      df.columns.toSeq, "visitantes_upsert_src"))
    jdbcExec(m, "DROP TABLE visitantes_upsert_src")
  }

  /** Dialect-gated CREATE TABLE with a declared primary key — what the
    * upsert path's first batch runs instead of letting the JDBC writer
    * create a keyless table. Identifiers are quoted exactly as the writer
    * would quote them (backticks on MySQL, double quotes elsewhere) so the
    * subsequent `df.write.jdbc(..., "append")` resolves the same column
    * names. Types mirror the reference schema's choices
    * (database/schema.sql:19-39: VARCHAR(255) keys, DATETIME timestamps).
    */
  private[graft] def createKeyedTableDdl(url: String, table: String,
                                         schema: org.apache.spark.sql.types.StructType,
                                         pk: String): String = {
    import org.apache.spark.sql.types._
    require(schema.fieldNames.contains(pk), s"pk column $pk not in ${schema.fieldNames.toSeq}")
    val mysql = url.startsWith("jdbc:mysql")
    def q(c: String) = if (mysql) s"`$c`" else "\"" + c + "\""
    def sqlType(t: DataType): String = t match {
      case StringType => "VARCHAR(255)"
      case IntegerType | ShortType | ByteType => "INT"
      case LongType => "BIGINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case TimestampType => if (mysql) "DATETIME" else "TIMESTAMP"
      case DateType => "DATE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BooleanType => "BOOLEAN"
      case other => throw new IllegalArgumentException(
        s"no JDBC type mapping for $other in $table DDL")
    }
    val cols = schema.fields.map { f =>
      val notNull = if (f.name == pk) " NOT NULL" else ""
      s"${q(f.name)} ${sqlType(f.dataType)}$notNull"
    }.mkString(", ")
    s"CREATE TABLE $table ($cols, PRIMARY KEY (${q(pk)}))"
  }

  /** Dialect-gated set-based upsert text. Column identifiers are quoted
    * with the dialect's quote char because Spark's JDBC writer creates them
    * case-sensitively quoted; table names stay unquoted (the writer emits
    * them verbatim, so they fold per dialect default). Unit-tested
    * directly; unsupported dialects fail loudly rather than guessing.
    */
  private[graft] def upsertStatement(url: String, table: String, key: String,
                                     cols: Seq[String], src: String): String =
    if (url.startsWith("jdbc:mysql")) {
      def q(c: String) = s"`$c`"
      val colList = cols.map(q).mkString(", ")
      val updates = cols.filterNot(_ == key)
        .map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
      s"INSERT INTO $table ($colList) SELECT $colList FROM $src " +
        s"ON DUPLICATE KEY UPDATE $updates"
    } else if (url.startsWith("jdbc:derby")) {
      def q(c: String) = "\"" + c + "\""
      val sets = cols.filterNot(_ == key)
        .map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
      val ins = cols.map(q).mkString(", ")
      val vals = cols.map(c => s"s.${q(c)}").mkString(", ")
      s"MERGE INTO $table t USING $src s ON t.${q(key)} = s.${q(key)} " +
        s"WHEN MATCHED THEN UPDATE SET $sets " +
        s"WHEN NOT MATCHED THEN INSERT ($ins) VALUES ($vals)"
    } else throw new IllegalArgumentException(
      s"no upsert dialect for $url — use JdbcReplace.StagingSwap")

  // ---------- ledger / visitantes state, per sink mode ----------

  /** Files already recorded in the bitacora ledger. The reference README
    * claims "filter already-processed files" but never implements it
    * (SURVEY.md §2.10) — here the ledger check makes reruns append-safe:
    * a processed file can never double-count into the visitantes merge.
    * One job: the known ledger schema spares the parquet inference job, and
    * `toSet` dedups on the driver, so there is no `distinct()` shuffle.
    */
  def processedFiles(spark: SparkSession, outDir: String,
                     sink: SinkMode = SinkMode.Parquet): Set[String] = sink match {
    case m: SinkMode.Jdbc =>
      if (!jdbcTableExists(m, "bitacora")) Set.empty
      else spark.read.jdbc(m.url, "bitacora", jdbcProps(m))
        .select("nombreArchivo").collect().map(_.getString(0)).toSet
    case SinkMode.Parquet =>
      val bitDir = s"$outDir/bitacora"
      if (!exists(spark, bitDir)) Set.empty
      else spark.read.schema(bitacoraSchema).parquet(bitDir)
        .select("nombreArchivo").collect().map(_.getString(0)).toSet
  }

  /** The bitacora ledger's schema: what [[appendLedger]] writes. */
  private val bitacoraSchema = StructType(Seq(
    StructField("nombreArchivo", StringType),
    StructField("registrosExitosos", LongType),
    StructField("registrosFallidos", LongType),
    StructField("estatus", StringType),
    StructField("fechaProceso", DateType)))

  /** Existence on the path's own Hadoop FileSystem: `outDir` may be any
    * Hadoop URI (`file:`, `hdfs:`), which a local-path API would resolve as a
    * cwd-relative name.
    */
  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** P16 for real files: the schema-enforced CSV read can never fail the
    * column check (it imposes our schema positionally), so a wrong-layout
    * file would silently parse into garbage. Instead the HEADER LINE of each
    * file is read driver-side (one metadata-sized read per file, no Spark
    * job) and validated against the expected 15 columns — missing columns
    * quarantine the file (reference: hard per-file failure,
    * utils/utils_transform.py:85-96); extra columns only warn (:97-101).
    */
  def checkHeader(spark: SparkSession, file: String): Validate.LayoutCheck = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val header =
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    val cols = Option(header).map(_.split(",", -1).map(_.trim).toSeq).getOrElse(Seq.empty)
    Validate.checkLayout2(cols)
  }

  /** True when the file has a header line but no data line (driver-side,
    * reads at most two lines — the streaming zero-row reconcile gate).
    */
  def isHeaderOnly(spark: SparkSession, file: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      r.readLine() != null && r.readLine() == null
    } finally in.close()
  }

  /** Ledger rows for wrong-layout files: recorded as 'Fallido' so they never
    * re-enter processing: the admission gate's quarantine ([[ingest]]).
    */
  def quarantine(spark: SparkSession, outDir: String, basenames: Seq[String], asOf: Date,
                 sink: SinkMode = SinkMode.Parquet): Unit =
    appendLedger(spark, outDir, basenames.map(noRowsLedger(_, "Fallido", asOf)), sink)

  /** Outcome of [[recordSystemFailures]]: `retry` stays out of bitacora (the
    * file re-enters the next run), `expired` is past the horizon and must be
    * quarantined by the caller.
    */
  final case class RetryDecision(retry: Seq[String], expired: Seq[String])

  /** The reference's SYSTEM-failure retry horizon (README.md:110-115: retry
    * for 2 days, then quarantine), which idempotent reruns alone do not
    * express — without a horizon, a file whose open fails every day (ACL
    * broken, truncated upload, path racing the uploader) is retried FOREVER
    * and never surfaces in the ledger consumers audit.
    *
    * Semantics per failing file: first failure opens a `reintentos` ledger
    * row (`outDir/reintentos` parquet — engine state, not a reference
    * relation); while `asOf − fechaPrimerFallo < horizonDays` the file is
    * left un-ledgered so the pending scan retries it next run; at/past the
    * horizon it is reported `expired` and the caller quarantines it
    * ('Fallido' bitacora row → never re-listed).
    *
    * Horizon boundary — DELIBERATE `>=` reading (round-14 advice asked for
    * the pin): with the default `horizonDays = 2`, a file first failing on
    * day D is retried on D+1 and quarantined on D+2 — i.e. the file spends
    * exactly 2 calendar days (D and D+1) in the failing-retry state, which
    * is how this engine reads the reference's "Reintento automático al día
    * siguiente (máx. 2 días)": two days OF retrying, not two retry
    * attempts after the first. A caller wanting the other reading (retries
    * on D+1 AND D+2, quarantine D+3) passes `horizonDays = 3`.
    * RetryHorizonSpec pins the boundary in both batch and streaming form. A file that recovers
    * simply processes: its row drops in the full rewrite that follows its
    * ledger append. LAYOUT
    * failures never enter here — a wrong header is deterministic, so
    * retrying cannot fix it and [[ingest]] quarantines those immediately;
    * mid-batch Spark failures stay whole-batch-rerun (the idempotent-rerun
    * contract subsumes the reference's task retry ladder).
    *
    * Scale shape: the ledger is one row per CURRENTLY-failing file — the
    * same bounded per-file cardinality as bitacora — rewritten whole each
    * run via a driver-side merge (same discipline as the documented
    * one-row-per-file ledger collects).
    *
    * `partial = true` is for callers that see only a SLICE of the failing
    * set (a streaming micro-batch sees its own file list): prior rows not
    * mentioned in `failures` are preserved instead of dropped, and horizon
    * decisions are returned only for the passed files. Full-view callers
    * (runBatch, reconcilePendingFiles) keep the default whole-rewrite,
    * whose next run prunes rows for files that processed or quarantined
    * meanwhile.
    */
  def recordSystemFailures(spark: SparkSession, outDir: String,
                           failures: Seq[(String, String)], asOf: Date,
                           horizonDays: Int = 2,
                           partial: Boolean = false): RetryDecision = {
    import spark.implicits._
    require(horizonDays >= 1, s"horizonDays must be >= 1, got $horizonDays")
    val dir = s"$outDir/reintentos"
    val dirExists = exists(spark, dir)
    val prior: Map[String, (Date, Date, Int, String)] =
      if (!dirExists) Map.empty
      else spark.read.parquet(dir)
        .select("nombreArchivo", "fechaPrimerFallo", "fechaUltimoFallo",
          "intentos", "motivo")
        .collect()
        .map(r => r.getString(0) ->
          (r.getDate(1), r.getDate(2), r.getInt(3), r.getString(4))).toMap
    val merged = failures.map { case (f, motivo) =>
      // intentos counts failing DAYS, not run invocations: a same-day
      // idempotent rerun (crash mid-batch, rerun) must not inflate the
      // audit count, so the bump is gated on the last-failure date moving
      val (first, n) = prior.get(f)
        .map { case (d, last, k, _) => (d, if (last.before(asOf)) k + 1 else k) }
        .getOrElse((asOf, 1))
      (f, first, asOf, n, motivo)
    }
    val (expired, retry) = merged.partition { case (_, first, _, _, _) =>
      java.time.temporal.ChronoUnit.DAYS.between(
        first.toLocalDate, asOf.toLocalDate) >= horizonDays
    }
    // partial: the caller sees only a SLICE of the currently-failing set
    // (a streaming micro-batch sees its own files, not every pending
    // file), so prior rows it does not mention are PRESERVED — the
    // whole-rewrite drop-on-recovery semantic belongs to full-view callers
    // (runBatch's pending scan, reconcilePendingFiles), whose next rewrite
    // prunes rows for files that processed or quarantined meanwhile.
    // Horizon decisions are likewise only returned for the files the
    // caller actually passed — it cannot quarantine a file outside its
    // view.
    val mentioned = failures.map(_._1).toSet
    val preserved =
      if (!partial) Seq.empty
      else prior.collect { case (f, (first, last, n, motivo)) if !mentioned(f) =>
        (f, first, last, n, motivo)
      }.toSeq
    val rows = merged ++ preserved
    if (rows.nonEmpty || dirExists)
      // EXPIRED rows stay in this rewrite: the caller quarantines them
      // AFTER this returns, and a crash in between must leave the
      // first-failure date on disk — dropping the row first would restart
      // the horizon from scratch on the rerun. Once the quarantine commits,
      // the file is in bitacora, never re-lists, and its stale row drops on
      // the next rewrite. Recovered files drop out immediately (they
      // processed and live in bitacora now).
      rows.toDF("nombreArchivo", "fechaPrimerFallo", "fechaUltimoFallo",
          "intentos", "motivo")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    RetryDecision(retry.map(_._1), expired.map(_._1))
  }

  /** The parquet visitantes versions: `v%06d` dirs under `outDir/visitantes`. */
  private def visitantesVersions(spark: SparkSession, outDir: String): VersionedDir =
    new VersionedDir(s"$outDir/visitantes", "v%06d", spark.sparkContext.hadoopConfiguration)

  /** Resolve the current visitantes table version, if any. */
  def currentVisitantes(spark: SparkSession, outDir: String,
                        sink: SinkMode = SinkMode.Parquet): Option[DataFrame] = sink match {
    case m: SinkMode.Jdbc =>
      if (jdbcTableExists(m, "visitantes"))
        Some(spark.read.jdbc(m.url, "visitantes", jdbcProps(m)))
      else None
    case SinkMode.Parquet =>
      val versions = visitantesVersions(spark, outDir)
      versions.current.map(v => spark.read.schema(Merge.schema).parquet(versions.path(v)))
  }

  /** The per-file ETL ladder shared by [[runBatch]], the streaming
    * micro-batch and the post-drain reconcile
    * ([[graft.streaming.StreamingPipeline]]) — the reference dispatcher's
    * per-file fan-out (flows/orchestrator_flow.py:36-45), in this order:
    *
    *  1. files already in the bitacora ledger are dropped, so a rerun, a
    *     replayed micro-batch or a file another entry already ledgered is
    *     never merged twice;
    *  2. each remaining file's header is checked ([[checkHeader]]); a throw
    *     is a SYSTEM failure (ACL, truncation, upload race);
    *  3. the files whose header passes are admitted: `rows(admitted)` goes
    *     through [[processBatch]], which ledgers them last;
    *  4. system failures go through the retry horizon
    *     ([[recordSystemFailures]], with the caller's `partial`);
    *  5. LAYOUT failures (deterministic: no retry fixes a wrong header) and
    *     files past the horizon are quarantined with a 'Fallido' row.
    *
    * The load runs before the retry-ledger rewrite, which drops the rows
    * of files that read again: a recovered file keeps its retry row until
    * its ledger row has landed. If anything in the load throws, the row
    * survives, and the reconcile, which owns a consumed-but-excluded file
    * only through that row, still claims the file on its next pass.
    *
    * `owns` narrows the unledgered files to those the caller is responsible
    * for; it runs after the ledger skip, so ledgered files are never opened.
    * With nothing pending the ladder returns before step 4 — a no-op rerun
    * costs the ledger read alone — unless `prune` is set: the reconcile,
    * the streaming entry's only full-view caller, rewrites the retry ledger
    * every time, so the rows of files a micro-batch has since processed
    * drop. Returns the per-run totals; quarantined files count as processed
    * files with no rows.
    */
  private[graft] def ingest(spark: SparkSession, outDir: String, files: Seq[String],
                            asOf: Date, sink: SinkMode, horizonDays: Int,
                            partial: Boolean = false, prune: Boolean = false,
                            owns: String => Boolean = _ => true)
                           (rows: Seq[String] => DataFrame): RunSummary = {
    val done = processedFiles(spark, outDir, sink)
    val pending = files.filter(f => !done(baseName(f)) && owns(f))
    if (pending.isEmpty && !prune) return RunSummary(0, 0, 0)
    val checks = pending.map(f => f -> scala.util.Try(checkHeader(spark, f)))
    val (admitted, layoutBad) = checks
      .collect { case (f, scala.util.Success(c)) => (f, c) }
      .partition(_._2.ok)
    val loaded =
      if (admitted.isEmpty) RunSummary(0, 0, 0)
      else processBatch(spark, rows(admitted.map(_._1)), outDir, asOf,
        expectedFiles = admitted.map(p => baseName(p._1)), sink = sink)
    val sysFailed = checks.collect { case (f, scala.util.Failure(e)) =>
      (baseName(f), s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
    val horizon = recordSystemFailures(spark, outDir, sysFailed, asOf, horizonDays, partial)
    val quarantined = layoutBad.map(p => baseName(p._1)) ++ horizon.expired
    quarantine(spark, outDir, quarantined, asOf, sink)
    loaded.copy(files = loaded.files + quarantined.size)
  }

  /** Full batch run: every listed report file through [[ingest]], which
    * reads the admitted ones with [[readReports]]. Returns per-run totals
    * (the driver-visible contract the reference exposes through bitacora).
    */
  def runBatch(spark: SparkSession, inputDir: String, outDir: String, asOf: Date,
               sink: SinkMode = SinkMode.Parquet,
               retryHorizonDays: Int = 2): RunSummary =
    ingest(spark, outDir, listReports(spark, inputDir), asOf, sink, retryHorizonDays)(
      readReports(spark, _))

  /** Transform + load for one batch of tagged raw rows — the shared core of
    * the batch driver above and [[graft.streaming.StreamingPipeline]]'s
    * foreachBatch sink.
    *
    * `expectedFiles`: basenames the caller believes are in this batch. A
    * header-only (zero-row) file contributes no rows, so the data-derived
    * bitacora would skip it and the ledger's "processed file never re-enters"
    * guarantee would break — it would be re-listed and re-read every run.
    * Expected files absent from the data-derived ledger get an explicit
    * (0, 0, 'Completado') row.
    */
  def processBatch(spark: SparkSession, raw: DataFrame, outDir: String, asOf: Date,
                   expectedFiles: Seq[String] = Seq.empty,
                   sink: SinkMode = SinkMode.Parquet): RunSummary = Materialize.scoped {
    // P16: missing columns are a hard failure; extra columns flow through.
    val layout = Validate.checkLayout(raw.drop("nombreArchivo"))
    require(layout.ok, s"layout check failed, missing columns: ${layout.missing.mkString(", ")}")

    // P4-P8: flag once, materialize once (one CSV scan); every consumer
    // reads the checkpoint, and the scope releases every checkpoint.
    val flagged = Materialize.frame(Validate.withValidityFlags(raw))
    // bitacora: ONE aggregate over the flags, one row per file, collected
    // first (it serves the ledger, the seen-set and the totals). No rows:
    // every expected file was header-only, and only the ledger is written.
    val rows = Prepare.bitacoraFromFlags(flagged).withColumn("fechaProceso", lit(asOf)).collect()
    if (rows.nonEmpty) {
      val (ok, err) = Validate.split(flagged)

      // estadisticas: P11→P2→P12-15, reference column order. Parquet mode
      // writes per-file partitions (idempotent rerun = partition replace);
      // JDBC mode mirrors the reference's SQLAlchemy append loader
      // (utils/utils_load.py:24-31 — rerun-safety comes from the ledger gate,
      // which never re-admits a processed file).
      val prepared = Prepare.dropFlags(Prepare.prepare(ok))
      val estadisticas = Prepare.estadisticas(prepared, col("nombreArchivo"))
      // errores: G1 explode + P1 projection.
      val exploded = Prepare.errores(Prepare.explodeErrors(err), col("nombreArchivo"))
      sink match {
        case m: SinkMode.Jdbc =>
          writeJdbc(estadisticas, m, "estadisticas", "append")
          writeJdbc(exploded, m, "errores", "append")
        case SinkMode.Parquet =>
          estadisticas.write.mode("overwrite").partitionBy("nombreArchivo")
            .parquet(s"$outDir/estadisticas")
          exploded.write.mode("overwrite").partitionBy("nombreArchivo")
            .parquet(s"$outDir/errores")
      }

      // visitantes: A1 delta + J1 merge, then the mode's replace protocol —
      // a new version published behind the atomic pointer on parquet, staging
      // table + RENAME swap on JDBC. The delta is aggregated once: the merge,
      // the touched-key semi-join and the SCD batch all read the checkpoint.
      val delta = Materialize.frame(Prepare.visitantes(prepared))
      val merged = currentVisitantes(spark, outDir, sink)
        .map(target => Merge.mergeVisitantes(target, delta, asOf))
        .getOrElse(delta)
        .select(Merge.allCols.map(col): _*)
      sink match {
        case m: SinkMode.Jdbc => m.replace match {
          case JdbcReplace.StagingSwap => jdbcReplaceVisitantes(merged, m)
          case JdbcReplace.Upsert =>
            // the merge passes untouched rows through unchanged: stage only
            // the rows of the keys this batch touched
            jdbcUpsertVisitantes(merged.join(delta.select("email"), Seq("email"), "left_semi"), m)
        }
        case SinkMode.Parquet =>
          val versions = visitantesVersions(spark, outDir)
          val next = versions.current.fold(1L)(_ + 1)
          val versionDir = versions.path(next)
          merged.write.mode("overwrite").parquet(versionDir)
          versions.publish(next)
          // SCD-2 history of the visitantes dimension (SURVEY §2.5 rollover
          // semantics, kept queryable by time): the merged states of the
          // keys this batch touched, effective asOf, read back from the
          // JUST-WRITTEN version dir (`merged`'s lazy plan would re-run the
          // merge). The closed extent under visitantes_scd/closed only
          // appends; cold history never rewrites. JDBC mode keeps the
          // reference's Type-1 table only: an operational DB's dimension
          // history is the warehouse's job. This hook sits INSIDE the
          // pointer-swap-to-ledger-append crash window (README "Rerun
          // idempotence"): a rerun after a crash here re-merges the delta,
          // and the history closes the pre-crash state with the re-merged
          // state on top; recovery is restoring the retained prior
          // visitantes version before rerunning.
          val touched = spark.read.schema(Merge.schema).parquet(versionDir)
            .join(delta.select("email"), Seq("email"), "left_semi")
            .withColumn("_eff", lit(asOf))
          operators.Scd.applyBatchDeltaDirs(spark,
            s"$outDir/visitantes_scd/open", s"$outDir/visitantes_scd/closed",
            touched, "email", Merge.allCols.filterNot(_ == "email"), "_eff")
      }
    }

    // ONE ledger append, last: the data rows plus a 'Completado' (0, 0) row
    // for each expected file that contributed no data rows (header-only
    // inputs), which would otherwise re-enter every run.
    val seen = rows.map(_.getAs[String]("nombreArchivo")).toSet
    val empty = expectedFiles.filterNot(seen)
    appendLedger(spark, outDir, rows.toSeq ++ empty.map(noRowsLedger(_, "Completado", asOf)), sink)
    RunSummary(seen.size.toLong + empty.size,
      rows.map(_.getAs[Long]("registrosExitosos")).sum,
      rows.map(_.getAs[Long]("registrosFallidos")).sum)
  }

  /** A ledger row for a file that contributed no data rows. */
  private def noRowsLedger(basename: String, estatus: String, asOf: Date): Row =
    Row(basename, 0L, 0L, estatus, asOf)

  /** The one bitacora writer (schema in ONE place: the data rows, the
    * header-only files' rows and the quarantine rows stay byte-compatible
    * in the same directory). One append per call; none for no rows.
    */
  private def appendLedger(spark: SparkSession, outDir: String, rows: Seq[Row],
                           sink: SinkMode): Unit =
    if (rows.nonEmpty) {
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), bitacoraSchema)
      sink match {
        case m: SinkMode.Jdbc => writeJdbc(df, m, "bitacora", "append")
        case SinkMode.Parquet => df.write.mode("append").parquet(s"$outDir/bitacora")
      }
    }
}
