package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table preparation: null-normalization, rename, casts, the three output
  * relations + bitacora (SURVEY.md §2.2 P11-P15, §2.3 A1-A3, §2.4 G1).
  *
  * Reference: utils/utils_transform.py:194-244, utils/utils_load.py:98-111.
  * Deliberate divergences from the reference's literal (broken) code, per
  * SURVEY.md preamble — each is the documented *intent*:
  *  - casts target the post-rename names (ref casts pre-rename names after
  *    renaming → KeyError);
  *  - int casts stay nullable (ref `astype(int)` crashes on NaN);
  *  - `fechaPrimeraVisita`/`fechaUltimaVisita` are real `min/max(fechaEnvio)`
  *    aggregates (ref writes `today()` strings — E7 fix);
  *  - bitacora status condition is un-inverted (ref utils/utils_load.py:104).
  */
object Prepare {

  /** P11: `"-"`, `"0"` → null across STRING columns, applied BEFORE casts
    * (utils/utils_transform.py:198-199). Order is observable: `Opens="0"`
    * becomes null, not 0 (SURVEY.md §7.3 item 5).
    */
  def normalizeNulls(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(c =>
      c -> when(col(s"`$c`").isin("-", "0"), lit(null)).otherwise(col(s"`$c`"))).toMap)

  /** P2: bulk rename to SQL names. */
  def renameColumns(df: DataFrame, mapping: Map[String, String] = Layout.columnsToMap): DataFrame =
    df.withColumnsRenamed(mapping)

  /** P12-P14: trim strings, coerce-cast timestamps (`dd/MM/yyyy HH:mm`) and
    * nullable ints. Non-ANSI session → cast failures become null, matching
    * pandas `errors="coerce"` / DuckDB TRY_CAST.
    */
  def enforceTypes(df: DataFrame,
                   strCols: Seq[String], dateCols: Seq[String], intCols: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.withColumns(
      (strCols.filter(present).map(c => c -> trim(col(s"`$c`").cast("string"))) ++
       dateCols.filter(present).map(c => c -> to_timestamp(trim(col(s"`$c`")), Layout.datePattern)) ++
       intCols.filter(present).map(c => c -> trim(col(s"`$c`")).cast("int"))).toMap)
  }

  /** Renamed SQL names of the three typed groups, for post-rename frames. */
  private def sql(names: Seq[String]) = names.map(Layout.columnsToMap)

  /** Full P11→P2→P12-14 chain on a raw 15-column frame. */
  def prepare(raw: DataFrame): DataFrame =
    enforceTypes(
      renameColumns(normalizeNulls(raw, Layout.validColumns)),
      sql(Layout.strColumns), sql(Layout.dateColumns), sql(Layout.intColumns))

  def dropFlags(df: DataFrame): DataFrame =
    df.drop(Validate.flagColumns(): _*)

  /** `estadisticas`: prepared valid rows + `nombreArchivo` literal (P15),
    * columns in the reference's declared table order
    * (database/schema.sql:19-39 = [[Layout.estadisticasSchema]]).
    */
  def estadisticas(validPrepared: DataFrame, filename: Column): DataFrame =
    validPrepared.withColumn("nombreArchivo", filename)
      .select(Layout.estadisticasSchema.fieldNames.map(col).toSeq: _*)

  /** A1 + E7: per-email visitor aggregate. The reference counts rows into all
    * three counters (utils/utils_transform.py:229-233) — per-file, every
    * counter equals the file's row count per email; rollover semantics live in
    * the merge (J1). First/last visit are real aggregates over `fechaEnvio`.
    * Spark executes this as partial+final HashAggregate — map-side combine
    * keeps the shuffle proportional to distinct emails, not rows.
    */
  def visitantes(validPrepared: DataFrame,
                 emailCol: String = "email", fechaCol: String = "fechaEnvio"): DataFrame =
    validPrepared.groupBy(col(emailCol)).agg(
      count(lit(1)).cast("int").as("visitasTotales"),
      count(lit(1)).cast("int").as("visitasAnioActual"),
      count(lit(1)).cast("int").as("visitasMesActual"),
      to_date(min(col(fechaCol))).as("fechaPrimeraVisita"),
      to_date(max(col(fechaCol))).as("fechaUltimaVisita"))

  /** G1: explode invalid rows to one row per failed check. Check order is the
    * reference's literal order (utils/utils_transform.py:146-160): Email,
    * Fecha envio, Fecha open, Fecha click. A vectorized
    * array→filter→explode replaces the reference's iterrows loop.
    *
    * @param flagged invalid rows still carrying validity flags
    * @param errorTags (flagColumn, tipoError) in emission order
    */
  def explodeErrors(flagged: DataFrame,
                    errorTags: Seq[(String, String)] = defaultErrorTags): DataFrame = {
    val tags = array(errorTags.map { case (flag, tag) =>
      when(!col(s"`$flag`"), lit(tag))
    }: _*)
    flagged.withColumn("tipoError", explode(filter(tags, _.isNotNull)))
  }

  val defaultErrorTags: Seq[(String, String)] = Seq(
    "valid_email" -> "Email",
    "valid_Fecha envio" -> "Fecha envio",
    "valid_Fecha open" -> "Fecha open",
    "valid_Fecha click" -> "Fecha click")

  /** `errores` projection (P1): (nombreArchivo, email, tipoError). */
  def errores(exploded: DataFrame, filename: Column): DataFrame =
    exploded.withColumn("nombreArchivo", filename)
      .select("nombreArchivo", "email", "tipoError")

  /** A3: bitacora summary row(s). Grouped variant: one row per file when the
    * pipeline processes a whole directory in one job (SURVEY.md §3.2 —
    * per-file grouping becomes groupBy(nombreArchivo)). Status uses the
    * INTENDED condition (README.md:121), not the reference's inverted one.
    */
  def bitacora(okTagged: DataFrame, errTagged: DataFrame, fileCol: String = "nombreArchivo"): DataFrame = {
    val ok = okTagged.groupBy(col(fileCol)).agg(count(lit(1)).as("registrosExitosos"))
    val err = errTagged.groupBy(col(fileCol)).agg(count(lit(1)).as("registrosFallidos"))
    ok.join(err, Seq(fileCol), "full_outer")
      .na.fill(0L, Seq("registrosExitosos", "registrosFallidos"))
      .withColumn("estatus",
        when(col("registrosFallidos") > 0, "Completado con errores").otherwise("Completado"))
  }

  /** A3 in one pass over the flagged frame — no split, no explode, no
    * self-join: `registrosFallidos` sums each invalid row's failed-check
    * count directly (equal by construction to counting G1's exploded rows).
    * One scan + one shuffle: [[graft.Pipeline.processBatch]]'s ledger
    * aggregate. [[bitacora]] is the two-branch form it is spec-checked
    * against.
    */
  def bitacoraFromFlags(flagged: DataFrame, fileCol: String = "nombreArchivo",
                        errorTags: Seq[(String, String)] = defaultErrorTags): DataFrame = {
    val failedChecks = errorTags
      .map { case (flag, _) => when(!col(s"`$flag`"), 1L).otherwise(0L) }
      .reduce(_ + _)
    flagged.groupBy(col(fileCol)).agg(
      sum(when(col("is_valid"), 1L).otherwise(0L)).as("registrosExitosos"),
      sum(when(!col("is_valid"), failedChecks).otherwise(0L)).as("registrosFallidos"))
      .withColumn("estatus",
        when(col("registrosFallidos") > 0, "Completado con errores").otherwise("Completado"))
  }
}
