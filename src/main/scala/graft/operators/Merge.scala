package graft.operators

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, StringType, StructField, StructType}

/** J1 — the `visitantes` keyed upsert (SURVEY.md §2.5).
  *
  * Reference: `MERGE INTO visitantes ... ON T.email = S.email`
  * (utils/utils_load.py:43-84). Re-expressed as a full-outer equi-join +
  * per-column CASE rewrite — Catalyst broadcasts the delta when it is small
  * (per-file deltas almost always are) and falls back to sort-merge at scale;
  * no custom strategy needed.
  *
  * Semantics per column, preserving the reference's *observable intent*
  * (the literal SQL is MySQL-invalid; bugs annotated in SURVEY.md §2.5):
  *  - fechaPrimeraVisita: keep T in both CASE branches as written
  *    (utils/utils_load.py:52-56) → a matched row NEVER takes S, even when T
  *    is null (possible: min(fechaEnvio) is null when every valid row has a
  *    null date). Implemented literally: `when(matched, T)`, else whichever
  *    side exists.
  *  - fechaUltimaVisita: `GREATEST(T, S)` (utils/utils_load.py:58-62).
  *  - visitasTotales: `T + S` (utils/utils_load.py:64).
  *  - visitasAnioActual: `T+S` if `YEAR(T.fechaUltimaVisita) = YEAR(asOf)`
  *    else `S` (utils/utils_load.py:66-70) — year-rollover reset.
  *  - visitasMesActual: `T+S` if same year AND `MONTH(T.fechaUltimaVisita) =
  *    MONTH(S.fechaUltimaVisita)` else `S` (utils/utils_load.py:72-77). The
  *    asymmetry (year vs asOf, month vs S) is observable behavior — kept.
  *  - NOT MATCHED → insert S wholesale (utils/utils_load.py:79-81).
  *
  * `asOf` replaces the reference's `CURRENT_DATE` for determinism
  * (SURVEY.md §7.3 item 1).
  */
object Merge {

  val counterCols: Seq[String] = Seq("visitasTotales", "visitasAnioActual", "visitasMesActual")
  val dateCols: Seq[String] = Seq("fechaPrimeraVisita", "fechaUltimaVisita")
  val allCols: Seq[String] = Seq("email") ++ dateCols ++ counterCols

  /** The visitantes table's schema, in [[allCols]] order: what
    * [[Prepare.visitantes]] and [[mergeVisitantes]] produce, and what the
    * engine reads its own visitantes versions back with (no inference job).
    */
  val schema: StructType = StructType(StructField("email", StringType) +:
    (dateCols.map(StructField(_, DateType)) ++ counterCols.map(StructField(_, IntegerType))))

  /** Upsert `delta` into `target`; both sides shaped like
    * [[Prepare.visitantes]] output. Returns the merged table.
    */
  def mergeVisitantes(target: DataFrame, delta: DataFrame, asOf: Date): DataFrame = {
    val t = target.select(allCols.map(c => col(c).as(s"t_$c")): _*)
    val s = delta.select(allCols.map(c => col(c).as(s"s_$c")): _*)

    val joined = t.join(s, col("t_email") === col("s_email"), "full_outer")
    val matched = col("t_email").isNotNull && col("s_email").isNotNull
    val sameYear = year(col("t_fechaUltimaVisita")) === year(lit(asOf))
    val sameMonth = month(col("t_fechaUltimaVisita")) === month(col("s_fechaUltimaVisita"))

    joined.select(
      coalesce(col("t_email"), col("s_email")).as("email"),
      // WHEN MATCHED the reference keeps T in both branches — even a null T
      // survives; unmatched rows take whichever side exists.
      when(matched, col("t_fechaPrimeraVisita"))
        .otherwise(coalesce(col("t_fechaPrimeraVisita"), col("s_fechaPrimeraVisita")))
        .as("fechaPrimeraVisita"),
      when(matched, greatest(col("t_fechaUltimaVisita"), col("s_fechaUltimaVisita")))
        .otherwise(coalesce(col("t_fechaUltimaVisita"), col("s_fechaUltimaVisita")))
        .as("fechaUltimaVisita"),
      when(matched, col("t_visitasTotales") + col("s_visitasTotales"))
        .otherwise(coalesce(col("t_visitasTotales"), col("s_visitasTotales")))
        .as("visitasTotales"),
      // Nested CASE mirrors SQL CASE null semantics: a null comparison (null
      // t_fechaUltimaVisita) falls to the ELSE arm = reset to S, exactly as
      // the reference's CASE would.
      when(matched,
        when(sameYear, col("t_visitasAnioActual") + col("s_visitasAnioActual"))
          .otherwise(col("s_visitasAnioActual")))
        .otherwise(coalesce(col("t_visitasAnioActual"), col("s_visitasAnioActual")))
        .as("visitasAnioActual"),
      when(matched,
        when(sameYear && sameMonth, col("t_visitasMesActual") + col("s_visitasMesActual"))
          .otherwise(col("s_visitasMesActual")))
        .otherwise(coalesce(col("t_visitasMesActual"), col("s_visitasMesActual")))
        .as("visitasMesActual"))
  }
}
