package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** The reference's clean stage as composable `DataFrame => DataFrame`
  * transformers (SURVEY.md §2.2 P1–P3, §2.8 F1–F3, §2.6 O1).
  *
  * Two genuinely different variants exist in the reference and both are
  * preserved:
  *  - [[cleanApiResponse]] (`extract.py:192-227`): units-row strip,
  *    normalize, coerce casts, drop rows where ALL of
  *    {temperature, salinity} are null (`how='all'`), sort by time.
  *  - [[cleanTransform]] (`transform.py:10-28`): normalize, coerce
  *    casts, drop rows where ANY of {temperature, salinity} is null
  *    (`how='any'`), no units strip (the units row dies implicitly:
  *    its coerced temp/sal are both null), no sort.
  *
  * Column handling is defensive (`if 'time' in df.columns`) exactly as
  * in the reference, so the transformers compose over any schema.
  *
  * Scale: every step is a narrow projection/filter — no shuffle except
  * the optional final sort, which at cluster scale becomes a range
  * exchange only when the caller actually needs global order.
  */
object Clean {
  /** Columns coerced to DOUBLE (`extract.py:211`, `transform.py:21`). */
  val NumericCols: Seq[String] = Seq("temperature", "salinity", "depth", "latitude", "longitude")
  /** Key variables for the dropna stages (`extract.py:217`). */
  val KeyVars: Seq[String] = Seq("temperature", "salinity")

  /** F1: `strip().lower().replace(' ', '_')` on every header
    * (`extract.py:203-204`). */
  def normalizeName(c: String): String = c.trim.toLowerCase.replace(" ", "_")

  /** F1 over a whole frame. */
  private def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName): _*)

  /** The first-column values of the ERDDAP units row (`extract.py:199-201`),
    * for this batch path and the DSv2 reader alike. */
  val UnitsRowMarkers: Seq[String] = Seq("UTC", "units")

  /** P1: drop the ERDDAP units row — row whose first column is one of
    * [[UnitsRowMarkers]]. Value-based rather than positional:
    * the double-header shape guarantees the marker values only occur in
    * the units row, and a value filter needs no row ordering (safe under
    * distributed reads). Must run BEFORE casts, as in the reference. */
  def stripUnitsRow(df: DataFrame): DataFrame =
    df.columns.headOption match {
      case Some(first) => df.filter(!col(first).isin(UnitsRowMarkers: _*) || col(first).isNull)
      case None => df
    }

  /** F2/F3: null-on-error coercions, matching pandas `errors='coerce'`.
    * Spark 4 runs ANSI mode by default where plain cast/to_timestamp
    * THROW on malformed input, so the `try_` forms are required for
    * coerce semantics. ERDDAP's `NaN` for a missing value becomes null,
    * as in pandas and the DSv2 reader. Session TZ is UTC (GraftSession)
    * so `Z`-suffixed and `+00:00` ISO forms resolve identically. */
  private def coerceTypes(df: DataFrame): DataFrame = {
    val withTime =
      if (df.columns.contains("time") && df.schema("time").dataType == StringType)
        df.withColumn("time", try_to_timestamp(col("time")))
      else df
    NumericCols.foldLeft(withTime) { (d, c) =>
      if (d.columns.contains(c) && d.schema(c).dataType == StringType)
        d.withColumn(c, expr(s"nullif(try_cast(`$c` AS DOUBLE), double('NaN'))"))
      else d
    }
  }

  private def presentKeyVars(df: DataFrame): Seq[String] =
    KeyVars.filter(df.columns.contains)

  /** P2 (`extract.py:216-221`, `how='all'`): drop rows where every
    * present key variable is null. */
  def dropAllNull(df: DataFrame): DataFrame = {
    val keyVars = presentKeyVars(df)
    if (keyVars.isEmpty) df else df.filter(keyVars.map(col(_).isNotNull).reduce(_ || _))
  }

  /** The extract-stage clean (`extract.py:192-227`): P1 → F1 → F2/F3 →
    * P2 (`how='all'`) → O1 sort by time. */
  def cleanApiResponse(df: DataFrame): DataFrame = {
    val kept = dropAllNull(coerceTypes(normalizeColumns(stripUnitsRow(df))))
    // pandas sort_values places NaT last by default; Spark's plain asc
    // is nulls-first, so nulls-last is spelled out for parity.
    if (kept.columns.contains("time")) kept.orderBy(asc_nulls_last("time")) else kept
  }

  /** The transform-stage clean (`transform.py:10-28`): F1 → F2/F3 → P3
    * (`how='any'`). */
  def cleanTransform(df: DataFrame): DataFrame = {
    val typed = coerceTypes(normalizeColumns(df))
    val keyVars = presentKeyVars(typed)
    if (keyVars.isEmpty) typed else typed.na.drop("any", keyVars)
  }

  /** P5: numeric-dtype projection (`app.py:660-663`). */
  def numericProjection(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => col(f.name)
    }
    df.select(numeric.toSeq: _*)
  }
}
