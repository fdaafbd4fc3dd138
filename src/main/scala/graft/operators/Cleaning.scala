package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType, StringType}

/** Null/NaN/inf cleaning operators (SURVEY.md §2.2 P1–P12).
  *
  * Reference semantics replicated (pandas): `dropna()`, `dropna(axis=1)`,
  * `fillna(0)`, `replace(±inf, 0)`, whitespace-string → null, and
  * `to_numeric(errors='coerce')`. All are native `Column` expressions —
  * no UDFs — so they stay inside whole-stage codegen and push down where
  * legal.
  */
object Cleaning {

  /** P1 — drop rows containing any null (pandas `dropna()`). */
  def dropNullRows(df: DataFrame): DataFrame = df.na.drop("any")

  /** P3 — fill nulls in numeric columns with a constant (pandas `fillna(0)`). */
  def fillNumeric(df: DataFrame, value: Double = 0.0): DataFrame = df.na.fill(value)

  /** P4 — replace ±Infinity (and NaN, which pandas treats as missing and the
    * reference wipes in the same cleanup pass, 新冠疫情分析.py:82-83) with `value`.
    */
  def replaceInf(df: DataFrame, cols: Seq[String], value: Double = 0.0): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(
        c,
        when(col(c).isin(Double.PositiveInfinity, Double.NegativeInfinity) || isnan(col(c)), lit(value))
          .otherwise(col(c)))
    }

  /** P5 — whitespace-only strings → null (蔬菜价格相关性分析.py:47-48), as a pure
    * expression: `when(trim(c) = '', null)`.
    */
  def whitespaceToNull(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.collect { case f if f.dataType == StringType => f.name }
    stringCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, when(trim(col(c)) === "", lit(null).cast(StringType)).otherwise(col(c)))
    }
  }

  /** P11 — pandas `to_numeric(errors='coerce')`: cast to double, invalid → null.
    * Uses `try_cast` semantics (safe under ANSI too).
    */
  def toNumeric(c: Column): Column = c.cast(DoubleType)

  /** P2 — drop columns that contain ANY null (pandas `dropna(axis=1)`,
    * 蔬菜价格相关性分析.py:51). Two-pass by necessity: one aggregate job computes
    * per-column null counts (a single row — cheap at any scale since it's one
    * pass + a tiny reduce), then a driver-planned projection keeps the clean
    * columns.
    */
  def dropNullColumns(df: DataFrame): DataFrame = {
    val names = df.columns
    val countsRow = df
      .select(names.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)).toIndexedSeq: _*)
      .head()
    val keep = names.zipWithIndex.collect { case (c, i) if countsRow.getLong(i) == 0L => c }
    df.select(keep.map(col).toIndexedSeq: _*)
  }

  /** P10 — per-column null-count audit (`df.isnull().sum()`): one-row frame. */
  def nullAudit(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)).toIndexedSeq: _*)

  /** P12 — value remap via chained `when` (pandas `.map(dict)`); unmatched → null,
    * matching pandas' NaN-for-missing-key semantics.
    */
  def remap(c: Column, mapping: Map[String, String]): Column =
    mapping.foldLeft(lit(null).cast(StringType)) { case (acc, (k, v)) =>
      when(c === k, lit(v)).otherwise(acc)
    }

  /** Summary statistics over numeric columns (pandas `describe()` / A4), as a
    * single aggregate pass emitting one row of
    * `<col>_count, <col>_mean, <col>_std, <col>_min, <col>_max` columns.
    * (Spark's `df.summary()` uses approximate percentiles, which an exact SQL
    * oracle can't reproduce; this variant is exact and oracle-checkable.)
    */
  def numericSummary(df: DataFrame, round: Int = 4): DataFrame = {
    val numCols = df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }
    // +1e-9 before rounding: oracle-stable on exact round-half boundaries
    // (see catalog.Shared.rnd).
    def r(c: Column): Column = org.apache.spark.sql.functions.round(c + lit(1e-9), round)
    val aggs = numCols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_count"),
        r(avg(col(c))).as(s"${c}_mean"),
        r(stddev_samp(col(c))).as(s"${c}_std"),
        r(min(col(c)).cast(DoubleType)).as(s"${c}_min"),
        r(max(col(c)).cast(DoubleType)).as(s"${c}_max"))
    }
    df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }
}
