package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digests, computed while the output is forced.
  *
  * A frame's digest is (row count, wrapping sum of per-row xxhash64) over
  * its columns taken in name order, with floating values rounded to 6
  * decimals and -0.0 folded into 0.0 — the value normalization of
  * `tools/check.py` (columns sorted by name, rows compared as a multiset,
  * floats compared to far below the 6th decimal). Summing the row hashes
  * makes the digest blind to row order and partitioning, so one golden
  * value checks every seed's plan shape.
  */
object Digest {

  final case class Value(rows: Long, hash: Long)

  private def normalized(f: StructField): Column = {
    val c = col("`" + f.name.replace("`", "``") + "`")
    f.dataType match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
      case _: MapType => c.cast(StringType)
      case _ => c
    }
  }

  /** The per-row hash the digest sums. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.sortBy(_.name).toSeq.map(normalized): _*)

  /** Forces `df` with a `noop` write and returns its digest, gathered by an
    * observation on the same execution (no second job over the output).
    */
  def sink(df: DataFrame): Value = {
    val obs = Observation()
    df.observe(obs, count(lit(1)), coalesce(sum(rowHash(df)), lit(0L)))
      .write.format("noop").mode("overwrite").save()
    val r = Await.result(obs.future, 120.seconds)
    Value(r.getLong(0), r.getLong(1))
  }
}
