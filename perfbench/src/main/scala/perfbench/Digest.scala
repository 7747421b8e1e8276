package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a frame: row count, XOR and 32-bit sum of
  * per-row hashes. Floating-point values are rounded to 6 decimals first, so
  * the digest does not depend on the summation order of a parallel
  * aggregate.
  */
object Digest {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _ => c
  }

  private def aggregates(df: DataFrame): (Column, Seq[Column]) = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => norm(df.col(s"`${f.name}`"), f.dataType)): _*)
    (count(lit(1)).as("rows"), Seq(bit_xor(h).as("xor"), sum(h.bitwiseAND(0xffffffffL)).as("sum")))
  }

  private def render(rows: Any, xor: Any, sum: Any): String =
    s"$rows:${Option(xor).getOrElse(0L)}:${Option(sum).getOrElse(0L)}"

  /** Digest by one extra aggregation over `df`. */
  def of(df: DataFrame): String = {
    val (first, rest) = aggregates(df)
    val r = df.agg(first, rest: _*).head()
    render(r.get(0), r.get(1), r.get(2))
  }

  /** `df` with the digest computed as a side effect of whatever action runs
    * it; read the digest with [[result]] after the action.
    */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val (first, rest) = aggregates(df)
    (df.observe(obs, first, rest: _*), obs)
  }

  def result(obs: Observation): String = {
    val m = obs.get
    render(m("rows"), m("xor"), m("sum"))
  }
}
