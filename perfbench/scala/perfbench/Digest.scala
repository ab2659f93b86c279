package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: row count plus the sum and the xor of
  * per-row hashes over a canonical string form of each row. Floating
  * values are rounded to 6 decimals first, so a digest does not depend on
  * the order in which partitions were summed. */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_number(round(c.cast("double"), 6), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      concat_ws(",", transform(c, x => format_number(round(x.cast("double"), 6), 6)))
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c.cast("string")
  }

  private def canonRow(df: DataFrame): Column =
    concat_ws("\u0001", df.schema.fields.toSeq.map(f =>
      coalesce(canon(col(s"`${f.name}`"), f.dataType), lit("\u0000"))): _*)

  private val aggs = Seq(count(lit(1)), sum(hash(col("r")).cast("long")),
    bit_xor(xxhash64(col("r"))))

  private def render(r: org.apache.spark.sql.Row, at: Int): String = {
    val n = r.getLong(at)
    val s = if (r.isNullAt(at + 1)) 0L else r.getLong(at + 1)
    val x = if (r.isNullAt(at + 2)) 0L else r.getLong(at + 2)
    f"$n:$s%x:$x%x"
  }

  def of(df: DataFrame): String =
    render(df.select(canonRow(df).as("r")).agg(aggs.head, aggs.tail: _*).head(), 0)

  /** Digests of several results in one Spark job (an empty result is
    * "0:0:0"). */
  def many(dfs: Seq[(String, DataFrame)]): Map[String, String] = {
    val all = dfs.map { case (n, df) => df.select(lit(n).as("n"), canonRow(df).as("r")) }
      .reduce(_ unionByName _)
    val got = all.groupBy("n").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getString(0) -> render(r, 1)).toMap
    dfs.map { case (n, _) => n -> got.getOrElse(n, "0:0:0") }.toMap
  }
}
