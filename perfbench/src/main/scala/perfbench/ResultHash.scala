package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

/** An order-insensitive fingerprint of a result: its row count and the
  * exact sum of a 64-bit hash of each row, with columns taken in name
  * order (positionally renamed first, so duplicate names are fine). */
object ResultHash {
  def apply(df: DataFrame): (Long, String) = {
    val order = df.columns.indices.sortBy(i => (df.columns(i), i))
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = to_json(struct(order.map(i => col(s"c$i")): _*))
    val r = renamed.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }
}
