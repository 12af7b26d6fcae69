package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** An output's row count plus an order-insensitive digest of every column:
  * each row hashes its columns in name order (ties by position) with
  * `xxhash64`, and the digest is the sum of the hashes' high and low 32-bit
  * halves, kept apart so no sum can overflow. Row order and partitioning
  * do not change it; a changed, missing or duplicated row does.
  *
  * Computing it is the timed action of an op: the hash reads every output
  * column, so every column is evaluated, as a `noop` write would. */
final case class Digest(rows: Long, hi: Long, lo: Long) {
  def hash: String = f"$hi%016x$lo%016x"
}

object Digest {

  /** Maps have no hash in Spark; hash their entries in key order instead. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): Digest = {
    val names = df.columns
    val fields = df.schema.fields
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val order = names.indices.sortBy(i => (names(i), i))
    val h =
      if (order.isEmpty) lit(0L)
      else xxhash64(order.map(i => hashable(col(s"c$i"), fields(i).dataType)): _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)),
           coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
           coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
