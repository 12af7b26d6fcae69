package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators — the documented salting escape hatch from
  * SURVEY §7.3 ("per-group top-k via window with salting escape hatch for
  * skewed groups"), made concrete and oracle-checked.
  *
  * At 100 TB a handful of hot keys (one state with half the listings, one
  * document shingle shared by millions) turn a single reducer into the
  * job's critical path. Two standing techniques:
  *
  *  - **Salted two-stage aggregation**: groupBy(key, salt) partial →
  *    groupBy(key) final. The hot key's rows spread over `SaltBuckets`
  *    reducers in stage 1; stage 2 combines `SaltBuckets` tiny rows.
  *    Algebraically identical for sum/count/min/max (commutative
  *    monoids) — the oracle proves it against a plain GROUP BY.
  *
  *  - **Salt-replicated broadcast join** for skewed fact keys joins a
  *    replicated dimension: fact rows pick a random-but-deterministic
  *    salt, the dimension is exploded × SaltBuckets — each (key, salt)
  *    reducer gets an even share. (With AQE on, Spark's skew-join split
  *    handles the shuffle-join case automatically; the explicit form
  *    covers deterministic plans and pre-AQE engines.)
  */
object Skew {

  val SaltBuckets = 16

  /** Deterministic salt from a row-unique column (NOT rand(): retries and
    * speculative re-execution must re-derive the same salt). */
  def salt(uniqueCol: Column): Column =
    pmod(xxhash64(uniqueCol), lit(SaltBuckets.toLong))

  /** Salted two-stage sum/count over lineitem's return flag (3 hot keys
    * across 600k rows at sf0.1 — exactly the skewed-agg shape). */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("salt", salt(col("l_orderkey") * lit(8) + col("l_linenumber")))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum("l_quantity").as("psum"), count(lit(1)).as("pcnt"))
      .groupBy("l_returnflag")
      .agg(Num.rnd(sum("psum"), 2).as("sum_qty"), sum("pcnt").as("n"))
      .orderBy("l_returnflag")

  /** Salt-replicated join: every customer row joins nation after the
    * dimension is exploded × SaltBuckets — result identical to the plain
    * join, but no single (nationkey) reducer can be hot. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("salt", salt(col("c_custkey")))
    val n = Tables.nation(spark, dir)
      .withColumn("salt", explode(sequence(lit(0L), lit(SaltBuckets - 1L))))
    c.join(n, c("c_nationkey") === n("n_nationkey") && c("salt") === n("salt"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_salted_agg"  -> saltedAgg _,
    "skew_salted_join" -> saltedJoin _)
}
