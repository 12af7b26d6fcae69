package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 500).select(
    col("id"), (col("id") % 7).as("k"), concat(lit("s"), col("id")).as("s"),
    (col("id") / 3.0).as("d"), map(lit("a"), col("id"), lit("b"), col("id") + 1).as("m"),
    array(col("id"), col("id") * 2).as("arr"))

  test("row order, partitioning and column order do not change the digest") {
    val base = Digest.of(frame)
    assert(base.rows == 500)
    assert(Digest.of(frame.orderBy(rand(3))) == base)
    assert(Digest.of(frame.repartition(7)) == base)
    assert(Digest.of(frame.select("s", "m", "id", "arr", "k", "d")) == base)
  }

  test("a changed, missing or duplicated row changes the digest") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.withColumn("k", when(col("id") === 42, 99).otherwise(col("k")))) != base)
    assert(Digest.of(frame.filter(col("id") =!= 42)) != base)
    assert(Digest.of(frame.union(frame.filter(col("id") === 42))) != base)
  }

  test("empty outputs digest to zero rows") {
    assert(Digest.of(frame.filter(lit(false))) == Digest(0, 0, 0))
  }
}
