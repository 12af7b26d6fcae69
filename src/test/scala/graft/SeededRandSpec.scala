package graft

import graft.functions.SeededRand
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, rand}

/** SeededRand draws Spark's `rand(seed)` stream value for value, in
  * generated and in interpreted code, and its generated code does not
  * depend on the seed — so a new seed reuses the compiled class. */
class SeededRandSpec extends SparkSpec {

  // several partitions, each seeding its own stream with seed + index
  private def draws(seed: Long): DataFrame =
    spark.range(0, 3000, 1, 3)
      .select(col("id"), rand(seed).as("spark"), SeededRand.col(seed).as("graft"))

  test("equals rand(seed) row for row, with and without codegen") {
    for (seed <- Seq(42L, 7L)) {
      val rows = draws(seed).collect()
      assert(rows.length === 3000)
      assert(rows.forall(r => r.getDouble(1) == r.getDouble(2)), s"seed $seed")
    }
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
                    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rows = draws(42L).collect()
      assert(rows.forall(r => r.getDouble(1) == r.getDouble(2)), "interpreted")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("the generated code is the same for every seed") {
    def code(r: DataFrame): String = r.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }.mkString
    def graftDraw(seed: Long) = spark.range(10).select(SeededRand.col(seed))
    def sparkDraw(seed: Long) = spark.range(10).select(rand(seed))
    assert(code(graftDraw(1L)).nonEmpty)
    assert(code(graftDraw(1L)) === code(graftDraw(2L)))
    assert(code(sparkDraw(1L)) !== code(sparkDraw(2L))) // why SeededRand exists
  }
}
