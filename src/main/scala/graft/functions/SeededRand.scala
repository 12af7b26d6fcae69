package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal, Nondeterministic, Rand}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `rand(seed)` — the same per-partition `XORShiftRandom(seed +
  * partitionIndex)` stream, value for value — whose generated code reads
  * the seed from the reference array instead of inlining it as a literal.
  *
  * Spark's `Rand` writes `new XORShiftRandom(<seed>L + partitionIndex)`
  * into the generated source, so every new seed is a new class: the whole
  * stage that draws it compiles again (on the driver and under the
  * executor's class loader). Code-identical stages hit the JVM-wide
  * codegen cache instead, so a run that samples with a fresh seed compiles
  * nothing and inserts nothing — and inserting into a full cache is what
  * evicts, and then recompiles, the classes of unrelated queries. The
  * interpreted path is Spark's `Rand` itself.
  */
case class SeededRand(seed: Long) extends LeafExpression with Nondeterministic {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  @transient private[this] var rand: Rand = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    rand = Rand(Literal(seed))
    rand.initialize(partitionIndex)
  }

  override protected def evalInternal(input: InternalRow): Any = rand.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = "org.apache.spark.util.random.XORShiftRandom"
    val rng = ctx.addMutableState(cls, "rng")
    val seedRef = ctx.addReferenceObj("seed", java.lang.Long.valueOf(seed))
    ctx.addPartitionInitializationStatement(
      s"$rng = new $cls($seedRef.longValue() + partitionIndex);")
    ev.copy(code = code"final double ${ev.value} = $rng.nextDouble();",
            isNull = FalseLiteral)
  }

  override def prettyName: String = "rand"
}

object SeededRand {

  /** Column-API sugar: `rand(seed)` with a seed-independent compiled class. */
  def col(seed: Long): Column = GraftSql.column(SeededRand(seed))
}
