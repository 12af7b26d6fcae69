package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InputFileBlockStart, InputFileName, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** True for the lines of a text scan that Spark's line-based
  * (non-multiLine) CSV source reads as records, so a filter on it turns
  * `spark.read.text(path)` into the CSV source's record stream, line for
  * line:
  *
  *  - a line is skipped when Java `String.trim` leaves it empty, i.e.
  *    when every char is ≤ U+0020 (`CSVExprUtils.filterCommentAndEmpty`;
  *    Spark SQL `trim` strips spaces only, so it cannot stand in);
  *  - with `header`, the first non-blank line of each file is skipped —
  *    only in the split that starts at offset 0, as `CSVHeaderChecker`
  *    does (`isStartOfFile`, `CSVExprUtils.extractHeader`).
  *
  * Stateful per partition (which file block it is in, whether that
  * block's header is still pending), hence `Nondeterministic`: Catalyst
  * keeps it where it is, directly above the scan. The file and block
  * offset come from `input_file_name()`/`input_file_block_start()`, which
  * the scan sets per file block.
  */
case class CsvRecordLine(line: Expression, file: Expression,
                         blockStart: Expression, header: Boolean)
    extends Expression with Nondeterministic {

  override def children: Seq[Expression] = Seq(line, file, blockStart)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private[this] var lines: CsvRecordLine.Lines = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    lines = new CsvRecordLine.Lines(header)

  override protected def evalInternal(input: InternalRow): Any = {
    val l = line.eval(input)
    l != null && lines.isRecord(l.asInstanceOf[UTF8String],
      file.eval(input).asInstanceOf[UTF8String],
      blockStart.eval(input).asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[CsvRecordLine.Lines].getName
    val lines = ctx.addMutableState(cls, "csvLines",
      v => s"$v = new $cls($header);", forceInline = true)
    val l = line.genCode(ctx)
    val f = file.genCode(ctx)
    val s = blockStart.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${f.code}
      ${s.code}
      boolean ${ev.value} = !${l.isNull} &&
        $lines.isRecord(${l.value}, ${f.value}, ${s.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CsvRecordLine =
    copy(line = newChildren(0), file = newChildren(1),
         blockStart = newChildren(2))

  override def prettyName: String = "csv_record_line"
}

object CsvRecordLine {

  /** Column-API sugar: is the text scan's `line` a CSV record? */
  def col(line: Column, header: Boolean): Column =
    GraftSql.column(CsvRecordLine(GraftSql.expression(line), InputFileName(),
      InputFileBlockStart(), header))

  /** Per-partition state; public so generated code can construct it. */
  final class Lines(header: Boolean) {
    private var file: UTF8String = _
    private var start = -1L
    private var headerPending = false

    def isRecord(line: UTF8String, file: UTF8String, start: Long): Boolean = {
      if ((file ne this.file) && (start != this.start || file != this.file)) {
        this.file = file
        this.start = start
        headerPending = header && start == 0
      }
      if (isBlank(line)) false
      else if (headerPending) { headerPending = false; false }
      else true
    }
  }

  /** `line.toString.trim.isEmpty` without decoding: a UTF-8 char above
    * U+0020 always has a (lead) byte above 0x20. */
  def isBlank(line: UTF8String): Boolean = {
    var i = 0
    val n = line.numBytes
    while (i < n) {
      if ((line.getByte(i) & 0xff) > 0x20) return false
      i += 1
    }
    true
  }
}
