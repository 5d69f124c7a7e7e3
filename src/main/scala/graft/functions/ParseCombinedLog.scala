package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass Apache combined-log-line parse.
  *
  * The reference parses each line with ONE `Matcher` pass filling a 9-field
  * record (`LogParse.java:25-56`). Composing that from built-ins costs one
  * full regex execution per field (`rlike` + 9 × `regexp_extract` ≈ 10
  * passes/line) and, worse, duplicates the upstream line expression into
  * every extract when projections collapse — at sf0.01 that blew the
  * generated code past Janino's limits and forced interpreted fallback.
  *
  * This native Catalyst expression restores the reference's one-pass
  * shape: match once, emit a struct of the 9 capture groups, null on
  * no-match. Codegen emits a single static call, so the surrounding
  * projection stays inside whole-stage codegen and common-subexpression
  * elimination collapses repeated field accesses to one match per row.
  * At 100 TB this is a narrow, fully-pipelined map — no state, no shuffle.
  */
case class ParseCombinedLog(child: Expression) extends UnaryExpression
  with ExpectsInputTypes {

  // Strict: log lines are text; any other type is a caller bug better
  // surfaced at analysis time than as a runtime cast failure.
  override def inputTypes: Seq[org.apache.spark.sql.graft.ColumnBridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ParseCombinedLog.schema

  override def nullable: Boolean = true

  /** Deliberately marked non-deterministic (it is, in fact, pure): this
    * is the supported "evaluate once" barrier (same mechanism as
    * `UserDefinedFunction.asNondeterministic`). Without it, CollapseProject
    * + predicate pushdown inline one copy of the match (and of the whole
    * upstream line expression) into every consuming field/filter/agg —
    * measured 4-5 full regex passes per row on the analytics queries.
    * With it, the parse materializes once per row and consumers read
    * struct fields.
    */
  override lazy val deterministic: Boolean = false

  override def nullSafeEval(input: Any): Any =
    ParseCombinedLog.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ParseCombinedLog.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parse_combined_log"
}

object ParseCombinedLog {

  /** Flat-group version of the reference regex (`LogParse.java:25-26`),
    * anchored, group per field:
    * 1 ip, 2 identity, 3 user, 4 datetime (no brackets), 5 request
    * (no quotes), 6 status, 7 bytes, 8 referer, 9 user-agent.
    */
  val LogRegex: String =
    """^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}) (\S+) (\S+) \[(.+?)\] "(.*?)" (\d{3}) (\S+) "(.*?)" "(.*?)"$"""

  private val pattern: Pattern = Pattern.compile(LogRegex)

  val fieldNames: Seq[String] = Seq(
    "client_ip", "client_identity", "remote_user", "date_time",
    "request", "http_status", "bytes_sent", "referer", "user_agent")

  val schema: StructType =
    StructType(fieldNames.map(StructField(_, StringType, nullable = true)))

  /** Zero-copy CharSequence over an all-ASCII UTF8String (byte == char). */
  private final class AsciiSeq(val s: UTF8String) extends CharSequence {
    override def length(): Int = s.numBytes()
    override def charAt(i: Int): Char = (s.getByte(i) & 0xff).toChar
    override def subSequence(a: Int, b: Int): CharSequence =
      new AsciiSeq(s.copyUTF8String(a, b - 1))
    override def toString: String = s.toString
  }

  /** One matcher pass; null when the line is not combined-format.
    * Called from both interpreted eval and generated code (static
    * forwarder), so the JIT sees a single hot method.
    *
    * ASCII fast path (the overwhelmingly common case for access logs):
    * match directly over the UTF8String bytes and copy each group out by
    * its byte offsets (`copyUTF8String` takes an inclusive end) — no
    * String materialization, no per-field re-encode, and no walk from
    * the line's start per group, which `substring`'s char offsets cost.
    * Lines with multi-byte chars fall back to the String path (char
    * offsets would not equal byte offsets).
    */
  def parse(line: UTF8String): InternalRow = {
    if (line.isFullAscii()) {
      val m = pattern.matcher(new AsciiSeq(line))
      if (!m.matches()) return null
      val values = new Array[Any](9)
      var i = 0
      while (i < 9) {
        values(i) = line.copyUTF8String(m.start(i + 1), m.end(i + 1) - 1)
        i += 1
      }
      new GenericInternalRow(values)
    } else {
      val m = pattern.matcher(line.toString)
      if (!m.matches()) return null
      val values = new Array[Any](9)
      var i = 0
      while (i < 9) {
        values(i) = UTF8String.fromString(m.group(i + 1))
        i += 1
      }
      new GenericInternalRow(values)
    }
  }
}
