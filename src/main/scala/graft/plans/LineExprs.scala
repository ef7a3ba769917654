package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Part `part` (1, 2 or 3) of a string cut at its first two spaces: the
  * bytes before the first, between the two, and after the second; null
  * when the string has fewer than two spaces. Equal to
  * `element_at(split(s, ' ', 3), part)` wherever that split has three
  * parts: a 0x20 byte never occurs inside a multi-byte UTF-8 sequence, so
  * the byte cut falls where the character split does. A part holding
  * invalid UTF-8 is returned as the string it decodes to, as `split`
  * returns it. One byte scan up to the second space; the part is a view
  * of the input's bytes, not a copy.
  */
case class SpaceCut(child: Expression, part: Int) extends UnaryExpression {
  require(part >= 1 && part <= 3, s"SpaceCut part must be 1, 2 or 3, got $part")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = SpaceCut.cut(input.asInstanceOf[UTF8String], part)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.SpaceCut.cut($c, $part);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SpaceCut =
    copy(child = newChild)
}

object SpaceCut {

  def cut(s: UTF8String, part: Int): UTF8String = {
    val a = space(s, 0)
    val b = if (a < 0) -1 else space(s, a + 1)
    if (b < 0) return null
    val from = if (part == 1) 0 else if (part == 2) a + 1 else b + 1
    val until = if (part == 1) a else if (part == 2) b else s.numBytes
    val v = UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, until - from)
    if (Utf8.valid(v)) v else UTF8String.fromString(v.toString)
  }

  /** Whether `s` has two spaces, so that [[cut]] returns its parts. */
  def cuts(s: UTF8String): Boolean = {
    val a = space(s, 0)
    a >= 0 && space(s, a + 1) >= 0
  }

  /** Byte index of the first space of `s` at or after `from`, or -1. */
  private def space(s: UTF8String, from: Int): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = from
    while (i < n && Platform.getByte(base, off + i) != ' ') i += 1
    if (i < n) i else -1
  }

  def apply(c: Column, part: Int): Column =
    GraftShim.column(SpaceCut(GraftShim.expression(c), part))

  /** The filter half of the cut: true when the string has two spaces,
    * with no part built or checked.
    */
  def cuts(c: Column): Column =
    GraftShim.column(SpaceCuts(GraftShim.expression(c)))
}

/** [[SpaceCut.cuts]] as a predicate: `SpaceCuts(s)` is
  * `SpaceCut(s, 3).isNotNull` without building or validating the part.
  */
case class SpaceCuts(child: Expression) extends UnaryExpression with Predicate {

  override def nullSafeEval(input: Any): Any = SpaceCut.cuts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SpaceCut.cuts($c)")

  override protected def withNewChildInternal(newChild: Expression): SpaceCuts =
    copy(child = newChild)
}

/** Number of `byte` bytes in a string: `ByteCount(topic, '/') + 1` is the
  * size of `split(topic, "/")` (a separator byte never occurs inside a
  * multi-byte UTF-8 sequence, nor in the replacement of an invalid one),
  * without decoding or splitting.
  */
case class ByteCount(child: Expression, byte: Byte) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any = ByteCount.count(input.asInstanceOf[UTF8String], byte)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ByteCount.count($c, (byte) $byte)")

  override protected def withNewChildInternal(newChild: Expression): ByteCount =
    copy(child = newChild)
}

object ByteCount {

  def count(s: UTF8String, byte: Byte): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var k = 0
    var i = 0
    while (i < n) { if (Platform.getByte(base, off + i) == byte) k += 1; i += 1 }
    k
  }

  def apply(c: Column, byte: Char): Column =
    GraftShim.column(ByteCount(GraftShim.expression(c), byte.toByte))
}

/** UTF-8 validity with an ASCII fast path: eight bytes per step while no
  * high bit is set, the full check only past the first non-ASCII word.
  */
object Utf8 {
  def valid(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i + 8 <= n) {
      if ((Platform.getLong(base, off + i) & 0x8080808080808080L) != 0) return s.isValid
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) < 0) return s.isValid
      i += 1
    }
    true
  }
}
