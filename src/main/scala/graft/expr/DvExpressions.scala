package graft.expr

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** One table version's deletion-vector marks, decoded: for each lineage
  * rel (the `data/...` key in a DV shard's `file` column) the
  * RoaringBitmap of that file's deleted row indexes. Row indexes are
  * unsigned 32-bit; marks holding any other position are never built
  * (the table falls back to its anti-join). Immutable once built: the
  * bitmaps are shared by the driver's decode cache and every probe. */
final class DvMarks(bits: java.util.Map[String, RoaringBitmap]) extends Serializable {
  def rels: Set[String] = bits.keySet.asScala.toSet
  def of(rel: String): Option[RoaringBitmap] = Option(bits.get(rel))
  def sizeInBytes: Long = bits.asScala.map { case (r, b) =>
    DvMarks.weigh(r, b) }.sum
  /** The number of marked rows. */
  def cardinality: Long = bits.values.asScala.map(_.getLongCardinality).sum
  /** A per-task membership probe (it keeps the last file's bitmap). */
  def probe(): DvProbe = new DvProbe(bits)
}

object DvMarks {
  private[expr] def weigh(rel: String, b: RoaringBitmap): Long =
    2L * rel.length + b.getLongSizeInBytes

  /** The marks of several shards of one version: bitmaps of the same
    * rel are OR'ed into new ones, the inputs are left untouched. */
  def union(ms: Seq[DvMarks]): DvMarks =
    if (ms.size == 1) ms.head
    else {
      val out = new java.util.HashMap[String, RoaringBitmap]()
      for (m <- ms; r <- m.rels; b <- m.of(r))
        out.merge(r, b, (x: RoaringBitmap, y: RoaringBitmap) => RoaringBitmap.or(x, y))
      new DvMarks(out)
    }

  /** The marks one write's tasks built ([[DvMarksPart.build]], all
    * `Built`), merged: None when two parts mark the same row. */
  def merge(parts: Seq[DvMarksPart]): Option[DvMarks] = {
    val out = new java.util.HashMap[String, RoaringBitmap]()
    for (p <- parts; (r, b) <- p.marks) {
      val seen = out.get(r)
      if (seen == null) out.put(r, b)
      else if (RoaringBitmap.intersects(seen, b)) return None
      else {
        val both = RoaringBitmap.or(seen, b)
        both.runOptimize()
        out.put(r, both)
      }
    }
    Some(new DvMarks(out))
  }

  /** The rels whose mark sets differ between two versions. */
  def changedRels(a: DvMarks, b: DvMarks): Set[String] =
    (a.rels ++ b.rels).filter(r => a.of(r) != b.of(r))
}

/** What one task of a keyed write's mark job reports: the bitmaps of
  * the `(rel, pos)` rows it saw, one per rel in first-seen order (the
  * order a scan delivers them), or why it built none. */
final class DvMarksPart(val marks: Seq[(String, RoaringBitmap)], val status: Int)
    extends Serializable

object DvMarksPart {
  val Built = 0
  /** Past the position or byte budget, a null key, or a position that
    * needs more than 32 bits. */
  val Overflow = 1
  /** The same row came twice. */
  val Twice = 2

  /** Bitmaps of `rows` — `(file string, pos long)` rows — as long as
    * they hold at most `maxPositions` positions in `maxBytes`. */
  def build(rows: Iterator[InternalRow], maxPositions: Long, maxBytes: Long): DvMarksPart = {
    val byRel = new java.util.LinkedHashMap[String, RoaringBitmap]()
    def bytes = byRel.asScala.map { case (r, b) => DvMarks.weigh(r, b) }.sum
    def failed(status: Int) = new DvMarksPart(Nil, status)
    var prev: UTF8String = null
    var cur: RoaringBitmap = null
    var n = 0L
    while (rows.hasNext) {
      val row = rows.next()
      if (row.isNullAt(0) || row.isNullAt(1)) return failed(Overflow)
      val pos = row.getLong(1)
      if ((pos >>> 32) != 0) return failed(Overflow)
      val f = row.getUTF8String(0)
      if (prev == null || !prev.equals(f)) {
        prev = f.clone() // the input may live in a reused buffer
        cur = byRel.computeIfAbsent(prev.toString, _ => new RoaringBitmap)
      }
      if (!cur.checkedAdd(pos.toInt)) return failed(Twice)
      n += 1
      if (n > maxPositions || ((n & 0xfff) == 0 && bytes > maxBytes)) return failed(Overflow)
    }
    byRel.values.forEach { b => b.runOptimize(); () }
    if (bytes > maxBytes) failed(Overflow)
    else new DvMarksPart(byRel.asScala.toSeq, Built)
  }
}

/** Row-membership test against [[DvMarks]]. The rel is derived only
  * when the file path changes, which in a scan is once per file. */
final class DvProbe(bits: java.util.Map[String, RoaringBitmap]) {
  private var lastPath: UTF8String = null
  private var lastBits: RoaringBitmap = null

  def marked(path: UTF8String, pos: Long): Boolean = {
    if (lastPath == null || !lastPath.equals(path)) {
      lastPath = path.clone() // the input may live in a reused buffer
      lastBits = bits.get(DvExpressions.lineageRel(path).toString)
    }
    lastBits != null && (pos >>> 32) == 0 && lastBits.contains(pos.toInt)
  }
}

object DvExpressions {
  private val relRegex = java.util.regex.Pattern.compile(".*/(data/.*)$")

  private[graft] val LineageRel = new KernelDecl("graft_lineage_rel", Seq(Kernel.StringIn),
    StringType, this, "lineageRel")

  /** The row-lineage key of a scanned row: [[lineageRel]] of its
    * `_metadata.file_path`. */
  def lineageRelOf(path: Column): Column = LineageRel(path)

  /** [[DvKeep]]: true for the rows of (`path`, `pos`) that `marks` do not mark. */
  def keep(path: Column, pos: Column, marks: Broadcast[DvMarks]): Column =
    Bridge.column(DvKeep(Bridge.expression(path), Bridge.expression(pos), marks))

  /** What `regexp_extract(path, rx, 1)` gives for the lineage regex `rx`
    * (`.*`, then `/(data/.*)$`), byte for byte: the part of `path` after
    * its last `/data/` segment, "" when it has none. One forward byte
    * scan; a path holding a line terminator (where `.` and `$` treat the
    * text specially) or invalid UTF-8 (which the regex sees decoded)
    * takes the regex itself. */
  def lineageRel(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var last = -1
    var nonAscii = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '/') {
        if (i + 5 < n && s.getByte(i + 1) == 'd' && s.getByte(i + 2) == 'a' &&
            s.getByte(i + 3) == 't' && s.getByte(i + 4) == 'a' && s.getByte(i + 5) == '/')
          last = i
      } else if (b == '\n' || b == '\r') return regexRel(s)
      else if (b < 0) {
        nonAscii = true
        // U+0085 (C2 85), U+2028 / U+2029 (E2 80 A8 / A9)
        if ((b == 0xC2.toByte && i + 1 < n && s.getByte(i + 1) == 0x85.toByte) ||
            (b == 0xE2.toByte && i + 2 < n && s.getByte(i + 1) == 0x80.toByte &&
              (s.getByte(i + 2) == 0xA8.toByte || s.getByte(i + 2) == 0xA9.toByte)))
          return regexRel(s)
      }
      i += 1
    }
    if (nonAscii && !s.isValid) regexRel(s)
    else if (last < 0) UTF8String.EMPTY_UTF8
    else {
      val len = n - last - 1
      val out = new Array[Byte](len)
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset + last + 1,
        out, Platform.BYTE_ARRAY_OFFSET, len)
      UTF8String.fromBytes(out)
    }
  }

  private def regexRel(s: UTF8String): UTF8String = {
    val m = relRegex.matcher(s.toString)
    if (m.find() && m.group(1) != null) UTF8String.fromString(m.group(1))
    else UTF8String.EMPTY_UTF8
  }
}

/** True for a row its version's deletion vectors do NOT mark: `path` is
  * the row's `_metadata.file_path`, `pos` its `_metadata.row_index`.
  * A null key keeps the row, as it never matched in the anti-join. The
  * marks ship as one broadcast, read once per executor, so a task
  * carries only the broadcast handle. */
case class DvKeep(path: Expression, pos: Expression, marks: Broadcast[DvMarks])
    extends BinaryExpression {
  override def left: Expression = path
  override def right: Expression = pos
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_dv_keep"
  override protected def flatArguments: Iterator[Any] = Iterator(path, pos)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (path.dataType, pos.dataType) match {
      case (StringType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, bigint), got (${a.simpleString}, ${b.simpleString})")
    }

  @transient private lazy val probe = marks.value.probe()

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val p = path.eval(input)
    val i = if (p == null) null else pos.eval(input)
    i == null || !probe.marked(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("dvMarks", marks, classOf[Broadcast[_]].getName)
    val probeRef = ctx.addMutableState(classOf[DvProbe].getName, "dvProbe",
      v => s"$v = ((${classOf[DvMarks].getName}) $bc.value()).probe();")
    val p = path.genCode(ctx)
    val i = pos.genCode(ctx)
    ev.copy(code = code"""
      |${p.code}
      |${i.code}
      |boolean ${ev.value} = ${p.isNull} || ${i.isNull} ||
      |  !$probeRef.marked(${p.value}, ${i.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvKeep = copy(path = newLeft, pos = newRight)
}
