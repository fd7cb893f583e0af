package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType}

import graft.geom.{Algos, Geom, WKB}

/** In-memory grid index over the geometries of one small spatial-join side,
  * probed row by row by the other side ([[SJoin]]'s index path).
  *
  * Entry `i` is the i-th indexed geometry. A probe geometry `p` matches
  * entry `e` when the same [[Algos]] predicate `st_within` / `st_contains` /
  * `st_intersects` evaluates holds with the join's argument order:
  * `pred(e, p)` when the indexed side is the join's left, else `pred(p, e)`.
  * Null and empty geometries, on either side, match nothing.
  *
  * Layout: each entry's bbox, padded by the kernel's 1e-12 epsilon, covers
  * a range of square cells anchored at the lower-left corner of all padded
  * bboxes. The cell edge is the median bbox extent of the entries (for
  * point-like sides, the total extent over √n), so a typical entry covers at
  * most 2 × 2 cells. An entry that would cover more than [[GridIndex.MaxCells]]
  * cells joins the `wide` list that every probe walks, so the index holds at
  * most MaxCells × n cell entries: one world-sized polygon among small ones
  * costs one list slot, not the world's cells. A probe visits the cells of
  * its own bbox and, within each, only the entries whose padded bbox
  * overlaps it and whose reference cell (the one holding the lower-left
  * corner of the two bboxes' intersection) is that cell, so each candidate
  * is tested once; a probe covering more cells than there are entries walks
  * the entries instead. Every predicate implies bbox contact within the
  * epsilon, so the padded cover never drops a pair the predicate accepts.
  *
  * Immutable after construction, so concurrent tasks share one instance.
  */
private[graft] final class GridIndex private (
    predicate: String,
    indexedLeft: Boolean,
    geoms: Array[Geom],
    boxes: Array[Double],
    cell: Double,
    ox: Double,
    oy: Double,
    nx: Long,
    ny: Long,
    keys: Array[Long],
    starts: Array[Int],
    ids: Array[Int],
    wide: Array[Int]) extends Serializable {

  /** Cell entries plus wide entries: at most [[GridIndex.MaxCells]] per
    * indexed geometry.
    */
  def size: Int = ids.length + wide.length

  /** Whether `wkb` matches any entry (false for null). */
  def any(wkb: Array[Byte]): Boolean = wkb != null && {
    val p = WKB.read(wkb)
    var hit = false
    visit(p) { i => hit = holds(i, p); hit }
    hit
  }

  /** The smallest entry `wkb` matches, or -1 (also for null). */
  def first(wkb: Array[Byte]): Int = {
    var best = Int.MaxValue
    if (wkb != null) {
      val p = WKB.read(wkb)
      visit(p) { i => if (i < best && holds(i, p)) best = i; false }
    }
    if (best == Int.MaxValue) -1 else best
  }

  /** Every entry `wkb` matches, ascending (empty for null). */
  def all(wkb: Array[Byte]): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    if (wkb != null) {
      val p = WKB.read(wkb)
      visit(p) { i => if (holds(i, p)) out += i; false }
    }
    val a = out.result()
    java.util.Arrays.sort(a)
    UnsafeArrayData.fromPrimitiveArray(a)
  }

  private def holds(i: Int, p: Geom): Boolean =
    if (indexedLeft) test(geoms(i), p) else test(p, geoms(i))

  private def test(a: Geom, b: Geom): Boolean = predicate match {
    case "within" => Algos.within(a, b)
    case "contains" => Algos.contains(a, b)
    case _ => Algos.intersects(a, b)
  }

  private def cellX(x: Double): Long = math.floor((x - ox) / cell).toLong
  private def cellY(y: Double): Long = math.floor((y - oy) / cell).toLong

  /** Calls `f` once per entry whose padded bbox overlaps `p`'s, in cell
    * order, until `f` returns true.
    */
  private def visit(p: Geom)(f: Int => Boolean): Unit = {
    val (px1, py1, px2, py2) = p.bbox
    if (!GridIndex.finite(px1, py1, px2, py2)) return
    def overlaps(i: Int): Boolean =
      boxes(4 * i) <= px2 && px1 <= boxes(4 * i + 2) &&
        boxes(4 * i + 1) <= py2 && py1 <= boxes(4 * i + 3)
    val cx1 = math.max(0L, cellX(px1)); val cx2 = math.min(nx - 1, cellX(px2))
    val cy1 = math.max(0L, cellY(py1)); val cy2 = math.min(ny - 1, cellY(py2))
    val cells = if (cx1 > cx2 || cy1 > cy2) 0L else (cx2 - cx1 + 1) * (cy2 - cy1 + 1)
    if (cells > geoms.length) {
      var i = 0
      while (i < geoms.length) { if (overlaps(i) && f(i)) return; i += 1 }
      return
    }
    var w = 0
    while (w < wide.length) { if (overlaps(wide(w)) && f(wide(w))) return; w += 1 }
    var cx = cx1
    while (cx <= cx2 && cells > 0) {
      var cy = cy1
      while (cy <= cy2) {
        val k = java.util.Arrays.binarySearch(keys, (cx << 32) | cy)
        if (k >= 0) {
          var j = starts(k)
          while (j < starts(k + 1)) {
            val i = ids(j)
            if (overlaps(i) &&
                cellX(math.max(px1, boxes(4 * i))) == cx &&
                cellY(math.max(py1, boxes(4 * i + 1))) == cy && f(i)) return
            j += 1
          }
        }
        cy += 1
      }
      cx += 1
    }
  }
}

private[graft] object GridIndex {

  /** Cells one entry may cover before it moves to the wide list. */
  private val MaxCells = 64

  private val Eps = 1e-12

  private def finite(x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
    !(x1.isNaN || x1.isInfinite || y1.isNaN || y1.isInfinite ||
      x2.isNaN || x2.isInfinite || y2.isNaN || y2.isInfinite)

  /** Index of `wkbs` (nulls allowed) for `predicate` (intersects | within |
    * contains); `indexedLeft` says whether the indexed side is the join's
    * left argument.
    */
  def apply(wkbs: Array[Array[Byte]], predicate: String, indexedLeft: Boolean): GridIndex = {
    val n = wkbs.length
    val geoms = wkbs.map(b => if (b == null) null else WKB.read(b))
    val boxes = Array.fill(4 * n)(Double.NaN) // NaN boxes overlap nothing
    for (i <- 0 until n if geoms(i) != null) {
      val (x1, y1, x2, y2) = geoms(i).bbox
      if (finite(x1, y1, x2, y2)) {
        boxes(4 * i) = x1 - Eps; boxes(4 * i + 1) = y1 - Eps
        boxes(4 * i + 2) = x2 + Eps; boxes(4 * i + 3) = y2 + Eps
      }
    }
    val live = (0 until n).filterNot(i => boxes(4 * i).isNaN)
    if (live.isEmpty)
      return new GridIndex(predicate, indexedLeft, geoms, boxes, 1.0, 0.0, 0.0, 0L, 0L,
        Array.empty, Array(0), Array.empty, Array.empty)
    def bound(k: Int, pick: (Double, Double) => Double) = live.map(i => boxes(4 * i + k)).reduce(pick)
    val (ox, oy) = (bound(0, math.min), bound(1, math.min))
    val span = math.max(bound(2, math.max) - ox, bound(3, math.max) - oy)
    val extents = live.map { i => val (x1, y1, x2, y2) = geoms(i).bbox; math.max(x2 - x1, y2 - y1) }
      .sorted
    val median = extents(extents.length / 2)
    // point-like sides: about one entry per cell over the whole extent; the
    // floor keeps cell coordinates inside their 32-bit halves of the key
    val c0 = if (median > 0) median else span / math.ceil(math.sqrt(live.length))
    val c1 = math.max(c0, span / (1 << 30))
    val cell = if (c1 > 0) c1 else 1.0 // every live entry is one point
    def cx(x: Double) = math.floor((x - ox) / cell).toLong
    def cy(y: Double) = math.floor((y - oy) / cell).toLong
    val cellsOf = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuilder.ofInt]
    val wide = new scala.collection.mutable.ArrayBuilder.ofInt
    var nx, ny = 0L
    live.foreach { i =>
      val (x1, y1) = (cx(boxes(4 * i)), cy(boxes(4 * i + 1)))
      val (x2, y2) = (cx(boxes(4 * i + 2)), cy(boxes(4 * i + 3)))
      nx = math.max(nx, x2 + 1); ny = math.max(ny, y2 + 1)
      if ((x2 - x1 + 1) * (y2 - y1 + 1) > MaxCells) wide += i
      else for (x <- x1 to x2; y <- y1 to y2)
        cellsOf.getOrElseUpdate((x << 32) | y, new scala.collection.mutable.ArrayBuilder.ofInt) += i
    }
    val keys = cellsOf.keys.toArray.sorted
    val lists = keys.map(k => cellsOf(k).result())
    new GridIndex(predicate, indexedLeft, geoms, boxes, cell, ox, oy, nx, ny,
      keys, lists.scanLeft(0)(_ + _.length), lists.flatten, wide.result())
  }

  /** [[apply]], broadcast once to every executor. */
  def broadcast(spark: SparkSession, wkbs: Array[Array[Byte]], predicate: String,
      indexedLeft: Boolean): Broadcast[GridIndex] =
    spark.sparkContext.broadcast(GridIndex(wkbs, predicate, indexedLeft))

  /** `index` probed with `geom`: `any` (BOOLEAN, false for a null geometry),
    * `first` (INT, null when nothing matches) or `all` (ARRAY<INT>,
    * ascending, empty when nothing matches).
    */
  def probe(index: Broadcast[GridIndex], mode: String, geom: Column): Column =
    ColumnBridge.column(IndexProbe(ColumnBridge.expression(geom), index, mode))
}

/** A probe of a broadcast [[GridIndex]] with each row's WKB `child`; see
  * [[GridIndex.probe]] for the three modes. Generated code reads the index
  * once per partition and calls it directly, so the probe stays inside
  * WholeStageCodegen.
  */
private[graft] case class IndexProbe(child: Expression, index: Broadcast[GridIndex], mode: String)
    extends UnaryExpression {

  override def dataType: DataType = mode match {
    case "any" => BooleanType
    case "first" => IntegerType
    case _ => ArrayType(IntegerType, containsNull = false)
  }
  override def nullable: Boolean = mode == "first"
  override def prettyName: String = s"grid_probe_$mode"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def eval(input: InternalRow): Any = {
    val b = child.eval(input).asInstanceOf[Array[Byte]]
    mode match {
      case "any" => index.value.any(b)
      case "first" => val i = index.value.first(b); if (i < 0) null else i
      case _ => index.value.all(b)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[GridIndex].getName
    val bc = ctx.addReferenceObj("gridIndex", index)
    val idx = ctx.addMutableState(cls, "gridIndex", v => s"$v = ($cls) $bc.value();",
      forceInline = true)
    val c = child.genCode(ctx)
    val arg = s"${c.isNull} ? null : ${c.value}"
    mode match {
      case "any" => ev.copy(code = code"""
        ${c.code}
        boolean ${ev.value} = $idx.any($arg);""", isNull = FalseLiteral)
      case "first" => ev.copy(code = code"""
        ${c.code}
        int ${ev.value} = $idx.first($arg);
        boolean ${ev.isNull} = ${ev.value} < 0;""")
      case _ => ev.copy(code = code"""
        ${c.code}
        ${classOf[ArrayData].getName} ${ev.value} = $idx.all($arg);""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): IndexProbe =
    copy(child = newChild)
}
