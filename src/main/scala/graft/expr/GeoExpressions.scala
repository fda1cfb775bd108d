package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.{Cells, CentreTree, CoverIndex, Tiling}

/** Catalyst codegen scalar kernels (SURVEY.md §2-I). Each expression
  * emits a call to a static forwarder in [[RT]]/[[graft.geo.Cells]]/
  * [[graft.geo.Tiling]], keeping whole-stage codegen fused (no boxing,
  * no closure dispatch — unlike a Scala UDF). */

/** cell_encode(lat7, lon7, level) → BIGINT quadcell id. */
case class CellEncodeExpr(lat: Expression, lon: Expression, level: Expression)
    extends TernaryExpression {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = level
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Cells.encode(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geo.Cells.encode($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CellEncodeExpr = copy(f, s, t)
}

/** cell_ancestor(cell, level) → BIGINT ancestor cell at coarser level. */
case class CellAncestorExpr(cell: Expression, level: Expression)
    extends BinaryExpression {
  override def left: Expression = cell
  override def right: Expression = level
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Cells.ancestor(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.geo.Cells.ancestor($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellAncestorExpr = copy(l, r)
}

/** cell_ring(cell, k) → ARRAY<BIGINT> of cells at Chebyshev distance k. */
case class CellRingExpr(cell: Expression, k: Expression)
    extends BinaryExpression {
  override def left: Expression = cell
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    RT.cellRing(a.asInstanceOf[Long], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.RT.cellRing($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellRingExpr = copy(l, r)
}

/** tile_zxy(lat7, lon7, zoom) → BIGINT packed Web-Mercator z/x/y tile. */
case class TileZXYExpr(lat: Expression, lon: Expression, zoom: Expression)
    extends TernaryExpression {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = zoom
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Tiling.tile(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geo.Tiling.tile($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TileZXYExpr = copy(f, s, t)
}

/** point_in_rings(lon7, lat7, rings ARRAY<ARRAY<BIGINT>>) → BOOLEAN
  * even-odd ray cast with on-boundary = inside. */
case class PointInRingsExpr(lon: Expression, lat: Expression, rings: Expression)
    extends TernaryExpression {
  override def first: Expression = lon
  override def second: Expression = lat
  override def third: Expression = rings
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    RT.pointInRings(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.expr.RT.pointInRings($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PointInRingsExpr = copy(f, s, t)
}

/** geoparse_packed(text) → BIGINT packed (lat7,lon7) of the first
  * coordinate mention, NULL when none. Read-only byte scan — the text
  * column itself passes through byte-identical (north-rule invariant). */
case class GeoparseExpr(text: Expression)
    extends UnaryExpression {
  override def child: Expression = text
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(t: Any): Any = {
    val r = RT.geoparse(t.asInstanceOf[UTF8String])
    if (r == RT.NoCoord) null else r
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"""
      ${ev.value} = graft.expr.RT.geoparse($t);
      if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(c: Expression): GeoparseExpr = copy(c)
}

/** knn_top(pts ARRAY<STRUCT<lat7,lon7>>) → ARRAY<BIGINT>: the top-k
  * centre relation ids by (d2, rel) over every (point, centre) pair —
  * the dense-kNN kernel ([[RT.knnTop]]). The centre table rides as
  * driver-constant reference arrays (NOT literal children — same
  * rationale as IvfTopExpr: a 1000-row literal bloats stringification,
  * canonicalization and constant folding). */
case class KnnTopExpr(pts: Expression, rels: Array[Long], lats: Array[Long],
    lons: Array[Long], k: Int) extends UnaryExpression {
  override def child: Expression = pts
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any): Any =
    RT.knnTop(a.asInstanceOf[ArrayData], rels, lats, lons, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rRef = ctx.addReferenceObj("knnRels", rels, "long[]")
    val laRef = ctx.addReferenceObj("knnLats", lats, "long[]")
    val loRef = ctx.addReferenceObj("knnLons", lons, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.RT.knnTop($c, $rRef, $laRef, $loRef, $k)")
  }
  override protected def withNewChildInternal(c: Expression): KnnTopExpr =
    copy(pts = c)
}

/** knn_tree(pts ARRAY<STRUCT<lat7,lon7>>) → ARRAY<BIGINT>: knn_top's
  * result, searched in a [[CentreTree]] ([[RT.knnTree]]) — the kNN
  * kernel above the dense bound. The tree rides as ONE Spark broadcast,
  * not as plan constants: tasks carry only its handle, and each
  * generated-code instance resolves the executor's copy once. */
case class KnnTreeExpr(pts: Expression, tree: Broadcast[CentreTree], k: Int)
    extends UnaryExpression {
  override def child: Expression = pts
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any): Any =
    RT.knnTree(a.asInstanceOf[ArrayData], tree.value, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[CentreTree].getName
    val bRef = ctx.addReferenceObj("knnTreeBc", tree, classOf[Broadcast[_]].getName)
    val t = ctx.addMutableState(cls, "knnTree", v => s"$v = ($cls) $bRef.value();")
    defineCodeGen(ctx, ev, c => s"graft.expr.RT.knnTree($c, $t, $k)")
  }
  override protected def withNewChildInternal(c: Expression): KnnTreeExpr =
    copy(pts = c)
}

/** cover_probe(lat7, lon7) → ARRAY<BIGINT>: the containment kernel
  * ([[RT.coverProbe]]) — the relations whose cover holds the point, one
  * entry per matching cover row, or with `fallback` the point's
  * fallback-cell candidates. Meant for `explode`: in generated code the
  * array is a per-task buffer that the next row overwrites. The
  * [[CoverIndex]] rides as ONE Spark broadcast, resolved once per
  * generated-code instance (as [[KnnTreeExpr]] does). */
case class CoverProbeExpr(lat: Expression, lon: Expression,
    index: Broadcast[CoverIndex], fallback: Boolean) extends BinaryExpression {
  override def left: Expression = lat
  override def right: Expression = lon
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    RT.coverProbe(a.asInstanceOf[Long], b.asInstanceOf[Long], index.value,
      fallback, new CoverProbeOut).copy()
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[CoverIndex].getName
    val bRef = ctx.addReferenceObj("coverIndexBc", index, classOf[Broadcast[_]].getName)
    val idx = ctx.addMutableState(cls, "coverIndex", v => s"$v = ($cls) $bRef.value();")
    val outCls = classOf[CoverProbeOut].getName
    val out = ctx.addMutableState(outCls, "coverProbeOut", v => s"$v = new $outCls();")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expr.RT.coverProbe($a, $b, $idx, $fallback, $out)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CoverProbeExpr = copy(lat = l, lon = r)
}

/** Column-level API + SQL registration for the kernels. */
object GeoFunctions {
  import org.apache.spark.sql.graftbridge.{column, expression}

  def cell_encode(lat7: Column, lon7: Column, level: Column): Column =
    column(CellEncodeExpr(expression(lat7), expression(lon7), expression(level)))
  def cell_ancestor(cell: Column, level: Column): Column =
    column(CellAncestorExpr(expression(cell), expression(level)))
  def cell_ring(cell: Column, k: Column): Column =
    column(CellRingExpr(expression(cell), expression(k)))
  def tile_zxy(lat7: Column, lon7: Column, zoom: Column): Column =
    column(TileZXYExpr(expression(lat7), expression(lon7), expression(zoom)))
  def point_in_rings(lon7: Column, lat7: Column, rings: Column): Column =
    column(PointInRingsExpr(expression(lon7), expression(lat7), expression(rings)))
  def point_in_cell(lon7: Column, lat7: Column, cell: Column,
      cornerInside: Column, edges: Column): Column =
    column(PointInCellExpr(expression(lon7), expression(lat7), expression(cell),
      expression(cornerInside), expression(edges)))
  def geoparse_packed(text: Column): Column =
    column(GeoparseExpr(expression(text)))
  def knn_top(pts: Column, rels: Array[Long], lats: Array[Long],
      lons: Array[Long], k: Int): Column =
    column(KnnTopExpr(expression(pts), rels, lats, lons, k))
  def knn_tree(pts: Column, tree: Broadcast[CentreTree], k: Int): Column =
    column(KnnTreeExpr(expression(pts), tree, k))
  def cover_probe(lat7: Column, lon7: Column, index: Broadcast[CoverIndex],
      fallback: Boolean): Column =
    column(CoverProbeExpr(expression(lat7), expression(lon7), index, fallback))
  def packed_lat7(p: Column): Column = {
    import org.apache.spark.sql.functions._
    shiftrightunsigned(p, 32) - 900000000L
  }
  def packed_lon7(p: Column): Column = {
    import org.apache.spark.sql.functions._
    p.bitwiseAND(0xffffffffL) - 1800000000L
  }

  /** Register SQL names (idempotent) so spark.sql can call the kernels. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cell_encode",
      es => CellEncodeExpr(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("cell_ancestor",
      es => CellAncestorExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("cell_ring",
      es => CellRingExpr(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("tile_zxy",
      es => TileZXYExpr(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("point_in_rings",
      es => PointInRingsExpr(es(0), es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("geoparse_packed",
      es => GeoparseExpr(es(0)), "built-in")
  }
}

/** point_in_cell(lon7, lat7, cell, corner_inside, edges ARRAY<BIGINT>) →
  * BOOLEAN — the localized refine (GeomCell.pointInCell): containment
  * from the cell's SW-corner parity plus only the cell-local edges, so
  * evaluation cost is independent of polygon size. */
case class PointInCellExpr(lon: Expression, lat: Expression, cell: Expression,
    cornerInside: Expression, edges: Expression) extends QuinaryExpression {
  override def children: Seq[Expression] = Seq(lon, lat, cell, cornerInside, edges)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    RT.pointInCell(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], d.asInstanceOf[Boolean], e.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c, d, e) => s"graft.expr.RT.pointInCell($a, $b, $c, $d, $e)")
  override protected def withNewChildrenInternal(
      ch: IndexedSeq[Expression]): PointInCellExpr =
    copy(ch(0), ch(1), ch(2), ch(3), ch(4))
}
