package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the cell/tile/geodesic math. Each generates
 * a single static call inside whole-stage codegen (no boxing, no UDF
 * serialization), which is what keeps the spatial-join key computation on the
 * scan side of the shuffle at full codegen speed.
 *
 * Semantics mirror the reference's covering/tile/unit rules:
 *  - coverings: src/diagonal.works/b6/search/spatial.go:10-113
 *  - tile cover: src/diagonal.works/b6/tiles.go:259-343
 *  - earth radius 6371010 m: src/diagonal.works/b6/units/units.go:7
 */
object CellExprs {

  case class CellOf(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_of"
    override protected def nullSafeEval(lat: Any, lng: Any, lvl: Any): Any =
      graft.core.Cells.cellOf(lat.asInstanceOf[Double], lng.asInstanceOf[Double], lvl.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.Cells.cellOf($a, $b, $c)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(f, s, t)
  }

  case class CellParentAt(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_parent_at"
    override protected def nullSafeEval(c: Any, l: Any): Any =
      graft.core.Cells.parentAt(c.asInstanceOf[Long], l.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.Cells.parentAt($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class CellLevel(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "cell_level"
    override protected def nullSafeEval(c: Any): Any = graft.core.Cells.level(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.core.Cells.level($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellCenterLat(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cell_center_lat"
    override protected def nullSafeEval(c: Any): Any = graft.core.Cells.centerLat(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.core.Cells.centerLat($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellCenterLng(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cell_center_lng"
    override protected def nullSafeEval(c: Any): Any = graft.core.Cells.centerLng(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.core.Cells.centerLng($a)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellAncestors(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_ancestors"
    override protected def nullSafeEval(c: Any): Any =
      new GenericArrayData(graft.core.Cells.ancestors(c.asInstanceOf[Long]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.Cells.ancestors($a))")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class CellNeighborDisk(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_neighbor_disk"
    override protected def nullSafeEval(c: Any, r: Any): Any =
      new GenericArrayData(graft.core.Cells.neighborDisk(c.asInstanceOf[Long], r.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.Cells.neighborDisk($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Cells.normalizeToLevel: the cell's ancestor at a finer-or-equal level,
    * or all its descendants at a finer one — single-level join keys for
    * mixed-level coverings. */
  case class CellNormalizeToLevel(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_normalize_to_level"
    override protected def nullSafeEval(c: Any, l: Any): Any =
      new GenericArrayData(graft.core.Cells.normalizeToLevel(c.asInstanceOf[Long], l.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.Cells.normalizeToLevel($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class CellCoveringWkb(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_covering"
    override protected def nullSafeEval(wkb: Any, maxLevel: Any, maxCells: Any): Any =
      new GenericArrayData(graft.core.GeoOps.coveringWkb(
        wkb.asInstanceOf[Array[Byte]], maxLevel.asInstanceOf[Int], maxCells.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.GeoOps.coveringWkb($a, $b, $c))")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(f, s, t)
  }

  /** Interior/boundary split of a covering (GeoOps.splitCovering) as
    * array<struct<cell, interior>>: the polygon side of the point-in-polygon
    * join, where interior cells need no exact refine. */
  case class CellSplitCovering(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(SplitCellType, containsNull = false)
    override def prettyName: String = "cell_split_covering"
    override protected def nullSafeEval(wkb: Any, covering: Any): Any =
      splitCoveringData(wkb.asInstanceOf[Array[Byte]], covering.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CellExprs.splitCoveringData($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  val SplitCellType: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("interior", BooleanType, nullable = false)))

  def splitCoveringData(wkb: Array[Byte], covering: ArrayData): ArrayData = {
    val cells = (0 until covering.numElements()).filterNot(covering.isNullAt).map(covering.getLong)
    val split = graft.core.GeoOps.splitCovering(graft.core.GeoOps.fromWkb(wkb), cells.toArray)
    new GenericArrayData(split.map { case (c, in) => InternalRow(c, in) })
  }

  case class WkbCoversPoint(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "wkb_covers_point"
    override protected def nullSafeEval(wkb: Any, lat: Any, lng: Any): Any =
      graft.core.GeoOps.wkbCoversPoint(
        wkb.asInstanceOf[Array[Byte]], lat.asInstanceOf[Double], lng.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.GeoOps.wkbCoversPoint($a, $b, $c)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(f, s, t)
  }

  case class WkbIntersects(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "wkb_intersects"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      graft.core.GeoOps.wkbIntersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.GeoOps.wkbIntersects($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** s2-grid analogue (api/functions/s2.go:30-44): single-level sorted cell
    * grid intersecting a geometry. */
  case class CellGrid(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_grid"
    override protected def nullSafeEval(wkb: Any, lvl: Any): Any =
      new GenericArrayData(graft.core.GeoOps.gridAtLevel(
        wkb.asInstanceOf[Array[Byte]], lvl.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.GeoOps.gridAtLevel($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** s2-polygon analogue (api/functions/s2.go:66-74): cell boundary as WKB. */
  case class CellPolygon(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "cell_polygon"
    override protected def nullSafeEval(c: Any): Any =
      graft.core.GeoOps.cellPolygonWkb(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.core.GeoOps.cellPolygonWkb($c)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  case class HaversineM(children: Seq[Expression]) extends Expression {
    require(children.length == 4, "haversine_m(lat1, lng1, lat2, lng2)")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = children.exists(_.nullable)
    override def prettyName: String = "haversine_m"
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) null
      else graft.core.GeoOps.haversineMeters(
        vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
        vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val evs = children.map(_.genCode(ctx))
      val childCode = evs.map(_.code).reduce(_ + _)
      val nullCheck = evs.map(_.isNull.toString).mkString(" || ")
      val call = s"graft.core.GeoOps.haversineMeters(${evs.map(_.value).mkString(", ")})"
      ev.copy(code =
        code"""
          $childCode
          boolean ${ev.isNull} = $nullCheck;
          double ${ev.value} = ${ev.isNull} ? 0.0 : $call;
        """)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
  }

  case class TileXExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_x"
    override protected def nullSafeEval(lng: Any, z: Any): Any =
      graft.core.GeoOps.tileX(lng.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.GeoOps.tileX($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class TileYExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "tile_y"
    override protected def nullSafeEval(lat: Any, z: Any): Any =
      graft.core.GeoOps.tileY(lat.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.core.GeoOps.tileY($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class TileCoverWkbExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "tile_cover"
    override protected def nullSafeEval(wkb: Any, z: Any): Any =
      new GenericArrayData(graft.core.GeoOps.tileCoverWkb(wkb.asInstanceOf[Array[Byte]], z.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.GeoOps.tileCoverWkb($a, $b))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  }

  // ---- registration + Column API -------------------------------------------

  private def asD(e: Expression): Expression = Cast(e, DoubleType)
  private def asI(e: Expression): Expression = Cast(e, IntegerType)
  private def asL(e: Expression): Expression = Cast(e, LongType)

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cell_of" -> (es => CellOf(asD(es(0)), asD(es(1)), asI(es(2)))),
    "cell_parent_at" -> (es => CellParentAt(asL(es(0)), asI(es(1)))),
    "cell_level" -> (es => CellLevel(asL(es(0)))),
    "cell_center_lat" -> (es => CellCenterLat(asL(es(0)))),
    "cell_center_lng" -> (es => CellCenterLng(asL(es(0)))),
    "cell_ancestors" -> (es => CellAncestors(asL(es(0)))),
    "cell_neighbor_disk" -> (es => CellNeighborDisk(asL(es(0)), asI(es(1)))),
    "cell_normalize_to_level" -> (es => CellNormalizeToLevel(asL(es(0)), asI(es(1)))),
    "cell_covering" -> (es => CellCoveringWkb(es(0), asI(es(1)), asI(es(2)))),
    "cell_split_covering" -> (es => CellSplitCovering(es(0), Cast(es(1), ArrayType(LongType)))),
    "wkb_covers_point" -> (es => WkbCoversPoint(es(0), asD(es(1)), asD(es(2)))),
    "wkb_intersects" -> (es => WkbIntersects(es(0), es(1))),
    "haversine_m" -> (es => HaversineM(es.map(asD))),
    "tile_x" -> (es => TileXExpr(asD(es(0)), asI(es(1)))),
    "tile_y" -> (es => TileYExpr(asD(es(0)), asI(es(1)))),
    "tile_cover" -> (es => TileCoverWkbExpr(es(0), asI(es(1)))),
    "cell_grid" -> (es => CellGrid(es(0), asI(es(1)))),
    "cell_polygon" -> (es => CellPolygon(asL(es(0)))),
  )

  /** Expression builders by SQL name (shared with GraftExtensions). */
  def registrations: Seq[(String, Seq[Expression] => Expression)] = builders

  /** Register all graft expressions in the session's function registry. Idempotent. */
  def install(spark: SparkSession): Unit = builders.foreach { case (name, b) =>
    val ident = new org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!spark.sessionState.functionRegistry.functionExists(ident)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def cell_of(lat: Column, lng: Column, level: Column): Column = call_function("cell_of", lat, lng, level)
  def cell_parent_at(cell: Column, level: Column): Column = call_function("cell_parent_at", cell, level)
  def cell_level(cell: Column): Column = call_function("cell_level", cell)
  def cell_ancestors(cell: Column): Column = call_function("cell_ancestors", cell)
  def cell_neighbor_disk(cell: Column, r: Column): Column = call_function("cell_neighbor_disk", cell, r)
  def cell_covering(wkb: Column, maxLevel: Column, maxCells: Column): Column =
    call_function("cell_covering", wkb, maxLevel, maxCells)
  /** Single-level keys of a cell: see [[CellNormalizeToLevel]]. */
  def cell_normalize_to_level(cell: Column, level: Column): Column =
    call_function("cell_normalize_to_level", cell, level)
  /** Interior/boundary split of a covering: see [[CellSplitCovering]]. */
  def cell_split_covering(wkb: Column, covering: Column): Column =
    call_function("cell_split_covering", wkb, covering)
  def wkb_covers_point(wkb: Column, lat: Column, lng: Column): Column =
    call_function("wkb_covers_point", wkb, lat, lng)
  def wkb_intersects(a: Column, b: Column): Column = call_function("wkb_intersects", a, b)
  def haversine_m(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column =
    call_function("haversine_m", lat1, lng1, lat2, lng2)
  /** s2-center analogue: cell centroid (functions/s2.go:13-74). */
  def cell_center_lat(cell: Column): Column = call_function("cell_center_lat", cell)
  def cell_center_lng(cell: Column): Column = call_function("cell_center_lng", cell)
  def tile_x(lng: Column, zoom: Column): Column = call_function("tile_x", lng, zoom)
  def tile_y(lat: Column, zoom: Column): Column = call_function("tile_y", lat, zoom)
  def tile_cover(wkb: Column, zoom: Column): Column = call_function("tile_cover", wkb, zoom)
  /** s2-grid analogue: single-level sorted cell grid of a geometry. */
  def cell_grid(wkb: Column, level: Column): Column = call_function("cell_grid", wkb, level)
  /** s2-polygon analogue: cell boundary polygon (WKB). */
  def cell_polygon(cell: Column): Column = call_function("cell_polygon", cell)
}
