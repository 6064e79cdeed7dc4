package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, BinaryExpression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge.{expression => exprOf, column => colOf}
import graft.core.{GridIndex, S2, Hex}

/**
 * Column-level spatial functions (SURVEY §2.10).
 *
 * `gridCellId` is deliberately NOT a custom expression: the planar cell
 * key is plain integer math over built-ins, so it stays inside
 * WholeStageCodegen and Catalyst can constant-fold / push around it —
 * "functions, not UDFs". It mirrors graft.core.GridIndex bit-for-bit
 * (property-tested in SpatialFunctionsSpec).
 *
 * PIP and the spherical encoders are custom Catalyst expressions with
 * doGenCode static-call codegen (k-ring generators stay CodegenFallback:
 * they feed an explode, not a hot scalar loop).
 */
object SpatialFunctions {

  /** Planar grid cell id as pure column math; mirrors GridIndex.cellId. */
  def gridCellId(x: Column, y: Column, res: Int): Column = {
    val size = GridIndex.cellSize(res).toDouble
    val lim  = (1L << res) - 1
    def axis(c: Column): Column =
      greatest(lit(0L), least(lit(lim),
        floor((c + lit(GridIndex.Offset.toDouble)) / lit(size)).cast(LongType)))
    lit(res.toLong << 40) + shiftleft(axis(x), 20) + axis(y)
  }

  /** S2 cell id at `level` from (lat, lng) degree columns. */
  def s2CellId(lat: Column, lng: Column, level: Int): Column =
    colOf(S2CellIdExpr(exprOf(lat), exprOf(lng), exprOf(lit(level))))

  /** H3-style hex cell id at `res` from planar (x, y) columns. */
  def hexCellId(x: Column, y: Column, res: Int): Column =
    colOf(HexCellIdExpr(exprOf(x), exprOf(y), exprOf(lit(res))))

  // ---- latitude-aware entry points (reference raster.py:647-648:
  //      meters-per-degree-longitude = 111320 * cos(lat)) — pure column
  //      math over the planar encoders, so codegen/pushdown carry over.

  /** Equirectangular planar x (64 m world units) from lat/lng degrees. */
  def geoX(lat: Column, lng: Column): Column =
    lng * lit(graft.core.GeoScale.DegScale) * cos(radians(lat))

  /** Planar y (64 m world units) from latitude degrees. */
  def geoY(lat: Column): Column = lat * lit(graft.core.GeoScale.DegScale)

  /** Grid cell id straight from lat/lng — cells span 2^(26-res) ground
    * meters, east-west exact at every latitude. */
  def gridCellIdGeo(lat: Column, lng: Column, res: Int): Column =
    gridCellId(geoX(lat, lng), geoY(lat), res)

  /** Hex cell id straight from lat/lng (same k-ring algebra as planar). */
  def hexCellIdGeo(lat: Column, lng: Column, res: Int): Column =
    hexCellId(geoX(lat, lng), geoY(lat), res)

  /** Array of grid cells within Chebyshev distance k (kNN expansion). */
  def gridKRing(cell: Column, k: Int): Column =
    colOf(GridKRingExpr(exprOf(cell), exprOf(lit(k))))

  /** Array of hex cells within hex distance k. */
  def hexKRing(cell: Column, k: Int): Column =
    colOf(HexKRingExpr(exprOf(cell), exprOf(lit(k))))

  /** Exact point-in-polygon over a rings column
    * ARRAY<ARRAY<STRUCT<x:DOUBLE, y:DOUBLE>>> (ray cast + winding
    * fallback; boundary = inside). */
  def pointInPolygon(x: Column, y: Column, rings: Column): Column =
    colOf(PointInPolygonExpr(exprOf(x), exprOf(y), exprOf(rings)))
}

/** SQL-door form of gridCellId (the Column API composes built-ins and
  * stays preferable; SQL function resolution needs a self-contained
  * resolved expression). Codegen'd static call. */
case class GridCellIdExpr(x: Expression, y: Expression, res: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = res
  override def dataType: DataType = LongType
  override def nullSafeEval(xv: Any, yv: Any, rv: Any): Any =
    GridIndex.cellId(xv.asInstanceOf[Double], yv.asInstanceOf[Double], rv.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.GridIndex.cellId($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(x = a, y = b, res = c)
  override def prettyName: String = "grid_cell_id"
}

/** Codegen'd via a static call — stays inside WholeStageCodegen. */
case class S2CellIdExpr(lat: Expression, lng: Expression, level: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def first: Expression = lat
  override def second: Expression = lng
  override def third: Expression = level
  override def dataType: DataType = LongType
  override def nullSafeEval(latV: Any, lngV: Any, levV: Any): Any =
    S2.cellId(latV.asInstanceOf[Double], lngV.asInstanceOf[Double], levV.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.S2.cellId($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(lat = a, lng = b, level = c)
  override def prettyName: String = "s2_cell_id"
}

case class HexCellIdExpr(x: Expression, y: Expression, res: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = res
  override def dataType: DataType = LongType
  override def nullSafeEval(xv: Any, yv: Any, rv: Any): Any =
    Hex.cellId(xv.asInstanceOf[Double], yv.asInstanceOf[Double], rv.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.core.Hex.cellId($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(x = a, y = b, res = c)
  override def prettyName: String = "hex_cell_id"
}

case class GridKRingExpr(cell: Expression, k: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = cell
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(c: Any, kv: Any): Any =
    new GenericArrayData(GridIndex.kRing(c.asInstanceOf[Long], kv.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(cell = l, k = r)
  override def prettyName: String = "grid_k_ring"
}

case class HexKRingExpr(cell: Expression, k: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = cell
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(c: Any, kv: Any): Any =
    new GenericArrayData(Hex.kRing(c.asInstanceOf[Long], kv.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(cell = l, k = r)
  override def prettyName: String = "hex_k_ring"
}

/** Allocation-free eval over ArrayData (PipRuntime) + codegen via a
  * static call: the refine predicate of the prefilter join runs inside
  * WholeStageCodegen with zero per-row materialization. */
case class PointInPolygonExpr(x: Expression, y: Expression, rings: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(DoubleType, DoubleType, ArrayType(ArrayType(StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType))))))
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = rings
  override def dataType: DataType = BooleanType
  override def nullSafeEval(xv: Any, yv: Any, rv: Any): Any =
    PipRuntime.eval(xv.asInstanceOf[Double], yv.asInstanceOf[Double],
      rv.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.PipRuntime.eval($a, $b, $c)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(x = a, y = b, rings = c)
  override def prettyName: String = "st_point_in_polygon"
}
