package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the ST_* surface (SURVEY §2.8). All are
  * codegen-enabled via static calls into [[GeoEval]], keeping geometry
  * work inside whole-stage codegen (no Scala-closure UDF overhead).
  */
object GeoExpressions {
  private val E = "graft.functions.GeoEval"

  abstract class GeoUnary extends UnaryExpression with Serializable
      with ImplicitCastInputTypes {
    override def nullIntolerant: Boolean = true
    /** expected child type: WKB binary for geometry inputs, string for
      * the text parsers. Without the declaration a wrong-typed SQL
      * argument passed analysis and failed per-row at execution —
      * ClassCastException interpreted, or silent widening in codegen.
      */
    def inputType: DataType = BinaryType
    override def inputTypes: Seq[DataType] = Seq(inputType)
    /** name of the GeoEval method; child codegen value is its single arg */
    def evalMethod: String
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.$evalMethod($c)")
  }

  case class StX(child: Expression) extends GeoUnary {
    def evalMethod = "stX"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stX(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StX = copy(c)
  }

  case class StY(child: Expression) extends GeoUnary {
    def evalMethod = "stY"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stY(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StY = copy(c)
  }

  case class StXMin(child: Expression) extends GeoUnary {
    def evalMethod = "stXMin"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stXMin(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StXMin = copy(c)
  }

  case class StYMin(child: Expression) extends GeoUnary {
    def evalMethod = "stYMin"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stYMin(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StYMin = copy(c)
  }

  case class StXMax(child: Expression) extends GeoUnary {
    def evalMethod = "stXMax"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stXMax(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StXMax = copy(c)
  }

  case class StYMax(child: Expression) extends GeoUnary {
    def evalMethod = "stYMax"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stYMax(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StYMax = copy(c)
  }

  case class StCentroid(child: Expression) extends GeoUnary {
    def evalMethod = "stCentroid"
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stCentroid(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StCentroid = copy(c)
  }

  case class StAsText(child: Expression) extends GeoUnary {
    def evalMethod = "stAsText"
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stAsText(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StAsText = copy(c)
  }

  case class StGeomFromText(child: Expression) extends GeoUnary {
    override def inputType: DataType = StringType
    def evalMethod = "stGeomFromText"
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stGeomFromText(v.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): StGeomFromText = copy(c)
  }

  /** TRY_CAST(wkt AS GEOMETRY): null (not error) on malformed input. */
  case class TryGeomFromText(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.tryGeomFromText(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val res = nullSafeCodeGen(ctx, ev, c =>
        s"""
           |${ev.value} = $E.tryGeomFromText($c);
           |if (${ev.value} == null) { ${ev.isNull} = true; }
         """.stripMargin)
      res
    }
    override protected def withNewChildInternal(c: Expression): TryGeomFromText = copy(c)
  }

  case class StGeomFromGeoJson(child: Expression) extends GeoUnary {
    override def inputType: DataType = StringType
    def evalMethod = "stGeomFromGeoJson"
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stGeomFromGeoJson(v.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): StGeomFromGeoJson = copy(c)
  }

  case class StAsGeoJson(child: Expression, precision: Int) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stAsGeoJson(v.asInstanceOf[Array[Byte]], precision)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.stAsGeoJson($c, $precision)")
    override protected def withNewChildInternal(c: Expression): StAsGeoJson =
      copy(child = c)
  }

  case class StGeometryType(child: Expression) extends GeoUnary {
    def evalMethod = "stGeometryType"
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stGeometryType(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StGeometryType = copy(c)
  }

  case class StIsValid(child: Expression) extends GeoUnary {
    def evalMethod = "stIsValid"
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stIsValid(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StIsValid = copy(c)
  }

  case class StIsEmpty(child: Expression) extends GeoUnary {
    def evalMethod = "stIsEmpty"
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stIsEmpty(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StIsEmpty = copy(c)
  }

  case class StNPoints(child: Expression) extends GeoUnary {
    def evalMethod = "stNPoints"
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stNPoints(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StNPoints = copy(c)
  }

  case class StReducePrecision(child: Expression, grid: Double)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stReducePrecision(v.asInstanceOf[Array[Byte]], grid)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.stReducePrecision($c, $grid)")
    override protected def withNewChildInternal(c: Expression): StReducePrecision =
      copy(child = c)
  }

  /** ST_Transform(geom, from, to) with CRS fixed at plan time
    * (reference reprojects whole files: `core/reproject.py:94-180`).
    */
  case class StTransform(child: Expression, from: String, to: String)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    private lazy val fromU = UTF8String.fromString(from)
    private lazy val toU = UTF8String.fromString(to)
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stTransform(v.asInstanceOf[Array[Byte]], fromU, toU)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val f = ctx.addReferenceObj("fromCrs", fromU)
      val t = ctx.addReferenceObj("toCrs", toU)
      defineCodeGen(ctx, ev, c => s"$E.stTransform($c, $f, $t)")
    }
    override protected def withNewChildInternal(c: Expression): StTransform =
      copy(child = c)
  }

  case class StPoint(left: Expression, right: Expression) extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeoEval.stPoint(x.asInstanceOf[Double], y.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (x, y) => s"$E.stPoint($x, $y)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Envelope polygon from four numeric bounds — replaces the
    * string-concat + WKT-parse anti-pattern for rectangle construction
    * (text codecs belong at the edges, not inside hot filters).
    */
  case class StMakeEnvelope(first: Expression, second: Expression,
      third: Expression, fourth: Expression) extends QuaternaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(DoubleType, DoubleType, DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      GeoEval.stMakeEnvelope(a.asInstanceOf[Double], b.asInstanceOf[Double],
        c.asInstanceOf[Double], d.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b, c, d) => s"$E.stMakeEnvelope($a, $b, $c, $d)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
        t: Expression, q: Expression): StMakeEnvelope = copy(f, s, t, q)
  }

  case class StDistance(left: Expression, right: Expression)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GeoEval.stDistance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$E.stDistance($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class StIntersects(left: Expression, right: Expression)
      extends BinaryExpression with Predicate with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GeoEval.stIntersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$E.stIntersects($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class StContains(left: Expression, right: Expression)
      extends BinaryExpression with Predicate with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GeoEval.stContains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$E.stContains($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Envelope-vs-literal-envelope test — the reference's spatial filter
    * "slow path" when no bbox column exists (`core/extract.py:576-579`).
    */
  case class EnvelopeIntersects(child: Expression, x0: Double, y0: Double,
      x1: Double, y1: Double) extends UnaryExpression with Predicate with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.envIntersects(v.asInstanceOf[Array[Byte]], x0, y0, x1, y1)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.envIntersects($c, $x0, $y0, $x1, $y1)")
    override protected def withNewChildInternal(c: Expression): EnvelopeIntersects =
      copy(child = c)
  }

  /** Hilbert index of a geometry over dataset bounds fixed at plan time —
    * phase 2 of the reference's two-phase hilbert sort
    * (`core/hilbert_order.py:80-113`).
    */
  case class HilbertIndex(child: Expression, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.hilbert(v.asInstanceOf[Array[Byte]], xmin, ymin, xmax, ymax)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.hilbert($c, $xmin, $ymin, $xmax, $ymax)")
    override protected def withNewChildInternal(c: Expression): HilbertIndex =
      copy(child = c)
  }

  /** Partition id of a sort key over split keys fixed at plan time
    * (ascending, distinct): a binary search in generated code, null keys
    * to partition 0 — the range partitioning of a global sort as an
    * explicit id for `Dataset.repartitionById`, so no sampling job runs
    * at execution and a retried task routes every row the same way.
    */
  case class RangeBucket(child: Expression, splits: Array[Long]) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val k = child.eval(input)
      if (k == null) 0 else GeoEval.rangeBucket(k.asInstanceOf[Long], splits)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("splits", splits, "long[]")
      ev.copy(code =
        code"""
          ${c.code}
          int ${ev.value} = ${c.isNull} ? 0 : $E.rangeBucket(${c.value}, $ref);
        """, isNull = FalseLiteral)
    }
    override def toString: String = s"range_bucket($child, ${splits.length} splits)"
    override protected def withNewChildInternal(c: Expression): RangeBucket =
      copy(child = c)
  }

  /** Hilbert index of raw x/y columns (geometry-free fast path). */
  case class HilbertIndexXY(left: Expression, right: Expression,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeoEval.hilbertXY(x.asInstanceOf[Double], y.asInstanceOf[Double],
        xmin, ymin, xmax, ymax)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (x, y) =>
        s"$E.hilbertXY($x, $y, $xmin, $ymin, $xmax, $ymax)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class MortonIndexXY(left: Expression, right: Expression,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeoEval.mortonXY(x.asInstanceOf[Double], y.asInstanceOf[Double],
        xmin, ymin, xmax, ymax)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (x, y) =>
        s"$E.mortonXY($x, $y, $xmin, $ymin, $xmax, $ymax)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Quadkey from lon/lat at fixed zoom (reference registers exactly this
    * as its one UDF, `core/add_quadkey_column.py:171-235`).
    */
  case class QuadkeyLonLat(left: Expression, right: Expression, zoom: Int)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(lon: Any, lat: Any): Any =
      GeoEval.quadkeyLonLat(lon.asInstanceOf[Double], lat.asInstanceOf[Double], zoom)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (lon, lat) => s"$E.quadkeyLonLat($lon, $lat, $zoom)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class QuadkeyGeom(child: Expression, zoom: Int) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.quadkeyGeom(v.asInstanceOf[Array[Byte]], zoom)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.quadkeyGeom($c, $zoom)")
    override protected def withNewChildInternal(c: Expression): QuadkeyGeom =
      copy(child = c)
  }

  /** H3 cell string from (lat, lng) at a fixed resolution — the exact
    * shape the reference registers (`h3_latlng_to_cell_string`,
    * `core/add_h3_column.py:80-84`).
    */
  case class H3LatLng(left: Expression, right: Expression, res: Int)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def nullIntolerant: Boolean = true
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(lat: Any, lng: Any): Any =
      GeoEval.h3LatLng(lat.asInstanceOf[Double], lng.asInstanceOf[Double], res)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (lat, lng) => s"$E.h3LatLng($lat, $lng, $res)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Exterior-ring orientation probe: true = all CCW, null = not
    * polygonal (validate orientation check).
    */
  case class StExteriorsCcw(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.exteriorsCcw(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""
           |Object r = $E.exteriorsCcw($c);
           |if (r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((Boolean) r).booleanValue(); }
         """.stripMargin)
    override protected def withNewChildInternal(c: Expression): StExteriorsCcw =
      copy(c)
  }

  /** H3 cell string of a geometry (centroid rule). */
  case class H3Geom(child: Expression, res: Int) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.h3Geom(v.asInstanceOf[Array[Byte]], res)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.h3Geom($c, $res)")
    override protected def withNewChildInternal(c: Expression): H3Geom =
      copy(child = c)
  }
}
