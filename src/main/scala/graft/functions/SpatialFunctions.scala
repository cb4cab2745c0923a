package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import graft.index.{CellSpace, PipIndex}

/** Custom codegen'd Catalyst expressions for the engine's hot scalar ops:
  * Morton keys, cell ids, and the exact point-in-polygon test. All stay
  * inside whole-stage codegen (doGenCode emits a static call into our
  * library — no boxing, no UDF serialization).
  */

/** 64-bit Morton (Z-order) key of two double coordinates normalized into
  * `space` — the engine's clustering key (reference semantic:
  * filters.mortonorder, MortonOrderFilter.cpp:64-123, normalize then
  * most-significant-bit-interleave ordering). */
case class MortonKey(left: Expression, right: Expression, space: CellSpace)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_key"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val ix = space.ixAt(x.asInstanceOf[Double])
    val iy = space.iyAt(y.asInstanceOf[Double])
    graft.index.Morton.interleave(ix, iy)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sp = ctx.addReferenceObj("space", space, classOf[CellSpace].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.index.Morton.interleave($sp.ixAt($x), $sp.iyAt($y));")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Level-tagged cell id containing (x, y) at `level` on the resolution
  * ladder — the partition/join key of every spatial operator. Other
  * numeric coordinates (decimal, float, integer) are cast to double by the
  * analyzer; double inputs get no cast. */
case class CellId(left: Expression, right: Expression, space: CellSpace, level: Int)
    extends BinaryExpression with ImplicitCastInputTypes with Serializable {
  require(level >= 0 && level <= CellSpace.MaxPackLevel, s"bad level $level")
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_id"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    space.cellAt(x.asInstanceOf[Double], y.asInstanceOf[Double], level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sp = ctx.addReferenceObj("space", space, classOf[CellSpace].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = $sp.cellAt($x, $y, $level);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Point-in-polygon against a constant polygon through its
  * [[graft.index.PipIndex]] — the Spark twin of the reference's bbox
  * prefilter + prepared-GEOS contains per point (CropFilter.cpp:139-151,
  * 242-270). The index is one reference object: the generated code is the
  * same for every polygon. `bboxed` marks a predicate whose literal bbox
  * conjunct has been decided ([[SpatialFunctions.pipPredicate]]). */
case class STContainsXY(left: Expression, right: Expression, pip: PipIndex,
                        bboxed: Boolean = false)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains_xy"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    pip.contains(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("pip", pip, classOf[PipIndex].getName)
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = $p.contains($x, $y);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Membership of a long column in a sorted driver-built array: a binary
  * search over one unboxed reference object (a cell list). */
case class InSortedLongs(child: Expression, sorted: Array[Long])
    extends UnaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "in_sorted_longs"
  override def toString: String = s"$prettyName($child, ${sorted.length} values)"
  override protected def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(sorted, v.asInstanceOf[Long]) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("sorted", sorted, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = java.util.Arrays.binarySearch($arr, $c) >= 0;")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Point-in-polygon where the geometry arrives as a WKB column (the
  * attribute join's per-feature geometry). The executor-side cache still
  * prepares each distinct geometry once. */
case class STContainsDyn(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains_dyn"
  override protected def nullSafeEval(wkb: Any, x: Any, y: Any): Any =
    graft.index.GeomCache.containsXY(wkb.asInstanceOf[Array[Byte]],
      x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, x, y) =>
      s"${ev.value} = graft.index.GeomCache.containsXY($w, $x, $y);")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** One field of the point-span payload ("xi,yi,zi,intensity,pid" as
  * ASCII ints), read in place from the string's bytes: no split array, no
  * per-field string, no row. Missing fields read as 0, a '-' anywhere in
  * a field negates it, fields past the requested one are never scanned.
  * The hot inner loop of every doc-table scan. */
case class PointPayloadField(child: Expression, field: Int)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "point_payload_field"
  override protected def nullSafeEval(v: Any): Any =
    PointPayloadField.read(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], field)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PointPayloadField.read($c, $field);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PointPayloadField {
  def read(s: org.apache.spark.unsafe.types.UTF8String, field: Int): Long = {
    val n = s.numBytes
    var i = 0
    var f = 0
    while (f < field && i < n) { if (s.getByte(i) == ',') f += 1; i += 1 }
    var acc = 0L
    var neg = false
    while (f == field && i < n && s.getByte(i) != ',') {
      val b = s.getByte(i)
      if (b == '-') neg = true else acc = acc * 10 + (b - '0')
      i += 1
    }
    if (neg) -acc else acc
  }
}

/** O(1) driver-built lookup table keyed by a long column. Replaces the
  * `map(lit(k1), lit(v1), ...)` CreateMap idiom for driver-loop
  * broadcast state (chipper cut keys, per-node split decisions):
  * CreateMap embeds 2m literal child expressions that (a) evaluate by
  * LINEAR scan per row, (b) serialize into every task binary as a full
  * expression tree, and (c) get re-rendered into plan strings on every
  * AQE stage update — all three costs grow with m, and the rendering
  * alone dominated the chipper's wall time at m≈150. This expression
  * carries one shared HashMap reference (O(1) probe, compact
  * serialization, constant-size toString). Missing key -> null,
  * matching GetMapValue's semantics. Values must already be in
  * Catalyst internal format (UTF8String for strings). */
case class LongMapLookupExpr(child: Expression,
                             table: java.util.HashMap[java.lang.Long, Object],
                             valueType: DataType, tag: String)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = valueType
  override def nullable: Boolean = true
  override def prettyName: String = s"lookup_$tag"
  // default UnaryExpression.toString renders prettyName(child) — the
  // table itself never reaches a plan string
  override protected def nullSafeEval(k: Any): Any =
    table.get(k.asInstanceOf[java.lang.Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("lookupTable", table, "java.util.HashMap")
    val boxed = valueType match {
      case BooleanType => "java.lang.Boolean"
      case IntegerType => "java.lang.Integer"
      case LongType    => "java.lang.Long"
      case DoubleType  => "java.lang.Double"
      case StringType  => "org.apache.spark.unsafe.types.UTF8String"
      case dt => throw new IllegalArgumentException(s"lookup value type $dt")
    }
    val unbox = valueType match {
      case BooleanType => ".booleanValue()"
      case IntegerType => ".intValue()"
      case LongType    => ".longValue()"
      case DoubleType  => ".doubleValue()"
      case _           => ""
    }
    val c = child.genCode(ctx)
    val o = ctx.freshName("looked")
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
      new StringContext(
        s"""
           |${c.code}
           |boolean ${ev.isNull} = true;
           |${org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(valueType)} ${ev.value} =
           |  ${org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.defaultValue(valueType)};
           |if (!${c.isNull}) {
           |  Object $o = $tbl.get(${c.value});
           |  if ($o != null) { ${ev.isNull} = false; ${ev.value} = (($boxed) $o)$unbox; }
           |}
           |""".stripMargin)).code())
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SpatialFunctions {
  private def expr(c: Column): Expression = ExpressionUtils.expression(c)
  private def col(e: Expression): Column = ExpressionUtils.column(e)

  /** Column builder for [[LongMapLookupExpr]]: `entries` values may be
    * Boolean/Int/Long/Double/String (strings converted to internal
    * UTF8String here). */
  def longLookup(key: Column, entries: Seq[(Long, Any)], valueType: DataType,
                 tag: String): Column = {
    val t = new java.util.HashMap[java.lang.Long, Object](entries.size * 2)
    entries.foreach { case (k, v) =>
      val internal: Object = v match {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case o => o.asInstanceOf[Object]
      }
      t.put(k, internal)
    }
    col(LongMapLookupExpr(expr(key), t, valueType, tag))
  }

  def mortonKey(x: Column, y: Column, space: CellSpace = CellSpace.default): Column =
    col(MortonKey(expr(x), expr(y), space))

  def cellId(x: Column, y: Column, level: Int, space: CellSpace = CellSpace.default): Column =
    col(CellId(expr(x), expr(y), space, level))

  /** Payload field `field` (0-based) of a point span's text. */
  def payloadField(text: Column, field: Int): Column = col(PointPayloadField(expr(text), field))

  /** `st_contains_xy(wkt, x, y)` for SQL: indexed in a polygon-padded space. */
  def stContainsWkt(wkt: String, x: Expression, y: Expression): Expression =
    STContainsXY(x, y, PipIndex.selfSpaced(graft.index.PolygonCover.fromWkt(wkt)))

  /** The one polygon-crop predicate (`JoinOps.cropPolygon`,
    * `PipPrefilterRule`): an [[STContainsXY]], plus a literal bbox conjunct
    * when `scanXY` (x and y are scan columns), the only case where it can
    * reach the scan. Elsewhere the generated code stays literal-free. */
  def pipPredicate(x: Expression, y: Expression, pip: PipIndex, scanXY: Boolean): Expression = {
    val st = STContainsXY(x, y, pip, bboxed = true)
    if (!scanXY) st
    else And(And(
      And(GreaterThanOrEqual(x, Literal(pip.minx)), LessThanOrEqual(x, Literal(pip.maxx))),
      And(GreaterThanOrEqual(y, Literal(pip.miny)), LessThanOrEqual(y, Literal(pip.maxy)))), st)
  }

  /** Whether `e` is a column some leaf of `plan` reads (a scan column,
    * passed through unchanged). */
  def readFromRelation(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                       e: Expression): Boolean = e match {
    case a: Attribute => plan.collectLeaves().exists(_.outputSet.contains(a))
    case _ => false
  }
}
