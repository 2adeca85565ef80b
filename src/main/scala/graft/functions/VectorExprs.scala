package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector expressions for embedding similarity. The higher-order
  * function formulation (zip_with + aggregate) is interpreted per element
  * with boxing; these evaluate as one tight JVM loop per row — the
  * difference is ~100× on wide fan-outs (LSH tables × bits × dims).
  */
object VectorExprs {

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_norm", exprs => NormExpr(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hplanes", exprs => HyperplaneSigsExpr(exprs(0), exprs(1), exprs(2)), "built-in")
  }

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
  import org.apache.spark.sql.catalyst.expressions.{Literal => Lit}

  def dot(a: Column, b: Column): Column = toCol(DotExpr(toExpr(a), toExpr(b)))
  def norm(a: Column): Column = toCol(NormExpr(toExpr(a)))

  /** |A ∩ B| for two SORTED-ascending long arrays with distinct elements —
    * one allocation-free merge pass. The similarity verifies need this
    * because the optimizer inlines a filtered `inter` alias into the join
    * condition (array_intersect ended up evaluated 4× per candidate pair,
    * each eval building a hash set of boxed elements); a merge count is
    * cheap enough that the duplicated evaluation stops mattering.
    */
  def sortedInterCount(a: Column, b: Column): Column =
    toCol(SortedInterCountExpr(toExpr(a), toExpr(b)))

  /** Merge-count kernel for [[SortedInterCountExpr]] (public: called from
    * generated code).
    */
  def sortedInterCountData(a: ArrayData, b: ArrayData): Long = {
    var i = 0
    var j = 0
    var c = 0L
    val n = a.numElements()
    val m = b.numElements()
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Array of `tables` bucket ids for the LSH OR-construction: table t's
    * bucket = (packed sign bits of nbits hash-derived hyperplanes, seeded
    * by t) * tables + t.
    */
  def hyperplaneBuckets(vec: Column, nbits: Int, tables: Int): Column =
    toCol(HyperplaneSigsExpr(toExpr(vec), Lit(nbits), Lit(tables)))

  /** The `n` nearest cells (by squared L2, ties by cell id) of `vec`
    * among `centroids` — matrix-as-reference-object, see NearestCellsExpr.
    */
  def nearestCells(vec: Column, centroids: Seq[(Int, Array[Double])], n: Int): Column =
    toCol(NearestCellsExpr(toExpr(vec),
      centroids.map(_._1).toArray, centroids.map(_._2).toArray, n))

  /** Allocation-free dot product straight off ArrayData — the per-row
    * kernel of every brute-force scorer. Element reads widen float →
    * double exactly like [[toDoubles]], and accumulation runs in index
    * order, so results are bit-identical to the array path (and to the
    * DuckDB list_dot_product oracles). Public: called from generated code.
    */
  def dotData(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** Allocation-free L2 norm — same discipline as [[dotData]]. */
  def normData(a: ArrayData, aFloat: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  private[functions] def toDoubles(arr: ArrayData, dt: DataType): Array[Double] = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    dt match {
      case FloatType  => var i = 0; while (i < n) { out(i) = arr.getFloat(i); i += 1 }
      case DoubleType => var i = 0; while (i < n) { out(i) = arr.getDouble(i); i += 1 }
      case _ => throw new IllegalArgumentException(s"unsupported vector element type $dt")
    }
    out
  }

  /** Shared analysis-time gate for the vector kernels: every input must be
    * array<float> or array<double>. [[dotData]]/[[normData]] branch only on
    * float-vs-double, so any other element type has to be rejected HERE —
    * at runtime it would read garbage through `getDouble` without error.
    */
  private[functions] def checkVectorType(
      fn: String, dts: DataType*): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    dts.collectFirst {
      case dt if !dt.isInstanceOf[ArrayType] =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn requires array<float|double> inputs, got ${dt.catalogString}")
      case ArrayType(et, _) if et != FloatType && et != DoubleType =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn requires float or double vector elements, got array<${et.catalogString}>")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** splitmix64 — deterministic, public-domain mixing function. */
  private[functions] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Hyperplane component (table, bit, dim) in [-1, 1] — hash-derived,
    * identical on every executor.
    */
  private[graft] def component(table: Int, bit: Int, dim: Int): Double =
    (Math.floorMod(splitmix64(table.toLong * 1000003 + bit.toLong * 100003 + dim), 2001L) - 1000L) / 1000.0
}

/** (array<float|double>, array<float|double>) → double dot product.
  * Real doGenCode: a static allocation-free kernel call, so the
  * brute-force scorers' probe loops stay inside whole-stage codegen and
  * never materialize per-row double arrays.
  */
case class DotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // isFloat reduces element handling to float-vs-double; any OTHER element
  // type (array<int>, array<decimal>, …) must fail at analysis time — the
  // else-branch getDouble would silently read garbage off ArrayData
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorExprs.checkVectorType(prettyName, left.dataType, right.dataType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExprs.dotData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorExprs.dotData($a, $b, ${isFloat(left)}, ${isFloat(right)});")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "graft_dot"
}

/** (array<long> sorted asc, array<long> sorted asc) → long intersection
  * count (same codegen discipline as [[DotExpr]]: a static allocation-free
  * kernel call inside whole-stage codegen).
  */
case class SortedInterCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> inputs, got ${l.catalogString} / ${r.catalogString}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExprs.sortedInterCountData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorExprs.sortedInterCountData($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
  override def prettyName: String = "graft_sorted_inter_count"
}

/** array<float|double> → double L2 norm (same codegen discipline as
  * [[DotExpr]]).
  */
case class NormExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorExprs.checkVectorType(prettyName, child.dataType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    VectorExprs.normData(a.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorExprs.normData($a, $isFloat);")
  override protected def withNewChildInternal(c: Expression) = copy(c)
  override def prettyName: String = "graft_norm"
}

/** (vec, nbits, tables) → array<long> of LSH bucket ids, one per table.
  * Hyperplane matrices are built lazily once per (nbits, tables, dim) per
  * executor and cached — the per-row work is tables×nbits×dim fused
  * multiply-adds.
  */
case class HyperplaneSigsExpr(vec: Expression, nbitsE: Expression, tablesE: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
  override def first: Expression = vec
  override def second: Expression = nbitsE
  override def third: Expression = tablesE
  private lazy val nbits = litInt(nbitsE)
  private lazy val tables = litInt(tablesE)
  private def litInt(e: Expression): Int = e match {
    case Literal(v, _) => v.toString.toInt
    case _ => throw new IllegalArgumentException("nbits/tables must be literals")
  }
  @transient private var planes: Array[Array[Double]] = _ // (tables*nbits) x dim
  @transient private var planesDim: Int = -1
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any, nb: Any, tb: Any): Any = {
    val x = VectorExprs.toDoubles(v.asInstanceOf[ArrayData],
      vec.dataType.asInstanceOf[ArrayType].elementType)
    val dim = x.length
    if (planesDim != dim) {
      planes = Array.tabulate(tables * nbits, dim) { (tj, d) =>
        VectorExprs.component(tj / nbits, tj % nbits, d)
      }
      planesDim = dim
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < nbits) {
        val p = planes(t * nbits + j)
        var s = 0.0; var d = 0
        while (d < dim) { s += x(d) * p(d); d += 1 }
        bucket = bucket * 2 + (if (s > 0) 1L else 0L)
        j += 1
      }
      out(t) = bucket * tables + t
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
    copy(a, b, c)
  override def prettyName: String = "graft_hplanes"
}

/** `n` nearest centroid cells of a vector by squared L2 distance, ties by
  * cell id (the exact order `array_sort` over (distance, cell) structs
  * produces). The centroid MATRIX rides in the expression as a plain
  * reference object — generated/evaluated code size is independent of k,
  * where the literal-per-cell `least(struct...)` formulation builds a
  * k×dim expression tree that Janino recompiles on every training
  * iteration (seconds at k=16×64, unusable at k=4096).
  */
case class NearestCellsExpr(child: Expression, cellIds: Array[Int],
                            centroids: Array[Array[Double]], n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  require(cellIds.length == centroids.length && centroids.nonEmpty,
    "cellIds/centroids must align and be non-empty")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val c2: Array[Double] =
    centroids.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
  override def nullSafeEval(v: Any): Any = {
    val x = VectorExprs.toDoubles(v.asInstanceOf[ArrayData],
      child.dataType.asInstanceOf[ArrayType].elementType)
    val k = centroids.length
    val d = new Array[Double](k)
    var i = 0
    while (i < k) {
      val c = centroids(i)
      var s = 0.0; var j = 0
      val m = math.min(x.length, c.length)
      while (j < m) { s += x(j) * c(j); j += 1 }
      d(i) = c2(i) - 2 * s
      i += 1
    }
    val take = math.min(n, k)
    val order = Array.range(0, k).sortBy(i => (d(i), cellIds(i)))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(order.map(cellIds(_)), take))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_nearest_cells"
}
