package graft.operators

import graft.functions.MiniLambda
import graft.plans._
import graft.sources.Source
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, LogicalPlan, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** One entry point per operation. Every operation is a pure
  * DataFrame → DataFrame transform: nothing here triggers an action, so a
  * whole pipeline builds ONE lazy plan and Catalyst optimizes across
  * operation boundaries (CollapseProject merges the withColumn chain;
  * filters/projections push into the scans) — unlike the reference, which
  * materializes eagerly per op (main.py:397-429).
  */
object Ops {

  def applyOp(spark: SparkSession, df: DataFrame, op: Operation,
              inputs: Map[String, FileDef]): DataFrame = op match {
    case o: Equality      => equality(df, o)
    case o: Concatenation => concatenation(df, o)
    case o: Application   => application(df, o)
    case o: Switching     => switching(df, o)
    case o: Assignation   => assignation(df, o)
    case o: Casting       => casting(df, o)
    case o: Arithmetic    => arithmetic(df, o)
    case o: Comparison    => comparison(df, o)
    case o: Bind          => bind(spark, df, o, inputs)
    case o: Fold          => fold(df, o)
    case o: Unfold        => unfold(df, o)
    case o: FilterOp      => filterOp(df, o)
    case o: AggregateOp   => aggregate(df, o)
    case o: SortOp        => sortOp(df, o)
    case o: WindowOp      => windowOp(df, o)
    case o: DistinctOp    => distinctOp(df, o)
    case o: SetOp         => setOp(spark, df, o, inputs)
    case o: SelectOp      => selectOp(df, o)
    case u: UnknownOp =>
      // reference parity: unknown op types are skipped with a warning
      // (main.py:417-418)
      System.err.println(s"[ops] warning: skipping unknown operation type '${u.name}'")
      df
  }

  private def out(op: Operation): String =
    op.outputColumn.getOrElse(
      throw new IllegalArgumentException(s"${op.opType}: output_column is required"))

  private def requireCols(df: DataFrame, cols: Seq[String], opName: String): Unit = {
    val present = df.columns.toSet
    val missing = cols.filterNot(present)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"$opName: input column(s) not found: ${missing.mkString(", ")}")
  }

  // ----------------------------------------------------------- 1 equality

  /** Copy a column under a new name. Reference: equality.py:4-12. */
  def equality(df: DataFrame, op: Equality): DataFrame = {
    requireCols(df, Seq(op.inputColumn), "equality")
    df.withColumn(out(op), col(op.inputColumn))
  }

  // ------------------------------------------------------ 2 concatenation

  /** String-concat with separator. Uses `concat` (null-PROPAGATING) with
    * interleaved separator literals, NOT concat_ws (which skips nulls) —
    * Polars concat_str(ignore_nulls=False) parity. Reference:
    * concatenation.py:5-14.
    */
  def concatenation(df: DataFrame, op: Concatenation): DataFrame = {
    requireCols(df, op.inputColumns, "concatenation")
    val casted = op.inputColumns.map(c => col(c).cast(StringType))
    val parts =
      if (op.separator.isEmpty) casted
      else casted.flatMap(c => Seq(c, lit(op.separator))).dropRight(1)
    df.withColumn(out(op), concat(parts: _*))
  }

  // -------------------------------------------------------- 3 application

  /** Row-wise lambda compiled to native Columns (no UDF in the plan — the
    * expression stays inside whole-stage codegen). Reference:
    * application.py:5-33 (which eval's Python per row).
    *
    * The lambda is parsed once (LambdaSyntax) and lowered to Columns
    * (MiniLambda), the one backend, with Python semantics as the contract.
    * A syntax error, or a lambda outside the lowerable surface, raises
    * CompileError: the LLM-loop feedback path.
    */
  def application(df: DataFrame, op: Application): DataFrame = {
    requireCols(df, op.inputColumns, "application")
    df.withColumn(out(op), MiniLambda.compile(op.functionStr, df.schema))
  }

  // ---------------------------------------------------------- 4 switching

  /** Multi-way CASE over chained when/otherwise. Mapping keys arrive as YAML
    * scalars (often strings) and are coerced to the switch column's native
    * type. Reference: switching.py:5-60 (incl. empty-mapping edge :39-46).
    */
  def switching(df: DataFrame, op: Switching): DataFrame = {
    requireCols(df, Seq(op.switchColumn), "switching")
    val srcCols = op.mapping.map(_._2) ++ op.defaultColumn.toSeq
    requireCols(df, srcCols, "switching")
    val swType = df.schema(op.switchColumn).dataType
    val default: Column =
      op.defaultColumn.map(col).getOrElse(Literals.toLit(op.defaultValue.orNull))
    val result = op.mapping.foldRight(default) { case ((k, srcCol), acc) =>
      when(col(op.switchColumn) === Literals.toLitAs(k, swType), col(srcCol)).otherwise(acc)
    }
    df.withColumn(out(op), result)
  }

  // -------------------------------------------------------- 5 assignation

  /** Literal constant column, typed per §7.4-6 (YAML int → LongType etc).
    * Reference: asignation.py:6-22.
    */
  def assignation(df: DataFrame, op: Assignation): DataFrame =
    df.withColumn(out(op), Literals.toLit(op.value))

  // ------------------------------------------------------------ 6 casting

  /** Cast to a schema type. Runs under ANSI mode (Spark 4 default) so
    * unparseable values RAISE like Polars strict cast (casting.py:13-19)
    * rather than silently nulling. string→date expects ISO yyyy-MM-dd.
    */
  def casting(df: DataFrame, op: Casting): DataFrame = {
    requireCols(df, Seq(op.inputColumn), "casting")
    df.withColumn(out(op), col(op.inputColumn).cast(op.targetType.spark))
  }

  // --------------------------------------------------------- 7 arithmetic

  /** Binary + - * / between two columns. Division always yields Double
    * (Spark Divide == Polars true division). Reference: arithmetic.py:4-28.
    */
  def arithmetic(df: DataFrame, op: Arithmetic): DataFrame = {
    requireCols(df, op.inputColumns, "arithmetic")
    val Seq(a, b) = op.inputColumns.map(col)
    val result = op.operator match {
      case "+" => a + b
      case "-" => a - b
      case "*" => a * b
      case "/" => a / b
    }
    df.withColumn(out(op), result)
  }

  // --------------------------------------------------------- 8 comparison

  /** Compare column vs literal → boolean. Polars-parity STRICT type check:
    * comparing a string column to a numeric literal is an error (the
    * reference's LLM loop relies on that feedback to insert casts —
    * instruct_prompt.py:152); Spark would otherwise silently coerce.
    * Reference: comparison.py:6-42.
    */
  def comparison(df: DataFrame, op: Comparison): DataFrame = {
    requireCols(df, Seq(op.inputColumn), "comparison")
    val dt = df.schema(op.inputColumn).dataType
    val colFam = Literals.family(dt)
    val litFam = Literals.familyOf(op.value)
    val compatible = litFam == "null" || colFam == litFam ||
      // ISO date strings compare against date columns (casting path)
      (colFam == "temporal" && litFam == "string")
    if (!compatible)
      throw new IllegalArgumentException(
        s"comparison: cannot compare $colFam column '${op.inputColumn}' with $litFam literal " +
          s"'${op.value}' — cast first (Polars strict-comparison parity)")
    val l = col(op.inputColumn)
    val r = if (colFam == "temporal") Literals.toLitAs(op.value, dt) else Literals.toLit(op.value)
    val result = op.operator match {
      case "==" => l === r
      case "!=" => l =!= r
      case ">"  => l > r
      case "<"  => l < r
      case ">=" => l >= r
      case "<=" => l <= r
    }
    df.withColumn(out(op), result)
  }

  // --------------------------------------------------------------- 9 bind

  /** Join with a named input or CSV path. Right side projected to
    * {rightOn} ∪ columnsToAdd; colliding right column names suffixed
    * `_right` until unique (Polars parity — flows depend on it, e.g.
    * `full_name_right` in pipelines/enriched_output_def.yaml:37-39); right
    * key dropped for equi-joins; for outer joins the keys are coalesced into
    * leftOn. Reference: bind.py:7-59.
    *
    * Scale: small right sides get an explicit broadcast hint (size-probed);
    * large ones go through a regular shuffle join that AQE can re-plan.
    */
  def bind(spark: SparkSession, df: DataFrame, op: Bind,
           inputs: Map[String, FileDef]): DataFrame = {
    val right = inputs.get(op.rightFilePath) match {
      case Some(fd) => Source.load(spark, fd) // named input (bind.py:10-17)
      case None     => Source.loadCsv(spark, op.rightFilePath, op.rightSchemaColumns)
    }
    // key/column validation (bind.py:39-46)
    requireCols(df, Seq(op.leftOn), "bind(left)")
    requireCols(right, op.rightOn +: op.columnsToAdd, "bind(right)")

    val projected = right.select((op.rightOn +: op.columnsToAdd).distinct.map(col): _*)

    // rename colliding non-key right columns → `_right` suffix, repeated
    // until unique (Polars join suffix semantics)
    val leftCols = df.columns.toSet
    val renamed = projected.columns.foldLeft(projected) { (r, c) =>
      if (c != op.rightOn && leftCols(c)) {
        var n = c + "_right"
        while (leftCols(n) || r.columns.contains(n)) n += "_right"
        r.withColumnRenamed(c, n)
      } else r
    }

    val rightSide = if (shouldBroadcast(op, inputs)) broadcast(renamed) else renamed

    op.how match {
      case "cross" =>
        // cross ignores keys (bind.py joins how="cross"); right key column
        // stays (suffixed if colliding), matching Polars cross join output
        val r2 =
          if (leftCols(op.rightOn)) {
            var n = op.rightOn + "_right"
            while (leftCols(n) || rightSide.columns.contains(n)) n += "_right"
            rightSide.withColumnRenamed(op.rightOn, n)
          } else rightSide
        df.crossJoin(r2)
      case "outer" =>
        // full outer: coalesce join keys into leftOn (Polars outer join
        // exposes a single coalesced key since 0.20 `join(..., coalesce=True)`)
        val joined = df.join(rightSide, df(op.leftOn) === rightSide(op.rightOn), "full_outer")
        joined
          .withColumn("__graft_key__", coalesce(df(op.leftOn), rightSide(op.rightOn)))
          .drop(df(op.leftOn)).drop(rightSide(op.rightOn))
          .withColumnRenamed("__graft_key__", op.leftOn)
      case how =>
        val sparkHow = if (how == "left") "left" else "inner"
        df.join(rightSide, df(op.leftOn) === rightSide(op.rightOn), sparkHow)
          .drop(rightSide(op.rightOn))
    }
  }

  /** Broadcast when the right side is provably small: a local file under
    * the auto-broadcast threshold. At cluster scale the same rule applies
    * per-file via the FS; unknown sizes fall through to AQE's runtime
    * broadcast decision. `AgentApi` reads it too: a broadcast bind streams
    * its left side in order.
    */
  private[graft] def shouldBroadcast(op: Bind, inputs: Map[String, FileDef]): Boolean = {
    val path = inputs.get(op.rightFilePath).map(_.path).getOrElse(op.rightFilePath)
    val threshold = 64L * 1024 * 1024
    try {
      val f = new java.io.File(path)
      if (f.isFile) f.length < threshold
      else if (f.isDirectory) f.listFiles().map(_.length).sum < threshold
      else false
    } catch { case NonFatal(_) => false }
  }

  // --------------------------------------------------------------- 10 fold

  /** Wide→long unpivot. Heterogeneous value columns are pre-cast to their
    * least common supertype (Polars melt supertype parity — Spark unpivot
    * errors on mixed types). Reference: fold.py:6-32.
    */
  def fold(df: DataFrame, op: Fold): DataFrame = {
    requireCols(df, op.idColumns ++ op.valueColumns, "fold")
    val valueTypes = op.valueColumns.map(c => df.schema(c).dataType).distinct
    val target: Option[DataType] =
      if (valueTypes.size <= 1) None
      else if (valueTypes.forall(_.isInstanceOf[NumericType])) {
        if (valueTypes.contains(DoubleType)) Some(DoubleType) else Some(LongType)
      } else Some(StringType)
    val prepared = target match {
      case Some(dt) =>
        op.valueColumns.foldLeft(df)((acc, c) => acc.withColumn(c, renderAs(acc, c, dt)))
      case None => df
    }
    prepared.unpivot(
      op.idColumns.map(col).toArray,
      op.valueColumns.map(col).toArray,
      op.keyColumnName,
      op.valueColumnName)
  }

  /** Cast for fold's supertype step; dates→string via ISO render to match
    * Polars' str cast of dates.
    */
  private def renderAs(df: DataFrame, c: String, dt: DataType): Column =
    (df.schema(c).dataType, dt) match {
      case (DateType, StringType) => date_format(col(c), "yyyy-MM-dd")
      case _                      => col(c).cast(dt)
    }

  // ------------------------------------------------------------- 11 unfold

  /** Long→wide pivot, duplicate (index,key) resolved by FIRST — the only
    * aggregation in the reference (unfold.py:34). Pivot headers follow
    * first-appearance order of the keys (Polars parity; Spark sorts unless
    * the key list is passed explicitly).
    *
    * Scale note: the pivot needs its key list up front. Where the plan
    * proves it ([[foldKeys]]: the key column is a fold's literal key),
    * callers pass it as `staticKeys`, and the pivot is then the only pass
    * over the input: `Runner.applyAll` does so for an unfold with index
    * columns, and `AgentApi` on a non-empty recorded head. Otherwise the
    * keys are discovered from the data: an eager `localCheckpoint` runs the
    * whole upstream flow (scans, binds, everything before the unfold) once
    * and keeps the result in executor blocks, the key aggregation and its
    * driver `collect` run over that snapshot, and the pivot reads it again.
    * `first` is order-sensitive — at scale callers needing determinism
    * should ensure (index,key) uniqueness upstream (DistinctOp), exactly as
    * with the reference.
    */
  def unfold(df: DataFrame, op: Unfold): DataFrame = unfold(df, op, None)

  /** `staticKeys`: the key column's values in first-appearance order, as
    * the caller proved them; None discovers them from the data. Over an
    * empty input discovery finds no keys, where static keys still give a
    * column each: a caller that cannot prove its input non-empty must tell
    * the two apart (`Runner.applyAll` does, with `Sink.guardEmpty`).
    */
  private[graft] def unfold(df: DataFrame, op: Unfold, staticKeys: Option[Seq[Any]]): DataFrame = {
    requireCols(df, op.indexColumns ++ Seq(op.keyColumn, op.valueColumn), "unfold")
    // Guard the key list: a high-cardinality key column would both blow
    // the driver and produce an unusable million-column frame.
    val maxKeys = graft.Knobs.positiveInt("graft.unfold.maxKeys",
      sys.props.get("graft.unfold.maxKeys"), 10000)
    val (input, keysInOrder) = staticKeys match {
      case Some(keys) => (df, keys)
      case None =>
        // pivot needs the distinct keys up front, so the input runs twice
        // (discovery + pivot); snapshot with an EAGER localCheckpoint so an
        // expensive upstream (a whole pipeline) runs exactly once, and —
        // unlike persist() — the blocks are released by the ContextCleaner
        // as soon as the result frame becomes unreachable: a library user
        // who never calls spark.catalog.clearCache() accumulates nothing.
        val cached = df.localCheckpoint()
        (cached, cached
          .select(col(op.keyColumn))
          .withColumn("__rid__", monotonically_increasing_id())
          .groupBy(col(op.keyColumn)).agg(min(col("__rid__")).as("__rid__"))
          .orderBy(col("__rid__"))
          .limit(maxKeys + 1)
          .collect().map(_.get(0)).toSeq)
    }
    if (keysInOrder.size > maxKeys)
      throw new IllegalArgumentException(
        s"unfold: key column '${op.keyColumn}' has more than $maxKeys distinct values; " +
          s"pivoting would create that many columns — reduce cardinality upstream or raise " +
          s"-Dgraft.unfold.maxKeys")
    input.groupBy(op.indexColumns.map(col): _*)
      .pivot(op.keyColumn, keysInOrder)
      .agg(first(col(op.valueColumn), ignoreNulls = false))
  }

  /** The values of `key` in first-appearance order, when the plan proves
    * them: `key` is filled by a fold's `Expand` with a non-null literal in
    * every projection, and only pass-through projections sit above it. Each
    * input row of the fold then yields every key, in projection order, so
    * on a non-empty frame that order is the first-appearance order.
    */
  private[graft] def foldKeys(df: DataFrame, key: String): Option[Seq[Any]] = {
    def keys(plan: LogicalPlan, a: Attribute): Option[Seq[Any]] = plan match {
      case Project(list, child) if list.exists {
        case b: Attribute => b.exprId == a.exprId
        case _ => false
      } => keys(child, a)
      case Expand(projections, output, _) =>
        val i = output.indexWhere(_.exprId == a.exprId)
        val lits = projections.flatMap(_.lift(i)).collect {
          case Literal(v, t) if v != null => CatalystTypeConverters.convertToScala(v, t)
        }
        if (i >= 0 && lits.size == projections.size) Some(lits.distinct) else None
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    plan.output.filter(_.name == key) match {
      case Seq(a) => keys(plan, a)
      case _ => None
    }
  }

  // ------------------------------------------- extended (beyond reference)

  /** Extended: row filter. Predicate is a MiniLambda boolean lambda
    * (`lambda r: r['x'] > 3`) or the name of an existing boolean column.
    * Filters are plain Catalyst `Filter` nodes → pushed down to the scan.
    */
  def filterOp(df: DataFrame, op: FilterOp): DataFrame = {
    val pred =
      if (op.predicate.trim.startsWith("lambda")) MiniLambda.compile(op.predicate, df.schema)
      else {
        requireCols(df, Seq(op.predicate), "filter")
        col(op.predicate)
      }
    df.filter(pred)
  }

  /** Extended: group-by aggregation with map-side partial aggregation for
    * free (hash aggregate). count_distinct shuffles on (keys, value);
    * approx variants available through approx_count_distinct.
    */
  def aggregate(df: DataFrame, op: AggregateOp): DataFrame = {
    requireCols(df, op.groupBy ++ op.aggregations.map(_._2._2).filter(_ != "*"), "aggregate")
    val aggs = op.aggregations.map { case (outCol, (func, in)) =>
      val c = func match {
        case "sum"            => sum(col(in))
        case "count" if in == "*" => count(lit(1))
        case "count"          => count(col(in))
        case "avg" | "mean"   => avg(col(in))
        case "min"            => min(col(in))
        case "max"            => max(col(in))
        case "count_distinct" => countDistinct(col(in))
        case "approx_count_distinct" => approx_count_distinct(col(in))
        case "first"          => first(col(in), ignoreNulls = true)
        case "stddev"         => stddev(col(in))
        case "stddev_pop"     => stddev_pop(col(in))
        case "median"         => median(col(in))
        // exact distinct cardinality via a set accumulator; prefer
        // approx_count_distinct at scale when the set would be large
        case "collect_set_size" => size(collect_set(col(in)))
        case other => throw new IllegalArgumentException(s"aggregate: unsupported func '$other'")
      }
      c.as(outCol)
    }
    val grouped = op.mode match {
      case "group"  => df.groupBy(op.groupBy.map(col): _*)
      case "rollup" => df.rollup(op.groupBy.map(col): _*)
      case "cube"   => df.cube(op.groupBy.map(col): _*)
      case other => throw new IllegalArgumentException(s"aggregate: unknown mode '$other'")
    }
    grouped.agg(aggs.head, aggs.tail: _*)
  }

  /** Extended: sort (+limit). sort+limit compiles to TakeOrderedAndProject —
    * a top-k that never materializes a global sort at scale.
    */
  def sortOp(df: DataFrame, op: SortOp): DataFrame = {
    requireCols(df, op.sortBy.map(_._1), "sort")
    val keys = op.sortBy.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }
    val sorted = df.orderBy(keys: _*)
    op.limit.map(sorted.limit).getOrElse(sorted)
  }

  /** Extended: window functions over partitionBy/orderBy. */
  def windowOp(df: DataFrame, op: WindowOp): DataFrame = {
    requireCols(df, op.partitionBy ++ op.orderBy.map(_._1) ++ op.inputColumn.toSeq, "window")
    var w = Window.partitionBy(op.partitionBy.map(col): _*)
    if (op.orderBy.nonEmpty)
      w = w.orderBy(op.orderBy.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
    def in: Column = col(op.inputColumn.getOrElse(
      throw new IllegalArgumentException(s"window ${op.func}: column required")))
    val expr = op.func match {
      case "row_number" => row_number().over(w)
      case "rank"       => rank().over(w)
      case "dense_rank" => dense_rank().over(w)
      case "percent_rank" => percent_rank().over(w)
      case "cume_dist"  => cume_dist().over(w)
      case "lag"        => lag(in, 1).over(w)
      case "lead"       => lead(in, 1).over(w)
      case "first"      => first(in, ignoreNulls = true).over(w)
      case "last"       => last(in, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      case "sum"        => sum(in).over(w)
      case "avg"        => avg(in).over(w)
      case "min"        => min(in).over(w)
      case "max"        => max(in).over(w)
      case "count"      => count(in).over(w)
      case "cume_sum"   => sum(in).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      case other => throw new IllegalArgumentException(s"window: unsupported func '$other'")
    }
    df.withColumn(out(op), expr)
  }

  /** Extended: distinct / dropDuplicates over a subset. */
  def distinctOp(df: DataFrame, op: DistinctOp): DataFrame =
    if (op.subset.isEmpty) df.distinct()
    else { requireCols(df, op.subset, "distinct"); df.dropDuplicates(op.subset) }

  /** Extended: set operations against another named input. */
  def setOp(spark: SparkSession, df: DataFrame, op: SetOp,
            inputs: Map[String, FileDef]): DataFrame = {
    val right = inputs.get(op.rightInput)
      .map(Source.load(spark, _))
      .getOrElse(throw new IllegalArgumentException(s"set: unknown input '${op.rightInput}'"))
    op.kind match {
      case "union"          => df.unionByName(right, allowMissingColumns = false)
      case "union_distinct" => df.unionByName(right).distinct()
      case "intersect"      => df.intersect(right)
      case "except"         => df.except(right)
    }
  }

  /** Extended: projection with renames. */
  def selectOp(df: DataFrame, op: SelectOp): DataFrame = {
    requireCols(df, op.columns.map(_._1), "select")
    df.select(op.columns.map { case (c, alias) =>
      alias.map(a => col(c).as(a)).getOrElse(col(c))
    }: _*)
  }
}
