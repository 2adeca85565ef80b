package graft.plans

import graft.operators.Ops
import graft.sources.{Sink, Source}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{IntegerLiteral, InterpretedProjection}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Limit, LocalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Pipeline execution. Reference control flow: apply_operations
  * (main.py:397-429) + the per-output loop (main.py:531-613). The crucial
  * architectural difference: the reference materializes a full DataFrame per
  * operation; here the whole flow folds into ONE lazy plan, and only the
  * sink's write triggers execution — Catalyst sees scan→ops→project as a
  * single tree (projection pruning reaches the scan, the withColumn chain
  * collapses to one Project, join order/strategy is optimizer-chosen).
  */
object Runner {

  /** Fold all operations over the frame, then drop assignation-created temp
    * columns named `_*_` (leading+trailing underscore) — reference parity
    * (main.py:408-416, 423-427).
    *
    * An unfold with index columns whose key column is a fold's literal key
    * ([[Ops.foldKeys]]) pivots on the fold's value column names, in fold
    * order: building the flow starts no Spark job. Over an empty input the
    * reference's pivot (and the discovery path) has no key columns, while
    * this frame has one per key and no rows; its pivot carries
    * `Sink.guardEmpty`'s row count, so `Sink.save` leaves the target as it
    * was and throws, and `runOutput` returns the discovery path's outcome.
    */
  def applyAll(spark: SparkSession, df: DataFrame, ops: Seq[Operation],
               inputs: Map[String, FileDef]): DataFrame =
    build(spark, df, ops, inputs, staticUnfold = true)

  private def build(spark: SparkSession, df: DataFrame, ops: Seq[Operation],
                    inputs: Map[String, FileDef], staticUnfold: Boolean): DataFrame = {
    val result = ops.zipWithIndex.foldLeft(df) { case (acc, (op, i)) =>
      try op match {
        // without index columns the pivot is one row even over no input,
        // so its row count could not tell an empty input
        case u: Unfold if staticUnfold && u.indexColumns.nonEmpty =>
          Ops.foldKeys(acc, u.keyColumn) match {
            case Some(keys) => Sink.guardEmpty(Ops.unfold(acc, u, Some(keys)))
            case None => Ops.unfold(acc, u, None)
          }
        case _ => Ops.applyOp(spark, acc, op, inputs)
      } catch {
        case e: Exception =>
          throw new RuntimeException(
            s"operation ${i + 1} (${op.opType}) failed: ${e.getMessage}", e)
      }
    }
    val tempCols = ops.collect {
      case a: Assignation if a.outputColumn.exists(c =>
        c.length > 1 && c.startsWith("_") && c.endsWith("_")) => a.outputColumn.get
    }.distinct.filter(result.columns.contains)
    if (tempCols.nonEmpty) result.drop(tempCols: _*) else result
  }

  /** Run one output pipeline end-to-end: load source → ops → validate →
    * sink. Returns the validation feedback on failure (nothing written).
    * The flow is built by `applyAll`, so a fold→unfold pivots on the fold's
    * keys and the write is the flow's one pass over its input. Where that
    * pivot saw no rows, or its frame fails validation, nothing is written
    * and the flow is built again with key discovery, whose outcome is
    * returned: over an empty input on the reference's flows, the
    * validation feedback naming the missing key columns.
    */
  def runOutput(spark: SparkSession, config: PipelineConfig, outputKey: String,
                flow: PipelineFlow, prettyJson: Boolean = true): Option[String] = {
    val outDef = config.outputMap.getOrElse(outputKey,
      throw new IllegalArgumentException(s"unknown output '$outputKey'"))
    val srcDef = config.inputMap.getOrElse(flow.source,
      throw new IllegalArgumentException(s"flow source '${flow.source}' not in config inputs"))
    val df = Source.load(spark, srcDef)
    def run(staticUnfold: Boolean): Option[String] = {
      val result = build(spark, df, flow.operations, config.inputMap, staticUnfold)
      SchemaValidator.diff(result.schema, outDef.schema) match {
        // the static pivot has a column per key where discovery, over an
        // empty input, has none: discovery's feedback is the outcome
        case Some(_) if Sink.guarded(result) => run(staticUnfold = false)
        case Some(feedback) => Some(feedback)
        case None => if (Sink.write(result, outDef, prettyJson)) None else run(staticUnfold = false)
      }
    }
    run(staticUnfold = true)
  }
}

/** Output schema validation. Reference: validate_schema (main.py:287-334) —
  * missing columns + per-column type equality; extra columns tolerated;
  * `positive integer` accepts any Int64/LongType (main.py:318-320); error
  * text uses the lossy reverse type map (SchemaType.reverseName).
  */
object SchemaValidator {

  def diff(actual: StructType, target: FileSchema): Option[String] = {
    val actualMap = actual.fields.map(f => f.name -> f.dataType).toMap
    val missing = target.columnNames.filterNot(actualMap.contains)
    val mismatches = target.columns.flatMap { case (name, cd) =>
      actualMap.get(name) match {
        case Some(dt) if typeOk(dt, cd.tpe) => None
        case Some(dt) => Some(
          s"column '$name': expected ${cd.tpe.name}, got ${SchemaType.reverseName(dt)}")
        case None => None
      }
    }
    if (missing.isEmpty && mismatches.isEmpty) None
    else Some(
      (missing.map(c => s"missing column '$c'") ++ mismatches).mkString("; "))
  }

  private def typeOk(actual: DataType, declared: SchemaType): Boolean =
    actual == declared.spark ||
      // main.py:318-320 — `positive integer` accepts plain Int64 and
      // vice-versa (both are LongType; the distinction is documentary)
      (declared.spark == LongType && actual == LongType)
}

/** The three primitives the EXTERNAL LLM generation loop consumes
  * (SURVEY §3.2 — orchestration itself is out of engine scope by mandate).
  *
  * Cost model. The reference applies each step to the materialized previous
  * frame and shows the model `head(3)` of the result (main.py:136-137, 255).
  * Here every frame stays lazy, and each trial remembers the `sampleRows`
  * rows it collected, weakly keyed by the identity of the frame it returned
  * (no frame is retained). On a frame with remembered rows, a step whose
  * first rows follow, in order, from its input's first rows is evaluated on
  * those rows alone:
  *   - a row-local step (one deterministic `withColumn`: equality,
  *     concatenation, application, switching, assignation, casting,
  *     arithmetic, comparison). head(f(df)) = f(head(df)) for a 1:1
  *     deterministic projection, and Catalyst's optimizer evaluates a
  *     projection and a limit over a `LocalRelation`, so the trial's rows
  *     are read from the optimized plan: no query, no job, no codegen;
  *   - a fold. It is a per-row `Expand` that emits each input row's melted
  *     rows in place, so the first rows of fold(head) are the full plan's
  *     first rows. Its projections are evaluated on the driver: no query;
  *   - a left or inner bind whose right side `Ops.shouldBroadcast` accepts.
  *     The full plan is then a broadcast hash join that streams its left
  *     side in order, so the head joined with the same right side gives the
  *     same first rows in the same order, matches of a duplicate right key
  *     included (both plans build the same hash relation from the same
  *     right input). The head is one partition, so the trial is the
  *     broadcast job over the right input plus one take, and nothing reads
  *     the lazy prefix. An inner bind whose head matches fewer than
  *     `sampleRows` rows proves nothing about the rows after the head, and
  *     takes the full path.
  * An unfold on a frame with remembered, non-empty rows whose key column is
  * a fold's literal key (see [[Ops.foldKeys]]) pivots on the fold's value
  * column names directly: no eager `localCheckpoint` and no key `collect`,
  * only the trial's job. Every other step (cross and outer binds, a bind
  * that is not broadcast, the extended ops, a frame with no remembered
  * rows, a nondeterministic plan) runs one bounded `limit(sampleRows)` job
  * over the whole lazy plan. `sampleJson` of a tried frame renders the
  * trial's rows on the driver with no query. Either way the step is first
  * built on the full lazy frame, so analysis errors surface exactly as in a
  * pipeline run.
  */
object AgentApi {

  /** The first `rows.length` rows of a frame, from a trial bounded at
    * `limit`; fewer rows than `limit` means the whole frame.
    */
  private final case class Head(limit: Int, rows: Array[Row]) {
    def take(n: Int): Option[Array[Row]] =
      if (n <= limit || rows.length < limit) Some(rows.take(n)) else None
  }

  // Dataset does not override equals, so this is an identity map whose
  // entries go once the frame is unreachable
  private val heads =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Head]())

  private def headOf(df: DataFrame, n: Int): Option[Array[Row]] =
    Option(heads.get(df)).flatMap(_.take(n))

  /** Whether a step's first rows follow, in order, from its input's first
    * rows: a row-local step, a fold, or a broadcast left or inner bind (the
    * cost model above).
    */
  private def headOrdered(op: Operation, inputs: Map[String, FileDef]): Boolean = op match {
    case _: Equality | _: Concatenation | _: Application | _: Switching |
         _: Assignation | _: Casting | _: Arithmetic | _: Comparison | _: Fold => true
    case b: Bind => (b.how == "left" || b.how == "inner") && Ops.shouldBroadcast(b, inputs)
    case _ => false
  }

  private def localFrame(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A trial's rows. On a head, Catalyst's optimizer evaluates a row-local
    * step's projection and the limit over the local rows, leaving a
    * `LocalRelation` whose rows are read here: no physical plan, no SQL
    * execution and no codegen. It does not fold a fold's `Expand`, whose
    * projections are evaluated here too. Either way the trial starts no
    * job, and a runtime error (an ANSI cast) raises in `optimizedPlan`.
    */
  private def collectTrial(trial: DataFrame): Array[Row] = {
    def rows(data: Iterator[InternalRow]): Array[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(trial.schema)
      data.map(toRow(_).asInstanceOf[Row]).toArray
    }
    trial.queryExecution.optimizedPlan match {
      case local: LocalRelation => rows(local.data.iterator)
      case Limit(IntegerLiteral(n), local: LocalRelation) => rows(local.data.iterator.take(n))
      case Limit(IntegerLiteral(n), Expand(projections, _, local: LocalRelation)) =>
        val expand = projections.map(new InterpretedProjection(_, local.output))
        rows(local.data.iterator.flatMap(r => expand.iterator.map(_(r))).take(n))
      case _ => trial.collect()
    }
  }

  /** Trial-apply one op (the reference's trial execution, main.py:255):
    * analysis on the full lazy frame plus a run over at most `sampleRows`
    * rows to surface runtime errors — on the previous trial's rows where
    * the step's first rows follow from them, else one bounded job.
    * Left = failure text to feed back to the generator, never empty.
    */
  def tryApply(spark: SparkSession, df: DataFrame, op: Operation,
               inputs: Map[String, FileDef], sampleRows: Int = 3): Either[String, DataFrame] =
    try {
      val base = headOf(df, sampleRows)
      val next = (op, base) match {
        // a non-empty head proves the pivot sees every fold key
        case (u: Unfold, Some(rows)) if rows.nonEmpty => Ops.unfold(df, u, Ops.foldKeys(df, u.keyColumn))
        case _ => Ops.applyOp(spark, df, op, inputs)
      }
      val onHead = base
        .filter(_ => headOrdered(op, inputs) && next.queryExecution.analyzed.deterministic)
        .map { rows =>
          // a bind's head is one partition: the take after its broadcast
          // join is then one job, where a head split across partitions
          // needs a second, scaled-up one. Any other step keeps the
          // `LocalRelation`, whose projection the optimizer folds.
          val head = op match {
            case _: Bind => spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
            case _ => localFrame(spark, rows, df.schema)
          }
          collectTrial(Ops.applyOp(spark, head, op, inputs).limit(sampleRows))
        }
        // fewer rows than asked from a head that is not the whole frame
        // (an inner bind with few matches) says nothing of the rows after it
        .filter(_.length == sampleRows || base.exists(_.length < sampleRows))
      heads.put(next, Head(sampleRows, onHead.getOrElse(collectTrial(next.limit(sampleRows)))))
      Right(next)
    } catch { case e: Exception => Left(feedback(e)) }

  /** The exception's message, or — when it has none (an NPE, say) — its
    * class plus the root cause's message.
    */
  private[graft] def feedback(e: Throwable): String =
    Option(e.getMessage).filter(_.trim.nonEmpty).getOrElse {
      val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
      (e.getClass.getName +: Option(root.getMessage).filter(_.trim.nonEmpty).toSeq)
        .mkString(": ")
    }

  /** Schema feedback string, or None when the frame satisfies the target. */
  def schemaDiff(df: DataFrame, target: FileSchema): Option[String] =
    SchemaValidator.diff(df.schema, target)

  /** JSON sample of the first n rows (the reference sends head(3) to the
    * LLM, main.py:136-137). A frame returned by `tryApply` with
    * `n ≤ sampleRows` is served from the trial's rows on the driver, with
    * no query: each row goes through the evaluator of Spark's `to_json`,
    * which renders exactly as `Dataset.toJSON`.
    */
  def sampleJson(df: DataFrame, n: Int = 3): String = {
    val json = headOf(df, n) match {
      case Some(rows) =>
        val conf = df.sparkSession.sessionState.conf
        val toJson = StructsToJsonEvaluator(Map.empty, df.schema, Some(conf.sessionLocalTimeZone))
        val toInternal = CatalystTypeConverters.createToCatalystConverter(df.schema)
        SQLConf.withExistingConf(conf)(rows.map(r => toJson.evaluate(toInternal(r)).toString))
      case None => df.limit(n).toJSON.toDF().collect().map(_.getString(0))
    }
    json.mkString("[", ",", "]")
  }
}
