package graft

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import graft.functions.MiniLambda
import graft.operators.Ops
import graft.plans.Application
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs the `application` lambda corpus of `scripts/lambda_oracle.py`
  * through `Ops.application` and compares every row with Python `eval`'s
  * outcome. A divergence either is a bug or falls under one of the
  * documented limits in [[LambdaOracleSpec.limits]], each with its reason.
  */
class LambdaOracleSpec extends SparkSpec {
  import LambdaOracleSpec._

  private lazy val corpus: JsonNode = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()
    .readTree(getClass.getResourceAsStream("/lambda_oracle.json"))

  private lazy val schema = StructType(corpus.get("schema").asScala.toSeq.map { f =>
    StructField(f.get(0).asText, f.get(1).asText match {
      case "string" => StringType; case "int" => IntegerType; case "long" => LongType
      case "double" => DoubleType; case "boolean" => BooleanType
    })
  })

  private lazy val rows: Seq[Row] = corpus.get("rows").asScala.toSeq.map { r =>
    Row.fromSeq(schema.fields.toSeq.zip(r.asScala).map { case (f, v) =>
      if (v.isNull) null else f.dataType match {
        case StringType => v.asText; case IntegerType => v.asInt; case LongType => v.asLong
        case DoubleType => v.asDouble; case BooleanType => v.asBoolean
      }
    })
  }

  private lazy val cases: Seq[Case] = corpus.get("cases").asScala.toSeq.map { c =>
    Case(c.get("id").asInt, c.get("fn").asText, c.get("py").asScala.toSeq)
  }

  private lazy val df = spark.createDataFrame(rows.asJava, schema)

  private def app(fn: String, out: String) = Application(schema.fieldNames.toSeq, fn, Some(out))

  /** Adds the case's column to `acc`, or says why the engine refused it. */
  private def add(acc: DataFrame, c: Case): Either[Outcome, DataFrame] =
    try Right(Ops.application(acc, app(c.fn, s"c${c.id}")))
    catch {
      case e: MiniLambda.CompileError => Left(Rejected(e.msg))
      case e: AnalysisException => Left(Raised("analysis: " + e.getMessage.takeWhile(_ != '\n')))
    }

  private def collect(frame: DataFrame, cs: Seq[Case]): Seq[Seq[Any]] =
    frame.select(cs.map(c => col(s"c${c.id}")): _*).collect().toSeq.map(_.toSeq).transpose

  /** One select per batch; a batch that raises is rerun case by case. */
  private def run(cs: Seq[Case]): Map[Int, Outcome] = {
    val out = Map.newBuilder[Int, Outcome]
    var acc = df
    val built = cs.filter { c =>
      add(acc, c) match {
        case Right(next) => acc = next; true
        case Left(o) => out += c.id -> o; false
      }
    }
    if (built.nonEmpty) {
      try built.zip(collect(acc, built)).foreach { case (c, vs) => out += c.id -> Values(vs) }
      catch {
        case NonFatal(_) if built.size > 1 => out ++= built.flatMap(c => run(Seq(c)))
        case NonFatal(e) => out += built.head.id -> Raised(rootMessage(e))
      }
    }
    out.result()
  }

  test("the corpus holds >= 500 lambdas over rows with nulls, NaN, ±0.0, unicode and empty strings") {
    assert(cases.size >= 500)
    val vals = rows.flatMap(_.toSeq)
    assert(vals.contains(null))
    assert(vals.exists { case d: Double => d.isNaN; case _ => false })
    assert(vals.exists { case d: Double => d == 0.0 && 1 / d < 0; case _ => false })
    assert(vals.exists { case d: Double => d == 0.0 && 1 / d > 0; case _ => false })
    assert(vals.contains(""))
    assert(vals.exists { case s: String => s.exists(_ > 127); case _ => false })
  }

  test("every lambda matches Python eval or a documented limit") {
    // cases Python raises on for some row run alone: the engine may raise too
    val (raising, clean) = cases.partition(_.py.exists(raises))
    val outcomes = clean.grouped(150).flatMap(run).toMap ++ raising.flatMap(c => run(Seq(c)))
    val found = cases.flatMap(c => divergences(c, rows, outcomes(c.id)))
    val (limited, unexplained) = found.partition(_.limit.isDefined)
    limited.groupBy(_.limit.get).toSeq.sortBy(_._1.name).foreach { case (l, ds) =>
      info(f"limit ${l.name}%-20s ${ds.map(_.c.id).distinct.size}%3d lambdas, ${ds.size}%4d rows: ${l.reason}")
    }
    assert(unexplained.isEmpty, unexplained.take(40).mkString("\n", "\n", "\n") +
      s"${unexplained.size} unexplained divergences in ${unexplained.map(_.c.id).distinct.size} lambdas")
  }
}

object LambdaOracleSpec {

  final case class Case(id: Int, fn: String, py: Seq[JsonNode])

  sealed trait Outcome
  final case class Rejected(msg: String) extends Outcome
  final case class Raised(msg: String) extends Outcome
  final case class Values(vs: Seq[Any]) extends Outcome

  /** One divergence: `row` is None for a whole-lambda one (rejected or
    * raised); `py` is then null and `engine` the Outcome, else `py` is the
    * row's Python outcome and `engine` its value.
    */
  final case class Divergence(c: Case, row: Option[Row], py: JsonNode, engine: Any) {
    lazy val limit: Option[Limit] = limits.find(_.applies(this))
    def pyErr(names: String*): Boolean =
      py != null && raises(py) && names.contains(py.get("err").asText)
    def onNone: Boolean = py != null && isErr(py) && !raises(py)
    def pyValue: Option[JsonNode] = Option(py).filterNot(_.has("err")).map(_.get("v"))
    def calls(fs: String*): Boolean = fs.exists(c.fn.contains)
    def of(ids: Int*): Boolean = ids.contains(c.id)
    override def toString: String = s"#${c.id} ${c.fn}\n    " +
      (if (py == null) s"python returns on some row, engine $engine"
       else s"row ${row.get}: python ${show(py)}, engine $engine")
  }

  /** A documented difference from Python, with the reason it stays. A
    * limit its predicate cannot pin to the outcome's shape names the
    * lambdas it excuses, so a divergence in any other lambda fails.
    */
  final case class Limit(name: String, reason: String, applies: Divergence => Boolean)

  private def isNaN(v: Any) = v match { case d: java.lang.Double => d.isNaN; case _ => false }

  val limits: Seq[Limit] = Seq(
    Limit("null-propagation",
      "Python raises on a None input (TypeError, AttributeError); the engine does not stop the " +
        "pipeline but propagates null, as Spark expressions do",
      d => d.onNone && d.engine == null),
    Limit("none-settled",
      "as null-propagation, but SQL settles the value without the failed operand: null AND " +
        "false, a comparison with NaN, `is None`, `in [..]`, a boolean `if` taking its else branch",
      d => d.onNone),
    Limit("numeric-unify",
      "int and float branches of `if`, `or`/`and` and min/max unify to float: one column has " +
        "one type, so the int Python returns comes back as an equal float",
      d => d.pyValue.exists(_.isIntegralNumber) && (d.engine match {
        case e: java.lang.Double => d.pyValue.get.bigIntegerValue.doubleValue == e
        case _ => false
      })),
    Limit("str-unify",
      "branches of different kinds (str and a number or bool) unify to string, rendered as " +
        "Python str() renders the value Python returns",
      d => d.pyValue.exists(v => !v.isTextual && !v.isNull) && d.engine == d.py.get("str").asText),
    Limit("unified-branch-used",
      "a value unified to string is a string afterwards: where a branch gave a number or bool, " +
        "the engine applies the string operation (truthiness, `*`, a method) where Python " +
        "applies the number's or raises a TypeError or AttributeError",
      d => d.of(6, 15, 265, 285, 316, 378, 380, 490, 534, 575)),
    Limit("static-reject",
      "a sub-expression that raises on every row it runs (TypeError, AttributeError, " +
        "ValueError, IndexError) is a CompileError, also where Python skips it on some rows (the " +
        "other branch, a short-circuit) or types it differently per row",
      d => d.engine match {
        case Rejected(m) => Seq("TypeError", "AttributeError", "ValueError", "IndexError").exists(m.contains)
        case _ => false
      }),
    Limit("str-vs-number-eq",
      "`==`/`!=` between a str and a number or bool is decided without its operands' values " +
        "(False/True, or None against None), so an error they raise does not surface",
      d => d.of(63) && d.pyErr("ValueError", "IndexError", "ZeroDivisionError") &&
        d.engine.isInstanceOf[java.lang.Boolean]),
    Limit("nan-min-max",
      "min/max with a NaN: Python's answer depends on the argument order, least/greatest " +
        "order NaN above every number",
      d => d.of(227, 497, 562) && d.row.exists(_.toSeq.exists(isNaN))),
    Limit("replace-empty",
      "str.replace with an empty search string returns the string unchanged (Spark replace), " +
        "where Python inserts the replacement around every character",
      d => d.of(110, 135, 280, 314, 315, 445) && d.pyValue.exists(_.isTextual) &&
        d.engine.isInstanceOf[String]),
    Limit("round-non-finite",
      "round() of NaN or ±inf is null (PyRoundExpr's contract), where Python raises " +
        "ValueError or OverflowError",
      d => d.pyErr("ValueError", "OverflowError") && d.engine == null && d.calls("round("))
  )

  private def rootMessage(e: Throwable): String = {
    var t = e
    while (t.getCause != null) t = t.getCause
    Option(t.getMessage).getOrElse(t.toString).takeWhile(_ != '\n')
  }

  private def isErr(p: JsonNode) = p.has("err")

  /** Python raised on this row, and not because of a None input. */
  private def raises(p: JsonNode) = isErr(p) && !p.get("none").asBoolean

  private def show(p: JsonNode): String =
    if (isErr(p)) s"${p.get("err").asText}${if (p.get("none").asBoolean) " on None" else ""}"
    else p.get("v").toString

  /** Python's value equals the engine's: same kind, same value; NaN equals
    * NaN and the sign of a zero is not compared.
    */
  def same(p: JsonNode, e: Any): Boolean = (p, e) match {
    case (p, null) => p.isNull
    case (p, b: java.lang.Boolean) => p.isBoolean && p.booleanValue == b
    case (p, l: java.lang.Long) => p.isIntegralNumber && p.bigIntegerValue == java.math.BigInteger.valueOf(l)
    case (p, d: java.lang.Double) =>
      p.isFloatingPointNumber && (p.doubleValue == d || p.doubleValue.isNaN && d.isNaN)
    case (p, s: String) => p.isTextual && p.textValue == s
    case (p, xs: scala.collection.Seq[_]) =>
      p.isArray && p.size == xs.size && p.asScala.zip(xs).forall { case (q, x) => same(q, x) }
    case _ => false
  }

  /** Where the engine's outcome differs from Python's. Python raising on
    * some row (not on a None) makes raising the expected outcome, and
    * Python raising on every row makes rejecting it one.
    */
  def divergences(c: Case, rows: Seq[Row], o: Outcome): Seq[Divergence] = o match {
    case Rejected(_) => if (c.py.forall(isErr)) Nil else Seq(Divergence(c, None, null, o))
    case Raised(_) =>
      if (c.py.exists(raises)) Nil
      else Seq(Divergence(c, None, null, o))
    case Values(vs) =>
      c.py.zip(vs).zip(rows).collect {
        case ((p, e), row) if isErr(p) || !same(p.get("v"), e) => Divergence(c, Some(row), p, e)
      }
  }
}
