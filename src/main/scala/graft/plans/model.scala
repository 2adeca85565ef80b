package graft.plans

import org.apache.spark.sql.types._

/** The reference's 6-type universe.
  * Reference: /root/reference/app/models.py:6-13 (POLARS_TYPE_MAP).
  * `integer`/`positive integer` are 64-bit (Polars Int64) → LongType.
  */
sealed abstract class SchemaType(val name: String, val spark: DataType) {
  override def toString: String = name
}
object SchemaType {
  case object Str    extends SchemaType("string", StringType)
  case object Int64  extends SchemaType("integer", LongType)
  case object Flt    extends SchemaType("float", DoubleType)
  case object Bool   extends SchemaType("boolean", BooleanType)
  case object Dt     extends SchemaType("date", DateType)
  case object PosInt extends SchemaType("positive integer", LongType)

  val all: Seq[SchemaType] = Seq(Str, Int64, Flt, Bool, Dt, PosInt)

  def fromName(s: String): SchemaType =
    all.find(_.name == s.trim.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"unknown schema type '$s'"))

  /** Reverse map parity: the reference's dict inversion makes Int64 reverse-map
    * to "positive integer" (models.py:14-16 — last writer wins). Used only for
    * error-message text, mirroring that quirk.
    */
  def reverseName(dt: DataType): String = dt match {
    case LongType    => "positive integer"
    case StringType  => "string"
    case DoubleType  => "float"
    case BooleanType => "boolean"
    case DateType    => "date"
    case other       => other.simpleString
  }
}

/** models.py:21-24 — description exists only to guide the external LLM loop. */
final case class ColumnDef(tpe: SchemaType, description: Option[String] = None)

/** models.py:26-28 — ordered: output column order follows declaration order. */
final case class FileSchema(name: String, columns: Seq[(String, ColumnDef)]) {
  def columnNames: Seq[String] = columns.map(_._1)
}

/** models.py:32-35. format ∈ csv|json|parquet, default csv; orc is a
  * graft extension (columnar alternative, Spark-native). */
final case class FileDef(path: String, format: String, schema: FileSchema)

/** models.py:141-144; ≥1 input and ≥1 output enforced at parse (main.py:348-351). */
final case class PipelineConfig(inputs: Seq[(String, FileDef)], outputs: Seq[(String, FileDef)]) {
  val inputMap: Map[String, FileDef] = inputs.toMap
  val outputMap: Map[String, FileDef] = outputs.toMap
}

/** models.py:146-149. */
final case class PipelineFlow(source: String, operations: Seq[Operation])

// ---------------------------------------------------------------------------
// Operation ADT — mirrors the discriminated union models.py:122-137.
// The 11 reference operations, plus extended (beyond-reference) operations
// marked Extended below. Literal values from YAML are kept as Any and typed
// at compile time by graft.operators.Literals.
// ---------------------------------------------------------------------------

sealed trait Operation {
  def opType: String
  def outputColumn: Option[String]
}

/** Copy a column under a new name (models.py:46-48, equality.py). */
final case class Equality(inputColumn: String, outputColumn: Option[String])
    extends Operation { val opType = "equality" }

/** String-concat N columns with separator; null-propagating like Polars
  * concat_str(ignore_nulls=False) (models.py:50-53, concatenation.py).
  */
final case class Concatenation(
    inputColumns: Seq[String],
    separator: String = "",
    outputColumn: Option[String]) extends Operation { val opType = "concatenation" }

/** Row-wise lambda expressed as a Python-ish string, compiled to native
  * Columns by graft.functions.MiniLambda (models.py:55-58, application.py).
  */
final case class Application(
    inputColumns: Seq[String],
    functionStr: String,
    outputColumn: Option[String]) extends Operation { val opType = "application" }

/** Multi-way CASE: value of switchColumn looked up in mapping(literal →
  * source column); exactly one of defaultColumn/defaultValue
  * (models.py:60-76, switching.py).
  */
final case class Switching(
    switchColumn: String,
    mapping: Seq[(Any, String)],
    defaultColumn: Option[String],
    defaultValue: Option[Any],
    outputColumn: Option[String]) extends Operation {
  val opType = "switching"
  require(defaultColumn.isDefined != defaultValue.isDefined,
    "exactly one of default_column / default_value must be provided")
}

/** New column = literal constant (models.py:78-80, asignation.py). */
final case class Assignation(value: Any, outputColumn: Option[String])
    extends Operation { val opType = "assignation" }

/** Cast to one of the 6 schema types; strict (ANSI) like Polars
  * (models.py:82-85, casting.py).
  */
final case class Casting(
    inputColumn: String,
    targetType: SchemaType,
    outputColumn: Option[String]) extends Operation { val opType = "casting" }

/** Binary + - * / between exactly two columns (models.py:87-90, arithmetic.py). */
final case class Arithmetic(
    inputColumns: Seq[String],
    operator: String,
    outputColumn: Option[String]) extends Operation {
  val opType = "arithmetic"
  require(inputColumns.length == 2, "arithmetic requires exactly two input columns")
  require(Set("+", "-", "*", "/")(operator), s"unsupported operator '$operator'")
}

/** Compare a column against a literal; boolean out (models.py:92-96, comparison.py). */
final case class Comparison(
    inputColumn: String,
    operator: String,
    value: Any,
    outputColumn: Option[String]) extends Operation {
  val opType = "comparison"
  require(Set("==", "!=", ">", "<", ">=", "<=")(operator), s"unsupported operator '$operator'")
}

/** Join current frame (left) with a named input or CSV path (right).
  * Right side projected to {rightOn} ∪ columnsToAdd; colliding right columns
  * suffixed `_right` (until unique); right key dropped for equi-joins
  * (models.py:98-105, bind.py).
  */
final case class Bind(
    rightFilePath: String,
    rightSchemaColumns: Seq[(String, SchemaType)],
    leftOn: String,
    rightOn: String,
    how: String = "left",
    columnsToAdd: Seq[String]) extends Operation {
  val opType = "bind"
  val outputColumn: Option[String] = None
  require(Set("left", "inner", "outer", "cross")(how), s"unsupported join type '$how'")
}

/** Wide→long unpivot (models.py:107-112, fold.py). Heterogeneous value columns
  * are pre-cast to their least common supertype (Polars melt parity).
  */
final case class Fold(
    idColumns: Seq[String],
    valueColumns: Seq[String],
    keyColumnName: String,
    valueColumnName: String) extends Operation {
  val opType = "fold"
  val outputColumn: Option[String] = None
}

/** Long→wide pivot; duplicate (index,key) resolved by FIRST — the only
  * aggregation in the reference engine (models.py:114-118, unfold.py:34).
  */
final case class Unfold(
    indexColumns: Seq[String],
    keyColumn: String,
    valueColumn: String) extends Operation {
  val opType = "unfold"
  val outputColumn: Option[String] = None
}

// ---------------------------------------------------------------------------
// Extended operations (beyond the reference surface — SURVEY §2.4 lists these
// as absent there; added here as first-class pipeline operations so a YAML
// flow can express filters/aggregates/sorts/sets like any other step).
// ---------------------------------------------------------------------------

/** Extended: row filter. predicate = MiniLambda expression or column name of a boolean column. */
final case class FilterOp(predicate: String) extends Operation {
  val opType = "filter"; val outputColumn: Option[String] = None
}

/** Extended: group-by aggregation. aggregations: output col → (func, input col).
  * func ∈ sum|count|avg|min|max|count_distinct|approx_count_distinct|first|
  * stddev|stddev_pop|median|collect_set_size.
  * mode ∈ group (plain) | rollup | cube (hierarchical/multi-dim subtotals).
  */
final case class AggregateOp(
    groupBy: Seq[String],
    aggregations: Seq[(String, (String, String))],
    mode: String = "group") extends Operation {
  val opType = "aggregate"; val outputColumn: Option[String] = None
}

/** Extended: sort + optional limit (top-k friendly: limit pushes into TakeOrdered). */
final case class SortOp(
    sortBy: Seq[(String, Boolean)], // (column, ascending)
    limit: Option[Int]) extends Operation {
  val opType = "sort"; val outputColumn: Option[String] = None
}

/** Extended: window function. func ∈ row_number|rank|dense_rank|percent_rank|
  * cume_dist|lag|lead|first|last|sum|avg|min|max|count|cume_sum. */
final case class WindowOp(
    partitionBy: Seq[String],
    orderBy: Seq[(String, Boolean)],
    func: String,
    inputColumn: Option[String],
    outputColumn: Option[String]) extends Operation { val opType = "window" }

/** Extended: drop exact duplicate rows over subset (empty = all columns). */
final case class DistinctOp(subset: Seq[String]) extends Operation {
  val opType = "distinct"; val outputColumn: Option[String] = None
}

/** Extended: set operation with another input. kind ∈ union|union_distinct|intersect|except. */
final case class SetOp(kind: String, rightInput: String) extends Operation {
  val opType = "set"; val outputColumn: Option[String] = None
  require(Set("union", "union_distinct", "intersect", "except")(kind), s"unsupported set op '$kind'")
}

/** Extended: project to exactly these columns (with optional renames old→new). */
final case class SelectOp(columns: Seq[(String, Option[String])]) extends Operation {
  val opType = "select"; val outputColumn: Option[String] = None
}

/** Unknown operation type — the reference skips these with a warning
  * (main.py:417-418); Runner replicates that.
  */
final case class UnknownOp(name: String) extends Operation {
  val opType = "unknown"; val outputColumn: Option[String] = None
}
