package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Literal typing rules (SURVEY §7.4 item 6): YAML scalars must become
  * correctly-typed Spark literals — `integer` means Int64/LongType (an
  * uncast Int literal would be IntegerType and fail schema validation,
  * reference main.py:321-323). Reference: asignation.py:15, comparison.py:14.
  */
object Literals {

  private val isoDate = "^\\d{4}-\\d{2}-\\d{2}$".r

  /** Spark literal for a YAML scalar, with 64-bit integer typing. */
  def toLit(v: Any): Column = v match {
    case null                  => lit(null)
    case i: java.lang.Integer  => lit(i.longValue)
    case l: java.lang.Long     => lit(l.longValue)
    case i: scala.Int          => lit(i.toLong)
    case l: scala.Long         => lit(l)
    case d: java.lang.Double   => lit(d.doubleValue)
    case f: java.lang.Float    => lit(f.doubleValue)
    case d: scala.Double       => lit(d)
    case b: java.lang.Boolean  => lit(b.booleanValue)
    case b: scala.Boolean      => lit(b)
    case d: java.time.LocalDate => lit(java.sql.Date.valueOf(d))
    case d: java.util.Date =>
      lit(new java.sql.Date(d.getTime)).cast(DateType)
    case s: String             => lit(s)
    case big: java.math.BigInteger => lit(big.longValueExact)
    case other                 => lit(other.toString)
  }

  /** Literal coerced to a target column type — used by switching, whose
    * YAML mapping keys always parse as strings but must compare against the
    * switch column's native type (switching.py:27-52).
    */
  def toLitAs(v: Any, dt: DataType): Column = (v, dt) match {
    case (null, _) => lit(null).cast(dt)
    case (s: String, LongType)    => lit(s.trim.toLong)
    case (s: String, IntegerType) => lit(s.trim.toInt)
    case (s: String, DoubleType)  => lit(s.trim.toDouble)
    case (s: String, BooleanType) => lit(s.trim.toBoolean)
    case (s: String, DateType) if isoDate.matches(s.trim) =>
      lit(java.sql.Date.valueOf(s.trim))
    case (s: String, _: StringType) => lit(s)
    case _ => toLit(v).cast(dt)
  }

  /** Broad type family, for Polars-parity strict comparison checks. */
  def family(dt: DataType): String = dt match {
    case _: NumericType => "numeric"
    case StringType     => "string"
    case BooleanType    => "boolean"
    case DateType | TimestampType | TimestampNTZType => "temporal"
    case _              => dt.simpleString
  }

  def familyOf(v: Any): String = v match {
    case null => "null"
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Double |
         _: java.lang.Float | _: Int | _: Long | _: Double | _: Float |
         _: java.math.BigInteger => "numeric"
    case _: java.lang.Boolean | _: Boolean => "boolean"
    case _: java.util.Date | _: java.time.LocalDate => "temporal"
    case _: String => "string"
    case _ => "other"
  }
}
