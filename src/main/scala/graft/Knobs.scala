package graft

/** Validation for the integer tuning knobs read from system properties and
  * the environment: a bad value fails loudly, naming the knob, instead of
  * surfacing later as a bare `NumberFormatException` or a nonsense setting.
  */
object Knobs {

  /** A positive integer knob. An unset knob (`raw = None`) keeps `default`;
    * a non-integer or a value ≤ 0 raises `IllegalArgumentException`.
    */
  def positiveInt(name: String, raw: Option[String], default: => Int): Int = raw match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
  }
}
