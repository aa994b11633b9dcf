package graft

/** Parsing of numeric settings (session conf or environment): a bad value
  * fails with an error that names its key, never a bare
  * `NumberFormatException` or a silently copied string. */
object ConfValue {

  def positiveInt(key: String, value: String): Int =
    value.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$key must be a positive integer, got '$value'"))
}
