package graft

/** Parsing of settings (session conf or environment): a bad value fails
  * with an error that names its key, never a bare `NumberFormatException`
  * or a silently copied string. */
object ConfValue {

  def positiveInt(key: String, value: String): Int =
    parse(key, value, "a positive integer")(_.toIntOption.filter(_ > 0))

  def nonNegativeLong(key: String, value: String): Long =
    parse(key, value, "a non-negative integer")(_.toLongOption.filter(_ >= 0))

  def boolean(key: String, value: String): Boolean =
    parse(key, value, "true or false")(_.toBooleanOption)

  private def parse[T](key: String, value: String, what: String)(p: String => Option[T]): T =
    p(value.trim).getOrElse(throw new IllegalArgumentException(
      s"$key must be $what, got '$value'"))
}
