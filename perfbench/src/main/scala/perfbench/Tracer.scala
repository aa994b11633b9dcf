package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** In-memory span recorder for the traced run. A span has a name, start
  * and end (ns since the tracer opened), its parent, and attributes; the
  * listener counters of [[Meter]] are attached when the run ends. Spans
  * are only written out after the measured work is done. */
final class Tracer(spark: SparkSession, val meter: Meter) {
  import Tracer.Span

  private val origin = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]

  /** Runs `body` inside a new span; Spark jobs it causes are tagged with
    * the span id so the meter attributes their tasks to it. */
  def span[A](name: String, parent: Int)(body: Int => A): A = {
    val s = Span(spans.size, name, parent, System.nanoTime() - origin)
    spans += s
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Meter.SpanKey)
    sc.setLocalProperty(Meter.SpanKey, s.id.toString)
    meter.current = s.id
    try body(s.id)
    finally {
      s.end = System.nanoTime() - origin
      sc.setLocalProperty(Meter.SpanKey, outer)
      meter.current = Option(outer).map(_.toInt).getOrElse(Meter.NoSpan)
    }
  }

  def annotate(id: Int, attrs: Map[String, Double]): Unit =
    spans(id).attrs ++= attrs

  def seconds(id: Int): Double = (spans(id).end - spans(id).start) / 1e9

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  /** Counters of a span: its own plus every descendant's. */
  def counters(id: Int): Map[String, Double] =
    children(id).map(c => counters(c.id)).foldLeft(meter.of(id))(Tracer.sum)

  def toJson: String = spans.map { s =>
    val c = counters(s.id) ++ s.attrs
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "start_s" -> Json.num(s.start / 1e9),
      "end_s" -> Json.num(s.end / 1e9),
      "counters" -> Json.obj(c.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long,
      var end: Long = -1L, var attrs: Map[String, Double] = Map.empty)

  def sum(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
}

/** Just enough JSON writing for the records this harness emits. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
