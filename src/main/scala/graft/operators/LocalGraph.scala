package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Single-task finish for the iterative graph operators (connected
  * components, k-core). Below one advisory partition every distributed
  * round is a few-KB job that costs tens of milliseconds of scheduling,
  * so an operator whose [[Graph]] passes the one gate,
  * [[Graph.fitsLocally]], returns a lazy `coalesce(1).mapPartitions`
  * frame instead ([[Graph.finishLocally]]): the one task gathers the
  * edges into primitive arrays over a dense node index and replays the
  * operator's own synchronous rounds in memory. The replay is round for
  * round — same init, same cap, same convergence test — so its rows equal
  * the distributed loop's even when the cap is hit.
  */
private[operators] object LocalGraph {

  /** Edge list over dense node indices: edge `e` runs `a(e)` → `b(e)`, and
    * `ids(v)` is node `v`'s id. Ids ascend with the index, so a min over
    * indices is the min over ids. */
  final class Edges(val ids: Array[Long], val a: Array[Int], val b: Array[Int]) {
    def nodes: Int = ids.length
  }

  /** The lazy one-task frame over `sym`, typed `schema` (two columns of
    * `sym`'s id type): `kernel` returns parallel (left, right) node-index
    * arrays, one output row per position. */
  def finish(sym: DataFrame, schema: StructType)(
      kernel: Edges => (Array[Int], Array[Int])): DataFrame = {
    val box = toId(schema.head.dataType).get
    val out = sym.coalesce(1).mapPartitions { rows =>
      val g = gather(rows)
      val (l, r) = kernel(g)
      Iterator.tabulate(l.length)(i => Row(box(g.ids(l(i))), box(g.ids(r(i)))))
    }(Encoders.row(schema))
    IterRoundExplain.maybeDump(out)
    out
  }

  /** Long → the boxed value of a LONG or INT id column. */
  def toId(t: DataType): Option[Long => Any] = t match {
    case LongType    => Some(x => x)
    case IntegerType => Some(_.toInt)
    case _           => None
  }

  private def gather(rows: Iterator[Row]): Edges = {
    val (as, bs) = (Array.newBuilder[Long], Array.newBuilder[Long])
    rows.foreach { r =>
      as += r.get(0).asInstanceOf[Number].longValue
      bs += r.get(1).asInstanceOf[Number].longValue
    }
    val (a, b) = (as.result(), bs.result())
    // symmetric input: the first column already holds every endpoint
    val ids = a.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    def index(x: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, x)
    new Edges(java.util.Arrays.copyOf(ids, n), a.map(index), b.map(index))
  }
}
