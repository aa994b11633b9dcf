package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** The round loop of the iterative family (connected components, SCC
  * min-reach, k-core, k-truss, PageRank, label propagation, Louvain
  * moves, TextRank and the BFS/SSSP/closeness/betweenness loops): compose
  * `perAction` rounds of `step` into one lazy plan, materialize it through
  * [[IterCheckpoint]] — reading the optional convergence probe from that
  * same job — and stop at the fixed point or at the round cap.
  *
  * The driver adds no job and no plan node of its own: each action's plan
  * is exactly the rounds the caller composes, observed when there is a
  * probe. A hit cap returns the partial state with `converged = false`;
  * the caller decides whether that is worth a warning
  * ([[warnCapHit]]) — the bounded-round loops treat it as normal.
  */
private[graft] object Fixpoint {

  /** A convergence probe: `metrics(lastRound)` are aggregates observed on
    * each checkpoint job (`lastRound` is the index of the job's last
    * round), and `done(prev, cur)` compares this job's row with the
    * previous job's (`None` on the first). */
  final case class Probe(metrics: Int => Seq[Column], done: (Option[Row], Row) => Boolean)

  object Probe {
    /** A probe whose metrics are the same every round. */
    def apply(metrics: Seq[Column], done: (Option[Row], Row) => Boolean): Probe =
      Probe((_: Int) => metrics, done)
  }

  /** Done when the row count repeats or reaches zero: the fixed point of a
    * peel whose surviving set only shrinks (k-core, k-truss), so an equal
    * count means an equal set. The first job has no count to compare. */
  val rowsStable: Probe = Probe(Seq(count(lit(1)).as("m")), { (prev, cur) =>
    val m = cur.getAs[Long]("m")
    prev.exists(_.getAs[Long]("m") == m) || m == 0L
  })

  /** The last materialized state (`init` when no round ran), the rounds
    * run, and whether the probe saw the fixed point. A run without a probe
    * is complete after its `cap` rounds and reports `converged = true`. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Run rounds `0 until cap` of `step(state, roundIndex)` from `init`
    * (already materialized), `perAction` rounds per checkpoint job (the
    * last job takes the remainder). With a probe the loop stops after the
    * first job whose row satisfies `done`; without one it runs exactly
    * `cap` rounds. */
  def run(init: DataFrame, cap: Int, perAction: Int, probe: Option[Probe] = None)(
      step: (DataFrame, Int) => DataFrame): Result = {
    require(perAction > 0, s"perAction must be positive, got $perAction")
    var state = init
    var rounds = 0
    var last = Option.empty[Row]
    var converged = false
    while (!converged && rounds < cap) {
      val steps = math.min(perAction, cap - rounds)
      val stepped = (rounds until rounds + steps).foldLeft(state)(step)
      state = probe match {
        case Some(p) =>
          val (ck, row) = IterCheckpoint.observed(stepped, p.metrics(rounds + steps - 1): _*)
          converged = p.done(last, row)
          last = Some(row)
          ck
        case None => IterCheckpoint(stepped)
      }
      rounds += steps
    }
    Result(state, rounds, converged || probe.isEmpty)
  }

  /** The iterative family's warning for a loop that hit its cap before its
    * fixed point, logged under `owner`'s logger (owner is the operator
    * object, so the logger name is the operator's class). */
  def warnCapHit(owner: AnyRef, message: String): Unit =
    org.slf4j.LoggerFactory.getLogger(owner.getClass).warn(message)
}
