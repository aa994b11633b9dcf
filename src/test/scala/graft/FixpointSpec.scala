package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Fixpoint, IterCheckpoint, IterRoundExplain}

/** The contract of the iterative family's loop driver on hand-built
  * frames: rounds per checkpoint job, the cap, and what the probe sees.
  * Checkpoint jobs are counted from the per-round plan dump
  * (`graft.iter.explainTo`), which writes one header per materialization. */
class FixpointSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val init = IterCheckpoint(Seq((1L, 0L), (2L, 0L)).toDF("id", "v"))

  /** Adds one to every `v`, recording the round index it was called with. */
  private def counting(calls: collection.mutable.Buffer[Int])(st: DataFrame, i: Int): DataFrame = {
    calls += i
    st.select(col("id"), (col("v") + 1).as("v"))
  }

  private def vs(df: DataFrame): Set[Long] = df.select("v").as[Long].collect().toSet

  /** Run `body` with the per-round plan dump on, returning its result and
    * the number of checkpoint jobs it took. */
  private def jobs[T](body: => T): (T, Int) = {
    val f: Path = Files.createTempFile("graft_fixpoint", ".txt")
    spark.conf.set(IterRoundExplain.ConfKey, f.toString)
    val out = try body finally spark.conf.unset(IterRoundExplain.ConfKey)
    val n = Files.readString(f).linesIterator.count(_.startsWith("===== iterCheckpoint #"))
    (out, n)
  }

  private def sumV(stopAt: Long) = Fixpoint.Probe(Seq(sum(col("v")).as("s")),
    (_, cur) => cur.getAs[Long]("s") >= stopAt)

  test("a fixed-round run takes ceil(cap / perAction) checkpoint jobs and runs every round") {
    for ((cap, perAction) <- Seq((5, 2), (6, 2), (7, 3), (4, 1), (2, 5))) {
      val calls = collection.mutable.Buffer.empty[Int]
      val (r, n) = jobs(Fixpoint.run(init, cap, perAction)(counting(calls)))
      assert(n === (cap + perAction - 1) / perAction, s"cap $cap perAction $perAction")
      assert(calls === (0 until cap))
      assert((r.rounds, r.converged) === (cap, true))
      assert(vs(r.state) === Set(cap.toLong))
    }
  }

  test("cap = 0 returns init and takes no checkpoint") {
    for (probe <- Seq(None, Some(sumV(0L)))) {
      val calls = collection.mutable.Buffer.empty[Int]
      val (r, n) = jobs(Fixpoint.run(init, 0, 2, probe)(counting(calls)))
      assert(r.state eq init)
      assert(n === 0 && calls.isEmpty && r.rounds === 0)
      assert(r.converged === probe.isEmpty)
    }
  }

  test("a probed run stops at the first job whose row is done, on the job cadence") {
    // v reaches 3 (sum 6) in round index 2, inside the second 2-round job
    val calls = collection.mutable.Buffer.empty[Int]
    val (r, n) = jobs(Fixpoint.run(init, 10, 2, Some(sumV(6L)))(counting(calls)))
    assert((r.rounds, r.converged, n) === (4, true, 2))
    assert(calls === (0 until 4))
    assert(vs(r.state) === Set(4L))
  }

  test("a hit cap reports converged = false and rounds == cap") {
    for (perAction <- Seq(1, 3)) {
      val (r, n) = jobs(Fixpoint.run(init, 7, perAction, Some(sumV(Long.MaxValue)))(
        counting(collection.mutable.Buffer.empty)))
      assert((r.rounds, r.converged) === (7, false))
      assert(n === (7 + perAction - 1) / perAction)
      assert(vs(r.state) === Set(7L))
    }
  }

  test("done sees None on the first job, then the previous job's row") {
    val seen = collection.mutable.Buffer.empty[(Option[Long], Long)]
    val probe = Fixpoint.Probe(Seq(max(col("v")).as("m")), { (prev: Option[Row], cur: Row) =>
      seen += (prev.map(_.getAs[Long]("m")) -> cur.getAs[Long]("m"))
      false
    })
    Fixpoint.run(init, 5, 2, Some(probe))((st, _) => st.select(col("id"), (col("v") + 1).as("v")))
    assert(seen === Seq(None -> 2L, Some(2L) -> 4L, Some(4L) -> 5L))
  }

  test("round-dependent metrics see the index of the job's last round") {
    val lastRounds = collection.mutable.Buffer.empty[Int]
    val probe = Fixpoint.Probe({ (last: Int) =>
      lastRounds += last
      Seq(count(lit(1)).as("n"))
    }, (_: Option[Row], _: Row) => false)
    Fixpoint.run(init, 5, 2, Some(probe))((st, _) => st)
    assert(lastRounds === Seq(1, 3, 4))
  }
}
