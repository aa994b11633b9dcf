package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants for the round-7 audit/report family — cheap
  * assertions that hold at ANY scale factor, complementing the exact
  * DuckDB hash checks with properties a hash cannot express (bounds,
  * monotonicity, conservation). */
class AuditQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("quantile normalization maps every group onto one pooled range") {
    val rows = queries.EventQueries.qQuantileNorm(spark, sf).collect()
    assert(rows.length > 1)
    // after quantile normalization all groups share the pooled extremes
    assert(rows.map(_.getDouble(3)).distinct.length === 1, "min_norm differs")
    assert(rows.map(_.getDouble(4)).distinct.length === 1, "max_norm differs")
    val nIn = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === nIn,
      "normalized rows must conserve the input count")
  }

  test("gate attrition is a monotone funnel that conserves drops") {
    val rows = queries.PipelineQueries.qGateAttrition(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ===
      Seq("0_input", "1_lang", "2_quality", "3_exact_dedup", "4_canonical"))
    val counts = rows.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      "stage counts must be non-increasing")
    rows.sliding(2).foreach {
      case Array((_, prev, _, _), (_, cur, dropped, _)) =>
        assert(prev - cur === dropped, "dropped must equal the stage delta")
      case _ =>
    }
    assert(rows.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
  }

  test("sketch audits report coherent error statistics") {
    val mh = queries.DedupQueries.qMinhashError(spark, sf).head()
    assert(mh.getLong(0) > 0, "minhash audit saw no pairs")
    assert(mh.getLong(1) + mh.getLong(2) + mh.getLong(3) === mh.getLong(0),
      "over/under/equal must partition the pairs")
    assert(mh.getDouble(4) <= mh.getDouble(5) + 1e-12, "mean > max")

    val cms = queries.SketchQueries.qCmsError(spark, sf).head()
    assert(cms.getLong(1) <= cms.getLong(0), "exact hits exceed tokens")
    assert(cms.getLong(2) >= 0L, "CMS must never underestimate")
    assert(cms.getDouble(4) >= 0.0, "mean overestimate negative")

    val hll = queries.DedupQueries.qHllError(spark, sf).head()
    assert(hll.getLong(0) > 0L)
    // m=128 standard error ~9%; 4 sigma guard
    assert(math.abs(hll.getDouble(2)) < 0.4, s"HLL error implausible: $hll")

    val srp = queries.SimilarityQueries.qSrpError(spark, sf).head()
    assert(srp.getLong(0) > 0)
    assert(srp.getDouble(1) <= srp.getDouble(2) + 1e-12, "mean > max")
    assert(math.abs(srp.getDouble(3)) <= srp.getDouble(1) + 1e-12,
      "|bias| cannot exceed the mean absolute error")
  }

  test("IVF recall and CF hit-rate stay inside their counting bounds") {
    val r = queries.SimilarityQueries.qIvfRecall(spark, sf).head()
    assert(r.getLong(0) > 0)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= r.getDouble(2) + 1e-12)

    val h = queries.GraphQueries.qCfHitrate(spark, sf).head()
    val (nTest, nScored, nHits) = (h.getLong(0), h.getLong(1), h.getLong(2))
    assert(nScored <= nTest, "scored orders cannot exceed test orders")
    assert(nHits <= nScored, "a hit requires a scored order")
    assert(h.getDouble(3) >= 0.0 && h.getDouble(3) <= 1.0)
  }
}
