package graft

import graft.ops.Similarity

/** IVF maintenance: the batch drift report must be internally
  * consistent, and the trigger must respond to the threshold in both
  * directions. */
class IvfMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val report =
    Similarity.ivfMaintenance(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Boolean, Long)].collect()

  test("occupancy censuses partition the corpus and shares are exact") {
    val n = graft.util.Tables.embeddings(spark, sf).count()
    assert(report.map(_._2).sum + report.map(_._3).sum === n,
      "base + delta occupancy must partition the corpus")
    assert(report.map(_._8).sum === n,
      "post-maintenance occupancy must cover the full corpus")
    val totBase = report.map(_._2).sum
    val totDelta = report.map(_._3).sum
    report.foreach { case (_, nb, nd, bppm, dppm, drift, _, _) =>
      assert(bppm === nb * 1000000L / totBase)
      assert(dppm === nd * 1000000L / totDelta)
      assert(drift === math.abs(dppm - bppm))
    }
  }

  test("the re-train trigger is global and threshold-monotone") {
    assert(report.map(_._7).distinct.length === 1,
      "retrain is one decision for the whole index, not per bucket")
    val maxDrift = report.map(_._6).max
    val always = Similarity.ivfMaintenance(spark, sf,
      driftThresholdPpm = -1L).as[(Long, Long, Long, Long, Long, Long, Boolean, Long)]
      .collect()
    assert(always.forall(_._7), "threshold below any drift must trigger")
    val never = Similarity.ivfMaintenance(spark, sf,
      driftThresholdPpm = maxDrift).as[(Long, Long, Long, Long, Long, Long, Boolean, Long)]
      .collect()
    assert(never.forall(!_._7), "threshold at the max drift must not trigger")
  }

  test("retrain-gain recall: probing all buckets is exact, fewer is monotone") {
    val p2 = Similarity.ivfRetrainGain(spark, sf, nprobe = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val p8 = Similarity.ivfRetrainGain(spark, sf, nprobe = 8)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(p8.forall(r => r._2 == 10L && r._3 == 10L),
      "nprobe = nlist probes every bucket: IVF must equal brute force")
    // candidates(2 probes) ⊆ candidates(8 probes) and ground-truth
    // members always outrank non-members, so recall is monotone
    p2.zip(p8).foreach { case ((id, s2, n2), (_, s8, n8)) =>
      assert(s2 <= s8 && n2 <= n8, s"query $id recall not monotone in nprobe")
    }
  }
}
