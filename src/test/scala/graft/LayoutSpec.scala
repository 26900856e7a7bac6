package graft

import graft.sink.Layout

class LayoutSpec extends SparkSpec {

  test("compaction plan: bins partition each source's shards, byte-exact") {
    import spark.implicits._
    val target = 4000L
    val plan = Layout.compactionPlan(spark, sf, target)
      .as[(String, String, Long, Long, Long)].collect()
    plan.groupBy(_._1).foreach { case (_, shards) =>
      // replay the greedy prefix-sum assignment row by row
      var cum = 0L
      shards.sortBy(_._2).foreach { case (_, _, bytes, bin, _) =>
        assert(bin === cum / target)
        cum += bytes
      }
      // bin_bytes is the exact per-bin rollup and bins cover all bytes
      shards.groupBy(_._4).foreach { case (_, inBin) =>
        assert(inBin.forall(_._5 == inBin.map(_._3).sum))
      }
      assert(shards.map(_._3).sum === cum)
    }
  }
}
