package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.util.Staging

/** The r12 partition-sizing and conf-hygiene machinery: autoPartitions'
  * derivation rule, withShufflePartitions' restore discipline, and the
  * analysis-only construction of the staged medium. */
class StagingSpec extends SparkSpec {

  test("autoPartitions: never below the session value, bytes-derived above it, capped") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // tiny input -> session value (small rungs keep their plans)
    assert(Staging.autoPartitions(spark, 1L, 8L << 20) == session)
    // the recorded sf100 boundary: ~8 GB of staged edge parquet at
    // 8 MiB/partition derives ~1024 — comfortably past the 512 the
    // hand-tuned runs needed, never the 128 that DNF'd
    val derived = Staging.autoPartitions(spark, 8L << 30, 8L << 20)
    assert(derived == math.max(session, 1024), derived.toString)
    // hard cap
    assert(Staging.autoPartitions(spark, 1L << 50, 1L) == 4096)
  }

  test("withShufflePartitions scopes the conf and restores it even on failure") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val inside = Staging.withShufflePartitions(spark, 17) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inside == "17")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    intercept[RuntimeException] {
      Staging.withShufflePartitions(spark, 23) { sys.error("boom") }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("staged graph loops and the dedup heavy guard construct analysis-only (zero jobs)") {
    val jobs = new AtomicInteger(0)
    val heavy = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // `spark.read.parquet` runs a 1-stage footer/schema-inference
        // job at construction — metadata-scale, allowed. Anything with
        // multiple stages (a shuffle) or many tasks is pipeline work
        // and violates the analysis-only contract.
        val tasks = s.stageInfos.map(_.numTasks).sum
        if (s.stageInfos.size > 1 || tasks > 4)
          heavy.add(s"job ${s.jobId}: ${s.stageInfos.size} stages, $tasks tasks"): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pr = graft.ops.Graph.tradeRank(spark, sf, staged = true)
      val lp = graft.ops.Graph.labelPropagation(spark, sf, 3, staged = true)
      val jac = graft.ops.Dedup.jaccardPairsUnsorted(spark, sf, 0.8, staged = true)
      val cp = graft.ops.Dedup.containmentPairs(spark, sf, 0.9, staged = true)
      // all four are deferred leaves on the heavy path
      for (df <- Seq(pr, lp, jac, cp)) {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        assert(plan.contains("DeferredBuild"), plan)
      }
      // construction + explain launched no pipeline work (schema-read
      // metadata jobs excepted; listener posts async — give it a beat)
      Thread.sleep(300)
      assert(heavy.isEmpty,
        s"analysis-only construction ran pipeline jobs: ${heavy.toArray.mkString("; ")}")
      // and the deferred heavy guard returns the same rows as the plain
      // plan (collect triggers the staged build)
      val viaGuard = jac.orderBy("id_a", "id_b").collect().toSeq
      val plain = graft.ops.Dedup.jaccardPairs(spark, sf).collect().toSeq
      assert(viaGuard == plain)
      assert(plain.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
