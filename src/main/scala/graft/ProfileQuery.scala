package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job decomposition of one named query (guide §1: measure first).
  *
  * Runs `SparkEntry.queries(name)` against a data dir under the same
  * session shape as [[Bench]] (local[$SPARK_GRAFT_CPUS], noop sink,
  * unpersist-all between runs) and prints every Spark job's wall time,
  * description/call site, and stage count — the breakdown the
  * (disabled) UI would show. Analysis-only tool; never part of the
  * bench or verify contract.
  *
  * Usage: `tools/run_main.sh graft.ProfileQuery q_longest_dup_span
  * /root/testdata/sf0.1 [reps]`
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = LocalSession.builder()
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", LocalSession.cores))
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new ConcurrentHashMap[Int, (Long, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(j.jobId, (System.nanoTime(), desc, j.stageIds.size))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val dt = (for (a <- i.completionTime; b <- i.submissionTime)
          yield (a - b) / 1e3).getOrElse(-1.0)
        if (dt >= sys.env.getOrElse("SPARK_GRAFT_PROFILE_STAGE_MIN", "0.3").toDouble) {
          val m = i.taskMetrics
          println(f"  [stage ${i.stageId}%4d] $dt%8.3f s  tasks=${i.numTasks}%-4d " +
            f"in=${m.inputMetrics.bytesRead / 1e6}%.1fMB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.1fMB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1fMB " +
            f"cpu=${m.executorCpuTime / 1e9}%.2fs gc=${m.jvmGCTime / 1e3}%.2fs  " +
            i.name.take(80))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, desc, nStages) =>
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[job ${j.jobId}%4d] $dt%8.3f s  stages=$nStages%-3d $desc")
        }
      }
    })
    graft.util.Tables.All.foreach { t =>
      try graft.util.Tables(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    val fn = SparkEntry.queries(name)
    for (r <- 1 to reps) {
      println(s"=== run $r of $name ===")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"=== run $r total ${(System.nanoTime() - t0) / 1e9}%.3f s ===")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
