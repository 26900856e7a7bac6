package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Per-query `explain("formatted")` dumps for optimization-round
  * before/after evidence (one file per query, unlike [[Plans]]' single
  * PLANS.md). The plan is the EXECUTED one (AQE-final) unless the query
  * name carries a `!` suffix, which dumps the analysis-only plan without
  * running the query — that is the mode for deferred staged pipelines,
  * where the point being proven is that construction runs zero jobs.
  *
  * Usage:
  *   tools/run_main.sh graft.PlanDump <sfDir> <outDir> q_a,q_b,q_c!
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").toSeq
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { raw =>
      val analysisOnly = raw.endsWith("!")
      val name = raw.stripSuffix("!")
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (!analysisOnly) df.collect(): Unit
      val suffix = if (analysisOnly) " (analysis-only, not executed)" else " (AQE-final, executed)"
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        s"# $name @ $sfDir$suffix\n" +
          df.queryExecution.explainString(FormattedMode).trim + "\n")
      println(s"wrote $outDir/$name.txt")
    }
    spark.stop()
  }
}
