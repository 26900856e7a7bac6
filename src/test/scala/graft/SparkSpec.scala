package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local[4] JVM-wide SparkSession. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** After a collected staged run under `root`: a `graft_stage_<label>_`
    * slot exists per label, every slot holds only its final `out` phase,
    * and no bucketed graph adjacency table is left in the catalog. */
  def assertStagedCleanup(root: java.nio.file.Path, labels: String*): Unit = {
    val slots = Option(root.toFile.listFiles()).getOrElse(Array.empty).toSeq
    labels.foreach(l => assert(slots.exists(_.getName.startsWith(s"graft_stage_${l}_")),
      s"no $l slot under $root"))
    slots.foreach { s =>
      val phases = Option(s.list()).getOrElse(Array.empty[String]).toSeq
      assert(phases == Seq("out"), s"$s holds ${phases.mkString(", ")}")
    }
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_pr_adj_") || n.startsWith("graft_lp_bi_"))
    assert(left.isEmpty, s"bucketed tables left behind: ${left.mkString(", ")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
