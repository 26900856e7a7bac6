package graft

import org.apache.spark.sql.SparkSession

/** The session the local mains start from: `local[cores]` with as many
  * shuffle partitions, UTC session time, nanosecond parquet timestamps
  * read as longs (converted by `util.Tables.events`) and no UI. A main
  * adds its own settings to the returned builder. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the cores this JVM may use. */
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(n: String = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
