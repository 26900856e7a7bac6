package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Phase-staging machinery for operators whose single-plan spelling
  * accumulates more shuffle spill than the disk budget at large scale
  * (first built for the PPJoin sf100 pipeline, now shared by the graph
  * iteration loops, the KN-trigram scorer and the Dedup heavy guard).
  * The pattern: write each phase's output as compressed columnar
  * parquet, drop the phase's plan references, drain the freed shuffle
  * files, and start the next phase from the parquet — peak disk becomes
  * (staged parquet) + (one phase's own spill) instead of the sum of every
  * phase's spill. On a cluster the same staging is
  * checkpoint()/exchange-reuse; the parquet spelling is also
  * restart-friendly (phases are idempotent overwrites).
  *
  * [[run]] is the one entry point: an operator is written once against
  * [[Phases]], and the medium (lazy in-memory plan or parquet phases) is
  * chosen by the caller from input bytes. */
object Staging {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Run one operator written against [[Phases]], in one of two media:
    *
    *  - in memory (`stage = false`): `body`'s plan is the result, with no
    *    leaf around it; [[Phases.keyed]] persists (lazily) and
    *    [[Phases.rounds]] local-checkpoints every k rounds (eagerly, as
    *    `localCheckpoint` does).
    *  - staged (`stage = true`): a [[graft.plans.Deferred]] leaf of
    *    `schema` (construction runs zero jobs). At first execution, under
    *    `parts` shuffle partitions, every phase lands as parquet in a
    *    fresh slot under `spark.graft.stage.root` and its shuffle files
    *    are drained before the next phase starts; `body`'s result is
    *    written as the final phase `out`, which the leaf scans. Every
    *    other phase and every bucketed table is removed in a `finally`.
    *
    * `label` names the slot (`graft_stage_<label>_<id>`) and prefixes
    * each phase's job description (`<label>: <phase>`). */
  def run(spark: SparkSession, label: String, schema: StructType,
      stage: Boolean, parts: => Int)(body: Phases => DataFrame): DataFrame =
    if (!stage) body(new Phases(spark, label, None))
    else graft.plans.Deferred(spark, schema, label) { () =>
      withShufflePartitions(spark, parts) {
        val p = new Phases(spark, label, Some(stageDir(spark, label)))
        try p.write("out", body(p)) finally p.close()
        spark.read.parquet(p.path("out"))
      }
    }

  /** The phases of one [[run]]: in memory when `slot` is empty, else
    * parquet phases under the `slot` directory. */
  final class Phases private[Staging] (spark: SparkSession, label: String,
      slot: Option[String]) {
    private val tables = scala.collection.mutable.ListBuffer.empty[String]

    private[Staging] def path(name: String): String = s"${slot.get}/$name"

    private[Staging] def write(name: String, df: DataFrame): Unit =
      phase(spark, s"$label: $name") {
        df.write.mode("overwrite").parquet(path(name))
      }

    /** Phase `name`. Staged: `df` is written, its shuffle files drained,
      * and the returned frame reads it back. In memory: `df` itself. */
    def stage(name: String, df: DataFrame): DataFrame =
      if (slot.isEmpty) df
      else {
        write(name, df)
        drainPhaseShuffles(spark)
        spark.read.parquet(path(name))
      }

    /** Phase `name`, hash-partitioned on `key` and pinned for repeated
      * joins on it; `within` runs over the key-partitioned rows before
      * they are pinned (a window on `key` reuses that exchange). Staged:
      * an external table `graft_<name>_<slot id>` bucketed and sorted on
      * `key`, one file per bucket, at the partition count in force, so a
      * join on `key` scans it with no exchange. In memory: repartition
      * and a columnar MEMORY_AND_DISK persist (not localCheckpoint, which
      * unrolls raw rows: at sf10 that unroll of a 110M-edge adjacency was
      * a JVM-killing OOM). */
    def keyed(name: String, df: DataFrame, key: String,
        within: DataFrame => DataFrame = identity): DataFrame = slot match {
      case None =>
        within(df.repartition(col(key))).persist(StorageLevel.MEMORY_AND_DISK)
      case Some(dir) =>
        val parts = spark.conf.get(ShufflePartitions).toInt
        val table = s"graft_${name}_${dir.substring(dir.lastIndexOf('_') + 1)}"
        tables += table
        phase(spark, s"$label: $name") {
          stageBucketed(spark, within(df.repartition(parts, col(key))), key,
            parts, path(name), table)
        }
        drainPhaseShuffles(spark)
        spark.table(table)
    }

    /** `n` synchronous rounds: `state(i) = step(i, state(i - 1))` from
      * `state(0) = init` (round 1 may ignore `init` when it has a
      * shortcut). Every round but the last is materialized — staged, as
      * phase `<name><i>`, its predecessor removed once it lands; in
      * memory, every `checkpointEvery`-th by `localCheckpoint`, the
      * previous checkpoint freed. The last round (`init` when n == 0)
      * comes back lazy. */
    def rounds(name: String, n: Int, checkpointEvery: Int = 1)(init: DataFrame)(
        step: (Int, DataFrame) => DataFrame): DataFrame = {
      var state = init
      var held = Option.empty[DataFrame]
      for (i <- 1 to n) {
        state = step(i, state)
        if (i < n) {
          if (slot.nonEmpty) {
            state = stage(s"$name$i", state)
            if (i > 1) drop(s"$name${i - 1}")
          } else if (i % checkpointEvery == 0) {
            state = state.localCheckpoint()
            held.foreach(freeCheckpoints(_))
            held = Some(state)
          }
        }
      }
      state
    }

    /** Remove consumed phases early, before a heavier phase spills.
      * In memory a no-op: the lazy plan still reads them. */
    def drop(names: String*): Unit =
      if (slot.nonEmpty) names.foreach(n => rmStage(path(n)))

    /** From here on, derive the shuffle partition count from phase
      * `name`'s staged bytes ([[autoPartitions]], `bytesPerPartition`
      * each). [[run]] restores the caller's count. In memory a no-op. */
    def resize(name: String, bytesPerPartition: Long): Unit =
      if (slot.nonEmpty) spark.conf.set(ShufflePartitions, autoPartitions(
        spark, inputBytes(spark, path(name)), bytesPerPartition).toString)

    /** Drop every bucketed table and remove every phase but `out`. */
    private[Staging] def close(): Unit = slot.foreach { dir =>
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName != "out").foreach(f => rmStage(f.getPath))
    }
  }

  /** Write `aligned` — already hash-partitioned on `key` into `parts`
    * partitions (the same murmur3-pmod the bucketing metadata records,
    * so each write task holds exactly one bucket) — as an external
    * parquet table bucketed AND sorted on `key` with one file per
    * bucket. A scan of the result reports hashpartitioning(key, parts)
    * and per-bucket sort order — a join on `key` then needs NO exchange
    * and NO sort on this side (LayoutSpec proves the mechanism; GraphSpec
    * asserts it for the iteration loops). External table at `path`:
    * DROP TABLE leaves the files for the slot cleanup to reclaim. */
  private[graft] def stageBucketed(spark: SparkSession, aligned: DataFrame,
      key: String, parts: Int, path: String, table: String): Unit =
    aligned
      .write.mode("overwrite").format("parquet")
      .bucketBy(parts, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Delete a consumed phase directory early (the shutdown hook handles
    * whatever remains). */
  private def rmStage(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    val abs = new java.io.File(path).getAbsolutePath
    rm(new java.io.File(abs))
    pendingStages.remove(abs): Unit
  }

  /** Release the finished phase's shuffle files before the next phase
    * spills: shuffle data lives on disk until the ShuffleDependency is
    * garbage-collected and the ContextCleaner processes it, so a staged
    * pipeline that keeps its plan objects reachable still ACCUMULATES
    * every phase's shuffle on disk (measured: the sf100 prefix pipeline
    * died of disk with each phase individually affordable). A [[Phases]]
    * phase hands back only the parquet read of its output, so the
    * phase's plan references die here;
    * System.gc() queues them for the cleaner, and instead of a fixed
    * sleep we POLL the block-manager scratch (`blockmgr-*` under
    * spark.local.dir) until its footprint stops shrinking — a clean
    * input exits in ~2 samples, a draining one gets up to 3 s, and a
    * -XX:+DisableExplicitGC JVM just falls through after the bound
    * (correctness never depends on the drain; only peak disk does).
    * On a real cluster the equivalent is the shuffle service's stage
    * cleanup. */
  private def drainPhaseShuffles(spark: SparkSession): Unit = {
    val roots = spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .split(",").map(new java.io.File(_))
    def dirSize(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(dirSize).sum).getOrElse(0L)
      else f.length()
    def shuffleBytes: Long = roots
      .flatMap(r => Option(r.listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(_.getName.startsWith("blockmgr-")).map(dirSize).sum
    System.gc()
    val deadline = System.nanoTime() + 3000L * 1000 * 1000
    var prev = shuffleBytes
    var flat = 0
    while (System.nanoTime() < deadline && flat < 2) {
      Thread.sleep(150)
      val now = shuffleBytes
      if (now < prev) flat = 0 else flat += 1
      prev = now
    }
  }

  /** Dirs still owed a cleanup at JVM exit. ONE shutdown hook drains
    * this set (a hook per slot leaked a permanent Thread + map entry
    * per staged construction — a long-lived driver would accumulate
    * them without bound, including for dirs already deleted early). */
  private val pendingStages =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hookInstalled = new java.util.concurrent.atomic.AtomicBoolean()

  /** A fresh scratch slot `graft_stage_<label>_<id>` for one staged run,
    * rooted at `spark.graft.stage.root` (default java.io.tmpdir — on a
    * cluster point it at the shuffle-grade volume). The id comes from
    * `createTempDirectory`, so two runs never share a slot, even across
    * JVMs on one root. Recursively deleted on JVM exit (deleteOnExit
    * alone cannot remove a populated dir). */
  private def stageDir(spark: SparkSession, label: String): String = {
    val root = new java.io.File(spark.conf.get(
      "spark.graft.stage.root", System.getProperty("java.io.tmpdir")))
    root.mkdirs()
    val d = java.nio.file.Files.createTempDirectory(
      root.toPath, s"graft_stage_${label}_").toFile.getAbsolutePath
    pendingStages.add(d)
    if (hookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        pendingStages.forEach(p => rmStage(p))
      }))
    d
  }

  /** On-disk size of one input path (0 if absent) — staging decisions
    * read parquet footprint, never row counts, so they cost no job. */
  def inputBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Derive the shuffle partition count for a heavy phase from the
    * bytes it will actually move, instead of trusting the session-wide
    * `shuffle.partitions`. The lesson is recorded three times over (r9
    * q_containment, r11 q_label_prop sf100: DNF at 128 partitions, pass
    * at a hand-set 512 — "the partition-count knob IS the memory knob for
    * this shape"): per-task working set = phase bytes / partitions, and
    * when the session default was sized for the small rungs, a 1000x
    * input overruns the unified pool with no error before
    * UNABLE_TO_ACQUIRE_MEMORY. Never below the session value (small
    * inputs keep their plan exactly), capped at 4096 (scheduling overhead
    * dominates beyond that on any realistic executor count).
    * `bytesPerPartition` is per operator family — fan-out multipliers
    * differ (a shingle explosion needs more headroom per input byte than
    * an edge list). */
  def autoPartitions(spark: SparkSession, bytes: Long,
      bytesPerPartition: Long): Int = {
    require(bytesPerPartition > 0, s"bytesPerPartition=$bytesPerPartition")
    val session = spark.conf.get(ShufflePartitions, "200").toInt
    val derived = math.ceil(bytes.toDouble / bytesPerPartition)
      .toLong.min(4096L).toInt
    math.max(session, derived)
  }

  /** The persisted RDDs backing a `localCheckpoint()`ed frame — read off
    * the frame's own LogicalRDD leaves, so unpersisting them can never
    * touch blocks some other query on the shared context owns (the
    * registry-diff alternative would). First built in DupSpans; shared
    * here because every iteration loop needs it. */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Free the block-manager state behind superseded `localCheckpoint`
    * frames. An iteration loop that checkpoints every round but frees
    * nothing holds EVERY round's blocks until the query's final action —
    * dead weight whose GC/memory pressure is exactly what made the
    * cluster/CC-family queries 2-3x slower inside a warm full-suite run
    * than solo (the r9-r11 "drift family"). Only call on frames whose
    * data can no longer be read: an unpersisted localCheckpoint block is
    * unrecoverable (lineage is truncated by construction). */
  def freeCheckpoints(dfs: DataFrame*): Unit =
    dfs.foreach(df => checkpointRdds(df).foreach(_.unpersist(blocking = false)))

  /** Run `body` under a job description (thread-local, restored after),
    * so staged pipelines read as named phases in the UI / event log
    * instead of anonymous `withThreadLocalCaptured` callsites. */
  def phase[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n` (restored even on failure). Phases inside a staged pipeline
    * run sequentially, so a scoped session-conf flip is race-free. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get(ShufflePartitions, "200")
    spark.conf.set(ShufflePartitions, n.toString)
    try body finally spark.conf.set(ShufflePartitions, prev)
  }
}
