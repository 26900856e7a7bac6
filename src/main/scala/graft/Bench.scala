package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A warmup pass (tiny action per input table) runs
  * first so the timings measure query execution, not JVM/codegen/footer
  * warmup — matching how a long-lived cluster session behaves. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // partition-count knob for large-SF runs: at sf10 the 32-partition
    // default puts ~3.5M adjacency rows in one task and the graph loops
    // pay spill I/O for it — 128 halves q_pagerank there (AQE coalesces
    // small stages back down, so over-partitioning costs nothing at
    // sf0.1)
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", LocalSession.cores)
    val spark = LocalSession.builder()
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    // OFF, not ERROR: the driver's tail capture merges stdout+stderr, and
    // an ERROR-level DAGScheduler/Executor shutdown stack trace landed
    // inside the 2000-char window in round 8 — the same mechanism that
    // zeroed rounds 1-3's bench parsing. Bench reports failures itself
    // (one [bench] stderr line + the JSON "errors" field), so Spark's own
    // logging is pure risk here. Verify keeps ERROR for diagnostics.
    // diagnosis escape hatch: a dying-context investigation needs the
    // executor/driver FATAL lines that OFF suppresses
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOGLEVEL", "OFF"))
    graft.util.Tables.All.foreach { t =>
      try graft.util.Tables(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    // min of two timed runs per query: the first run can absorb codegen
    // compilation and GC debt from earlier queries; the min is the stable
    // estimate of actual query cost
    // sorted by name: a stable execution order keeps per-query timings
    // comparable across rounds (map hash order reshuffles whenever a
    // query is added, which moves GC/warmup debt between queries)
    // optional comma-separated query filter for local profiling runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // past this first-run time the second (min-of-2) run is skipped:
    // warmup noise is negligible against a minute of runtime, and the
    // repeat's GC debt is what starved the JVM in the first sf10 run
    val slowCutoff = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_CUTOFF", "120").toDouble
    val errors = scala.collection.mutable.ListBuffer[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // several operators localCheckpoint() intermediates; left to the
      // ContextCleaner those blocks only free on a GC, so they pile up in
      // the block manager and later work pays the memory pressure as GC
      // debt (measured 3-20x inflation vs the same query standalone).
      // Drop them eagerly AFTER EACH RUN, off the clock — a second timed
      // run of a checkpoint-heavy query must not inherit the first run's
      // blocks, and the next query must not inherit either.
      // A query error must be VISIBLE, not a silently-tiny timing: the
      // first sf10 run lost its four tail queries to a dead context and
      // the artifact read as if they had run.
      def timed(): Double = {
        if (spark.sparkContext.isStopped) {
          if (!errors.contains(name)) { errors += name
            System.err.println(s"[bench] $name skipped: SparkContext is stopped") }
          return -1.0
        }
        val t0 = System.nanoTime()
        // noop sink, not count(): under count() the optimizer prunes
        // every column — pure projections collapse to a metadata scan,
        // and unique-key LEFT JOINs are eliminated outright (measured:
        // q_decontam_spans "ran" sf100 in 0.8 s because its entire
        // span search was join-eliminated). The noop writer consumes
        // every row and column of the ACTUAL result, which is what a
        // user pays. Round-9 records onward use this action.
        // a failed query must read as -1 in the JSON, like the
        // stopped-context path — the elapsed time of a PARTIAL plan
        // (the noop sink fails mid-materialization) is not a timing
        // and must never be mistakable for a fast run
        val ok =
          try {
            // AUDIT-ONLY escape hatch: ACTION=count re-times a query
            // under the pre-round-9 count() action so the per-query
            // noop-vs-count delta (how much work Catalyst was silently
            // eliminating) can be measured. Records are ALWAYS noop.
            if (sys.env.get("SPARK_GRAFT_BENCH_ACTION").contains("count"))
              fn(spark, sfDir).count()
            else fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          }
          catch { case e: Throwable =>
            if (!errors.contains(name)) { errors += name
              // exactly ONE stderr line per failure: analysis errors carry
              // multi-line messages (plan fragments) that would eat the
              // driver's 2000-char tail capture and push the JSON line out
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.mkString(" | ").take(300)
              System.err.println(s"[bench] $name failed: $msg") }
            false
          }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // blocking: an async unpersist lets the NEXT run (or the min-of-2
        // repeat) race the release of this run's pinned blocks — at sf10
        // that race is a JVM-killing OOM (q_pagerank's repeat died with
        // two 110M-edge adjacency copies alive). The wait is off the
        // clock: dt is already taken.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        dt
      }
      val t1 = timed()
      val best = if (t1 > slowCutoff || errors.contains(name)) t1
        else {
          val t2 = timed()
          // a >2.5x disagreement between the two runs means one of them
          // was a noise spike (host contention, GC burst) — a third run
          // bounds the damage a single spike can do to the recorded min
          if (math.max(t1, t2) > 2.5 * math.min(t1, t2))
            math.min(math.min(t1, t2), timed())
          else math.min(t1, t2)
        }
      name -> best
    }
    // The driver captures only the last 2000 chars of stdout and sbt
    // appends a ~75-char [success] line after ours, so the JSON line must
    // stay well under ~1900 chars or the driver records parsed:null (it
    // did for rounds 1-3). Round to ms and emit the slowest queries until
    // a fixed budget is spent; "value" and "nq" always cover every query.
    // explicit locale: the f-interpolator follows the JVM default, and a
    // comma-decimal locale (de_DE etc.) would emit invalid JSON
    def ms(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val total = ms(results.map(_._2).sum)
    // errors ride in the prefix so the char budget accounts for them;
    // absent entirely in the normal all-green case
    val errField = if (errors.isEmpty) ""
      else errors.map("\"" + _ + "\"").mkString("\"errors\":[", ",", "],")
    val prefix =
      s"""{"metric":"total","value":$total,"unit":"sec","nq":${results.size},$errField"sf":"$sfDir","queries":{"""
    // overridable for local analysis runs that want every query in the
    // map; the driver-facing default stays under its 2000-char capture
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1700").toInt - prefix.length
    val entries = results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }
    val kept = entries
      .scanLeft(("", 0)) { case ((_, len), e) => (e, len + e.length + 1) }
      .drop(1).takeWhile(_._2 <= budget).map(_._1)
    // stop BEFORE printing: the JSON line must be the process's last
    // output, and spark.stop()'s shutdown machinery is the one thing
    // that could still log after it
    try spark.stop() catch { case _: Throwable => () }
    println(prefix + kept.mkString(",") + "}}")
  }
}
