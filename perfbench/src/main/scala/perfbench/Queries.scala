package perfbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry

/** dashboard_reads and analytics_heavy: requests against the fixed
  * parquet tables, each calling one `SparkEntry.queries` function (build)
  * and consuming every row and column of its result (exec). */
object Queries {
  /** The endpoint-shaped reads behind the reference's dashboard. */
  val Dashboard: Seq[String] = Seq("q_price_chart", "q_ohlc_resample", "q_ohlc_multi",
    "q_latest_per_key", "q_coin_table", "q_mcap_share", "q_indicators",
    "q_indicator_slice", "q_topk_native")
  /** Iterative, staged and checkpointing operators. */
  val Heavy: Seq[String] = Seq("q_pagerank", "q_label_prop", "q_kcore", "q_kn_trigram",
    "q_dedup_ppjoin", "q_dedup_clusters", "q_bpe_learn", "q_ivf_kmeans", "q_ann_pq")
  val Sets: Map[String, Seq[String]] =
    Map("dashboard_reads" -> Dashboard, "analytics_heavy" -> Heavy)

  private final case class Req(pass: Int, name: String, traced: Boolean,
      build: Int, exec: Int, latencyS: Double, rows: Long, ok: Boolean)

  def run(r: Run, set: Seq[String]): Map[String, Any] = {
    val spark = r.spark
    val data = r.o.data
    val layer = if (set == Dashboard) "queries" else "ops"
    // An operation is a pass: a seeded permutation of the query set, run
    // one request at a time, as a dashboard page load issues its endpoint
    // calls. A traced run makes at least two passes and traces each query
    // in one of them, alternating, so both halves mix first and later passes
    val minPasses = if (r.tracer.isDefined) 2 else 1
    val expected = Expected.load(r.o.expected, new File(data).getName)
    val fns = SparkEntry.queries

    // set-up: a footer read of every table; then, where a warm-up data set
    // is given, one pass over it so that code generation and the planner
    // are warm before timing
    val tables = graft.util.Tables.All.filter(t => new File(s"$data/$t.parquet").exists)
    val setupS = Run.time(
      tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").limit(1).count()))
    val warmS = if (r.o.warmData.isEmpty) 0.0
      else Run.time(set.foreach(q => Consume(fns(q)(spark, r.o.warmData))))
    release(r)

    val reqs = mutable.ArrayBuffer[Req]()
    r.startClock()
    var pass = 0
    var i = 0
    // closed loop: one request at a time
    while (pass < minPasses || r.timeLeft) {
      r.rnd.shuffle(set).foreach { name =>
        val traced = r.traced(set.indexOf(name) + pass)
        r.setTraced(traced)
        val op = s"req-$i"
        val ids = r.tracer.fold(-1)(_.spans.size)
        val t0 = System.nanoTime()
        var rows = 0L
        val ok =
          try {
            val df = r.span(s"$layer.build", op, traced, "query" -> name)(fns(name)(spark, data))
            val got = r.span(s"$layer.exec", op, traced, "query" -> name)(
              Consume(df, r.o.corrupt && i == 0))
            rows = got._1
            expected.get(name).contains(got)
          } catch {
            case e: Exception => Report.error(s"$name (request $i)", e); false
          }
        reqs += Req(pass, name, traced, ids, ids + 1, (System.nanoTime() - t0) / 1e9, rows, ok)
        release(r)
        i += 1
      }
      pass += 1
    }
    r.setTraced(false)

    val inf = Double.PositiveInfinity
    val passes = reqs.groupBy(_.pass).values.toSeq
    val lat = passes.map(p => if (p.forall(_.ok)) p.map(_.latencyS).sum else inf)
    val reqLat = reqs.map(q => if (q.ok) q.latencyS else inf).toSeq
    val level = Run.tailLevel(lat.size)
    val okReqs = reqs.filter(_.ok)
    val e2e = Map[String, Any](
      "setup_step_s" -> setupS,
      "warmup_pass_s" -> warmS,
      "op_p50_s" -> Run.median(lat),
      "op_tail_s" -> Run.quantile(lat, level),
      // the caller holds the whole result when the request returns
      "fresh_p50_s" -> Run.median(lat),
      "fresh_tail_s" -> Run.quantile(lat, level),
      "rows_per_s" -> okReqs.map(_.rows).sum / okReqs.map(_.latencyS).sum,
      "tail_level" -> level,
      "samples" -> lat.size,
      "op_s" -> lat,
      "request_p50_s" -> Run.median(reqLat),
      "request_tail_s" -> Run.quantile(reqLat, Run.tailLevel(reqLat.size)),
      "request_tail_level" -> Run.tailLevel(reqLat.size),
      "passes" -> passes.size,
      "per_query_s" -> reqs.groupBy(_.name).map { case (n, qs) =>
        n -> Run.median(qs.map(_.latencyS).toSeq) })
    val layers = r.tracer.fold(Map.empty[String, Any])(t => layerMetrics(r, t, layer, reqs.toSeq))
    val failed = reqs.count(!_.ok)
    e2e ++ layers ++ Map("attempted" -> reqs.size, "failed" -> failed, "correct" -> (failed == 0))
  }

  /** Drops blocks that operators checkpointed or persisted, off the clock,
    * so the next request does not inherit them (as graft.Bench does). */
  private def release(r: Run): Unit =
    r.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Per-layer metrics of the traced requests, each a mean per request. */
  private def layerMetrics(r: Run, t: Tracer, layer: String, reqs: Seq[Req]): Map[String, Any] = {
    val traced = reqs.filter(q => q.traced && q.ok)
    val untraced = reqs.filter(q => !q.traced && q.ok)
    val cores = r.o.cores
    val rows = traced.map { q =>
      val (b, e) = (t.spans(q.build), t.spans(q.exec))
      val (wb, we) = (t.workOf(b.id), t.workOf(e.id))
      val common = Map[String, Double](
        s"$layer.build_s" -> b.wallS,
        s"$layer.build_jobs" -> wb.jobs.toDouble,
        s"$layer.exec_s" -> e.wallS,
        s"$layer.jobs" -> we.jobs.toDouble,
        s"$layer.stages" -> we.stages.toDouble,
        s"$layer.cpu_s" -> we.cpuNs / 1e9,
        s"$layer.core_util" -> (wb.cpuNs + we.cpuNs) / 1e9 / ((b.wallS + e.wallS) * cores),
        s"$layer.task_failures" -> (wb.taskFailures + we.taskFailures).toDouble)
      if (layer == "queries") common ++ Map(s"$layer.scan_bytes" -> we.inputBytes.toDouble)
      else common ++ Map(
        s"$layer.gc_s" -> (wb.gcMs + we.gcMs) / 1e3,
        s"$layer.shuffle_read_bytes" -> (wb.shuffleRead + we.shuffleRead).toDouble,
        s"$layer.shuffle_write_bytes" -> (wb.shuffleWrite + we.shuffleWrite).toDouble,
        s"$layer.spill_bytes" -> (wb.spill + we.spill).toDouble)
    }
    val perQuery = if (layer == "ops")
      traced.groupBy(_.name).map { case (n, qs) =>
        s"ops.$n.exec_s" -> Run.median(qs.map(q => t.spans(q.exec).wallS)) }
      else Map.empty[String, Double]
    // traced against untraced latency of the same queries
    def medians(qs: Seq[Req]) = qs.groupBy(_.name).map { case (n, g) => n -> Run.median(g.map(_.latencyS)) }
    val (mt, mu) = (medians(traced), medians(untraced))
    val both = mt.keySet intersect mu.keySet
    val overhead = both.toSeq.map(mt).sum / both.toSeq.map(mu).sum - 1.0
    Report.means(rows) ++ perQuery ++ Map(
      "trace.overhead" -> overhead,
      "trace.traced_ops" -> traced.size,
      "trace_spans" -> Report.spans(t))
  }

  /** Writes the result, oracle SQL and fingerprint of every query of the
    * named workloads, for the one-off DuckDB comparison that
    * record_expected.py makes. */
  def record(r: Run): Map[String, Any] = {
    val fns = SparkEntry.queries
    val names = r.o.queries.split(",").toSeq.flatMap(Sets).distinct
    val fps = names.map { q =>
      fns(q)(r.spark, r.o.data).write.mode("overwrite").parquet(s"${r.o.out}/$q")
      release(r)
      val (rows, hash) = Consume(fns(q)(r.spark, r.o.data))
      release(r)
      q -> Seq(rows, hash)
    }.toMap
    Main.write(s"${r.o.out}/oracle_sql.json", Json(names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Map("fingerprints" -> fps, "setup_step_s" -> 0.0,
      "attempted" -> fps.size, "failed" -> 0, "correct" -> true)
  }
}
