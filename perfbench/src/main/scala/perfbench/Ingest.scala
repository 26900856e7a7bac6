package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.ZoneOffset

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.indicators.Indicators
import graft.streaming.Pipeline

/** ingest_replay: a day of history preloaded as one catch-up batch, then
  * seeded envelopes replayed one at a time through
  * `Pipeline.processBatch`, each followed by a freshness read of the sink
  * table directories. */
object Ingest {
  val SinkTables: Seq[String] =
    Seq("price_data", "ohlc_data", "technical_indicators", "coins", "coin_market_cap")
  /** How far the traced spans may miss the `processBatch` wall time, as a
    * share of it, in every traced batch. */
  val CoverageTolerance = 0.02

  private final case class Batch(env: GenEnvelope, traced: Boolean, span: Int,
      batchS: Double, freshS: Double, ok: Boolean)

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val o = r.o
    val gen = new Envelopes(o.seed)
    val history = gen.take(o.history)
    val envDir = new File(o.scratch, "envelopes")
    envDir.mkdirs()
    def envFile(name: String, envs: Seq[GenEnvelope]): String = {
      val f = new File(envDir, name)
      Files.write(f.toPath, envs.map(_.value).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      f.getAbsolutePath
    }
    def process(file: String, sink: String): Unit =
      Pipeline.processBatch(spark, spark.read.text(file), sink, Some(Envelopes.McapTs))

    // set-up: the preload, then one untimed envelope so the replay
    // starts warm
    require(o.history > 0, "--history must be positive")
    val sink = new File(o.scratch, "sink").getAbsolutePath
    val setupS = Run.time(process(envFile("history.json", history), sink))
    val warm = gen.nextEnvelope()
    val warmS = Run.time(process(envFile("warm.json", Seq(warm)), sink))

    val batches = mutable.ArrayBuffer[Batch]()
    r.startClock()
    // a traced run needs a traced and an untraced batch
    val minOps = if (r.tracer.isDefined) 2 else 1
    var i = 0
    while (i < minOps || r.timeLeft) {
      val env = gen.nextEnvelope()
      val file = envFile(f"b${env.index}%06d.json", Seq(env))
      val traced = r.traced(i)
      r.setTraced(traced)
      val op = s"batch-$i"
      // spans `span` (processBatch) and `span + 1` (the read), when traced
      val span = r.tracer.fold(-1)(_.spans.size)
      val t0 = System.nanoTime()
      var t1 = t0
      val ok =
        try {
          r.span("streaming.processBatch", op, traced, "envelope" -> file)(process(file, sink))
          t1 = System.nanoTime()
          r.span("sink.read", op, traced)(visible(r, sink, env.newest))
        } catch {
          case e: Exception => Report.error(s"batch $i", e); false
        }
      val t2 = System.nanoTime()
      batches += Batch(env, traced, span, (t1 - t0) / 1e9, (t2 - t0) / 1e9, ok)
      i += 1
    }
    r.setTraced(false)

    // output checks, off the clock
    val replayed = batches.map(_.env)
    val priceBad = checkPrice(r, sink, history +: (warm +: replayed).map(Seq(_)).toSeq)
    val indicatorBad = checkIndicators(r, sink)
    val storedRows = SinkTables.map(t => spark.read.parquet(s"$sink/$t").count()).sum
    val storedBytes = SinkTables.map(t => Run.dirBytes(new File(s"$sink/$t"))).sum

    val ok = batches.filter(_.ok)
    val inf = Double.PositiveInfinity
    val batchS = batches.map(b => if (b.ok) b.batchS else inf).toSeq
    val freshS = batches.map(b => if (b.ok) b.freshS else inf).toSeq
    val level = Run.tailLevel(batches.size)
    val e2e = Map[String, Any](
      "setup_step_s" -> setupS,
      "warmup_pass_s" -> warmS,
      "op_p50_s" -> Run.median(batchS),
      "op_tail_s" -> Run.quantile(batchS, level),
      "fresh_p50_s" -> Run.median(freshS),
      "fresh_tail_s" -> Run.quantile(freshS, level),
      "rows_per_s" -> ok.map(_.env.rows).sum / ok.map(_.batchS).sum,
      "sink.bytes_per_row" -> storedBytes.toDouble / storedRows,
      "tail_level" -> level,
      "samples" -> batches.size,
      "op_s" -> batchS,
      "stored_rows" -> storedRows,
      "check_price_mismatches" -> priceBad,
      "check_indicator_mismatches" -> indicatorBad)
    val layers = r.tracer.fold(Map.empty[String, Any])(t => layerMetrics(r, t, batches.toSeq))
    // a wrong final sink fails at least one batch
    val failed = math.max(batches.count(!_.ok), if (priceBad + indicatorBad > 0) 1 else 0)
    e2e ++ layers ++ Map(
      "attempted" -> batches.size, "failed" -> failed,
      "correct" -> (failed == 0 && layers.get("trace_check").forall(_ == true)))
  }

  /** The freshness read: a reader of the sink table directories sees the
    * envelope's newest price row, with its value, and its indicator row. */
  private def visible(r: Run, sink: String, row: PriceRow): Boolean = {
    val at = row.ts.toInstant(ZoneOffset.UTC)
    def pk(t: String) = r.spark.read.parquet(s"$sink/$t")
      .where(col("coin_id") === row.coinId && col("exchange") === row.exchange &&
        col("timestamp") === lit(at))
    val price = pk("price_data").select("price").collect().map(_.getDouble(0))
    price.sameElements(Seq(row.price)) && pk("technical_indicators").count() == 1
  }

  private type Key = (String, String, Long)
  private type Value = (Double, Double, Option[Double])

  /** Last-write-wins over the generated envelopes, batch by batch: a later
    * batch replaces a stored row; within one batch the sink's documented
    * tie-break keeps the row that sorts first on (price, volume_24h,
    * percent_change_24h) descending, nulls last. Returns the number of
    * keys whose stored row differs from this oracle. */
  private def checkPrice(r: Run, sink: String, batches: Seq[Seq[GenEnvelope]]): Long = {
    val expected = mutable.HashMap[Key, Value]()
    batches.foreach { b =>
      b.flatMap(_.price).groupBy(p => (p.coinId, p.exchange, p.ts)).foreach { case (k, rows) =>
        val values = rows.map(p => (p.price, p.volume, p.change))
        // nulls last under descending order: a present change beats a null
        val best = values.sorted(Ordering.by[Value, (Double, Double, Int, Double)](v =>
          (-v._1, -v._2, if (v._3.isDefined) 0 else 1, -v._3.getOrElse(0.0)))).head
        expected((k._1, k._2, k._3.toEpochSecond(ZoneOffset.UTC) * 1000000L)) = best
      }
    }
    val actual = mutable.HashMap[Key, Value]()
    r.spark.read.parquet(s"$sink/price_data")
      .select(col("coin_id"), col("exchange"), unix_micros(col("timestamp")),
        col("price"), col("volume_24h"), col("percent_change_24h"))
      .collect().foreach { row =>
        actual((row.getString(0), row.getString(1), row.getLong(2))) =
          (row.getDouble(3), row.getDouble(4),
            if (row.isNullAt(5)) None else Some(row.getDouble(5)))
      }
    if (r.o.corrupt) {
      val (k, v) = actual.head
      actual(k) = v.copy(_1 = v._1 + 1.0)
    }
    val keys = expected.keySet ++ actual.keySet
    keys.count(k => expected.get(k) != actual.get(k)).toLong
  }

  /** The stored indicators must equal `Indicators.withIndicators` over the
    * final price table. Returns the number of differing rows. */
  private def checkIndicators(r: Run, sink: String): Long = {
    val price = r.spark.read.parquet(s"$sink/price_data")
    val expected = Indicators.withIndicators(price, Seq("coin_id", "exchange"),
        Seq(col("timestamp")), col("price"))
      .select(col("coin_id"), col("exchange"), col("timestamp"),
        col("sma_20"), col("ema_20"), col("rsi_14"), col("macd"))
    val actual = r.spark.read.parquet(s"$sink/technical_indicators")
      .select(expected.columns.map(col).toIndexedSeq: _*)
    expected.exceptAll(actual).count() + actual.exceptAll(expected).count()
  }

  /** Per-layer metrics of the traced batches, each a mean per batch. */
  private def layerMetrics(r: Run, t: Tracer, batches: Seq[Batch]): Map[String, Any] = {
    val traced = batches.filter(b => b.traced && b.ok)
    val untraced = batches.filter(b => !b.traced && b.ok)
    val cores = r.o.cores
    val rows = traced.map { b =>
      val p = t.spans(b.span)
      val read = t.spans(b.span + 1)
      val execs = t.executionsOf(p.id).filter(_.endMs >= 0)
      def ms(x: Execution) = math.max(0L, x.endMs - x.startMs)
      val coveredS = Tracer.covered(execs.map(x =>
        (math.max(x.startMs, p.startMs), math.min(x.endMs, p.endMs)))) / 1e3
      val driverS = math.max(0.0, p.wallS - coveredS)
      val writes = execs.filter(_.writePath.isDefined)
      def writesTo(table: String) =
        writes.filter(_.writePath.exists(_.endsWith(s"/.$table.tmp")))
      val upserts = SinkTables.map(tb => tb -> writesTo(tb).map(ms).sum / 1e3).toMap
      // tables with no tied write of at least one row: attribution failed
      val untied = SinkTables.filterNot(tb => writesTo(tb).exists(_.rowsWritten > 0))
      val envName = p.attrs("envelope")
      val indicatorScan = writesTo("technical_indicators")
        .flatMap(_.scans.filter(_._1.endsWith("/price_data")).map(_._2)).sum
      val w = t.workOf(p.id)
      val rw = t.workOf(read.id)
      val readS = read.wallS
      untied -> (Map[String, Double](
        "streaming.jobs" -> w.jobs.toDouble,
        "streaming.stages" -> w.stages.toDouble,
        "streaming.driver_s" -> driverS,
        "streaming.cpu_s" -> w.cpuNs / 1e9,
        "streaming.core_util" -> w.cpuNs / 1e9 / (p.wallS * cores),
        "streaming.task_failures" -> w.taskFailures.toDouble,
        "streaming.span_coverage" -> (upserts.values.sum + driverS) / p.wallS,
        "ingest.envelope_scans" ->
          execs.count(_.scans.exists(_._1.endsWith(envName))).toDouble,
        "sink.rows_written_per_row_in" ->
          writes.map(_.rowsWritten).sum.toDouble / b.env.rows,
        "sink.bytes_written" -> writes.map(_.bytesWritten).sum.toDouble,
        "sink.read_s" -> readS,
        "sink.core_util" -> rw.cpuNs / 1e9 / (readS * cores),
        "sink.task_failures" -> rw.taskFailures.toDouble,
        "indicators.rows_read_per_row_out" -> indicatorScan.toDouble / b.env.price.size
      ) ++ upserts.map { case (tb, s) => s"sink.$tb.upsert_s" -> s })
    }
    val means = Report.means(rows.map(_._2))
    val overhead = Run.median(traced.map(_.batchS)) / Run.median(untraced.map(_.batchS)) - 1.0
    // Coverage falls below 1 by the time of executions that wrote no sink
    // table, and rises above it when writes overlap
    val gaps = rows.map(x => math.abs(1.0 - x._2("streaming.span_coverage")))
    val untied = rows.flatMap(_._1).distinct
    untied.foreach(tb => System.err.println(s"[perfbench] trace check: no write of $tb tied to a batch"))
    means ++ Map(
      "trace.overhead" -> overhead,
      "trace.traced_ops" -> traced.size,
      "trace.untied_tables" -> untied,
      "trace_check" -> (traced.nonEmpty && untied.isEmpty && gaps.forall(_ <= CoverageTolerance)),
      "trace_spans" -> Report.spans(t))
  }
}
