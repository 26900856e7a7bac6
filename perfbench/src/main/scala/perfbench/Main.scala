package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution

/** Command line of one benchmark run; see run.py, which sizes the JVM and
  * the workload and passes every value. */
final case class Opts(
    workload: String = "",
    seed: Long = 0L,
    seconds: Double = 0.0,
    trace: Boolean = false,
    cores: Int = 1,
    data: String = "",
    warmData: String = "",
    queries: String = "",
    expected: String = "",
    scratch: String = "",
    out: String = "",
    history: Int = 0,
    corrupt: Boolean = false)

object Main {

  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v)) => o.copy(trace = v == "1")
      case (o, Array("--cores", v)) => o.copy(cores = v.toInt)
      case (o, Array("--data", v)) => o.copy(data = v)
      case (o, Array("--warm-data", v)) => o.copy(warmData = v)
      case (o, Array("--queries", v)) => o.copy(queries = v)
      case (o, Array("--expected", v)) => o.copy(expected = v)
      case (o, Array("--scratch", v)) => o.copy(scratch = v)
      case (o, Array("--out", v)) => o.copy(out = v)
      case (o, Array("--history", v)) => o.copy(history = v.toInt)
      case (o, Array("--corrupt", v)) => o.copy(corrupt = v == "1")
      case (_, a) => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.scratch}/local")
      .config("spark.graft.stage.root", s"${o.scratch}/stage")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a usable session: paid once per process
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, o, tracer)
    // stopping the session ends Spark's threads, so an error exits the JVM
    try {
      val result = o.workload match {
        case "ingest_replay" => Ingest.run(run)
        case w if Queries.Sets.contains(w) => Queries.run(run, Queries.Sets(w))
        case "record" => Queries.record(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      write(s"${o.out}/result.json", Json(result ++ Map(
        "session_s" -> sessionS, "peak_rss_mb" -> Run.peakRssMb, "cores" -> o.cores)))
    } finally spark.stop()
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Shared state of one run: the session, options, the tracer (traced
  * runs only) and the closed-loop clock. */
final class Run(val spark: SparkSession, val o: Opts, val tracer: Option[Tracer]) {
  val rnd = new Random(o.seed)
  private var deadline = Long.MaxValue

  def startClock(): Unit = deadline = System.nanoTime() + (o.seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadline

  /** In a traced run, every other operation runs with the listeners
    * detached, so the run measures its own tracing overhead. */
  def traced(op: Int): Boolean = tracer.isDefined && op % 2 == 0

  def span[T](name: String, op: String, on: Boolean, attrs: (String, String)*)(body: => T): T =
    tracer match {
      case Some(t) if on => t.span(name, op, attrs: _*)(body)
      case _ => body
    }

  def setTraced(on: Boolean): Unit = tracer.foreach(t => if (on) t.attach() else t.detach())
}

object Run {
  /** Wall time of `body`, in seconds. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** What a latency percentile reads when it falls on a failed operation. */
  val Missed = 1e9

  /** Nearest-rank quantile. Failed operations enter as infinite samples,
    * so they sort last and count against every percentile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val v = if (s.isEmpty) Double.NaN
      else s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    if (v.isInfinite) Missed else v
  }

  /** The tail percentile of `n` samples: the highest of these levels that
    * keeps at least ten samples above it; runs with fewer than 20 samples
    * report the maximum (level 100). */
  def tailLevel(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.8, 0.75, 0.5).find(q => n * (1 - q) >= 10 - 1e-9).getOrElse(1.0)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}

/** Result consumption: every row and column of a result is read on the
  * executors and folded into an order-independent fingerprint (row count,
  * sum of per-row hashes), which the output check compares. */
object Consume {
  def apply(df: DataFrame, corrupt: Boolean = false): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val (rows, hash) = SQLExecution.withNewExecutionId(qe, Some("perfbench.consume")) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { r => h += proj(r).hashCode; n += 1 }
        Iterator((n, h))
      }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    }
    // the deliberate-corruption switch of the quick test: the folded hash
    // changes, as if one value of the result were wrong
    if (corrupt) (rows, hash + 1) else (rows, hash)
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
