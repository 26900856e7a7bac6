package perfbench

import scala.io.Source

/** Helpers shared by the workloads: failure lines, per-operation means,
  * the span dump of the trace file and the recorded result fingerprints. */
object Report {
  /** One stderr line per failed operation. */
  def error(what: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.mkString(" | ")
    System.err.println(s"[perfbench] $what failed: ${msg.take(300)}")
  }

  /** Mean of each metric over the operations that report it. */
  def means(rows: Seq[Map[String, Double]]): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map { k =>
      val xs = rows.flatMap(_.get(k))
      k -> xs.sum / xs.size
    }.toMap

  /** Every span with its layer self time: its wall time minus the part
    * of it that its child spans cover. */
  def spans(t: Tracer): Seq[Map[String, Any]] = t.spans.toSeq.map { s =>
    val children = t.spans.filter(_.parent == s.id)
    val childMs = Tracer.covered(children.map(c => (c.startMs, c.endMs)).toSeq)
    val w = t.workOf(s.id)
    Map[String, Any](
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
      "self_s" -> math.max(0.0, s.wallS - childMs / 1e3),
      "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
      "cpu_s" -> w.cpuNs / 1e9, "gc_s" -> w.gcMs / 1e3,
      "task_failures" -> w.taskFailures,
      "executions" -> t.executionsOf(s.id).map(x => Map[String, Any](
        "id" -> x.id, "start_ms" -> x.startMs, "end_ms" -> x.endMs,
        "write" -> x.writePath, "rows_written" -> x.rowsWritten,
        "scans" -> x.scans.map { case (p, n) => Map("path" -> p, "rows" -> n) }))
    ) ++ s.attrs
  }
}

/** Result fingerprints recorded once and checked against the DuckDB
  * oracle (see record_expected.py). Format: one line per query,
  * `<data dir name> <query> <rows> <hash>`. */
object Expected {
  def load(path: String, dataName: String): Map[String, (Long, Long)] = {
    val src = Source.fromFile(path)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect {
        case Array(d, q, rows, hash) if d == dataName => q -> (rows.toLong, hash.toLong)
      }.toMap
    finally src.close()
  }
}
