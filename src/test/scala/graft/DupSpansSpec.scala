package graft

import graft.ops.DupSpans

class DupSpansSpec extends SparkSpec {
  import spark.implicits._

  private def run(texts: (Long, String)*): Map[Long, (Long, Long)] =
    runPath(small = false, texts: _*)

  private def runPath(small: Boolean,
      texts: (Long, String)*): Map[Long, (Long, Long)] =
    DupSpans.longestDupSpanFromDocs(texts.toDF("doc_id", "text"), small)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("cross-doc span, exact-dup docs, self-overlap, and no-dup docs") {
    val out = run(
      0L -> "a b c d e",   // exact dup of doc 3 → full length 5
      1L -> "x b c d y",   // shares "b c d" with docs 0/3 → 3
      2L -> "p q r s t",   // globally unique tokens → 0
      3L -> "a b c d e",
      4L -> "m m m m")     // overlapping self-dup "m m m" → 3
    assert(out(0L) === (5L, 5L))
    assert(out(1L) === (5L, 3L))
    assert(out(2L) === (5L, 0L))
    assert(out(3L) === (5L, 5L))
    assert(out(4L) === (4L, 3L))
  }

  test("single-token docs and a repeated single token") {
    val out = run(
      0L -> "z",          // token appears once corpus-wide → 0
      1L -> "q w",        // q appears twice (doc 2) → 1
      2L -> "q")
    assert(out(0L) === (1L, 0L))
    assert(out(1L) === (2L, 1L))
    assert(out(2L) === (1L, 1L))
  }

  test("span crossing would-be gram boundaries is found at exact length") {
    // the duplicated run is 10 tokens long — beyond q_dup_spans' fixed
    // 8-token window, and not a power of two, so it exercises the
    // doubling refinement
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val out = run(
      0L -> s"h1 $span t1",
      1L -> s"h2 h3 $span t2 t3")
    assert(out(0L) === (12L, 10L))
    assert(out(1L) === (14L, 10L))
  }

  test("agrees with a brute-force suffix scan on a random-ish corpus") {
    // deterministic pseudo-random corpus with a small vocabulary so
    // duplicated spans of varied lengths arise naturally
    val rnd = new scala.util.Random(42)
    val texts = (0L until 40L).map { d =>
      d -> (1 to 30).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    }
    val got = run(texts: _*)
    // brute force: every span of every doc against a global multiset
    val toks = texts.toMap.view.mapValues(_.split(" ").toSeq).toMap
    val all = scala.collection.mutable.Map[Seq[String], Int]()
    for ((_, t) <- toks; i <- t.indices; j <- i until t.length)
      all(t.slice(i, j + 1)) = all.getOrElse(t.slice(i, j + 1), 0) + 1
    val want = toks.map { case (d, t) =>
      val spans = for {
        i <- t.indices; j <- i until t.length
        if all(t.slice(i, j + 1)) >= 2
      } yield j - i + 1
      d -> (t.length.toLong, if (spans.isEmpty) 0L else spans.max.toLong)
    }
    assert(got === want)
  }

  test("small (single-partition window) path equals the distributed path") {
    // the same brute-force corpus plus the edge-case fixtures, run under
    // small=true — the path q_longest_dup_span takes below 64 MiB of
    // documents parquet (r12: dense_rank windows
    // replace the per-round distinct+range-sort+join machinery)
    val rnd = new scala.util.Random(42)
    val texts = (0L until 40L).map { d =>
      d -> (1 to 30).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    } ++ Seq(100L -> "a b c d e", 101L -> "a b c d e",
      102L -> "x b c d y", 103L -> "m m m m", 104L -> "z")
    assert(runPath(small = true, texts: _*) ===
      runPath(small = false, texts: _*))
  }
}
