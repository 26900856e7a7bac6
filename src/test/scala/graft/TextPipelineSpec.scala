package graft

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.util.Tables

class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("redact: no denied token survives, mask count is exact, length preserved") {
    val out = TextAnalysis.redact(spark, sf)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val joined = out.join(docs, "doc_id")
      .select(col("doc_id"), col("redacted"), col("n_redacted"), col("text"))
      .as[(Long, String, Int, String)].collect()
    assert(joined.length === 500)
    joined.foreach { case (_, red, n, orig) =>
      val toks = red.split(" ")
      assert(toks.forall(t => !TextAnalysis.DenyList.contains(t)))
      assert(toks.count(_ == "[REDACTED]") === n)
      assert(toks.length === orig.split(" ").length) // token-positions kept
    }
    assert(joined.map(_._3).sum > 0) // the denylist actually fires on this corpus
  }

  test("epoch shuffle: total, per-shard seq contiguous, replayable, seed-sensitive") {
    val e1 = TextAnalysis.epochShuffle(spark, sf, seed = 1)
      .as[(Long, Int, Long)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(e1.length.toLong === nDocs) // a permutation: every doc placed once
    assert(e1.map(_._1).distinct.length === e1.length)
    // within each shard the sequence is exactly 1..n (resumable cursor)
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // same seed replays bit-identically
    val e1b = TextAnalysis.epochShuffle(spark, sf, seed = 1)
      .as[(Long, Int, Long)].collect()
    assert(e1.sortBy(_._1).toSeq === e1b.sortBy(_._1).toSeq)
    // a different seed is a different permutation
    val e2 = TextAnalysis.epochShuffle(spark, sf, seed = 2)
      .as[(Long, Int, Long)].collect()
    assert(e1.sortBy(_._1).toSeq !== e2.sortBy(_._1).toSeq)
  }

  test("pack sequences: per-source bins are contiguous and start at zero") {
    val rows = TextAnalysis.packSequences(spark, sf, ctx = 256)
      .as[(Long, String, Long, Long, Long)].collect()
    rows.foreach { case (_, _, n, s, e) =>
      assert(n > 0 && s <= e)
      assert(e - s <= (n - 1) / 256 + 1) // a doc spans at most ceil slots
    }
    rows.groupBy(_._2).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._1)
      assert(sorted.head._4 === 0L) // first doc of the stream starts in bin 0
      // consecutive docs: next bin_start is derived from the running sum
      sorted.sliding(2).foreach { case Array((_, _, n1, s1, _), (_, _, _, s2, _)) =>
        assert(s2 >= s1 && s2 - s1 <= n1 / 256 + 1)
      case _ => ()
      }
    }
  }

  test("pack sequences: exact bins on a hand-built cumulative sum") {
    // recompute the packing from raw token counts and compare exactly
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .as[(Long, String, Long)].collect()
    val expected = raw.groupBy(_._2).toSeq.flatMap { case (src, docs) =>
      var cum = 0L
      docs.sortBy(_._1).toSeq.map { case (id, _, n) =>
        val row = (id, src, n, cum / 256, (cum + n - 1) / 256)
        cum += n
        row
      }
    }.sortBy(_._1)
    val got = TextAnalysis.packSequences(spark, sf, ctx = 256)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("bigram lm: every score is a mean log-probability (<= 0), counts line up") {
    val scores = TextAnalysis.bigramLmScore(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(scores.length === 500)
    scores.foreach { case (_, nBg, lp) =>
      assert(nBg > 0)
      assert(lp <= 0.0) // c_bg <= c_ctx always, so ln(p) <= 0
    }
    // n_bigrams = n_tokens - 1 for every document
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    scores.foreach { case (id, nBg, _) => assert(nBg === nTok(id) - 1) }
  }

  test("bm25: hand-built corpus scores match the formula exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    Seq(
      (0L, "spark spark vector", "en", "s0", 18L),
      (1L, "spark merge x y", "en", "s0", 15L),
      (2L, "x y z w", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.bm25TopK(spark, tmp)
      .as[(Long, Long, Double)].collect()
    // doc 2 has no query term and must be absent
    assert(got.map(_._1).toSet === Set(0L, 1L))
    val avgdl = (3.0 + 4.0 + 4.0) / 3
    def idf(df: Long) = math.log((3L - df + 0.5) / (df + 0.5) + 1.0)
    def w(tf: Long, dl: Long, df: Long) =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val exp0 = BigDecimal(w(2, 3, 2) + w(1, 3, 1)) // spark df=2, vector df=1
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = BigDecimal(w(1, 4, 2) + w(1, 4, 1)) // spark, merge
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byId = got.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(0L) === ((2L, exp0)))
    assert(byId(1L) === ((2L, exp1)))
    // ranking is score-desc
    assert(got.map(_._3).toSeq === got.map(_._3).sortBy(-_).toSeq)
  }

  test("perplexity buckets: terciles are balanced, ordered, and smoothing-finite") {
    val out = TextAnalysis.perplexityBuckets(spark, sf)
      .as[(Long, String, Long, Double, Int)].collect()
    assert(out.length === 500)
    out.foreach { case (_, _, nBg, nll, b) =>
      assert(nBg > 0)
      assert(nll >= 0.0 && java.lang.Double.isFinite(nll)) // add-one: no -inf
      assert(b >= 1 && b <= 3)
    }
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._5).view.mapValues(_.length).toMap
      // terciles: each bucket within one tie-group of n/3 (ties share buckets)
      val n = rows.length
      (1 to 3).foreach { b =>
        assert(byBucket.getOrElse(b, 0) > 0, s"$lang bucket $b empty")
      }
      // bucket order tracks score order: worst head score <= best tail score
      val headMax = rows.filter(_._5 == 1).map(_._4).max
      val tailMin = rows.filter(_._5 == 3).map(_._4).min
      assert(headMax <= tailMin, s"$lang head/tail overlap")
      assert(math.abs(byBucket(1) - n / 3) <= n / 6, s"$lang skewed terciles")
    }
  }

  test("repetition: hand-built docs get exact ttr/top-share/max-run") {
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (0L, "a a a b", "en", "s0", 7L),        // run of 3, ttr 2/4, share 3/4
      (1L, "a b c d", "en", "s0", 7L),        // no repetition
      (2L, "x y x y x", "en", "s0", 9L))      // alternating: run 1, share 3/5
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.repetition(spark, tmp)
      .as[(Long, Double, Double, Int)].collect().toSeq
    assert(got === Seq(
      (0L, 0.5, 0.75, 3),
      (1L, 1.0, 0.25, 1),
      (2L, 0.4, 0.6, 1)))
  }

  test("data prep: census conserves the filtered+deduped corpus exactly") {
    val census = TextAnalysis.dataPrep(spark, sf)
      .as[(String, String, Long, Long)].collect()
    assert(census.map(_._1).toSet === Set("train", "val"))
    // recompute the pipeline row-by-row with independent column ops
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, String, String, Double)].collect()
    val kept = docs.filter(_._4 >= 0.5)
      .groupBy(d => d._2).map { case (_, ds) => ds.minBy(_._1) }
    val expected = kept.groupBy(d =>
        (if (java.security.MessageDigest.getInstance("MD5")
              .digest(d._2.getBytes("UTF-8")).head.toInt >>> 4 match {
            case h => h == 0 || h == 1
          }) "val" else "train", d._3))
      .map { case ((sp, lang), ds) =>
        (sp, lang, ds.size.toLong, ds.map(_._2.split(" ").length.toLong).sum) }
      .toSeq.sortBy(t => (t._1, t._2))
    assert(census.toSeq === expected)
  }

  test("bigram lm: a bigram seen once in a unique context scores ln(1) = 0 share") {
    // deterministic micro-corpus sanity: corpus {'x y','x y'} -> P(y|x)=1
    // -> avg_logprob = 0
    val tmp = java.nio.file.Files.createTempDirectory("bigram-lm").toString
    Seq((0L, "x y", "en", "s0", 3L), (1L, "x y", "en", "s0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.bigramLmScore(spark, tmp)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq === Seq((0L, 1L, 0.0), (1L, 1L, 0.0)))
  }

  test("weighted sample: rarest source keeps everything, head sources thin out") {
    val out = TextAnalysis.weightedSample(spark, sf)
      .as[(Long, String, Double, Long)].collect()
    val bySrc = out.groupBy(_._2)
    val counts = bySrc.view.mapValues(_.length).toMap
    val minN = counts.values.min
    bySrc.foreach { case (src, docs) =>
      val rate = docs.head._3
      assert(docs.forall(_._3 == rate)) // one rate per source
      if (counts(src) == minN) {
        assert(rate === 1.0)
        assert(docs.forall(_._4 == 1L)) // u < 1.0 always: rarest keeps all
      } else {
        assert(rate < 1.0 && rate > 0.0)
      }
      // empirical keep fraction tracks the rate (hash-uniform u)
      val kept = docs.count(_._4 == 1L).toDouble / docs.length
      assert(math.abs(kept - rate) < 0.35, s"$src kept=$kept rate=$rate")
    }
  }

  test("lang quota: two-stage top-k equals the naive single-window selection") {
    val out = TextAnalysis.langQuota(spark, sf, k = 7)
      .as[(Long, String, Long)].collect()
    assert(out.groupBy(_._2).values.forall(_.length <= 7))
    val naive = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", md5(concat(lit("lq|"), $"doc_id")).as("okey"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"okey", $"doc_id")))
      .filter($"rk" <= 7)
      .select($"doc_id", $"lang", $"rk".cast("long"))
      .as[(Long, String, Long)].collect()
    assert(out.sortBy(r => (r._2, r._3)).toSeq ===
      naive.sortBy(r => (r._2, r._3)).toSeq)
  }

  test("quality classifier: keep is exactly logit>0, one row per doc, no shuffle") {
    val df = TextAnalysis.qualityClassifier(spark, sf)
    val out = df.as[(Long, Long, Long)].collect()
    assert(out.length.toLong === Tables.documents(spark, sf).count())
    // keep is sign(L) exactly; logit_q6 is the 1e-6-quantized ratio, so
    // a tiny |logit| can quantize to 0 on either side — sign-consistency
    assert(out.forall { case (_, logitQ6, keep) =>
      if (keep == 1L) logitQ6 >= 0L else logitQ6 <= 0L
    })
    // a scoring pass must not shuffle: inference is a pure projection
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"classifier plan shuffles:\n$plan")
  }

  test("DSIR: one row per doc; selected == logw>0; target lang scores higher on average") {
    val out = TextAnalysis.dsirWeights(spark, sf)
      .select("doc_id", "lang", "n_bigrams", "dsir_logw", "selected")
      .as[(Long, String, Long, Double, Boolean)].collect()
    assert(out.length.toLong === Tables.documents(spark, sf).count())
    assert(out.forall { case (_, _, _, w, sel) => sel == (w > 0) })
    // the signal must actually separate the target domain: docs of the
    // target language carry the bigrams the target model upweights
    def avg(xs: Seq[Double]) = xs.sum / xs.size
    val en = out.filter(_._2 == "en").map(_._4).toSeq
    val rest = out.filter(_._2 != "en").map(_._4).toSeq
    assert(en.nonEmpty && rest.nonEmpty)
    assert(avg(en) > avg(rest),
      s"target avg ${avg(en)} not above non-target ${avg(rest)}")
    // weights are per-bigram log-ratios: docs with no bigrams score 0
    assert(out.filter(_._3 == 0L).forall(_._4 == 0.0))
  }

  test("hybrid RRF: fused score is exactly the reciprocal-rank sum, both retrievers contribute") {
    val out = TextAnalysis.hybridTopK(spark, sf)
      .as[(Int, Long, Option[Int], Option[Int], Double)].collect().toSeq
    assert(out.map(_._1) === (1 to out.length))
    out.foreach { case (_, id, lex, sem, rrf) =>
      assert(lex.isDefined || sem.isDefined, s"doc $id in neither list")
      val expect = lex.map(r => 1.0 / (r + 60)).getOrElse(0.0) +
        sem.map(r => 1.0 / (r + 60)).getOrElse(0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"doc $id rrf $rrf != $expect")
    }
    // fusion is only meaningful if both systems place docs in the top-k
    assert(out.exists(_._3.isDefined) && out.exists(_._4.isDefined))
    // descending fused order
    assert(out.map(_._5).sliding(2).forall(p => p.head >= p.last))
  }

  test("gopher rules: every rule replays row-by-row; active rules split the corpus") {
    val out = TextAnalysis.gopherRules(spark, sf)
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSeq
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out.length === docs.size)
    val stops = Set("the", "a", "and", "of", "to", "in")
    out.foreach { case (id, n, wc, wl, st, ttr, keep) =>
      val toks = docs(id).split(" ").toSeq
      val chars = toks.map(_.length).sum
      assert(n === toks.length.toLong)
      assert(wc === (toks.length >= 50 && toks.length <= 100000))
      assert(wl === (chars >= 3 * toks.length && chars <= 10 * toks.length))
      assert(st === (toks.toSet.count(stops) >= 2))
      assert(ttr === (5 * toks.distinct.length >= toks.length))
      assert(keep === (wc && wl && st && ttr))
    }
    // the filter must do work on this corpus: both verdicts occur
    assert(out.exists(_._7))
    assert(out.exists(!_._7))
  }

  test("gopher repetition: hand-built repeats give exact char-mass numerators") {
    // operates on the gated corpus path, so build expectations per doc id
    val out = TextAnalysis.gopherRepetition(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      def grams(n: Int) = toks.sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSeq
      val top2 = grams(2).groupBy(identity)
        .map { case (g, o) => o.length.toLong * g.length }
        .foldLeft(0L)(math.max)
      val dup3 = grams(3).groupBy(identity).collect {
        case (g, o) if o.length >= 2 => (o.length - 1).toLong * g.length
      }.sum
      val (_, total, t2, d3, s2, s3) = out(id)
      assert(total === text.length.toLong)
      assert(t2 === top2, s"doc $id top2")
      assert(d3 === dup3, s"doc $id dup3")
      assert(s2 === top2.toDouble / text.length)
      assert(s3 === dup3.toDouble / text.length)
    }
    // the dup-3-gram metric genuinely fires on this corpus
    assert(out.values.count(_._4 > 0) > 0)
  }

  test("unimax: waterfill spends the budget, respects caps, fills low-resource langs") {
    val out = TextAnalysis.unimaxSample(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSeq
    val counts = Tables.documents(spark, sf).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val budget = counts.values.sum * 4 / 5
    val perLang = out.groupBy(_._2)
    // sample size per lang equals its allocation; ranks are 1..alloc
    perLang.foreach { case (lang, rows) =>
      val alloc = rows.head._4
      assert(rows.length.toLong === alloc)
      assert(rows.map(_._3).sorted.toSeq === (1L to alloc))
      assert(alloc <= counts(lang)) // cap respected
    }
    // the whole budget is spent (budget < total, so nothing is stranded)
    assert(out.length.toLong === budget)
    // waterfill property: every lang not fully included gets at least as
    // many docs as any fully-included lang (the head absorbs slack)
    val (full, partial) = perLang.values.partition(r => r.length.toLong == counts(r.head._2))
    partial.foreach { p =>
      full.foreach(f => assert(p.length >= f.length))
    }
    assert(partial.nonEmpty && full.nonEmpty) // non-degenerate on this corpus
    // deterministic replay
    val again = TextAnalysis.unimaxSample(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out === again)
  }

  test("source overlap: pairwise shared-gram counts equal brute-force set intersection") {
    val k = 5
    val out = TextAnalysis.sourceOverlap(spark, sf, k)
      .as[(String, String, Long, Double)].collect().toSeq
    val bySource = Tables.documents(spark, sf).select("source", "text")
      .as[(String, String)].collect().toSeq
      .groupBy(_._1)
      .map { case (s, rows) =>
        s -> rows.flatMap(_._2.split(" ").sliding(k).filter(_.length == k)
          .map(_.mkString(" "))).toSet
      }
    val expected = (for {
      a <- bySource.keys.toSeq; b <- bySource.keys.toSeq if a < b
      shared = (bySource(a) & bySource(b)).size if shared > 0
    } yield (a, b, shared.toLong,
      shared.toDouble / (bySource(a).size + bySource(b).size - shared)))
      .sortBy(t => (t._1, t._2))
    assert(out === expected)
    assert(out.nonEmpty) // sources genuinely share grams on this corpus
  }

  test("classifierAuc: midrank formula equals brute-force pair counting") {
    val Array((nPos, nNeg, aucQ6)) = TextAnalysis.classifierAuc(spark, sf)
      .as[(Long, Long, Long)].collect()
    val auc = aucQ6 / 1e6
    assert(nPos > 0 && nNeg > 0, "label must split the corpus")
    val rows = TextAnalysis.qualityClassifier(spark, sf)
      .select($"doc_id", $"logit_q6")
      .join(TextAnalysis.gopherRules(spark, sf)
        .select($"doc_id", $"keep_doc"), "doc_id")
      .as[(Long, Long, Boolean)].collect()
    val pos = rows.filter(_._3).map(_._2)
    val neg = rows.filterNot(_._3).map(_._2)
    val brute = (for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum / (pos.length.toLong * neg.length)
    assert(nPos === pos.length && nNeg === neg.length)
    assert(math.abs(auc - brute) < 2e-6, s"auc=$auc brute=$brute")
  }

  test("confusion + calibration: partitions, rates, deterministic deciles") {
    val total = Tables.documents(spark, sf).count()
    val Array((tp, fp, fn, tn, precQ6, recQ6, f1Q6)) =
      TextAnalysis.confusion(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(tp + fp + fn + tn === total)
    assert(math.abs(precQ6 / 1e6 - tp.toDouble / (tp + fp)) < 1e-6)
    assert(math.abs(recQ6 / 1e6 - tp.toDouble / (tp + fn)) < 1e-6)
    assert(math.abs(f1Q6 / 1e6 - 2.0 * tp / (2 * tp + fp + fn)) < 1e-6)
    val cal = TextAnalysis.calibration(spark, sf)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(cal.map(_._2).sum === total) // deciles partition the corpus
    cal.foreach { case (_, n, pos, rateQ6, _) =>
      assert(pos >= 0 && pos <= n)
      assert(math.abs(rateQ6 / 1e6 - pos.toDouble / n) < 1e-6)
    }
    // the ranking is informative: the top decile's positive rate beats
    // the bottom's (this is what AUC > 0.5 looks like binned)
    assert(cal.last._4 > cal.head._4)
  }

  test("keySample: exactly k per language, the k smallest hash ranks, stable") {
    val out = TextAnalysis.keySample(spark, sf)
      .as[(String, Int, Long)].collect()
    val langs = Tables.documents(spark, sf)
      .select($"lang").distinct().as[String].collect()
    assert(out.groupBy(_._1).keySet === langs.toSet)
    out.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq === (1 to 8))
    }
    // selection rule: the 8 minimal md5 ranks per language
    val ranked = Tables.documents(spark, sf)
      .select($"lang", $"doc_id",
        expr("CAST(conv(substring(md5(concat('ks|', doc_id)), 1, 15), 16, 10) AS BIGINT)")
          .as("hv"))
      .as[(String, Long, Long)].collect()
    ranked.groupBy(_._1).foreach { case (lang, g) =>
      val expect = g.sortBy(r => (r._3, r._2)).take(8).map(_._2).toSet
      assert(out.filter(_._1 == lang).map(_._3).toSet === expect, lang)
    }
    // deterministic: a rerun returns the identical sample
    val again = TextAnalysis.keySample(spark, sf)
      .as[(String, Int, Long)].collect()
    assert(again.sortBy(r => (r._1, r._2)).toSeq ===
      out.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("isotonic: matches the classic PAV stack; monotone; pool mass preserved") {
    val out = TextAnalysis.isotonic(spark, sf)
      .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      .map(r => (r._1, r._2, r._3, r._4 / 1e6, r._5 / 1e6, r._6))
    assert(out.map(_._1).toSeq === (1 to 10))
    assert(out.forall(_._6 === 1L), "monotone_ok theorem flag")
    // classic pool-adjacent-violators on the same (n, y) decile census
    case class Pool(var n: Long, var y: Long) {
      def rate: Double = y.toDouble / n
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Pool, Int)]
    out.foreach { case (_, n, y, _, _, _) =>
      stack += ((Pool(n, y), 1))
      while (stack.length > 1 &&
          stack(stack.length - 2)._1.rate >= stack.last._1.rate - 1e-15) {
        val (p2, w2) = stack.remove(stack.length - 1)
        val (p1, w1) = stack.remove(stack.length - 1)
        stack += ((Pool(p1.n + p2.n, p1.y + p2.y), w1 + w2))
      }
    }
    val pav = stack.flatMap { case (p, w) => Seq.fill(w)(p.rate) }
    assert(pav.length === 10)
    out.zip(pav).foreach { case ((d, _, _, _, iso, _), expect) =>
      assert(math.abs(iso - expect) < 2e-6, s"decile $d: $iso vs $expect")
    }
    // isotonic projection preserves total positive mass
    val mass = out.map { case (_, n, _, _, iso, _) => n * iso }.sum
    assert(math.abs(mass - out.map(_._3).sum) < 1e-3)
    // never worse than a constant fit: SSE against the raw rates
    val grand = out.map(_._3).sum.toDouble / out.map(_._2).sum
    def sse(f: Int => Double) = out.zipWithIndex.map { case (r, i) =>
      r._2 * math.pow(r._4 - f(i), 2)
    }.sum
    assert(sse(i => pav(i)) <= sse(_ => grand) + 1e-9)
  }

  test("effectiveSampleSize: uniform mixture keeps ESS = n; skew bites") {
    val Array((n, nSrc, ess, ratio)) = TextAnalysis.effectiveSampleSize(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(nSrc > 1)
    assert(math.abs(ess - n) < 0.5 && math.abs(ratio - 1.0) < 1e-6,
      "uniform 20x25 corpus must have ESS = n")
    // skewed fixture: one head source (900) + one tail (100): tempering
    // down-weights the head, ESS must fall strictly below n
    val skew = ((1 to 900).map(i => (i.toLong, "head")) ++
      (1 to 100).map(i => (900L + i, "tail"))).toDF("doc_id", "source")
    val Array((ns, _, essS, ratioS)) = TextAnalysis.effectiveSampleSizeOf(skew)
      .as[(Long, Long, Double, Double)].collect()
    assert(ns === 1000L)
    assert(essS < ns && ratioS < 1.0, s"skew not detected: ess=$essS")
    // Kish hand-check: w_head=sqrt(100/900)=1/3, w_tail=1 →
    // ESS = (900/3 + 100)^2 / (900/9 + 100) = 400^2/200 = 800
    assert(math.abs(essS - 800.0) < 1.0, s"ess=$essS expected ~800")
  }

  test("prepFunnel: stages shrink monotonically and recount exactly") {
    val f = TextAnalysis.prepFunnel(spark, sf)
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1)
    assert(f.map(_._2).toSeq === Seq("raw", "gopher_rules", "exact_dedup"))
    f.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 <= a._3, "a funnel stage grew")
        assert(b._4 === a._3 - b._3, "drop accounting inconsistent")
      case _ => ()
    }
    assert(f.head._3 === Tables.documents(spark, sf).count())
    val kept = TextAnalysis.gopherRules(spark, sf)
      .filter($"keep_doc").count()
    assert(f(1)._3 === kept)
  }

  test("prCurve: cumulative counts are monotone and close the curve") {
    val rows = TextAnalysis.prCurve(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // score_cut strictly descending; tp and kept monotone non-decreasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 > b._1); assert(b._2 >= a._2); assert(b._2 + b._3 >= a._2 + a._3)
    case _ => ()
    }
    val last = rows.last
    assert(last._4 === 0L && last._6 === 1000000L) // fn=0, recall=1
    assert(last._2 + last._3 === Tables.documents(spark, sf).count())
    // the sweep must beat the deployed keep-everything threshold's F1
    val Array((tp, fp, fn, _, _, _, deployedF1Q6)) =
      TextAnalysis.confusion(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._7).max >= deployedF1Q6, "sweep found no better cut")
  }

  test("scriptMix: planted mixed-script rows classified; counts exact") {
    val rows = Seq(
      (1L, "hello world one two three"),           // pure latin
      (2L, "привет мир и ещё слова здесь"),        // pure cyrillic
      (3L, "hello привет 中文 mixed up 123"),       // mixed
      (4L, "12345 !!! ---"),                       // no letters
      (5L, "中文中文中文 and a bit of latin"))        // cjk vs latin
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptMixOf(rows)
      .select($"doc_id", $"n_latin", $"n_cyrillic", $"n_cjk", $"dominant",
        $"purity_ppm")
      .as[(Long, Long, Long, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._5 === "latin" && got(1L)._6 === 1000000L)
    assert(got(2L)._5 === "cyrillic" && got(2L)._6 === 1000000L)
    assert(got(3L)._5 === "latin" && got(3L)._6 < 1000000L)
    assert(got(4L)._5 === "none" && got(4L)._6 === 0L)
    // counts exact against plain Scala
    assert(got(2L)._3 === "привет мир и ещё слова здесь".count(c =>
      c >= 'Ѐ' && c <= 'ӿ').toLong)
    assert(got(5L)._4 === 6L) // six CJK chars planted
    assert(got(5L)._5 === "latin") // 13 latin letters beat 6 cjk
    // corpus gate shape: the synthetic corpus is ASCII-pure
    val corpus = TextAnalysis.scriptMix(spark, sf)
      .select($"dominant", $"purity_ppm").as[(String, Long)].collect()
    assert(corpus.forall { case (d, p) => d == "latin" && p == 1000000L })
  }

  test("domainReweight: softmax weights close, replayed from the shift matrix") {
    val rows = TextAnalysis.domainReweight(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    // weights are ppm floor-divisions: sum within |sources| of 1e6
    val wsum = rows.map(_._5).sum
    assert(wsum <= 1000000L && wsum > 1000000L - rows.length,
      s"weights sum $wsum")
    // excess is exactly best-other minus self
    rows.foreach { r => assert(r._4 === r._3 - r._2) }
    // weight is monotone in excess (softmax property)
    rows.sortBy(_._4).sliding(2).foreach {
      case Array(a, b) => assert(a._5 <= b._5,
        s"weight not monotone in excess: ${a._1} vs ${b._1}")
      case _ => ()
    }
    // replay from the matrix: diagonal + min off-diagonal
    val m = TextAnalysis.domainShift(spark, sf)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> math.round(r._4 * 1e6)).toMap
    rows.foreach { case (s, self, omin, _, _) =>
      assert(self === m((s, s)), s"$s self NLL")
      val expect = m.collect { case ((a, b), v) if a == s && b != s => v }.min
      assert(omin === expect, s"$s best-other NLL")
    }
  }

  test("KN trigram: staged pipeline equals the single-plan form") {
    val plain = TextAnalysis.knTrigramScore(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graftkstage")
    spark.conf.set("spark.graft.stage.root", root.toString)
    try {
      val staged = TextAnalysis.knTrigramScore(spark, sf, staged = true)
        .as[(Long, Long, Double)].collect().toSeq
      assert(staged === plain)
      assert(plain.nonEmpty)
      assertStagedCleanup(root, "kn_trigram")
    } finally spark.conf.unset("spark.graft.stage.root")
  }

  test("KN trigram: proper distribution (all logprobs < 0), train docs score above held-out") {
    val rows = TextAnalysis.knTrigramScore(spark, sf)
      .as[(Long, Long, Double)].collect()
    // one row per doc with >= 3 tokens, trigram counts line up
    val nDocs = graft.util.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")) >= 3).count()
    assert(rows.length.toLong === nDocs)
    assert(rows.forall(_._2 > 0))
    // P sums to 1 over the vocab at every backoff level (continuation
    // unigram is normalized), so every per-token probability is < 1 and
    // every mean log-probability strictly negative
    assert(rows.forall(_._3 < 0.0), "a doc scored a non-negative logprob")
    // train docs contain their own counts; held-out docs back off more
    val (train, eval) = rows.partition(_._1 % 10 < 8)
    val mt = train.map(_._3).sum / train.length
    val me = eval.map(_._3).sum / eval.length
    assert(mt > me, s"train mean $mt should exceed held-out mean $me")
  }

  test("domain shift: disjoint-vocab sources produce a dominant off-diagonal NLL") {
    val docs = (0 until 40).map { i =>
      val src = if (i % 2 == 0) "alpha" else "beta"
      val words = if (i % 2 == 0) Seq("ore", "vein", "smelt", "ingot")
        else Seq("tide", "reef", "coral", "brine")
      val text = Seq.tabulate(12)(j => words((i * 7 + j) % 4)).mkString(" ")
      (i.toLong, text, "en", src, text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("dshift").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = TextAnalysis.domainShift(spark, dir)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(m.size === 4)
    // self-model NLL is far below the cross-model NLL for both sources
    assert(m(("alpha", "alpha")) < m(("alpha", "beta")) - 1.0)
    assert(m(("beta", "beta")) < m(("beta", "alpha")) - 1.0)
    // real corpus: every source fits its own model at least as well as
    // the row average (the drift-alarm invariant)
    val real = TextAnalysis.domainShift(spark, sf)
      .as[(String, String, Long, Double)].collect()
    real.groupBy(_._1).foreach { case (src, row) =>
      val diag = row.find(_._2 == src).get._4
      val avg = row.map(_._4).sum / row.length
      assert(diag <= avg, s"$src: diagonal $diag above row mean $avg")
    }
  }

  test("LID confusion: cells cover every doc; planted markers classify perfectly") {
    val cells = TextAnalysis.lidConfusion(spark, sf)
      .as[(String, String, Long)].collect()
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    assert(cells.map(_._3).sum === nDocs)
    assert(cells.map(_._2).toSet.subsetOf(Set("en", "es", "fr", "de", "unknown")))
    // planted corpus: marker-dominated docs must land on the diagonal
    val planted = Seq(
      (0L, "the cat and the dog saw a bird", "en"),
      (1L, "el perro la casa los gatos", "es"),
      (2L, "le chat et les chiens le parc", "fr"),
      (3L, "der hund die katze und der park", "de"),
      (4L, "xyzzy plugh quux", "zz"))
    val dir = java.nio.file.Files.createTempDirectory("lid").toString
    planted.map { case (id, t, l) => (id, t, l, "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.lidConfusion(spark, dir)
      .as[(String, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got === Map("en" -> "en", "es" -> "es", "fr" -> "fr",
      "de" -> "de", "zz" -> "unknown"))
  }
}
