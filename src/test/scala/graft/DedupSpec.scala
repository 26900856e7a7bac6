package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import graft.util.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (3L, "completely different content with zero overlap here"),
    (4L, "another unrelated document about spark engines")
  ).toDF("doc_id", "text")

  test("shingles: word 3-grams, distinct, short docs yield none") {
    val sh = Dedup.shingles(Seq((9L, "a b")).toDF("doc_id", "text"))
    assert(sh.count() === 0)
    val sh0 = Dedup.shingles(docs.filter($"doc_id" === 0)).as[(Long, String)].collect()
    assert(sh0.length === 7) // 9 tokens -> 7 shingles
    assert(sh0.map(_._2).contains("the quick brown"))
  }

  test("exact groups collapse identical texts") {
    val out = docs.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
    val dup = out.filter($"n_docs" === 2).select("keep_id").as[Long].collect()
    assert(dup.toSeq === Seq(0L))
  }

  test("jaccard finds the engineered near-dup pair and LSH proposes it") {
    val sh = Dedup.shingles(docs)
    val card = sh.groupBy($"doc_id").agg(count(lit(1)).as("c"))
    val inter = sh.as("a").join(sh.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("ix"))
    val jac = inter.join(card.as("ca"), $"id_a" === $"ca.doc_id")
      .join(card.as("cb"), $"id_b" === $"cb.doc_id")
      .withColumn("jac", $"ix".cast("double") / ($"ca.c" + $"cb.c" - $"ix"))
      .filter($"jac" >= 0.5 && $"jac" < 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jac.contains((0L, 1L)))
    // LSH candidates must contain every exact + strong near-dup pair
    val cand = Dedup.minhashSignatures(docs)
    assert(cand.count() === 5)
    val exactPair = Dedup.minhashSignatures(docs)
      .select("doc_id", "h0").as[(Long, String)].collect().toMap
    assert(exactPair(0L) === exactPair(2L)) // identical docs, identical sig
  }

  test("simhash: identical docs collide, disjoint docs differ") {
    val fp = docs.select($"doc_id", Dedup.simhash($"text").as("s"))
      .as[(Long, String)].collect().toMap
    assert(fp(0L) === fp(2L))
    assert(fp(0L).length === 16)
    assert(fp(0L).forall(c => c == '0' || c == '1'))
    assert(fp(0L) !== fp(3L))
  }

  test("prefix-filtered jaccard equals the naive all-pairs join exactly") {
    val naive = Dedup.jaccardPairs(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val prefix = Dedup.jaccardPairsPrefix(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(prefix === naive)
    assert(naive.nonEmpty) // the corpus carries engineered near-dups
  }

  test("staged prefix pipeline equals the naive join; scratch honors spark.graft.stage.root") {
    val root = java.nio.file.Files.createTempDirectory("graftstage")
    spark.conf.set("spark.graft.stage.root", root.toString)
    try {
      val staged = Dedup.jaccardPairsPrefix(spark, sf, 0.8, staged = true)
        .as[(Long, Long, Double)].collect().toSeq
      val naive = Dedup.jaccardPairs(spark, sf)
        .as[(Long, Long, Double)].collect().toSeq
      assert(staged === naive)
      // the staged phases must have landed under the configured root
      assertStagedCleanup(root, "ppjoin")
    } finally spark.conf.unset("spark.graft.stage.root")
  }

  test("hub-mass census picks naive on a hub-free corpus, prefix on a hubbed one") {
    def writeDocs(rows: Seq[(Long, String)], dir: java.nio.file.Path): String = {
      rows.toDF("doc_id", "text").withColumn("n_chars", length($"text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir.toString
    }
    // hub-free: every shingle unique to its document (hub mass = 0)
    val rng = new scala.util.Random(7)
    val clean = (0L until 300L).map { i =>
      i -> (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    }
    // hubbed: same unique tails + a shared 16-word boilerplate in EVERY
    // doc — 14 hub shingles of frequency 300, the shape whose naive
    // self-join mass grows quadratically
    val boiler = (0 until 16).map(k => s"hub$k").mkString(" ")
    val hubbed = clean.map { case (i, t) => i -> s"$boiler $t" }
    // plus one engineered near-dup pair so the pair output is non-empty
    val hubbedAll = hubbed ++ Seq(
      (900L, s"$boiler same same same " + (0 until 20).map(j => s"x$j").mkString(" ")),
      (901L, s"$boiler same same same " + (0 until 20).map(j => s"x$j").mkString(" ")))
    val cleanDir = writeDocs(clean, java.nio.file.Files.createTempDirectory("hubfree"))
    val hubDir = writeDocs(hubbedAll, java.nio.file.Files.createTempDirectory("hubbed"))
    assert(!Dedup.prefixPathWins(spark, cleanDir), "hub-free corpus must pick naive")
    assert(Dedup.prefixPathWins(spark, hubDir), "2%-hub-style corpus must pick prefix")
    // the auto entries are output-identical to the naive references on
    // both corpora, for both families sharing the chooser
    for (d <- Seq(cleanDir, hubDir)) {
      val auto = Dedup.jaccardPairsAuto(spark, d)
        .as[(Long, Long, Double)].collect().toSeq
      val naive = Dedup.jaccardPairs(spark, d)
        .as[(Long, Long, Double)].collect().toSeq
      assert(auto === naive, s"dir=$d")
      val cAuto = Dedup.containmentPairsAuto(spark, d)
        .as[(Long, Long, Double)].collect().toSeq
      val cNaive = Dedup.containmentPairs(spark, d)
        .as[(Long, Long, Double)].collect().toSeq
      assert(cAuto === cNaive, s"dir=$d (containment)")
    }
    locally { val _ = rng }
  }

  test("prefix filter survives taus where double ceil(tau*c) over-rounds") {
    // 0.7*10 = 7.000000000000001 in doubles → a naive ceil yields 8,
    // shrinking the prefix and silently dropping qualifying candidates
    for (tau <- Seq(0.7, 0.55, 0.3)) {
      val naive = Dedup.jaccardPairs(spark, sf, tau)
        .as[(Long, Long, Double)].collect().toSeq
      val prefix = Dedup.jaccardPairsPrefix(spark, sf, tau)
        .as[(Long, Long, Double)].collect().toSeq
      assert(prefix === naive, s"tau=$tau")
    }
  }

  test("contamination: near-dup of a bench doc is flagged, clean docs are not") {
    val hits = Dedup.contamination(spark, sf)
      .as[(Long, Long, Long)].collect()
    // every flag points from a train doc to a bench doc with a real overlap
    hits.foreach { case (train, bench, shared) =>
      assert(train >= 10L && bench < 10L && shared >= 3L)
    }
    // flagged overlaps are symmetric ground truth: recompute one pair's
    // shared 5-gram count directly from the texts
    if (hits.nonEmpty) {
      val (train, bench, shared) = hits.head
      val texts = graft.util.Tables.documents(spark, sf)
        .filter(col("doc_id").isin(train, bench))
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      def grams(s: String) = s.split(" ").sliding(5).map(_.mkString(" ")).toSet
      assert(grams(texts(train)).intersect(grams(texts(bench))).size.toLong === shared)
    }
  }

  test("LSH recall: every engineered high-similarity pair appears in the candidates") {
    // 30 base docs; every third gets a near-copy with one word changed
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rng = new scala.util.Random(11)
    val base = (0 until 30).map { i =>
      i.toLong -> Seq.fill(25)(words(rng.nextInt(words.length))).mkString(" ")
    }
    val nearDups = base.filter(_._1 % 3 == 0).map { case (id, text) =>
      val toks = text.split(" "); toks(12) = "CHANGED"
      (id + 100L) -> toks.mkString(" ")
    }
    val docs = (base ++ nearDups).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docs)
    val bandCols = (0 until Dedup.Bands).map { bnd =>
      val rows = (0 until Dedup.RowsPerBand)
        .map(r => org.apache.spark.sql.functions.col(s"h${bnd * Dedup.RowsPerBand + r}"))
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat_ws("|", rows: _*)).as(s"b$bnd")
    }
    val banded = sig.select(org.apache.spark.sql.functions.col("doc_id") +: bandCols: _*)
    val cand = banded.as("a").join(banded.as("b"),
        $"a.doc_id" < $"b.doc_id" &&
          (0 until Dedup.Bands).map(i => col(s"a.b$i") === col(s"b.b$i")).reduce(_ || _))
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    // b=4 bands of r=3 with s≈0.77 gives ~91% per-pair detection — LSH is
    // probabilistic by design, so assert recall with margin (the seed is
    // fixed, so the observed value is stable)
    val found = nearDups.count { case (dupId, _) =>
      cand.contains((dupId - 100L, dupId))
    }
    assert(found >= nearDups.size * 8 / 10,
      s"LSH recall $found/${nearDups.size} below 80%")
  }

  test("semantic dedup: min-id per cluster always survives; drops have an in-cluster witness") {
    val out = Dedup.semanticDedup(spark, sf)
      .as[(Long, Long, Long)].collect()
    val docs = Tables.embeddings(spark, sf).count()
    assert(out.length.toLong === docs) // every vector classified exactly once
    assert(out.forall(r => r._3 == 0L || r._3 == 1L))
    // greedy keep-lowest-id: the minimum id of each cluster can have no
    // lower-id duplicate, so it must be kept
    out.groupBy(_._2).foreach { case (_, members) =>
      val minId = members.map(_._1).min
      assert(members.find(_._1 == minId).get._3 === 1L)
    }
    // at least one near-dup must exist in this corpus (embeddingNearDups
    // finds cross-corpus pairs at the same tau)
    assert(out.exists(_._3 == 0L))
  }

  test("prefix-filtered containment equals the naive all-pairs form exactly") {
    // the prefix bound is on the subset side only; verification is exact,
    // so both strategies must produce identical directed pairs
    for (tau <- Seq(0.5, 0.8, 0.9)) {
      val naive = Dedup.containmentPairs(spark, sf, tau)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.containmentPairsPrefix(spark, sf, tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref === naive, s"tau=$tau")
    }
  }

  test("containment: directional, >= jaccard on shared pairs, both orders emitted for symmetric dups") {
    val cont = Dedup.containmentPairs(spark, sf, tau = 0.8)
      .as[(Long, Long, Double)].collect()
    val jac = Dedup.jaccardPairs(spark, sf, tau = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(cont.nonEmpty)
    val contMap = cont.map(r => (r._1, r._2) -> r._3).toMap
    // containment(A,B) >= jaccard(A,B): every verified jaccard pair must
    // appear in at least the sub->super direction with a score no lower
    jac.foreach { case (a, b, j) =>
      val c = math.max(contMap.getOrElse((a, b), 0.0), contMap.getOrElse((b, a), 0.0))
      assert(c >= j - 1e-9, s"pair ($a,$b): containment $c < jaccard $j")
    }
    // directionality: scores are containment of the SUB side's set
    cont.foreach { case (s2, sup, c) => assert(s2 != sup && c >= 0.8 && c <= 1.0) }
  }

  test("bloom-prefiltered incremental dedup matches the exact form and prunes map-side") {
    val plain = Dedup.incrementalDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bloom = Dedup.incrementalDedupBloom(spark, sf)
    val got = bloom.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === plain.toSeq)
    // the probe is the native codegen'd expression, present in the plan
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"))
    // the bloom actually prunes: delta hashes absent from history must
    // test negative (no false negatives is the correctness direction;
    // this asserts the pruning direction does real work on the fixture)
    import graft.functions.Blooms
    val docs = Tables(spark, sf, "documents")
      .select($"doc_id", md5($"text").as("h"))
    val bytes = docs.filter($"doc_id" % 10 < 8).select($"h").distinct()
      .agg(Blooms.agg(spark, xxhash64($"h"), 1L << 20).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val pruned = docs.filter($"doc_id" % 10 >= 8)
      .filter(!Blooms.mightContain(spark, lit(bytes), xxhash64($"h")))
      .count()
    assert(pruned > 0, "bloom prefilter pruned nothing on the fixture")
  }

  test("fuzzy incremental dedup: sound matches, full delta coverage") {
    val out = Dedup.incrementalDedupFuzzy(spark, sf)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.getLong(3)))
    val deltaIds = Tables(spark, sf, "documents")
      .filter($"doc_id" % 10 >= 8).select("doc_id").as[Long].collect().toSet
    // one row per delta doc, no history docs in the output
    assert(out.map(_._1).toSet === deltaIds)
    // soundness: every flagged match is a VERIFIED history near-dup —
    // recompute its jaccard directly from the shingle sets
    val flagged = out.filter(_._4 == 0L)
    val shl = Dedup.shingles(Tables(spark, sf, "documents"))
      .as[(Long, String)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    flagged.foreach { case (d, h, jac, _) =>
      assert(h % 10 < 8 && deltaIds.contains(d))
      val (a, b) = (shl(h), shl(d))
      val truth = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(truth - jac) < 1e-6 && jac >= 0.8,
        s"pair ($h,$d): reported $jac, true $truth")
    }
    // kept rows carry no match payload
    out.filter(_._4 == 1L).foreach { case (_, h, j, _) =>
      assert(h == -1L && j == 0.0) }
  }

  test("keepLatest keeps exactly one row per key, newest first") {
    val df = Seq(("k1", 1L, "old"), ("k1", 2L, "new"), ("k2", 5L, "only"))
      .toDF("k", "v", "tag")
    val out = Dedup.keepLatest(df, Seq("k"), Seq($"v".desc))
      .select("k", "tag").as[(String, String)].collect().toMap
    assert(out === Map("k1" -> "new", "k2" -> "only"))
  }

  test("minhashAccuracy: estimate bounds, band-row consistency, sane error") {
    val rows = graft.ops.Dedup.minhashAccuracy(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, nBands, nMatch, est, jac, err) =>
      assert(a < b)
      assert(nMatch >= 0 && nMatch <= 12)
      // an agreeing band hash means its 3 signature rows agree
      assert(nMatch >= 3 * nBands, s"($a,$b): $nMatch rows < 3x$nBands bands")
      assert(math.abs(est - nMatch / 12.0) < 1e-6)
      assert(jac > 0.0 && jac <= 1.0)
      assert(math.abs(err - math.abs(est - jac)) < 1e-6)
    }
    // k=12 rows: mean |error| should sit near sqrt(J(1-J)/12), far below 0.3
    val meanErr = rows.map(_._7).sum / rows.length
    assert(meanErr < 0.3, s"estimator error implausibly large: $meanErr")
  }

  test("thresholdSweep: monotone in tau; 0.8 point bounded by the exact pass") {
    val sweep = graft.ops.Dedup.thresholdSweep(spark, sf)
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    assert(sweep.map(_._1).toSeq ===
      (0 until 10).map(k => math.rint((0.5 + k * 0.05) * 100) / 100))
    sweep.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 <= a._2, "pair count increased with tau")
        assert(b._3 <= a._3, "removable count increased with tau")
      case _ => ()
    }
    sweep.foreach { case (_, nPairs, nRem) => assert(nRem <= nPairs.max(1L)) }
    // the LSH-candidate sweep at tau=0.8 cannot exceed the exact all-pairs gate
    val exact08 = graft.ops.Dedup.jaccardPairs(spark, sf, tau = 0.8).count()
    val at08 = sweep.find(s => math.abs(s._1 - 0.8) < 1e-9).get
    assert(at08._2 <= exact08)
  }

  test("dupRateBySource: planted within- and cross-source dups are attributed") {
    // s1: 2 of 3 docs share content (within-source dup pair);
    // s2: 1 of its 2 docs duplicates an s1 doc (cross-source — counts
    // for BOTH sources); s3: clean.
    val docs = Seq(
      (1L, "s1", "alpha beta gamma"), (2L, "s1", "alpha beta gamma"),
      (3L, "s1", "delta epsilon"),
      (4L, "s2", "delta epsilon"), (5L, "s2", "unique zeta"),
      (6L, "s3", "another clean doc")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dupRateBySourceOf(docs)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("s1") === (("s1", 3L, 2L, 3L, 1.0))) // all 3 in dup groups
    assert(out("s2") === (("s2", 2L, 2L, 1L, 0.5)))
    assert(out("s3") === (("s3", 1L, 1L, 0L, 0.0)))
    // the gated corpus itself is exactly-clean — zero everywhere
    val corpus = Dedup.dupRateBySource(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(corpus.nonEmpty)
    corpus.foreach { case (_, n, dist, dups, rate) =>
      assert(dist === n && dups === 0L && rate === 0.0)
    }
  }

  test("simhash accuracy census: full pair coverage, Jaccard falls as Hamming grows") {
    val rows = Dedup.simhashAccuracy(spark, sf, probes = 100L)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    val nDocs = graft.util.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 100).count()
    assert(rows.map(_._2).sum === nDocs * (nDocs - 1) / 2)
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 16))
    // the estimator property: the low-distance end of the census must
    // carry clearly higher similarity than the high-distance end
    val lo = rows.takeWhile(_._1 <= rows.head._1 + 2)
    val hi = rows.reverse.takeWhile(_._1 >= rows.last._1 - 2)
    def wmean(rs: Array[(Int, Long, Long)]) =
      rs.map(r => r._3.toDouble * r._2).sum / rs.map(_._2).sum
    assert(wmean(lo) > wmean(hi),
      s"low-hamming mean ${wmean(lo)} not above high-hamming ${wmean(hi)}")
  }

  test("portable bloom: measured FP rate tracks load-factor theory at two sizes") {
    val nDocs = graft.util.Tables.documents(spark, sf).count()
    // saturated filter: real false positives, rate within 5pp of theory
    val tight = Dedup.bloomFpr(spark, sf, m = 256L)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    assert(tight._1 + tight._2 === nDocs)
    assert(tight._3 <= 256L && tight._4 > 0L)
    assert(math.abs(tight._5 - tight._7) < 0.05,
      s"measured ${tight._5} vs theory ${tight._7}")
    // roomy filter: zero false positives, tiny predicted rate
    val roomy = Dedup.bloomFpr(spark, sf)
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    assert(roomy._3 <= 3L * roomy._1) // k positions per member at most
    assert(roomy._4 === 0L && roomy._7 < 1e-4)
  }
}
