package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ExtensionsProbe

import graft.functions.ExactMoments
import graft.queries.Analytics
import graft.util.Tables

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("ExactMoments aggregator equals the built-in integer moment sums") {
    val cents = Tables.events(spark, sf)
      .select($"user_id", round($"value" * 100).cast("long").as("c"))
    val viaUdaf = cents.groupBy($"user_id")
      .agg(udaf(ExactMoments, org.apache.spark.sql.Encoders.scalaLong)($"c").as("m"))
      .select($"user_id", $"m._1".as("n"), $"m._2".as("s"), $"m._3".as("sq"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val viaBuiltin = cents.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"), sum($"c" * $"c").as("sq"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaUdaf === viaBuiltin)
  }

  test("moments merge is associative and order-free: shard partials combine exactly") {
    val xs = Seq(3L, -7L, 12L, 0L, 5L, 5L, -1L)
    val oneShot = xs.foldLeft(ExactMoments.zero)(ExactMoments.reduce)
    // every split point and both merge orders give the same moments
    (1 until xs.length).foreach { k =>
      val (a, b) = xs.splitAt(k)
      val pa = a.foldLeft(ExactMoments.zero)(ExactMoments.reduce)
      val pb = b.foldLeft(ExactMoments.zero)(ExactMoments.reduce)
      assert(ExactMoments.merge(pa, pb) === oneShot)
      assert(ExactMoments.merge(pb, pa) === oneShot)
      assert(ExactMoments.merge(pa, ExactMoments.zero) === pa)
    }
  }

  test("exact variance is reproducible across repartitionings and tracks var_samp") {
    val out = Analytics.exactVariance(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val out2 = Analytics.exactVariance(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === out2) // bit-identical rerun
    // agreement with float var_samp up to float-accumulation noise
    val ref = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(var_samp(round($"value" * 100) / 100.0).as("v"))
      .as[(Long, Double)].collect().toMap
    out.foreach { case (u, _, _, vQ6) =>
      val v = vQ6 / 1e6
      assert(math.abs(v - ref(u)) < 2e-6 * math.max(1.0, math.abs(ref(u))),
        s"user $u exact=$v float=${ref(u)}")
    }
  }

  test("str_hamming: equals the unrolled substring form; null on length mismatch; codegen'd") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      ((1 to 16).map(_ => if (rnd.nextBoolean()) "1" else "0").mkString,
       (1 to 16).map(_ => if (rnd.nextBoolean()) "1" else "0").mkString)
    }
    // repartition defeats ConvertToLocalRelation, so the projection runs
    // as a real codegen stage instead of folding at optimization time
    val df = rows.toDF("a", "b").repartition(2)
    val unrolled = (1 to 16).map(i =>
      when(substring($"a", i, 1) =!= substring($"b", i, 1), 1)
        .otherwise(0)).reduce(_ + _)
    val cmp = df.select(
      graft.functions.StrHamming(spark, $"a", $"b").as("fast"),
      unrolled.as("slow"))
    assert(cmp.filter($"fast" =!= $"slow").count() === 0)
    // null contract: length mismatch and null inputs
    val edge = Seq(("abc", "ab"), ("abc", null), (null, null))
      .toDF("a", "b")
      .select(graft.functions.StrHamming(spark, $"a", $"b"))
      .collect().map(r => r.isNullAt(0))
    assert(edge.forall(identity))
    // the expression must stay inside whole-stage codegen (no fallback);
    // AQE finalizes the plan only after execution, so act first
    cmp.collect()
    val plan = cmp.queryExecution.executedPlan.toString
    assert(plan.contains("*(") , s"no codegen stage in:\n$plan")
  }

  test("byte_at: equals the conv∘hex∘substr form; out-of-range null; codegen'd") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Array[Byte](0, 1, 127, -128, -1)),
      (2L, Array.empty[Byte]),
      (3L, null)
    ).toDF("id", "p")
    val probes = df.select($"id", explode(sequence(lit(-1L), lit(5L))).as("i"),
      $"p")
    val cmp = probes.select($"id", $"i",
      graft.functions.ByteAt(spark, $"p", $"i").as("fast"),
      // reference spelling (1-based substr; empty/null propagate to null)
      when(length(conv(hex($"p".substr(($"i" + 1).cast("int"), lit(1))), 16, 10)) > 0,
        conv(hex($"p".substr(($"i" + 1).cast("int"), lit(1))), 16, 10).cast("long"))
        .as("slow"))
    // negative index: substr(0) semantics differ, so check it separately
    val neg = cmp.filter($"i" === -1L).collect()
    assert(neg.forall(_.isNullAt(2)), "byte_at(-1) must be null")
    val pos = cmp.filter($"i" >= 0L)
    assert(pos.filter(
      ($"fast".isNull && $"slow".isNotNull) ||
      ($"fast".isNotNull && $"slow".isNull) ||
      ($"fast" =!= $"slow")).count() === 0)
    // unsigned semantics: 0xFF reads as 255, 0x80 as 128
    val r = df.filter($"id" === 1L)
      .select(graft.functions.ByteAt(spark, $"p", lit(4L)),
        graft.functions.ByteAt(spark, $"p", lit(3L)))
      .as[(Long, Long)].head()
    assert(r === ((255L, 128L)))
    pos.collect()
    val plan = pos.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
  }

  test("tok_count: bit-identical to size(split) incl. empties, multi-byte, corpus") {
    import org.apache.spark.sql.functions._
    // adversarial fixtures: empty, consecutive/leading/trailing spaces,
    // multi-byte UTF-8 (no 0x20 inside a sequence), single token
    val edge = Seq("", " ", "a", "a b", "a  b", " a", "a ", "héllo wörld",
      "日本 語 テスト", "a b c d e").toDF("t")
    val corpus = graft.util.Tables.documents(spark, sf).select($"text".as("t"))
    Seq(edge, corpus).foreach { df =>
      val cmp = df.select(
        graft.functions.TokCount(spark, $"t").as("fast"),
        size(split($"t", " ")).as("slow"))
      assert(cmp.filter($"fast" =!= $"slow").count() === 0)
    }
    // null propagates
    assert(Seq(Option.empty[String]).toDF("t")
      .select(graft.functions.TokCount(spark, $"t")).head().isNullAt(0))
    val probe = corpus.select(graft.functions.TokCount(spark, $"t").as("n"))
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString.contains("*("))
  }

  test("unicode_norm: Normalizer contract on hard cases; ASCII identity; codegen'd") {
    import org.apache.spark.sql.functions._
    def un(c: org.apache.spark.sql.Column, f: String) =
      graft.functions.UnicodeNorm(spark, c, f)
    // decomposed e+COMBINING ACUTE, precomposed é, ligature ﬁ (NFKC→fi),
    // full-width U+FF21 (NFKC->A), Greek U+0390 (NFD has two marks), ASCII
    val decomposed = "caf" + "e\u0301"
    val precomposed = "caf\u00e9"
    val rows = Seq(decomposed, precomposed, "\ufb01le", "\uff21BC",
      "\u0390", "plain ascii").toDF("s").repartition(2)
    val got = rows.select(col("s"), un(col("s"), "NFC").as("nfc"),
        un(col("s"), "NFD").as("nfd"), un(col("s"), "NFKC").as("nfkc"),
        un(col("s"), "STRIP").as("strip"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4))))
      .toMap
    assert(got(decomposed)._1 === precomposed)        // NFC composes
    assert(got(precomposed)._2 === decomposed)        // NFD decomposes
    assert(got(precomposed)._4 === "cafe")            // STRIP drops marks
    assert(got("\ufb01le")._3 === "file")             // NFKC folds ligature
    assert(got("\uff21BC")._3 === "ABC")              // NFKC folds width
    assert(got("\u0390")._4 === "\u03b9")             // both Greek marks go
    assert(got("plain ascii") ===
      (("plain ascii", "plain ascii", "plain ascii", "plain ascii")))
    // every form is identity on ASCII (fast path) and idempotent
    val corpus = graft.util.Tables.documents(spark, sf).select(col("text"))
    assert(corpus.filter(un(col("text"), "NFC") =!= col("text")).count() === 0)
    val acc = corpus.select(
      translate(col("text"), "aeiou", "\u00e1\u00e9\u00ed\u00f6\u00fc").as("a"))
    assert(acc.filter(
      un(un(col("a"), "NFD"), "NFD") =!= un(col("a"), "NFD")).count() === 0)
    // unknown form fails analysis, not execution
    val bad = intercept[Exception](rows.select(un(col("s"), "NFX")).collect())
    assert(bad.getMessage.contains("unicode_norm"))
    // stays inside whole-stage codegen
    val probe = rows.select(un(col("s"), "STRIP").as("x"))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
  }

  test("url_part: bit-parity with parse_url on the corpus, codegen stays whole") {
    import org.apache.spark.sql.functions._
    val urls = graft.ops.Web.urlCanon(spark, sf).select($"url")
    for (part <- Seq("HOST", "PATH", "QUERY")) {
      val cmp = urls.select(
        graft.functions.UrlPart(spark, $"url", part).as("fast"),
        parse_url($"url", lit(part)).as("slow"))
      assert(cmp.filter(not($"fast" <=> $"slow")).count() === 0, s"part=$part")
    }
    // edge semantics: no '?': QUERY null both ways; no '://': all null;
    // fragment directly after host: empty PATH, null QUERY
    val edge = Seq("https://h.com/p", "not a url", "https://h.com#f").toDF("url")
    val got = edge.select(
      graft.functions.UrlPart(spark, $"url", "HOST").as("h"),
      graft.functions.UrlPart(spark, $"url", "PATH").as("p"),
      graft.functions.UrlPart(spark, $"url", "QUERY").as("q")).collect()
    assert(got(0).getString(0) == "h.com" && got(0).getString(1) == "/p" && got(0).isNullAt(2))
    assert(got(1).isNullAt(0) && got(1).isNullAt(1) && got(1).isNullAt(2))
    assert(got(2).getString(0) == "h.com" && got(2).getString(1) == "" && got(2).isNullAt(2))
    // documented divergence: url_part keeps the full authority (port),
    // parse_url strips it — no ports exist in a canonicalized corpus
    val port = Seq("https://h.com:8080/p").toDF("url").select(
      graft.functions.UrlPart(spark, $"url", "HOST").as("fast"),
      parse_url($"url", lit("HOST")).as("slow")).head()
    assert(port.getString(0) == "h.com:8080" && port.getString(1) == "h.com")
    // the single-scan expression stays inside whole-stage codegen
    val probe = urls.select(graft.functions.UrlPart(spark, $"url", "HOST").as("h"))
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString.contains("*("))
  }

  test("text_stats: every field bit-identical to its column-algebra form") {
    import graft.ops.TextAnalysis
    val stop = Seq("the", "a", "and", "of", "to", "in")
    // adversarial fixtures: empty, space runs, trailing/leading spaces,
    // marker words at doc edges, accented twins (2-byte letters), an
    // astral-plane codepoint, digits/punct runs, 3-byte CJK
    val edge = Seq("", " ", "a", "the", "et", "a b", "a  b", " the", "und ",
      "the quick brown fox, jumps over... the lazy dog!?",
      "thé qüick brown föx, jümps övér thé lazy dög!?",
      "el la los le les et der die und the a and of to in",
      "1,2.3!x?y;z: 42 a1b2 33", "日本 語 テスト 😀 ok",
      "words; and: more. punct!").toDF("t")
    val corpus = Tables.documents(spark, sf).select($"text".as("t"))
    def markers(t: org.apache.spark.sql.Column, ws: Seq[String]) =
      size(filter(split(t, " "), x => x.isin(ws: _*)))
    Seq(edge, corpus).foreach { df =>
      val cmp = df
        .select($"t", graft.functions.TextStats(spark, $"t").as("st"))
        .select(
          ($"st.n_tokens" === size(split($"t", " "))).as("c1"),
          ($"st.n_subtokens" ===
            regexp_count($"t", lit("\\p{L}+|[0-9]|[^\\p{L}0-9 ]"))).as("c2"),
          ($"st.n_chars" === length($"t")).as("c3"),
          ($"st.n_stop" === markers($"t", stop)).as("c4"),
          ($"st.n_punct" ===
            (length($"t") - length(regexp_replace($"t", "[.,!?;:]", "")))).as("c5"),
          ($"st.s_en" === markers($"t", Seq("the", "a", "and"))).as("c6"),
          ($"st.s_es" === markers($"t", Seq("el", "la", "los"))).as("c7"),
          ($"st.s_fr" === markers($"t", Seq("le", "les", "et"))).as("c8"),
          ($"st.s_de" === markers($"t", Seq("der", "die", "und"))).as("c9"),
          ($"st.rhash" === TextAnalysis.rollingHash($"t")).as("c10"))
      val bad = cmp.filter((1 to 10).map(i => !col(s"c$i")).reduce(_ || _))
      assert(bad.count() === 0)
    }
    // null propagates to a null struct
    assert(Seq(Option.empty[String]).toDF("t")
      .select(graft.functions.TextStats(spark, $"t")).head().isNullAt(0))
    // the fused scan appears exactly ONCE in the docFeatures plan (the
    // point of the two-projection spelling: CollapseProject must not
    // inline the non-cheap producer into its nine consumers)
    val feats = TextAnalysis.docFeatures(spark, sf)
    feats.collect()
    // AQE's toString prints the final AND initial plans — count within
    // the final one only
    val plan = feats.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.sliding("text_stats".length).count(_ == "text_stats") === 1)
  }

  test("cov_accum UDAF via plain SQL: packed sums match hand arithmetic") {
    graft.functions.CovAccum.register(spark, 2)
    Seq((Seq(1L, 2L)), (Seq(3L, 5L)), (Seq(-2L, 4L)))
      .toDF("q").createOrReplaceTempView("cov_in")
    val m = spark.sql("SELECT cov_accum_2(q) FROM cov_in")
      .head().getSeq[Long](0)
    // layout: [n | s0 s1 | s00 s01 s11]
    assert(m === Seq(3L, 2L, 11L, 1 + 9 + 4L, 2 + 15 - 8L, 4 + 25 + 16L))
  }

  private def wrongNumArgs(name: String, expected: Int, actual: Int) =
    s"`$name` requires $expected parameters but the actual number is $actual"

  test("every catalogued function rejects one argument too few and one too many at analysis") {
    GraftExtensions.install(spark)
    for (f <- GraftExtensions.functions; n <- Seq(f.arity - 1, f.arity + 1)) {
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT ${f.name}(${Seq.fill(n)("1").mkString(", ")})"))
      assert(e.getMessage.contains(wrongNumArgs(f.name, f.arity, n)), e.getMessage)
    }
  }

  test("GraftExtensions injects exactly the catalog; runtime install adds each strategy once") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val injected = ExtensionsProbe.functions(ext)
    assert(injected.listFunction().map(_.funcName).sorted ===
      GraftExtensions.functions.map(_.name).sorted)
    assert(ExtensionsProbe.strategies(ext, spark) === GraftExtensions.strategies)
    assert(ExtensionsProbe.optimizerRules(ext, spark) === GraftExtensions.optimizerRules)
    GraftExtensions.functions.foreach { f =>
      val e = intercept[AnalysisException](
        injected.lookupFunctionBuilder(f.id).get(Seq.fill(f.arity + 1)(Literal(1))))
      assert(e.getMessage.contains(wrongNumArgs(f.name, f.arity, f.arity + 1)), e.getMessage)
    }
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    val added = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraStrategies
    assert(GraftExtensions.strategies.map(s => added.count(_ == s)) === Seq(1, 1))
  }
}
