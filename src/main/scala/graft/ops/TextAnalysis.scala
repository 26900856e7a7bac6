package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.{Staging, Tables}

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting.
  *
  * Everything here is pure `functions._` column algebra — whole-stage
  * codegen'd, no UDFs, no shuffle except the final aggregations. At 100 TB
  * these run as a single projection pass over the parquet scan with only
  * `text` (+ referenced metadata columns) in `ReadSchema`.
  */
object TextAnalysis {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count through the native [[graft.functions
    * .TokCount]] expression — bit-identical to `size(split(text, " "))`
    * (FunctionsSpec pins the property) but a zero-allocation byte scan
    * instead of materializing the token array per row; this feeds every
    * corpus-budgeting scan. Registration rides the active session
    * (query builders run driver-side where one is always set). */
  def tokenCount(text: Column): Column =
    graft.functions.TokCount(org.apache.spark.sql.SparkSession.active, text)

  /** BPE-ish subtoken count: alpha runs, single digits, and isolated
    * punctuation each count as one subtoken (a cheap stand-in for a real
    * tokenizer's token count, good enough for data budgeting).
    * `\p{L}` keeps accented/multi-byte letters inside alpha runs (Utf8Spec)
    * — identical to `[a-z]` on the all-lowercase-ASCII gated corpus. */
  def subtokenCount(text: Column): Column =
    regexp_count(text, lit("\\p{L}+|[0-9]|[^\\p{L}0-9 ]"))

  private val stopwords = Seq("the", "a", "and", "of", "to", "in")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double") /
      length(text)

  /** Composite quality score in [0,1]: length sweet-spot, some stopwords,
    * low punctuation — the usual cheap pre-filter for LLM training data.
    * UNROUNDED on purpose: the raw IEEE chain is identical on both
    * engines, so threshold filters (`>= 0.5`) and 1e-6 quantization of
    * it are portable; a round(x, 6) here sat on exact half-way ties
    * (the clamped ratios are dyadic) that DuckDB builds break in
    * different directions — the q_pack_bins failure class. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 200.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 10.0, lit(1.0))
    lenScore * 0.5 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2
  }

  /** Marker-word language ID (n-gram/stopword heuristic). Deterministic
    * argmax with fixed precedence; 'unknown' when no marker fires. */
  def langId(text: Column): Column = {
    def score(markers: Seq[String]): Column =
      size(filter(tokens(text), t => t.isin(markers: _*)))
    val en = score(Seq("the", "a", "and"))
    val es = score(Seq("el", "la", "los"))
    val fr = score(Seq("le", "les", "et"))
    val de = score(Seq("der", "die", "und"))
    when(en >= es && en >= fr && en >= de && en > 0, "en")
      .when(es >= fr && es >= de && es > 0, "es")
      .when(fr >= de && fr > 0, "fr")
      .when(de > 0, "de")
      .otherwise("unknown")
  }

  /** Content fingerprint: md5 of case-normalized text, plus a 8-hex-char
    * bucket prefix usable as a shard/partition key. */
  def fingerprint(text: Column): Column = md5(lower(text))
  def fingerprintBucket(text: Column): Column = substring(fingerprint(text), 1, 8)

  /** Polynomial rolling-hash fingerprint: fold `h = (h*31 + byte) mod
    * (1e9+7)` over the characters — the incremental document hash that,
    * unlike md5, extends to windowed/winnowing schemes. Pure column
    * algebra (sequence + aggregate HOF), no UDF. */
  def rollingHash(text: Column): Column = {
    val M = 1000000007L
    when(length(text) === 0, lit(0L)).otherwise(
      aggregate(
        sequence(lit(1), length(text)),
        lit(0L),
        (acc, i) => pmod(acc * 31 + ascii(text.substr(i, lit(1))), lit(M))))
  }

  /** Deterministic content-hash train/validation split: assignment
    * depends only on the text (stable across runs, machines, and
    * re-partitioning — the property a training pipeline needs so a
    * document never migrates between splits). First md5 nibble in
    * {0,1} → 'val' (12.5%), else 'train'. */
  def trainSplit(text: Column): Column =
    when(substring(md5(text), 1, 1).isin("0", "1"), "val").otherwise("train")

  /** Normalization pass: lowercase, strip punctuation, collapse runs of
    * whitespace (spaces/tabs/newlines), trim — the canonical form fed to
    * dedup/fingerprinting. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[.,!?;:]", ""), "\\s+", " "))

  // ---- query shapes ----------------------------------------------------

  /** Per-document text feature table. Ratio features are gated as
    * 1e-6-quantized BIGINTs (_q6): the raw ratios are dyadic-prone
    * (length clamps, power-of-two denominators), so a 6dp DOUBLE gate
    * sat on exact half-way ties — the q_pack_bins failure class.
    *
    * All nine feature columns derive from ONE fused byte scan
    * ([[graft.functions.TextStats]]) — the unfused spelling re-scanned
    * `text` nine times (five split() array materializations, two regex
    * passes, an O(len²) rolling-hash HOF) and cost 529 s at sf100.
    * The double chains below are the SAME IEEE operations as the
    * column-algebra forms (TextPipelineSpec pins field parity), only
    * their integer inputs now come from the struct. */
  def docFeatures(spark: SparkSession, dir: String): DataFrame = {
    val st = col("st")
    val nTok = st.getField("n_tokens")
    val nCh = st.getField("n_chars")
    val stopRatio = st.getField("n_stop").cast("double") / nTok
    val pRatio = st.getField("n_punct").cast("double") / nCh
    val lenScore = least(nCh.cast("double") / 200.0, lit(1.0))
    val stopScore = least(stopRatio * 5.0, lit(1.0))
    val punctPenalty = least(pRatio * 10.0, lit(1.0))
    val en = st.getField("s_en"); val es = st.getField("s_es")
    val fr = st.getField("s_fr"); val de = st.getField("s_de")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextStats(spark, col("text")).as("st"),
        col("text"))
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        st.getField("n_subtokens").as("n_subtokens"),
        round((nCh - (nTok - 1)).cast("double") / nTok * 1e6)
          .cast("long").as("avg_word_len_q6"),
        round(stopRatio * 1e6).cast("long").as("stopword_ratio_q6"),
        round(pRatio * 1e6).cast("long").as("punct_ratio_q6"),
        round((lenScore * 0.5 + stopScore * 0.3 +
          (lit(1.0) - punctPenalty) * 0.2) * 1e6).cast("long").as("quality_q6"),
        when(en >= es && en >= fr && en >= de && en > 0, "en")
          .when(es >= fr && es >= de && es > 0, "es")
          .when(fr >= de && fr > 0, "fr")
          .when(de > 0, "de")
          .otherwise("unknown").as("lang_pred"),
        fingerprintBucket(col("text")).as("fp_bucket"),
        st.getField("rhash").as("rhash"))
      .orderBy(col("doc_id"))
  }

  /** Linear quality-classifier inference pass — the fasttext-style
    * model-scoring stage of a data pipeline, as pure column algebra: a
    * fixed-weight logit over the cheap text features, and the keep
    * decision `logit > 0` (≡ sigmoid(logit) > 0.5, so no transcendental
    * sits on the comparison path). The logit's rational weights and
    * integer features are cleared to ONE integer numerator L over the
    * common denominator 1000·n·nc — `keep` is the pure integer sign of
    * L (bit-portable by construction), and the reported logit is a
    * single correctly-rounded division. The naive float chain
    * (-1 + 4·s/n + 0.3·awl - 8·p/nc + 0.002·n) is NOT portable: an
    * engine compiling a*b+c into a fused multiply-add rounds differently
    * and flipped 1-in-5000 rows at the 6th decimal. Zero shuffle: one
    * projection over the scan, exactly how a 100 TB scoring pass runs;
    * real model weights would arrive broadcast the same way. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    // the four integer features ride the same fused scan as docFeatures
    // (one byte pass instead of a TokCount + split-filter + regex pass);
    // two-projection spelling so the non-cheap scan is never inlined
    // per consumer by CollapseProject
    val n = col("st").getField("n_tokens").cast("long")
    val s = col("st").getField("n_stop").cast("long")
    val nc = col("st").getField("n_chars").cast("long")
    val p = col("st").getField("n_punct").cast("long")
    // L = 1000·n·nc · logit, with logit =
    //     -1 + 4·(s/n) + 0.3·((nc-n+1)/n) - 8·(p/nc) + 0.002·n
    val L = lit(-1000L) * n * nc + lit(4000L) * s * nc +
      lit(300L) * (nc - n + lit(1L)) * nc - lit(8000L) * p * n +
      lit(2L) * n * n * nc
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextStats(spark, col("text")).as("st"))
      .select(col("doc_id"),
        // gated as the 1e-6-quantized BIGINT: the logit is an exact
        // rational L/D whose 6dp roundings sit on genuine half-way
        // ties (scanner-verified) — integers carry no tie or sign split
        round(L.cast("double") / (lit(1000L) * n * nc).cast("double") * 1e6)
          .cast("long").as("logit_q6"),
        when(L > 0L, 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Exact ROC-AUC of the linear quality classifier's logit against the
    * Gopher all-rules label — the evaluation primitive behind every
    * "train a filter model, gate on AUC before deploying it" loop. The
    * Mann–Whitney midrank form with EXACT integer arithmetic: with
    * 2·midrank = 2·rank_min + ties − 1 (both window integers), the AUC
    * numerator Σ_pos 2·mid − n⁺(n⁺+1) is a BIGINT and only the final
    * division is IEEE — deterministic under any tie structure, no
    * pair-counting O(n²).
    *
    * Scale note: exact AUC needs a global rank over the per-doc score
    * table (one global sort — the same cost class as any total order).
    * At extreme scale the standard move is binned AUC over quantized
    * scores (a groupBy, no sort); the exact form is kept here because
    * the score table is one row per document, already 10³–10⁶× smaller
    * than the corpus scan that produced it. */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val scores = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("logit_q6").as("score"))
    val labels = gopherRules(spark, dir)
      .select(col("doc_id"), col("keep_doc").cast("long").as("y"))
    val j = scores.join(labels, "doc_id")
    val mid2 = rank().over(Window.orderBy(col("score"))) * 2 +
      count(lit(1)).over(Window.partitionBy(col("score"))) - 1
    j.select(col("y"), mid2.cast("long").as("mid2"))
      .agg(sum(when(col("y") === 1, col("mid2")).otherwise(0L)).as("pos2"),
        sum(col("y")).as("np"), count(lit(1)).as("n"))
      .select(col("np").as("n_pos"), (col("n") - col("np")).as("n_neg"),
        round((col("pos2") - col("np") * (col("np") + 1)).cast("double") /
              (lit(2L) * col("np") * (col("n") - col("np"))).cast("double")
          * 1e6).cast("long").as("auc_q6"))
  }

  /** Confusion matrix + derived metrics of the classifier's keep
    * decision against the Gopher label — the threshold-level companion
    * of [[classifierAuc]]'s threshold-free ranking view. One join + one
    * four-way-sum aggregate; precision/recall/F1 are single divisions
    * of exact BIGINT counts. */
  def confusion(spark: SparkSession, dir: String): DataFrame = {
    val preds = qualityClassifier(spark, dir).select(col("doc_id"), col("keep"))
    val labels = gopherRules(spark, dir)
      .select(col("doc_id"), col("keep_doc").cast("long").as("y"))
    preds.join(labels, "doc_id")
      .agg(
        sum(when(col("keep") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("keep") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("keep") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
          * 1e6).cast("long").as("precision_q6"),
        round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
          * 1e6).cast("long").as("recall_q6"),
        round((lit(2L) * col("tp")).cast("double") /
              (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")
          * 1e6).cast("long").as("f1_q6"))
  }

  /** Full precision/recall curve: one row per DISTINCT score cut
    * ("keep iff score ≥ cut"), tp/fp/fn from integer cumulative sums
    * over the score-descending order — the threshold-sweep that the
    * q_confusion finding calls for (the deployed L>0 cut keeps
    * everything; this op finds where F1 actually peaks). Ties share a
    * cut row by construction (cumsums run over the per-score aggregate,
    * never raw rows), so the curve is deterministic under any tie
    * structure; output is bounded by distinct scores, the cumsum window
    * runs over that already-reduced table. */
  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val j = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("logit_q6").as("score"))
      .join(gopherRules(spark, dir)
        .select(col("doc_id"), col("keep_doc").cast("long").as("y")), "doc_id")
    val perScore = j.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val cum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    perScore
      .withColumn("tp", sum(col("pos")).over(cum))
      .withColumn("kept", sum(col("n")).over(cum))
      .withColumn("npos", sum(col("pos")).over(all))
      .select(col("score").as("score_cut_q6"), col("tp"),
        (col("kept") - col("tp")).as("fp"),
        (col("npos") - col("tp")).as("fn"),
        round(col("tp").cast("double") / col("kept").cast("double") * 1e6)
          .cast("long").as("precision_q6"),
        round(col("tp").cast("double") / col("npos").cast("double") * 1e6)
          .cast("long").as("recall_q6"),
        round((lit(2L) * col("tp")).cast("double") /
              (col("kept") + col("npos")).cast("double") * 1e6)
          .cast("long").as("f1_q6"))
      .orderBy(col("score_cut_q6").desc)
  }

  /** Calibration curve: positive rate per score decile. Deciles come
    * from ntile over the deterministic (score, doc_id) order; per-bucket
    * mean score sums 1e-6-quantized scores as BIGINTs (order-invariant)
    * before the single division. A well-calibrated filter shows the
    * rate rising monotonically with the decile — the check before using
    * the logit as a sampling weight rather than a hard gate. */
  def calibration(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    val scores = qualityClassifier(spark, dir)
      .select(col("doc_id"), col("logit_q6").as("score"))
    val labels = gopherRules(spark, dir)
      .select(col("doc_id"), col("keep_doc").cast("long").as("y"))
    val joined = scores.join(labels, "doc_id")
    // Distributed ntile (bit-exact): global rank decomposes as
    // (count of rows with strictly smaller score) + (row_number within
    // the tied score, by doc_id). The only ordered-cumsum window runs
    // over the per-score HISTOGRAM — bounded by distinct quantized
    // logits, the perplexityBuckets pattern — and the per-row window
    // partitions by score, so no single task ever sorts the whole
    // per-document table. The closed-form ntile bucket of rank r over n
    // rows: the first (n mod b) buckets hold ceil(n/b) rows.
    val hist = joined.groupBy(col("score")).agg(count(lit(1)).as("n_s"))
      .withColumn("cum", sum(col("n_s")).over(Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("score"), (col("cum") - col("n_s")).as("start0"))
    val total = joined.agg(count(lit(1)).as("n_tot"))
    val b = lit(buckets.toLong)
    val qsz = floor(col("n_tot") / b).cast("long")
    val thr = (col("n_tot") % b) * (qsz + 1)
    joined
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("score")).orderBy(col("doc_id"))))
      .join(broadcast(hist), Seq("score"))
      .crossJoin(broadcast(total))
      .withColumn("rank", col("start0") + col("rn"))
      .withColumn("decile",
        when(col("rank") <= thr,
          floor((col("rank") - 1) / (qsz + 1)) + 1)
        .otherwise((col("n_tot") % b) +
          floor((col("rank") - 1 - thr) / qsz) + 1)
        .cast("int"))
      .groupBy(col("decile"))
      // score is already the 1e-6-quantized BIGINT logit — sum directly
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(col("score")).as("qsum"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double") * 1e6)
          .cast("long").as("pos_rate_q6"),
        round(col("qsum").cast("double") / col("n_docs").cast("double"))
          .cast("long").as("mean_score_q6"))
      .orderBy(col("decile"))
  }

  /** Isotonic (PAV) calibration of the quality classifier, gated as
    * q_isotonic: the monotone-non-decreasing keep-rate curve closest in
    * L2 to the raw per-decile rates — what production pipelines fit
    * before using a classifier logit as an acceptance probability
    * (Zadrozny & Elkan, KDD'02; the calibrate step after
    * [[calibration]]'s diagnostic).
    *
    * Instead of the sequential pool-adjacent-violators stack, the
    * solution is computed by its closed form
    * `iso(i) = max_{a≤i} min_{b≥i} mean(y over deciles a..b)` — every
    * segment mean is a ratio of exact prefix-sum differences, and the
    * max-min runs over the O(B³)-pair lattice of the B-row decile
    * census (B=10 → ≤ 1000 rows), NEVER the corpus. The corpus-scale
    * work is exactly [[calibration]]'s one histogram-ntile pass; the
    * PAV itself is bounded algebra, which is why this stays declarative
    * where the textbook algorithm is a driver loop. `monotone_ok` is a
    * theorem of the construction (lag-checked, not assumed). */
  def isotonic(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    val cal = calibration(spark, dir, buckets)
      .select(col("decile"), col("n_docs"), col("n_pos"))
      .localCheckpoint(eager = false) // B rows; read by spine + lattice
    val run = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = cal
      .withColumn("cn", sum(col("n_docs")).over(run))
      .withColumn("cy", sum(col("n_pos")).over(run))
    val seg = pre.select(col("decile").as("a"),
        (col("cn") - col("n_docs")).as("cn0"),
        (col("cy") - col("n_pos")).as("cy0"))
      .join(pre.select(col("decile").as("b"), col("cn").as("cnb"),
        col("cy").as("cyb")), col("b") >= col("a"))
      .select(col("a"), col("b"),
        ((col("cyb") - col("cy0")).cast("double")
          / (col("cnb") - col("cn0")).cast("double")).as("m"))
    val iso = pre.select(col("decile"))
      .join(seg, col("a") <= col("decile") && col("b") >= col("decile"))
      .groupBy(col("decile"), col("a")).agg(min(col("m")).as("mm"))
      .groupBy(col("decile")).agg(max(col("mm")).as("iso_raw"))
    val ord = Window.orderBy(col("decile"))
    pre.join(iso, "decile")
      .select(col("decile"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double") * 1e6)
          .cast("long").as("pos_rate_q6"),
        round(col("iso_raw") * 1e6).cast("long").as("iso_rate_q6"))
      .withColumn("monotone_ok",
        when(lag(col("iso_rate_q6"), 1).over(ord).isNull ||
          col("iso_rate_q6") >= lag(col("iso_rate_q6"), 1).over(ord), 1L)
          .otherwise(0L))
      .orderBy(col("decile"))
  }

  /** Data-prep accounting funnel: document counts through the cleaning
    * chain (raw → Gopher rule filter → exact dedup of the survivors),
    * with per-stage drops and rates — the one-look answer to "where did
    * my corpus go" that every pipeline run logs next to its outputs.
    * Three 1-row aggregates (full-scan count; filtered count; distinct
    * fingerprints of the kept set) cross-joined and exploded to stage
    * rows — constant-size output, no stage re-reads another's output. */
  def prepFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keptIds = gopherRules(spark, dir)
      .filter(col("keep_doc")).select(col("doc_id"))
    val raw = docs.agg(count(lit(1)).as("n_raw"))
    val kept = keptIds.agg(count(lit(1)).as("n_rules"))
    val dedup = docs.join(keptIds, "doc_id")
      .agg(countDistinct(md5(col("text"))).as("n_dedup"))
    raw.crossJoin(kept).crossJoin(dedup)
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("raw").as("name"),
          col("n_raw").as("n_docs"), lit(0L).as("n_dropped"),
          lit(0.0).as("drop_rate")),
        struct(lit(2L).as("stage"), lit("gopher_rules").as("name"),
          col("n_rules").as("n_docs"),
          (col("n_raw") - col("n_rules")).as("n_dropped"),
          round((col("n_raw") - col("n_rules")).cast("double") /
                col("n_raw").cast("double"), 6).as("drop_rate")),
        struct(lit(3L).as("stage"), lit("exact_dedup").as("name"),
          col("n_dedup").as("n_docs"),
          (col("n_rules") - col("n_dedup")).as("n_dropped"),
          round((col("n_rules") - col("n_dedup")).cast("double") /
                col("n_rules").cast("double"), 6).as("drop_rate"))))
        .as("r"))
      .select(col("r.*"))
      .orderBy(col("stage"))
  }

  /** Effective sample size of the tempered source mixture — the
    * diagnostic that says how much statistical mass survives
    * [[weightedSample]]'s α=0.5 re-weighting: ESS = (Σ n_s·w_s)² /
    * (Σ n_s·w_s²) over per-source keep rates (Kish 1965). ESS/n near 1
    * means the tempering barely distorts; a low ratio warns the head
    * sources' down-weighting is costing real data. Weights quantize to
    * 1e-6 integer units so both moment sums are exact BIGINTs over the
    * |sources|-row rate table (the corpus scan contributes only the
    * per-source counts); the single division at the end is the only
    * float step. */
  def effectiveSampleSize(spark: SparkSession, dir: String): DataFrame =
    effectiveSampleSizeOf(Tables.documents(spark, dir))

  /** Core over any frame with a `source` column. The gated corpus is
    * perfectly uniform (20×25 docs), so its ESS = n exactly — itself
    * the diagnostic answer; the skewed-mixture fixture in
    * TextPipelineSpec proves the statistic bites. */
  def effectiveSampleSizeOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_src")).as("n_min"))))
      .select(col("n_src"),
        round(sqrt(col("n_min").cast("double") / col("n_src").cast("double"))
          * 1e6).cast("long").as("qw"))
    rates
      .agg(sum(col("n_src")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("n_src") * col("qw")).as("s1"),
        sum(col("n_src") * col("qw") * col("qw")).as("s2"))
      .select(col("n_docs"), col("n_sources"),
        // square in DOUBLE (s1² can pass 2⁶³ at scale); both engines
        // round the same product identically
        round(col("s1").cast("double") * col("s1").cast("double") /
              col("s2").cast("double"), 2).as("ess"),
        round(col("s1").cast("double") * col("s1").cast("double") /
              col("s2").cast("double") / col("n_docs").cast("double"), 6)
          .as("ess_ratio"))
  }

  /** Temperature-based source rebalancing (the data-mixing resampler of
    * multilingual/multi-source pretraining, XLM-style α-sampling): source
    * s keeps fraction (n_min/n_s)^(1-α) of its documents, so the rarest
    * source keeps everything and head sources are downsampled toward the
    * tempered distribution n^α. The keep decision is a deterministic
    * hash-uniform u(doc) < rate(source): stable across runs/partitioning,
    * and only sqrt sits on the comparison path (IEEE-correctly-rounded in
    * every engine — pow(x, 0.5) is NOT, which is why α is fixed at 0.5).
    * Dataflow: one tiny per-source count agg, broadcast back, then a pure
    * map-side filter pass — the 100 TB scan never shuffles. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_src")).as("n_min"))))
      .select(col("source"),
        sqrt(col("n_min").cast("double") / col("n_src").cast("double"))
          .as("keep_rate"))
    val u = conv(substring(md5(concat(lit("wsam|"), col("doc_id"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)
    docs.join(broadcast(rates), Seq("source"))
      .select(col("doc_id"), col("source"),
        round(col("keep_rate"), 6).as("keep_rate"),
        when(u < col("keep_rate"), 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Inverted-index build: one posting row per (term, doc) with occurrence
    * count, first position (1-based), and the term's document frequency.
    * posexplode → partial-agg groupBy is the scalable shape (map-side
    * combine collapses repeated terms before the shuffle); df rides a
    * window over the already-grouped posting list, so the second pass
    * shuffles postings, never raw token occurrences. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"),
        (min(col("pos")) + lit(1)).cast("long").as("first_pos"))
    posts
      .withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .orderBy(col("term"), col("doc_id"))
  }

  /** Per-language quota sampling: keep at most `k` documents per language,
    * chosen by deterministic hash order (md5 of a salted doc_id) so the
    * selection is a stable uniform sample, not head-of-table bias.
    * Two-stage exact top-k: each (lang, shard) keeps its local k smallest
    * order keys, then one window over the ≤ 16k survivors per language
    * picks the global k — the global top-k is always contained in the
    * union of per-shard top-ks, so this equals the single-window result
    * while never materializing a whole language in one partition (the
    * skew killer when one language is half the corpus at 100 TB). */
  def langQuota(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("lq|"), col("doc_id"))).as("okey"))
      .withColumn("shard", substring(col("okey"), 1, 1))
    val local = keyed
      .withColumn("lrk", row_number().over(Window
        .partitionBy(col("lang"), col("shard"))
        .orderBy(col("okey"), col("doc_id"))))
      .filter(col("lrk") <= k)
    local
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("lang")).orderBy(col("okey"), col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** UniMax-style language budget allocation + sample (Chung et al. 2023,
    * arXiv:2304.09151): waterfill a corpus-wide document budget
    * (`budgetNum/budgetDen` of the corpus) across languages in ascending
    * capacity order — each language takes `min(capacity, fair share of
    * the remaining budget)`, so low-resource languages are fully included
    * and the head language absorbs exactly the slack, instead of the
    * temperature mixer's (q_weighted_sample) fixed power-law thinning.
    * One-epoch caps (a doc samples at most once).
    *
    * All arithmetic is integer (floor division on positive longs — the
    * SQL oracle's `//` computes the same), so the allocation is
    * engine-exact. The per-language count table is |languages|-bounded —
    * collecting it for the ≤|languages|-round driver loop is the same
    * bounded-driver-state discipline as the BPE trainer's top-1. The
    * sample itself is the two-stage deterministic-hash top-k of
    * [[langQuota]], with the quota a JOINED COLUMN instead of a constant:
    * per-(lang, shard) local pruning first, so no partition ever holds a
    * whole language. */
  def unimaxSample(spark: SparkSession, dir: String,
      budgetNum: Long = 4, budgetDen: Long = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val caps = docs.groupBy(col("lang")).agg(count(lit(1)).as("cap"))
      .as[(String, Long)].collect().sortBy { case (l, c) => (c, l) }
    var remaining = caps.map(_._2).sum * budgetNum / budgetDen
    var k = caps.length
    val alloc = caps.map { case (l, c) =>
      val b = math.min(c, remaining / k)
      remaining -= b; k -= 1
      (l, c, b)
    }.toSeq.toDF("lang", "cap", "alloc")
    val keyed = docs.select(col("doc_id"), col("lang"),
        md5(concat(lit("ux|"), col("doc_id"))).as("okey"))
      .withColumn("shard", substring(col("okey"), 1, 1))
      .join(broadcast(alloc), Seq("lang"))
    keyed
      .withColumn("lrk", row_number().over(Window
        .partitionBy(col("lang"), col("shard"))
        .orderBy(col("okey"), col("doc_id"))))
      .filter(col("lrk") <= col("alloc"))
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("lang")).orderBy(col("okey"), col("doc_id"))))
      .filter(col("rk") <= col("alloc"))
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"),
        col("alloc"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Per-document split assignment + normalized-content fingerprint. */
  def splitAssignments(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        trainSplit(col("text")).as("split"),
        md5(normalize(col("text"))).as("norm_fp"),
        length(normalize(col("text"))).as("norm_len"))
      .orderBy(col("doc_id"))

  /** Vocabulary build: corpus-wide term statistics — total frequency and
    * document frequency per token, top `topN` by frequency with a
    * deterministic term tiebreak. The tokenizer-vocab / stopword-discovery
    * primitive of a training pipeline. At scale: explode is map-side, both
    * counts come from ONE shuffle on the term (count + count distinct via
    * two-level agg), and the top-N is a TakeOrderedAndProject, never a
    * global sort materialization. */
  def vocab(spark: SparkSession, dir: String, topN: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      // pre-aggregate per (term, doc): tf per doc; df = row count per term
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))
      .groupBy(col("term"))
      .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(topN)

  /** TF-IDF top term per document: the highest-scoring (rarest-but-
    * frequent) term, idf = ln(N / df). Shapes the relevance/topic-tagging
    * step; one term-stat join against [[vocab]]'s un-truncated form. */
  def topTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count() // corpus cardinality: one cheap count-star scan
    val termDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))
    // (term, doc_id) rows are unique post-groupBy, so df is a plain count
    val df_ = termDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    termDoc.join(df_, "term")
      .withColumn("tfidf",
        round(col("tf_doc") * log(lit(nDocs.toDouble) / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic training-shard assignment: shard = first md5 nibble of
    * the document id (content-independent so re-crawled text stays in its
    * shard; 16 shards here, compose nibbles for more). Rolled up to the
    * per-shard census a shard-writer plans its output files from. */
  def shardCensus(spark: SparkSession, dir: String, prefix: String = "sh|"): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(conv(substring(md5(concat(lit(prefix), col("doc_id"))), 1, 1),
          16, 10).cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  /** Deterministic epoch reshuffle: the training-order shuffle an epoch
    * of LLM training needs, as pure dataflow — no engine randomness, no
    * global sort. Each document's order key is `md5("ep<seed>|" ||
    * doc_id)`, its shard is the key's first four nibbles mod `shards`, and its
    * in-shard sequence is the rank by order key: changing the seed
    * permutes everything, same seed replays bit-identically (resumable
    * training). The rank window partitions BY SHARD, so no single
    * partition ever holds the corpus; the shard id is drawn from the
    * key's first four nibbles (0..65535 — uniform for any power-of-two
    * `shards`; widen the substring for more), so at 100 TB the shard
    * count scales until one shard ≈ one training file and every shard
    * ranks in parallel. A global `orderBy(rand())` — the naive form —
    * is neither reproducible nor resumable and range-sorts the whole
    * corpus. */
  def epochShuffle(spark: SparkSession, dir: String, seed: Int = 1,
      shards: Int = 8): DataFrame = {
    require(shards > 0 && 65536 % shards == 0,
      s"shards must divide 65536 for an unbiased nibble-mod assignment: $shards")
    val okey = md5(concat(lit(s"ep$seed|"), col("doc_id")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), okey.as("okey"))
      .withColumn("shard",
        pmod(conv(substring(col("okey"), 1, 4), 16, 10).cast("int"),
          lit(shards)))
      .withColumn("seq", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("okey"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("seq"))
      .orderBy(col("shard"), col("seq"))
  }

  /** Terms scrubbed by [[redact]] — the deny-list of a PII/sensitive-term
    * redaction pass. (This synthetic corpus has no digits or punctuation,
    * so regex shapes like emails/phones would be vacuous here; the
    * token-denylist form exercises the identical pipeline shape — scan,
    * per-token rewrite, audit count — with real hits.) */
  val DenyList: Seq[String] = Seq("customer", "key", "value")

  /** Deny-list redaction: replace denied tokens with a mask, keep an audit
    * count per document. Pure higher-order-function column algebra
    * (transform + filter over the token array) — codegen'd, zero shuffle,
    * a single projection pass at any scale. */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val denied = (t: Column) => t.isin(DenyList: _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(transform(toks,
          t => when(denied(t), lit("[REDACTED]")).otherwise(t)), " ")
          .as("redacted"),
        size(filter(toks, denied)).as("n_redacted"))
      .orderBy(col("doc_id"))
  }

  /** Concat-and-chunk sequence packing census (GPT-style pretraining
    * packing): documents are concatenated in doc_id order within a stream
    * and sliced into fixed `ctx`-token training sequences; each document
    * lands in bins [bin_start, bin_end]. Streams are per `source`, so the
    * running sum is a PARTITIONED window — at 100 TB each source packs
    * independently and in parallel; no global prefix-sum bottleneck. */
  def packSequences(spark: SparkSession, dir: String, ctx: Int = 256): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer division keeps the bin ids exact at any corpus size
      // (a double floor() would wobble past 2^53 tokens)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"cum_before div $ctx").as("bin_start"),
        expr(s"(cum_before + n_tokens - 1) div $ctx").as("bin_end"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser–Ney trigram score (Kneser & Ney 1995; the
    * KenLM default) — the quality-filter upgrade over [[bigramLmScore]]:
    * trigram max-likelihood with absolute discount D = 0.75 at every
    * level, backing off through CONTINUATION counts (how many distinct
    * contexts a gram completes, not how often it occurs) — the property
    * that stops high-frequency-but-context-locked tokens ("Francisco")
    * from dominating the backoff mass.
    *
    * Model levels, all from the train split (doc_id % 10 < 8):
    * c3(uvw) raw trigram counts with context totals c3ctx(uv) and
    * distinct-completion counts n3b(uv) = N1+(uv·); mid level uses
    * cc2(vw) = N1+(·vw) (distinct u's); unigram level cc1(w) = N1+(·w)
    * over continuation bigrams, Laplace-floored so every token scores.
    * P3 = (max(c3−D,0) + D·n3b·P2)/c3ctx, falling through to P2/P1 when
    * the context is unseen (the CASE cascade is consistent: a non-null
    * c3ctx implies non-null cc2ctx by construction).
    *
    * Scale shape — TWO spellings, chosen by corpus size, equal output
    * after the 6-decimal rounding (TextPipelineSpec asserts equality on
    * testdata; the two plans sum cnt·log(p3) in different aggregation
    * orders, so a doc sitting exactly on a 1e-6 rounding boundary could
    * in principle differ in the last digit — "byte-identical" would
    * overclaim):
    *
    * Small rung (default): the model tables are small enough to
    * BROADCAST, so the per-doc trigram stream runs through all five
    * left joins in ONE whole-stage pass — no join exchange at all on
    * the heavy stream. The cheapest possible plan while the model fits
    * an executor.
    *
    * Large rung (from 256 MiB of documents parquet — between the sf10
    * rung, which completes un-staged, and the sf100 rung, which died of
    * accumulated shuffle disk): with a replica-suffixed
    * vocabulary the model tables grow WITH the corpus, the joins become
    * sort-merge, and dragging the full (doc_id, trigram, cnt) stream
    * through five exchanges is 5× the heavy shuffle. Scoring is then
    * factored through the CORPUS-DISTINCT trigram set — P3 is a
    * function of (w1,w2,w3) alone given the model — so the five model
    * joins run over narrow distinct-trigram rows and the per-doc stream
    * pays exactly ONE gram-keyed join back. The pipeline runs as
    * [[graft.util.Staging.run]] phases (per-doc stream, c3, scored table)
    * so peak disk is one phase's spill + the compressed stages instead of
    * the sum of eight shuffles. */
  def knTrigramScore(spark: SparkSession, dir: String): DataFrame =
    knTrigramScore(spark, dir,
      Staging.inputBytes(spark, s"$dir/documents.parquet") >= (256L << 20))

  /** [[knTrigramScore]] on a chosen medium (`staged`). */
  private[graft] def knTrigramScore(spark: SparkSession, dir: String,
      staged: Boolean): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val len = greatest(n - 2, lit(0))
    val tris = zip_with(
      zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2"))),
      slice(toks, lit(3), len),
      (p, c) => struct(p.getField("w1").as("w1"),
        p.getField("w2").as("w2"), c.as("w3")))
    val docTri0 = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tris).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"),
        col("t.w2").as("w2"), col("t.w3").as("w3"))
      .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("cnt"))
    if (!staged) {
      val c3 = knTrigramC3(docTri0)
      val (c3x, cc2, cc2x, cc1, tots) = knTrigramModel(c3)
      docTri0
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(c3x, Seq("w1", "w2"), "left")
        .join(cc2, Seq("w2", "w3"), "left")
        .join(cc2x, Seq("w2"), "left")
        .join(cc1, Seq("w3"), "left")
        .crossJoin(broadcast(tots))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tri"),
          round(sum(col("cnt").cast("double") * log(knTrigramP3)) /
            sum(col("cnt")).cast("double"), 6).as("kn_logprob"))
        .orderBy(col("doc_id"))
    } else {
      // partitions derived from the documents footprint (4 MiB of
      // documents parquet per partition: the 811 MB sf100 rung derives
      // ~200 where the recorded run needed a hand-set 128 — margin)
      val outSchema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("n_tri", org.apache.spark.sql.types.LongType)
        .add("kn_logprob", org.apache.spark.sql.types.DoubleType)
      Staging.run(spark, "kn_trigram", outSchema, stage = true,
        Staging.autoPartitions(spark,
          Staging.inputBytes(spark, s"$dir/documents.parquet"), 4L << 20)) { p =>
        val docTri = p.stage("doctri", docTri0)
        val c3 = p.stage("c3", knTrigramC3(docTri))
        val scored = p.stage("scored", knTrigramScoredTris(docTri, c3))
        p.drop("c3")
        // the per-doc join back is itself corpus-scale: as the run's
        // final phase it executes inside the partition scope
        knTrigramFinal(docTri, scored)
      }.orderBy(col("doc_id"))
    }
  }

  /** Raw trigram counts over the train split — the one model table every
    * backoff level derives from. */
  private def knTrigramC3(docTri: DataFrame): DataFrame =
    docTri.filter(col("doc_id") % 10 < 8)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("cnt")).as("c3"))

  /** The four derived model tables + scalar totals, all from `c3`. */
  private def knTrigramModel(c3: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c3x = c3.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c3ctx"), count(lit(1)).as("n3b"))
    val cc2 = c3.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("cc2"))
    val cc2x = cc2.groupBy(col("w2"))
      .agg(sum(col("cc2")).as("cc2ctx"), count(lit(1)).as("n2b"))
    val cc1 = cc2.groupBy(col("w3")).agg(count(lit(1)).as("cc1"))
    val tots = cc1.agg(sum(col("cc1")).as("tt"), count(lit(1)).as("uu"))
    (c3x, cc2, cc2x, cc1, tots)
  }

  /** The interpolated-KN probability cascade, as a column over the
    * five joined model tables + broadcast totals (shared by both plan
    * shapes, so their arithmetic is expression-identical). */
  private def knTrigramP3: Column = {
    val p1 = (coalesce(col("cc1"), lit(0L)).cast("double") + lit(1.0)) /
      (col("tt").cast("double") + col("uu").cast("double"))
    val p2 = when(col("cc2ctx").isNull, p1)
      .otherwise((greatest(coalesce(col("cc2"), lit(0L)).cast("double") - 0.75,
        lit(0.0)) + lit(0.75) * col("n2b").cast("double") * p1) /
        col("cc2ctx").cast("double"))
    when(col("c3ctx").isNull, p2)
      .otherwise((greatest(coalesce(col("c3"), lit(0L)).cast("double") - 0.75,
        lit(0.0)) + lit(0.75) * col("n3b").cast("double") * p2) /
        col("c3ctx").cast("double"))
  }

  /** P3 per corpus-distinct trigram of `docTri` (model tables derived
    * from `c3`) — the scoring table the staged shape joins back. */
  private def knTrigramScoredTris(docTri: DataFrame, c3: DataFrame): DataFrame = {
    val (c3x, cc2, cc2x, cc1, tots) = knTrigramModel(c3)
    docTri.select(col("w1"), col("w2"), col("w3")).distinct()
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c3x, Seq("w1", "w2"), "left")
      .join(cc2, Seq("w2", "w3"), "left")
      .join(cc2x, Seq("w2"), "left")
      .join(cc1, Seq("w3"), "left")
      .crossJoin(broadcast(tots))
      .select(col("w1"), col("w2"), col("w3"), knTrigramP3.as("p3"))
  }

  /** Per-doc aggregation of the scored trigrams: one gram-keyed join of
    * the per-doc stream, then a map-side-combinable doc rollup. The join
    * back is NULL-SAFE: `scored` contains every distinct docTri key by
    * construction, but a null-keyed trigram row (were tokenization ever
    * to produce one) matches itself only under `<=>` — a plain inner
    * equi-join would drop it, silently diverging from the small-rung
    * shape's left joins. */
  private def knTrigramFinal(docTri: DataFrame, scored: DataFrame): DataFrame =
    docTri
      .join(scored,
        docTri("w1") <=> scored("w1") && docTri("w2") <=> scored("w2") &&
          docTri("w3") <=> scored("w3"))
      .drop(scored("w1")).drop(scored("w2")).drop(scored("w3"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tri"),
        round(sum(col("cnt").cast("double") * log(col("p3"))) /
          sum(col("cnt")).cast("double"), 6).as("kn_logprob"))
      .orderBy(col("doc_id"))

  /** DoReMi-flavored domain reweighting, gated as q_domain_reweight:
    * mixture weights from the [[domainShift]] matrix. A domain's EXCESS
    * is how much worse the best OTHER source's model scores it than its
    * own (min off-diagonal NLL − diagonal NLL, in the matrix's 1e-6
    * units) — the uniqueness signal: a source whose content no other
    * source covers gets up-weighted, an interchangeable source shares
    * its budget. Weights are softmax(excess/τ), carried exactly: each
    * exp term quantizes to 1e-9 BIGINTs BEFORE the normalizer sum (an
    * order-invariant integer sum — a float Σexp would be partitioning-
    * dependent), and weight_ppm is one integer division.
    *
    * Everything here is |sources|²-bounded algebra on top of the
    * matrix's one corpus pass — the same boundedness argument as
    * isotonic over calibration. */
  def domainReweight(spark: SparkSession, dir: String,
      tau: Double = 0.5): DataFrame = {
    val m = domainShift(spark, dir)
      .select(col("src_a"), col("src_b"),
        round(col("mean_nll") * 1e6).cast("long").as("nll_q6"))
      .localCheckpoint(eager = false) // diagonal + off-diagonal read it
    val self = m.filter(col("src_a") === col("src_b"))
      .select(col("src_a").as("source"), col("nll_q6").as("self_nll_q6"))
    val omin = m.filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a").as("source"))
      .agg(min(col("nll_q6")).as("best_other_nll_q6"))
    val ex0 = self.join(omin, "source")
      .withColumn("excess_q6", col("best_other_nll_q6") - col("self_nll_q6"))
    // Softmax is shift-invariant: subtract max(excess) before exp so
    // every eterm <= 1e9 and eterm*1e6 stays far inside BIGINT. The
    // unshifted form overflows once excess/tau exceeds ~4.6 nats —
    // Spark wraps silently (negative weight_ppm), DuckDB throws, so the
    // engines would diverge instead of failing together.
    val mx = ex0.agg(max(col("excess_q6")).as("mx_q6"))
    val ex = ex0.crossJoin(mx)
      .withColumn("eterm",
        round(exp((col("excess_q6") - col("mx_q6")).cast("double") / 1e6 / tau)
          * 1e9).cast("long"))
      .drop("mx_q6")
    val z = ex.agg(sum(col("eterm")).as("z"))
    ex.crossJoin(z)
      .select(col("source"), col("self_nll_q6"), col("best_other_nll_q6"),
        col("excess_q6"), expr("eterm * 1000000L div z").as("weight_ppm"))
      .orderBy(col("source"))
  }

  /** Per-document script-mix census, gated as q_script_mix: character
    * counts per writing system (Latin / Cyrillic / CJK / digits) from
    * literal Unicode-range character classes — the java-regex ∩ RE2
    * subset, so the oracle replays the same classes — plus the dominant
    * script and its purity in exact integer ppm. Script consistency is
    * the mC4-style pre-filter that language-ID heuristics assume: a
    * document mixing scripts beyond the purity floor is navigation
    * chrome / spam / encoding damage more often than prose, and
    * [[langId]]'s marker words only make sense inside one script.
    * One zero-shuffle projection; the synthetic corpus is ASCII-pure
    * (purity 1e6 everywhere — itself the audit result), and the spec
    * plants mixed-script rows to prove the census separates them. */
  def scriptMix(spark: SparkSession, dir: String): DataFrame =
    scriptMixOf(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  def scriptMixOf(docs: DataFrame): DataFrame = {
    def cnt(rx: String): Column =
      (length(col("text")) -
        length(regexp_replace(col("text"), rx, ""))).cast("long")
    val latin = cnt("[A-Za-z]")
    val cyr = cnt("[Ѐ-ӿ]")
    val cjk = cnt("[一-鿿]")
    val digit = cnt("[0-9]")
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        latin.as("n_latin"), cyr.as("n_cyrillic"), cjk.as("n_cjk"),
        digit.as("n_digit"))
      .withColumn("n_letters",
        col("n_latin") + col("n_cyrillic") + col("n_cjk"))
      .withColumn("dominant",
        when(col("n_letters") === 0, "none")
          .when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_cjk"), "latin")
          .when(col("n_cyrillic") >= col("n_cjk"), "cyrillic")
          .otherwise("cjk"))
      .withColumn("purity_ppm",
        when(col("n_letters") === 0, 0L)
          .otherwise(expr(
            """greatest(n_latin, n_cyrillic, n_cjk) * 1000000L
              | div n_letters""".stripMargin)))
  }

  /** Language-ID confusion matrix: the accuracy gate for [[langId]]
    * against the corpus's gold `lang` labels — (gold, predicted, count)
    * cells. The marker-word heuristic has a known blind spot (no zh
    * markers → 'unknown'), and this census quantifies exactly that
    * before anyone trusts q_lang_quota / q_unimax budgets keyed on
    * predicted language. One zero-shuffle projection + one
    * map-side-combinable count — the cheapest eval in the repo. */
  def lidConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))

  /** Cross-source domain-shift matrix: every source's token stream
    * scored under every source's Laplace-smoothed unigram model — mean
    * NLL of corpus A under model B for all S² pairs. The mixing-weight
    * prerequisite: before q_mix_temperature / q_unimax allocate budget
    * across sources, this matrix says which sources are interchangeable
    * (low symmetric NLL gap) and which are genuine domains — and its
    * row-vs-diagonal gaps are the drift alarm when a source's crawler
    * starts emitting a different distribution.
    *
    * Scale shape: ONE token-count aggregate (map-side combinable) is
    * the only corpus-scale pass; the S-way fan-out happens on the
    * (source, word) COUNT table (vocab-bounded, not token-bounded),
    * joined gram-co-partitioned against itself, with the S model totals
    * and the vocab size riding broadcasts. Output is S² rows. */
  def domainShift(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // spine, model side, and totals all read it
    val ntot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val voc = cnt.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    val p = (coalesce(col("cb"), lit(0L)).cast("double") + lit(1.0)) /
      (col("n").cast("double") + col("v").cast("double"))
    cnt.select(col("source").as("src_a"), col("w"), col("c").as("ca"))
      .crossJoin(broadcast(ntot.select(col("source").as("src_b"), col("n"))))
      .join(cnt.select(col("source").as("src_b"), col("w"), col("c").as("cb")),
        Seq("src_b", "w"), "left")
      .crossJoin(broadcast(voc))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("ca")).as("n_tok"),
        round(-sum(col("ca").cast("double") * log(p)) /
          sum(col("ca")).cast("double"), 6).as("mean_nll"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Exact-k deterministic per-stratum sample, gated as q_key_sample:
    * k documents per language, uniform without replacement, chosen as
    * the k smallest md5 ranks — the "give me 8 random-but-reproducible
    * examples per class" primitive behind eval-set construction and
    * data-card examples. Unlike Bernoulli/stratified sampling (gated
    * separately), the output size is EXACTLY k per stratum at any
    * corpus size, and re-running on a grown corpus changes the sample
    * minimally (hash ranks are stable per doc — new docs displace at
    * most as many as enter the top-k).
    *
    * Scale shape: one [[graft.plans.TopKPerKey]] pass — per-partition
    * k-bounded heaps below the shuffle, so the exchange carries ≤
    * k·partitions rows per language, never the corpus; the final
    * row_number orders the |langs|·k survivors only. */
  def keySample(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val hv = conv(substring(md5(concat(lit("ks|"), col("doc_id"))), 1, 15),
      16, 10).cast("long")
    val ranked = graft.plans.Graft.topKPerKey(
      Tables.documents(spark, dir)
        .select(col("lang"), col("doc_id"), hv.as("hv")),
      Seq("lang"), Seq(("hv", false)), k)
    ranked
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("hv"))))
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** KMV (k-minimum-values) sketch overlap, gated as q_kmv_overlap:
    * pairwise distinct-vocabulary union/intersection estimates between
    * sources from 256-value sketches, verified in-row against the exact
    * counts. This is the sketch that answers "how much does source A's
    * vocabulary overlap source B's?" at 100 TB WITHOUT the gram-scale
    * term self-join [[sourceOverlap]] pays: each source compresses to
    * its k smallest term hashes (one [[graft.plans.TopKPerKey]] pass —
    * partial heaps below the shuffle, |sources|·k rows out), and every
    * pairwise estimate is algebra on that tiny census. The exact side
    * here is the verification harness, affordable at oracle SF only.
    *
    * Estimators (Beyer et al., SIGMOD'07): with U the k-th smallest
    * distinct hash of the merged pair sketch (60-bit uniform domain),
    * union ≈ (k−1)·2⁶⁰/U; J ≈ |both-member values among those k|/k;
    * intersection ≈ J·union. When the true union is smaller than k the
    * sketch IS the exact distinct set and the estimate switches to that
    * count. All hash material is md5-derived, so DuckDB replays the
    * sketch bit-exactly; estimator doubles are single expressions over
    * exact BIGINTs, 1e-6-requantized. */
  /** `truncate=false` keeps the sketch lineage in one inspectable plan
    * (PlanSpec only — the production default materializes the
    * |sources|·k sketch once for its two consumers, knnGraph pattern). */
  def kmvOverlap(spark: SparkSession, dir: String, k: Int = 256,
      truncate: Boolean = true): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .distinct()
    val hv = conv(substring(md5(concat(lit("kmv|"), col("w"))), 1, 15),
      16, 10).cast("long")
    val sk0 = graft.plans.Graft.topKPerKey(
      terms.select(col("source"), hv.as("hv")).distinct(),
      Seq("source"), Seq(("hv", false)), k)
    // |sources|*k rows feed both sides
    val sk = if (truncate) sk0.localCheckpoint(eager = false) else sk0
    val srcs = sk.select(col("source")).distinct()
    // replicate each sketch against every partner source, tag membership
    val entries = sk.crossJoin(srcs.select(col("source").as("other")))
      .filter(col("source") =!= col("other"))
      .select(
        least(col("source"), col("other")).as("src_a"),
        greatest(col("source"), col("other")).as("src_b"),
        col("hv"),
        when(col("source") < col("other"), 1L).otherwise(0L).as("in_a"),
        when(col("source") > col("other"), 1L).otherwise(0L).as("in_b"))
      .groupBy(col("src_a"), col("src_b"), col("hv"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val byPair = Window.partitionBy(col("src_a"), col("src_b"))
    val est = entries
      .withColumn("rn", row_number().over(byPair.orderBy(col("hv"))))
      .filter(col("rn") <= k) // merged pair sketch: k smallest, bounded
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_kept"), max(col("hv")).as("u_k"),
        sum(col("in_a") * col("in_b")).as("shared"))
    // exact verification twin (oracle-SF only): one term self-join
    val cnt = terms.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val inter = terms.select(col("source").as("src_a"), col("w"))
      .join(terms.select(col("source").as("src_b"), col("w")), Seq("w"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("exact_inter"))
    val two60 = lit(1152921504606846976L).cast("double") // 2^60 exact
    def q6(c: Column): Column =
      round(c * 1e6).cast("long").cast("double") / 1e6
    val uEst = when(col("n_kept") < k, col("n_kept").cast("double"))
      .otherwise(lit((k - 1).toDouble) * two60 / col("u_k").cast("double"))
    est
      .join(broadcast(cnt.select(col("source").as("src_a"),
        col("nd").as("n_a"))), "src_a")
      .join(broadcast(cnt.select(col("source").as("src_b"),
        col("nd").as("n_b"))), "src_b")
      .join(inter, Seq("src_a", "src_b"))
      .withColumn("exact_union",
        col("n_a") + col("n_b") - col("exact_inter"))
      .withColumn("kmv_union", uEst)
      .withColumn("kmv_inter",
        col("shared").cast("double") / col("n_kept").cast("double")
          * col("kmv_union"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("exact_inter"), col("exact_union"),
        q6(col("kmv_union")).as("kmv_union"),
        q6(col("kmv_inter")).as("kmv_inter"),
        q6(abs(col("kmv_union") - col("exact_union").cast("double"))
          / col("exact_union").cast("double")).as("union_rel_err"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Generated oracle for [[kmvOverlap]] — the k literal is shared with
    * the Spark pass so a parameter change cannot desynchronize them. */
  def kmvOverlapSql(k: Int = 256): String =
    s"""WITH terms AS MATERIALIZED (
       |  SELECT DISTINCT source, w
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
       |        FROM documents)),
       |hv AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5('kmv|' || w), 1, 15))::BIGINT AS hv
       |  FROM terms),
       |sk AS MATERIALIZED (
       |  SELECT source, hv FROM (
       |    SELECT source, hv,
       |      row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
       |    FROM hv)
       |  WHERE rn <= $k),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |e AS (
       |  SELECT least(s.source, o.source) AS src_a,
       |    greatest(s.source, o.source) AS src_b, s.hv,
       |    max(CASE WHEN s.source < o.source THEN 1 ELSE 0 END) AS in_a,
       |    max(CASE WHEN s.source > o.source THEN 1 ELSE 0 END) AS in_b
       |  FROM sk s CROSS JOIN srcs o WHERE s.source <> o.source
       |  GROUP BY 1, 2, 3),
       |r AS (SELECT src_a, src_b, hv, in_a, in_b,
       |        row_number() OVER (PARTITION BY src_a, src_b ORDER BY hv)
       |          AS rn
       |      FROM e),
       |est AS (
       |  SELECT src_a, src_b, count(*) AS n_kept,
       |    CAST(max(hv) AS BIGINT) AS u_k,
       |    CAST(sum(in_a * in_b) AS BIGINT) AS shared
       |  FROM r WHERE rn <= $k GROUP BY 1, 2),
       |cnt AS (SELECT source, count(*) AS nd FROM terms GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    count(*) AS exact_inter
       |  FROM terms a JOIN terms b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2),
       |f AS (
       |  SELECT e.src_a, e.src_b, ca.nd AS n_a, cb.nd AS n_b,
       |    i.exact_inter, ca.nd + cb.nd - i.exact_inter AS exact_union,
       |    CASE WHEN e.n_kept < $k THEN CAST(e.n_kept AS DOUBLE)
       |      ELSE ${(k - 1).toDouble}
       |        * CAST(1152921504606846976 AS DOUBLE)
       |        / CAST(e.u_k AS DOUBLE) END AS kmv_union_raw,
       |    e.shared, e.n_kept
       |  FROM est e
       |  JOIN cnt ca ON ca.source = e.src_a
       |  JOIN cnt cb ON cb.source = e.src_b
       |  JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b),
       |g AS (
       |  SELECT src_a, src_b, n_a, n_b, exact_inter, exact_union,
       |    kmv_union_raw,
       |    CAST(shared AS DOUBLE) / CAST(n_kept AS DOUBLE)
       |      * kmv_union_raw AS kmv_inter_raw
       |  FROM f)
       |SELECT src_a, src_b, n_a, n_b, exact_inter, exact_union,
       |  CAST(CAST(round(kmv_union_raw * 1e6) AS BIGINT) AS DOUBLE) / 1e6
       |    AS kmv_union,
       |  CAST(CAST(round(kmv_inter_raw * 1e6) AS BIGINT) AS DOUBLE) / 1e6
       |    AS kmv_inter,
       |  CAST(CAST(round(abs(kmv_union_raw - CAST(exact_union AS DOUBLE))
       |      / CAST(exact_union AS DOUBLE) * 1e6) AS BIGINT) AS DOUBLE)
       |    / 1e6 AS union_rel_err
       |FROM g ORDER BY src_a, src_b""".stripMargin

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions, gated as q_js_divergence — the symmetric, bounded
    * ([0, ln 2]) drift measure for "how different is source A's text
    * from source B's", the standard corpus-mixing diagnostic next to
    * [[domainShift]]'s directional NLL.
    *
    * The full-outer-join over each pair's union support is avoided by
    * an identity: terms exclusive to one side contribute exactly
    * `0.5·ln2·p(w)` each, so
    * `JSD = 0.5·ln2·(2 − P∩ − Q∩) + Σ_{w∈both} t(w)`, where P∩/Q∩ are
    * the shared-support probability masses — exact ratios of BIGINT
    * sums — and `t(w)` needs only the INNER join. One equi-join of the
    * (source, term) census with itself on term (≤ C(|sources|,2)
    * fan-out per term), one map-side-combinable pair aggregate.
    *
    * Exactness: each shared term's contribution is one deterministic
    * double expression from four BIGINTs, re-quantized to 1e-12 units
    * and summed as BIGINT — order-independent under any partitioning —
    * and the exclusive-mass correction is a single double expression
    * from exact integer masses. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // both join sides read the census
    val ntot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = cnt.select(col("source").as("src_a"), col("w"), col("c").as("ca"))
      .join(broadcast(ntot.select(col("source").as("src_a"),
        col("n").as("na"))), "src_a")
    val b = cnt.select(col("source").as("src_b"), col("w"), col("c").as("cb"))
      .join(broadcast(ntot.select(col("source").as("src_b"),
        col("n").as("nb"))), "src_b")
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val term = lit(0.5) * p * log(lit(2.0) * p / (p + q)) +
      lit(0.5) * q * log(lit(2.0) * q / (p + q))
    val ln2 = log(lit(2.0))
    a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_terms"),
        sum(round(term * 1e12).cast("long")).as("units"),
        sum(col("ca")).as("sca"), max(col("na")).as("na"),
        sum(col("cb")).as("scb"), max(col("nb")).as("nb"))
      .select(col("src_a"), col("src_b"), col("shared_terms"),
        (round((col("units").cast("double") / 1e12
          + lit(0.5) * ln2 * (lit(2.0)
            - col("sca").cast("double") / col("na").cast("double")
            - col("scb").cast("double") / col("nb").cast("double"))) * 1e6)
          .cast("long").cast("double") / 1e6).as("jsd"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Generated oracle for [[knTrigramScore]]: the backoff cascade nests
    * P1 inside P2 inside P3, so the SQL is assembled from one expression
    * per level rather than hand-expanded three times. */
  def knTrigramSql: String = {
    val p1 = """(CAST(coalesce(s.cc1, 0) AS DOUBLE) + 1.0)
      |      / (CAST(s.tt AS DOUBLE) + CAST(s.uu AS DOUBLE))""".stripMargin
    val p2 =
      s"""CASE WHEN s.cc2ctx IS NULL THEN $p1
         |    ELSE (GREATEST(CAST(coalesce(s.cc2, 0) AS DOUBLE) - 0.75, 0.0)
         |          + 0.75 * CAST(s.n2b AS DOUBLE) * $p1)
         |         / CAST(s.cc2ctx AS DOUBLE) END""".stripMargin
    val p3 =
      s"""CASE WHEN s.c3ctx IS NULL THEN $p2
         |    ELSE (GREATEST(CAST(coalesce(s.c3, 0) AS DOUBLE) - 0.75, 0.0)
         |          + 0.75 * CAST(s.n3b AS DOUBLE) * $p2)
         |         / CAST(s.c3ctx AS DOUBLE) END""".stripMargin
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (SELECT doc_id, unnest(range(1, len(w) - 1)) AS i, w FROM tok),
       |tg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3 FROM idx),
       |dt AS MATERIALIZED (SELECT doc_id, w1, w2, w3, count(*) AS cnt
       |                    FROM tg GROUP BY 1, 2, 3, 4),
       |c3 AS MATERIALIZED (SELECT w1, w2, w3, CAST(sum(cnt) AS BIGINT) AS c3
       |                    FROM dt WHERE doc_id % 10 < 8 GROUP BY 1, 2, 3),
       |c3x AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c3ctx,
       |               count(*) AS n3b FROM c3 GROUP BY 1, 2),
       |cc2 AS MATERIALIZED (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cc2
       |                     FROM c3 GROUP BY 1, 2),
       |cc2x AS (SELECT w2, CAST(sum(cc2) AS BIGINT) AS cc2ctx,
       |                count(*) AS n2b FROM cc2 GROUP BY 1),
       |cc1 AS MATERIALIZED (SELECT w3, CAST(count(*) AS BIGINT) AS cc1
       |                     FROM cc2 GROUP BY 1),
       |tots AS (SELECT CAST(sum(cc1) AS BIGINT) AS tt, count(*) AS uu FROM cc1),
       |s AS (SELECT d.doc_id, d.cnt, c3.c3, c3x.c3ctx, c3x.n3b,
       |             cc2.cc2, cc2x.cc2ctx, cc2x.n2b, cc1.cc1, tots.tt, tots.uu
       |      FROM dt d
       |      LEFT JOIN c3 ON c3.w1 = d.w1 AND c3.w2 = d.w2 AND c3.w3 = d.w3
       |      LEFT JOIN c3x ON c3x.w1 = d.w1 AND c3x.w2 = d.w2
       |      LEFT JOIN cc2 ON cc2.w2 = d.w2 AND cc2.w3 = d.w3
       |      LEFT JOIN cc2x ON cc2x.w2 = d.w2
       |      LEFT JOIN cc1 ON cc1.w3 = d.w3
       |      CROSS JOIN tots)
       |SELECT s.doc_id, CAST(sum(s.cnt) AS BIGINT) AS n_tri,
       |  round(sum(CAST(s.cnt AS DOUBLE) * ln($p3))
       |        / CAST(sum(s.cnt) AS DOUBLE), 6) AS kn_logprob
       |FROM s GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
  }

  /** Bigram language-model quality score: train bigram counts on the whole
    * corpus (the classic cheap perplexity proxy — KenLM-shaped, one order),
    * then score every document by its mean bigram log-probability
    * ln(c(w1,w2) / c(w1·)), where c(w1·) is the count of bigrams whose
    * context is w1. Low scores mark incoherent/outlier documents.
    *
    * Scale shape: bigram extraction is a map-side slice/zip (no window, no
    * per-token shuffle); corpus counts are one shuffle on the bigram;
    * scoring joins per-DOC bigram counts (already aggregated, so the join
    * input is distinct bigrams per doc, not token instances) against the
    * corpus table — both sides partition on the bigram key. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    // array<struct<w1,w2>> of adjacent pairs; zip_with truncates nothing
    // because both slices have exactly n-1 elements
    val bigrams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val docBigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val corpus = docBigrams.groupBy(col("w1"), col("w2"))
      .agg(sum(col("cnt")).as("c_bg"))
    val context = corpus.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_ctx"))
    docBigrams
      .join(corpus, Seq("w1", "w2"))
      .join(context, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * log(col("c_bg").cast("double") / col("c_ctx"))) /
          sum(col("cnt")), 6).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    * every document by how much more likely its hashed-bigram bag is
    * under a TARGET domain's n-gram model than under the raw corpus's —
    * the data-selection signal behind domain-matched pretraining subsets.
    *
    * Features are word bigrams hashed into `B`=256 buckets (two md5
    * nibbles, the same engine-portable hash family as the shard census);
    * both bucket models are Laplace-smoothed, and a document's log
    * importance weight is `sum_b c_doc[b] * (ln p_target[b] - ln
    * p_raw[b])`, rounded to 6dp with `selected = rounded > 0`.
    *
    * Scale shape: the bigram stream collapses straight to the 256-row
    * bucket models (one map-side-combinable aggregate computing raw and
    * target counts together — the target indicator is a column, not a
    * second scan); per-doc scoring is one (doc, bucket) aggregate joined
    * against the BROADCAST model table, then one doc_id aggregate. The
    * corpus is read once; nothing quadratic, nothing driver-side. */
  def dsirWeights(spark: SparkSession, dir: String,
      targetLang: String = "en", B: Int = 256): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    val bucketed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(bigrams).as("gm"))
      .select(col("doc_id"), col("lang"),
        conv(substring(md5(col("gm")), 1, 2), 16, 10).cast("int").as("bucket"))
    val docCounts = bucketed.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val model = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("c_t"))
    val totals = model.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val scoredModel = model.crossJoin(broadcast(totals))
      .withColumn("lr",
        log((col("c_t") + 1).cast("double") / (col("n_t") + B)) -
        log((col("c_r") + 1).cast("double") / (col("n_r") + B)))
    val perDoc = docCounts
      .join(broadcast(scoredModel.select(col("bucket"), col("lr"))), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * col("lr")), 6).as("dsir_logw"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("dsir_logw"), lit(0.0)).as("dsir_logw"))
      .withColumn("selected", col("dsir_logw") > 0)
      .orderBy(col("doc_id"))
  }

  /** BM25 top-k retrieval for a fixed query-term set — the classic IR
    * ranking (Robertson k1=1.2, b=0.75, Lucene-shaped idf
    * ln((N−df+0.5)/(df+0.5)+1) which stays positive at any df).
    *
    * Scale shape: query terms are plucked from each document's token
    * array by a map-side `functions.filter` lambda BEFORE any Generate —
    * the explode fans out only MATCHED terms (a handful per doc), never
    * the full token stream, so the per-(doc, term) tf aggregate's input
    * is query-selectivity-sized. Document-frequency (#query-terms rows)
    * and corpus stats (1 row) broadcast back; the only corpus-wide
    * shuffle is the tf groupBy, keyed on (doc, term). Final top-k is
    * orderBy+limit = TakeOrderedAndProject: per-partition heaps, k rows
    * to the driver. Scores round to 6dp with a doc_id tie-break so the
    * ranking is total-ordered and engine-portable. */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val query = Seq("spark", "vector", "merge")
    val toks = tokens(col("text"))
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), size(toks).cast("long").as("dl"),
      filter(toks, t => t.isin(query: _*)).as("qtoks"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qtoks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    // literal 2.2/0.25 rather than computed k1+1/1−b: a computed 1.2+1
    // is 2.2000000000000002 in binary and would diverge from the
    // oracle's literal
    val score = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(score), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    * fuse the lexical [[bm25TopK]] ranking with the semantic
    * embedding-cosine ranking of [[Similarity.bruteForceTopK]] via
    * `rrf = 1/(60+rank_lex) + 1/(60+rank_sem)` over the two top-`nList`
    * lists — the standard BM25+dense-retriever fusion, rank-based so no
    * score calibration between the two systems is needed.
    *
    * Scale shape: both input rankings are top-N-bounded (each produced
    * by its own scale-shaped retrieval: BM25's map-side term pluck,
    * cosine's TakeOrderedAndProject), so the fusion itself is a
    * full-outer join of two <=N-row lists — driver-trivial at any corpus
    * size; the corpus-scale work lives entirely in the retrievers.
    * Ranks are integers and the fused score is a two-term sum of exact
    * reciprocals, so the ordering is engine-portable. */
  def hybridTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, nList: Int = 50, rrfK: Int = 60): DataFrame = {
    val lex = bm25TopK(spark, dir, nList)
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy().orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val sem = Similarity.bruteForceTopK(spark, dir, queryId, nList)
      .select(col("vec_id").as("doc_id"), col("rnk").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("lex_rank") + rrfK), lit(0.0)) +
        coalesce(lit(1.0) / (col("sem_rank") + rrfK), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.partitionBy().orderBy(col("rrf").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf"))
      .orderBy(col("rnk"))
  }

  /** CCNet-style perplexity filter: train an add-one-smoothed bigram LM
    * per LANGUAGE on a deterministic train split (doc_id % 10 < 8), score
    * EVERY document's negative log-likelihood under its language's model
    * (held-out docs genuinely exercise the unseen-bigram smoothing path:
    * p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), V = trained bigram-completion
    * vocabulary), then bucket docs head/middle/tail by per-language
    * perplexity terciles — the CCNet recipe for keeping the head of a
    * web crawl and dropping the incoherent tail.
    *
    * Scale shape: bigram extraction and counting are the [[bigramLmScore]]
    * pipeline keyed by (lang, bigram) — no per-token windows, one shuffle
    * per aggregate. The tercile assignment deliberately avoids a doc-level
    * per-lang rank window (that's corpus-in-one-partition at 100 TB):
    * per-doc scores are first compressed to a (lang, rounded-score)
    * HISTOGRAM, the cumulative rank runs over that histogram's distinct
    * values (bounded by the 6-decimal score space, ≪ docs on any real
    * corpus), and docs join back on (lang, avg_nll) equality to pick up
    * their strict rank. Tied scores share a bucket, so the assignment is
    * total-order-free and engine-portable; `bucket = 1 + (3·r) div n`.
    * Docs with no bigrams (single-token) score nothing and drop out, same
    * as the oracle. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val docBigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val train = docBigrams.filter(col("doc_id") % 10 < 8)
    val corpus = train.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(sum(col("cnt")).as("c_bg"))
    val ctx = corpus.groupBy(col("lang"), col("w1"))
      .agg(sum(col("c_bg")).as("c_ctx"))
    // per-lang completion vocabulary |{w2}| — #langs rows, broadcast back
    val voc = corpus.select(col("lang"), col("w2")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("v_sz"))
    val p = (coalesce(col("c_bg"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("c_ctx"), lit(0L)) + col("v_sz")).cast("double")
    val scored = docBigrams
      .join(corpus, Seq("lang", "w1", "w2"), "left")
      .join(ctx, Seq("lang", "w1"), "left")
      .join(broadcast(voc), Seq("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(-sum(col("cnt") * log(p)) / sum(col("cnt")), 6).as("avg_nll"))
    val hist = scored.groupBy(col("lang"), col("avg_nll"))
      .agg(count(lit(1)).as("nd"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("avg_nll"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("lang"), col("avg_nll"),
      coalesce(sum(col("nd")).over(wCum), lit(0L)).as("r"),
      sum(col("nd")).over(Window.partitionBy(col("lang"))).as("n_lang"))
    scored.join(cum, Seq("lang", "avg_nll"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_nll"),
        (lit(1) + expr("(3 * r) div n_lang")).cast("int").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Heavy hitters over the token stream via the frequent-items sketch
    * (`approx_top_k`, Apache DataSketches under the hood): the top-k
    * terms WITHOUT shuffling per-term counts — executors keep a bounded
    * sketch, partials merge associatively, only k rows leave the
    * aggregation. The mergeable, bounded-memory alternative to
    * [[vocab]]'s exact groupBy for interactive corpus telemetry at
    * 100 TB.
    *
    * Gated with a bracket-style oracle: the hashed output is the EXACT
    * top-k (deterministic (cnt desc, term) tie-break — DuckDB
    * reproduces it) plus a 0/1 flag per term asserting the sketch found
    * it with the exact count. While term cardinality is under sketch
    * capacity (default 10k items — true at every test SF, asserted in
    * VocabSpec) the sketch tracks exact counts, so the only legitimate
    * divergence is WHICH tied term sits at the boundary; boundary-count
    * ties therefore pass the flag regardless of the sketch's pick. */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
    val sketch = terms
      .select(expr(s"inline(approx_top_k(term, $k))"))
      .select(col("item").as("term"), col("count").as("sk_cnt"))
    // orderBy+limit = TakeOrderedAndProject (per-partition top-k, k-row
    // reduction) — never a single-task global rank window
    val exactTop = terms
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)
      .withColumn("kth", min(col("cnt")).over(Window.partitionBy()))
    exactTop.join(broadcast(sketch), Seq("term"), "left")
      .select(col("term"), col("cnt"),
        when(col("sk_cnt") === col("cnt") || col("cnt") === col("kth"), 1L)
          .otherwise(0L).as("sketch_agrees"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Count–min sketch (Cormode & Muthukrishnan 2005) term-frequency
    * estimation, next to [[heavyHitters]]'s exact top-k: the d×w counter
    * matrix IS the whole summary — d·w cells regardless of corpus size —
    * which is what you keep per shard at 100 TB and merge by cell-wise
    * addition (counter sums are associative; merging s shards costs
    * s·d·w adds, never a re-scan).
    *
    * Dataflow: ONE exploded pass fans each token out to its d (row,
    * bucket) cells; map-side combine collapses repeats before the
    * (row, bucket) shuffle, so the exchange carries at most d·w rows per
    * map partition. Probing joins the k exact-top terms (per-partition
    * top-k reduction, never a global rank window) against the broadcast
    * sketch; est = min over rows. CM guarantees est ≥ exact, so
    * `overcount` is the per-term collision penalty — the measurement
    * that sizes (d, w) before trusting the sketch on a real corpus.
    * Hashing is md5-derived (same scheme as [[weightedSample]]) so the
    * trajectory is engine-exact and DuckDB-oracle-able.
    *
    * Sketched items are word BIGRAMS at w=64: the gated corpus's unigram
    * vocabulary (31 terms) fits a 512-cell sketch collision-free, which
    * would leave the min-over-rows untested — bigrams (~1k distinct) at
    * w=64 give every probe a real collision to survive. */
  /** Cell coordinate of hash row `i` for an item — md5-derived. */
  private def cmBucket(i: Int, c: Column, w: Int): Column =
    conv(substring(md5(concat(lit(s"cm$i|"), c)), 1, 8), 16, 10)
      .cast("long") % w

  /** Adjacent word bigrams of a text column, as `array<string>`. */
  private def bigramTerms(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
  }

  /** The d×w count-min cells of a term column: pre-aggregate term
    * frequencies, then sketch the FREQUENCY VECTOR — the same cells as
    * fanning out every occurrence (cells are sums of per-term counts
    * either way) but the d md5 digests are paid per DISTINCT term, not
    * per occurrence: on a duplication-heavy column (join keys, tokens)
    * that is orders of magnitude less map-side CPU, traded for one extra
    * key-partitioned aggregate whose partial pass bounds the shuffle at
    * distinct-terms-per-partition. */
  def cmCellsWeighted(terms: DataFrame, d: Int, w: Int): DataFrame =
    terms.groupBy(col("term")).agg(count(lit(1)).as("f"))
      .select(col("f"), posexplode(array((0 until d).map(i =>
        cmBucket(i, col("term"), w)): _*)).as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(sum(col("f")).as("cnt"))

  def countMin(spark: SparkSession, dir: String,
      d: Int = 4, w: Int = 64, k: Int = 20): DataFrame = {
    def bucket(i: Int, c: Column): Column = cmBucket(i, c, w)
    val terms = Tables.documents(spark, dir)
      .select(explode(bigramTerms(col("text"))).as("term"))
    val cells = cmCellsWeighted(terms, d, w)
    val exact = terms
      .groupBy(col("term")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("term")).limit(k)
    val probes = exact.select(col("term"), col("exact_cnt"),
      posexplode(array((0 until d).map(i => bucket(i, col("term"))): _*))
        .as(Seq("row", "bucket")))
    probes.join(broadcast(cells), Seq("row", "bucket"))
      .groupBy(col("term"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col("term"), col("exact_cnt"), col("cm_est"),
        (col("cm_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("term"))
  }

  /** Zipf rank-frequency fit over the bigram distribution — the corpus
    * health diagnostic (natural text sits near slope −1; synthetic or
    * template-heavy corpora flatten): OLS of ln(freq) on ln(rank).
    *
    * Determinism: double sums are order-dependent, so both ln series
    * are quantized to 1e-4-nat integer units FIRST — every OLS moment
    * is then an exact BIGINT sum (associative, partitioning-invariant),
    * and only the final slope/intercept divisions are IEEE doubles with
    * identical operation order on both engines — the same
    * integer-exact-aggregate trick as the micro-unit PageRank. The rank
    * window runs over the |vocab|-bounded frequency table, never the
    * token stream. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(bigramTerms(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val q = 1e4
    val ranked = tf
      .withColumn("rnk", row_number().over(
        Window.partitionBy().orderBy(col("cnt").desc, col("term"))))
      .select(
        round(log(col("rnk").cast("double")) * q).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * q).cast("long").as("y"))
    ranked
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_types"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"),
        round(((col("sy").cast("double") -
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
             (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              col("sx").cast("double")) / col("n").cast("double")) / lit(q), 6)
          .as("intercept_nats"))
  }

  /** Within-document repetition metrics — the third axis of cheap quality
    * filtering after length/stopwords ([[qualityScore]]) and corpus-level
    * dedup: type-token ratio (distinct/total tokens; low = repetitive),
    * the most-frequent token's share, and the longest run of one token
    * repeated back-to-back (loops/boilerplate). All in-row column
    * algebra — zero shuffle, one projection pass. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // longest run of equal adjacent tokens, as a prefix-scan fold:
    // state (best, cur) advances per position; cur resets on change.
    // Both folds run over MATERIALIZED array columns: higher-order
    // functions are CodegenFallback, so an expression referenced inside
    // the lambda re-evaluates per ELEMENT — with `split`/`array_sort`
    // inline that made the fold O(n²) per doc (12.7 s at sf0.1 once the
    // noop bench stopped pruning this projection; 1 s materialized).
    def maxRun(arr: Column, n: Column): Column = aggregate(
      sequence(lit(2), n),
      struct(lit(1).as("best"), lit(1).as("cur")),
      (st, i) => {
        val cur = when(element_at(arr, i) === element_at(arr, i - 1),
          st.getField("cur") + 1).otherwise(lit(1))
        struct(greatest(st.getField("best"), cur).as("best"), cur.as("cur"))
      },
      st => st.getField("best"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      // max token multiplicity = longest equal-run in the SORTED array:
      // O(n log n) instead of the distinct × filter O(n²) scan
      .withColumn("srt", array_sort(col("tk")))
      .select(col("doc_id"),
        round(size(array_distinct(col("tk"))).cast("double") / col("n"), 6)
          .as("ttr"),
        round(when(col("n") >= 2, maxRun(col("srt"), col("n")))
          .otherwise(lit(1)).cast("double") / col("n"), 6)
          .as("top_token_share"),
        when(col("n") >= 2, maxRun(col("tk"), col("n")))
          .otherwise(lit(1)).as("max_run"))
      .orderBy(col("doc_id"))
  }

  /** The composed "prepare a training corpus" pipeline, end to end:
    * quality gate (map-side, BEFORE any shuffle so junk never pays
    * shuffle cost) → exact-dedup survivor election (one shuffle on the
    * content hash) → deterministic content-hash split → per (split, lang)
    * census. Each stage is an operator proven separately
    * ([[qualityScore]], [[trainSplit]], q_dedup_exact's min-id election);
    * this query is the composition a real pipeline runs nightly. */
  def dataPrep(spark: SparkSession, dir: String, minQuality: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .filter(qualityScore(col("text")) >= minQuality)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("split", trainSplit(col("text")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** Corpus rollup per (lang, source) — count/χ stats over features. */
  /** Sliding-window document chunking with overlap (RAG / long-context
    * training prep): fixed `width`-token chunks every `stride` tokens,
    * so consecutive chunks share `width − stride` tokens and no token is
    * orphaned at a hard boundary. Chunk count and slices are pure in-row
    * array algebra (`sequence` + `explode` + `slice`) — a zero-shuffle
    * projection pass whose output order rides the scan, with the md5
    * fingerprint giving downstream exact-dedup a chunk-level key. The
    * last chunk is the natural remainder (slice truncates at the array
    * end), never padded. */
  def chunkOverlap(spark: SparkSession, dir: String,
      width: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && width > stride, "need 0 < stride < width")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .withColumn("n_chunks", when(col("n") <= width, lit(1))
        .otherwise(lit(1) + expr(s"(n - $width + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        expr(s"slice(w, chunk_id * $stride + 1, $width)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** First-occurrence n-gram novelty: for each document (in doc_id
    * order, the corpus's arrival order), the share of its distinct word
    * 3-grams never seen in any EARLIER document — the dedup-adjacent
    * freshness signal a crawl pipeline tracks per snapshot.
    *
    * Shape at scale: one shuffle of the shingle stream keyed by the gram
    * computes both the global first-seer (`min(doc_id)`) and, in the same
    * pass, each doc's novel-gram count via `count(first == doc)`; per-doc
    * cardinalities are a second map-side-combinable agg on doc_id. The
    * gram-keyed aggregate is the only wide exchange — no join back to the
    * exploded stream (which would shuffle it twice). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    // per-doc cardinality IN-ROW (the gram array is already distinct):
    // a zero-shuffle projection, instead of a count aggregate over the
    // exploded stream that would re-run the whole shingle pipeline a
    // second time (BENCH_sf1 measured the re-run)
    val perDoc = docs.select(col("doc_id"),
      size(Dedup.shingleArray(col("text"))).as("n_shingles"))
    val sh = docs.select(col("doc_id"),
      explode(Dedup.shingleArray(col("text"))).as("s"))
    val novel = sh.groupBy(col("s"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        round(avg(tokenCount(col("text"))), 6).as("avg_tokens"),
        sum(tokenCount(col("text"))).as("total_tokens"))
      .orderBy(col("lang"), col("source"))

  // --------------------------------------------------------------------
  // Tokenizer induction (BPE)
  // --------------------------------------------------------------------

  /** One BPE statistics pass: adjacent symbol-pair frequencies over the
    * corpus, weighted by word frequency — the candidate table a byte-pair
    * tokenizer trainer ranks each merge round (Sennrich et al. 2016,
    * arXiv:1508.07909).
    *
    * Shape for 100 TB: the corpus collapses to its word-frequency table
    * FIRST (one map-side-combinable agg; vocabulary plateaus by Heaps'
    * law, so the pair fan-out runs over |vocab| rows, not |corpus|
    * tokens), then each word explodes into len-1 in-word pairs. Both
    * aggregations are map-side combinable; nothing is ever collected. */
  def bpePairStats(spark: SparkSession, dir: String, topN: Int = 40): DataFrame =
    bpePairStatsFromWords(wordFreq(Tables.documents(spark, dir)), topN)

  /** Corpus word-frequency table `(w, wc)` — the input shape both BPE
    * passes aggregate over (single-char words carry no pairs, dropped). */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** [[bpePairStats]] over an explicit `(w, wc)` word-frequency table. */
  def bpePairStatsFromWords(words: DataFrame, topN: Int = 40): DataFrame = {
    words
      .select(col("wc"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(topN)
  }

  /** Learn `merges` BPE merge rules over the corpus and return the ranked
    * merge table `(rank, pair, freq)`.
    *
    * Each word is held as its space-joined symbol string (symbols start
    * as single characters); a merge round (a) aggregates adjacent-pair
    * frequencies over the word-frequency table, (b) takes the single
    * best pair to the driver (one row — bounded by construction), and
    * (c) rewrites every word by a literal left-to-right replace of
    * `" a b "` with `" ab "`, matching greedy BPE application. The
    * delimiters make multi-character symbols unambiguous. Lineage is
    * truncated every round so the plan stays O(1) across merges.
    *
    * Iterative by nature (each merge depends on the last); oracle-gated
    * at 4 merges (q_bpe_learn — the DuckDB oracle replays every round:
    * pair aggregate, top-1, literal rewrite), with deeper runs and the
    * Sennrich worked example covered in BpeSpec, and the one-round
    * statistics pass [[bpePairStats]] separately gated as q_bpe_pairs. */
  def bpeLearn(spark: SparkSession, dir: String, merges: Int = 8): DataFrame =
    bpeLearnFromWords(spark, wordFreq(Tables.documents(spark, dir)), merges)

  /** [[bpeLearn]] over an explicit `(w, wc)` word-frequency table. */
  def bpeLearnFromWords(spark: SparkSession, base: DataFrame,
      merges: Int): DataFrame =
    bpeTrainState(spark, base, merges)._1

  /** The trainer loop of [[bpeLearnFromWords]], additionally returning the
    * final per-word symbol state `(w, sym, wc)` — the segmentation the
    * learned merges induce, which [[bpeEncode]] applies corpus-wide. */
  private def bpeTrainState(spark: SparkSession, base: DataFrame,
      merges: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    // " c h a r s " — every symbol space-delimited, sentinel-padded
    var words = base.select(col("w"),
      concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" ")).as("sym"),
      col("wc"))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var rank = 0
    while (rank < merges) {
      // fully-merged words (one symbol left) carry no pairs; dropping them
      // also keeps `sequence(1, size-1)` ascending
      val syms = words.select(col("wc"), split(trim(col("sym")), " ").as("s"))
        .filter(size(col("s")) >= 2)
      val top = syms
        .select(col("wc"), explode(
          transform(sequence(lit(1), size(col("s")) - 1),
            i => concat_ws(" ", element_at(col("s"), i),
              element_at(col("s"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("freq"))
        .orderBy(col("freq").desc, col("pair"))
        .limit(1).as[(String, Long)].collect()
      if (top.isEmpty) rank = merges
      else {
        val (pair, freq) = top.head
        learned += ((rank, pair, freq))
        val quoted = java.util.regex.Pattern.quote(s" $pair ")
        val merged =
          java.util.regex.Matcher.quoteReplacement(" " + pair.replace(" ", "") + " ")
        words = words
          .withColumn("sym", regexp_replace(col("sym"), quoted, merged))
          .localCheckpoint()
        rank += 1
      }
    }
    (learned.toSeq.toDF("rank", "pair", "freq"), words)
  }

  /** Apply a learned BPE tokenizer to the whole corpus: per-doc
    * whitespace-word count, BPE piece count under the `merges` learned
    * rules, and the resulting pieces-per-word fertility — the number a
    * data pipeline budgets training tokens with (Sennrich et al. 2016's
    * apply step, downstream of the q_bpe_learn trainer).
    *
    * The corpus tokenizes once against the final per-word segmentation
    * state the trainer already materialized — encode is a join, not a
    * re-derivation: the |vocab|-bounded `(word → piece count)` map
    * (vocabulary plateaus by Heaps' law) broadcasts against the exploded
    * token stream, and the per-doc aggregate is map-side combinable, so
    * the corpus itself never shuffles by anything but `doc_id`. Words the
    * frequency table excludes (single characters) are one piece by
    * definition — the join is left, coalescing to 1. One IEEE division at
    * the end; every sum is an exact BIGINT. */
  def bpeEncode(spark: SparkSession, dir: String, merges: Int = 4): DataFrame =
    bpeEncodeFromDocs(spark, Tables.documents(spark, dir), merges)

  /** [[bpeEncode]] over an explicit `(doc_id, text)` table. */
  def bpeEncodeFromDocs(spark: SparkSession, docs: DataFrame,
      merges: Int): DataFrame = {
    val words = bpeTrainState(spark, wordFreq(docs), merges)._2
    val pieces = words.select(col("w"),
      size(split(trim(col("sym")), " ")).as("np"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(pieces), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("np"), lit(1))).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words")).as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------------
  // Exact duplicated-span detection
  // --------------------------------------------------------------------

  /** Per-document duplicated-text fraction: of a doc's k-token sliding
    * windows, how many also occur in at least one OTHER document — the
    * exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499),
    * reported as a per-doc coverage metric instead of span excision.
    *
    * Plan: one (gram, doc) aggregate over the exploded windows, then a
    * window count over `gram` for the distinct-doc cardinality — the
    * second pass reuses the first's hash partitioning (no extra
    * exchange), and nothing joins back to the raw exploded stream. The
    * gram aggregate is the only wide exchange; at 100 TB its key space is
    * bounded by total token count, sharded uniformly by gram hash. */
  def duplicatedSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    duplicatedSpansFromDocs(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism), k)

  /** [[duplicatedSpans]] over an explicit `(doc_id, text)` table. */
  def duplicatedSpansFromDocs(docsRaw: DataFrame, k: Int): DataFrame = {
    val docs = docsRaw.select(col("doc_id"), tokens(col("text")).as("t"))
    val perDoc = docs.select(col("doc_id"),
      greatest(size(col("t")) - (k - 1), lit(0)).cast("long").as("n_grams"))
    val grams = docs
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => concat_ws(" ", slice(col("t"), i, lit(k))))).as("gm"))
    val gd = grams.groupBy(col("gm"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
    val dup = gd
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gm"))))
      .filter(col("nd") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_dup"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          round(col("n_dup").cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Exact duplicated-span EXCISION — the rewrite form of
    * [[duplicatedSpans]]' coverage metric (Lee et al. 2022, arXiv:2107.06499:
    * "remove all but one occurrence of any duplicated span"): every
    * occurrence of a corpus-duplicated k-token window except its first
    * (minimal `(doc_id, position)`) is cut from the text; a token survives
    * iff no removed occurrence covers it. Emits the cleaned text plus
    * exact removal accounting per document.
    *
    * Plan: the exploded windows pass ONE gm-keyed exchange where a single
    * Window operator computes both the occurrence count and the keeper
    * (min struct — no sort-based rank needed); removed occurrences —
    * bounded by the corpus's duplicated mass, not its size — fan out to
    * covered positions and collapse to one per-doc position set; the
    * rebuild is an in-row filter after a doc_id-keyed left join, so clean
    * docs pass through untouched. At 100 TB the only corpus-scale shuffle
    * is the gm aggregate, hash-sharded by window text. */
  def spanScrub(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    spanScrubFromDocs(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism), k)

  /** [[spanScrub]] over an explicit `(doc_id, text)` table. */
  def spanScrubFromDocs(docsRaw: DataFrame, k: Int): DataFrame = {
    val docs = docsRaw.select(col("doc_id"), tokens(col("text")).as("t"))
    val occ = docs
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => struct(i.as("p"),
            concat_ws(" ", slice(col("t"), i, lit(k))).as("gm")))).as("o"))
      .select(col("doc_id"), col("o.p").as("p"), col("o.gm").as("gm"))
    val w = Window.partitionBy(col("gm"))
    // both window expressions in one select → a single Window operator
    // over one gm exchange+sort (chained withColumn left two)
    val removedOcc = occ
      .select(col("doc_id"), col("p"),
        count(lit(1)).over(w).as("nocc"),
        min(struct(col("doc_id"), col("p"))).over(w).as("keeper"))
      .filter(col("nocc") >= 2 && !(col("doc_id") === col("keeper.doc_id") &&
        col("p") === col("keeper.p")))
    val removedPos = removedOcc
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (k - 1))).as("j"))
      .groupBy(col("doc_id")).agg(collect_set(col("j")).as("rm"))
    docs.join(removedPos, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("rm")).cast("long").as("n_removed"),
        array_join(
          transform(
            filter(
              transform(sequence(lit(1), size(col("t"))),
                i => struct(i.as("i"), element_at(col("t"), i).as("tok"))),
              s => !array_contains(col("rm"), s("i"))),
            s => s("tok")),
          " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct k-token windows they share, plus the gram-set Jaccard —
    * the pairwise overlap census run before mixing crawl dumps (the
    * corpus-level twin of the train-vs-benchmark contamination sweep).
    *
    * Plan: distinct `(source, gram)` membership comes from one gm-keyed
    * aggregate that ALSO collects the per-gram source set in the same
    * pass (`collect_set` — no self-join on the gram stream); pair fan-out
    * is in-row over the sorted source list, bounded by C(|sources|, 2)
    * per gram (sources are a handful; never corpus-scale). The result
    * aggregate has at most C(|sources|, 2) keys, and per-source totals
    * ride a tiny broadcast join. At 100 TB: one corpus-scale shuffle on
    * gram, everything after is bounded by the source count. */
  def sourceOverlap(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = docs.select(col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => concat_ws(" ", slice(col("t"), i, lit(k))))).as("gm"))
    val byGram = grams.groupBy(col("gm"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
    val totals = byGram
      .select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = byGram
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(
        transform(sequence(lit(1), size(col("ss")) - 1),
          i => transform(sequence(i + 1, size(col("ss"))),
            j => struct(element_at(col("ss"), i).as("src_a"),
              element_at(col("ss"), j).as("src_b")))))).as("pr"))
      .groupBy(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(broadcast(totals.select(col("source").as("src_a"), col("n").as("na"))),
        Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"), col("n").as("nb"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        (col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams"))).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1, the other
    * half of [[gopherRules]]): per document, the character mass of its
    * most frequent bigram (`max(count·len)` over bigrams — the max-form
    * sidesteps the paper's ambiguous most-frequent tie-break while
    * ranking the same degenerate docs) and the character mass of all
    * duplicated 3-gram occurrences beyond each one's first
    * (`Σ (count−1)·len` over 3-grams with count ≥ 2 — the paper uses
    * 5..10-grams, but within-doc 5-gram repeats are vacuous on the gated
    * corpus while 3-grams genuinely fire), both as exact
    * BIGINT numerators plus one IEEE division by the doc's length.
    * Complements [[repetition]]'s TTR / top-token / longest-run trio
    * with the n-gram-mass form published pipelines filter on.
    *
    * Plan: both gram sizes explode in one pass (tagged structs, empty
    * arrays guard short docs — `sequence(1, 0)` would generate a
    * DESCENDING range), one (doc, n, gram) aggregate is the only
    * corpus-scale shuffle, and the per-doc fold reuses rows already
    * collapsed to distinct grams. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("total_chars"),
        tokens(col("text")).as("t"))
    def tagged(n: Int): Column =
      when(size(col("t")) >= n,
        transform(sequence(lit(1), size(col("t")) - (n - 1)),
          i => struct(lit(n).as("n"),
            concat_ws(" ", slice(col("t"), i, lit(n))).as("gm"))))
        .otherwise(array().cast("array<struct<n:int,gm:string>>"))
    val counts = docs
      .select(col("doc_id"),
        explode(concat(tagged(2), tagged(3))).as("x"))
      .groupBy(col("doc_id"), col("x.n").as("n"), col("x.gm").as("gm"))
      .agg(count(lit(1)).as("c"))
    val folded = counts.groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("c") * length(col("gm")))
          .otherwise(0L)).as("top2_chars"),
        sum(when(col("n") === 3 && col("c") >= 2,
            (col("c") - 1) * length(col("gm")))
          .otherwise(0L)).as("dup3_chars"))
    docs.join(folded, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_chars").cast("long").as("total_chars"),
        coalesce(col("top2_chars"), lit(0L)).cast("long").as("top2_chars"),
        coalesce(col("dup3_chars"), lit(0L)).cast("long").as("dup3_chars"))
      .withColumn("top2_share",
        col("top2_chars").cast("double") / col("total_chars"))
      .withColumn("dup3_share",
        col("dup3_chars").cast("double") / col("total_chars"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style rule filter (Rae et al. 2021, arXiv:2112.11446 §A1.1):
    * per-document boolean quality rules with EXACT integer arithmetic —
    * every threshold that is a ratio in the paper is cross-multiplied
    * (`3n ≤ chars ≤ 10n`, `5·distinct ≥ n`) so no float ever sits on the
    * keep/drop boundary; a doc a hair past a threshold gets the same
    * verdict on any engine or partitioning. Rules: word count in
    * [50, 100k], mean word length in [3, 10], ≥2 distinct stop words,
    * type-token ratio ≥ 0.2 (the symbol/bullet/ellipsis rules are
    * vacuous on this punctuation-free corpus and carry no signal).
    * Zero-shuffle projection pass; `ReadSchema` is `doc_id`+`text`. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = tokens(col("text"))
    val n = size(t)
    val charsNoSep = length(col("text")) - (n - 1)
    val ruleWc = n.between(50, 100000)
    val ruleWl = charsNoSep >= n * 3 && charsNoSep <= n * 10
    val ruleStop = size(array_intersect(t, array(stopwords.map(lit): _*))) >= 2
    val ruleTtr = size(array_distinct(t)) * 5 >= n
    docs.select(col("doc_id"), n.cast("long").as("n_words"),
        ruleWc.as("rule_word_count"), ruleWl.as("rule_word_len"),
        ruleStop.as("rule_stopwords"), ruleTtr.as("rule_ttr"))
      .withColumn("keep_doc",
        col("rule_word_count") && col("rule_word_len") &&
          col("rule_stopwords") && col("rule_ttr"))
      .orderBy(col("doc_id"))
  }

  /** Pointwise mutual information between co-occurring vocabulary terms.
    *
    * The term universe is cut to the top-`vocabSize` terms by document
    * frequency FIRST (deterministic df-desc/term tie-break) — at web
    * scale the raw vocabulary is unbounded, and the vocab cut is what
    * keeps the per-document pair fan-out at ≤ V·(V−1)/2 instead of
    * quadratic in document length. The vocab (and the df map) is a few
    * hundred rows → broadcast to both sides of the pair join; the only
    * shuffle is the doc_id-keyed self-join and the final (a,b) count,
    * both map-side combined.
    *
    * PMI = ln(n_ab · N / (df_a · df_b)), computed from exact BIGINT
    * counts, rounded to 6 for cross-engine float parity. */
  def pmiPairs(spark: SparkSession, dir: String,
      vocabSize: Int = 30, minPairs: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("term"))
    val df_ = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = df_.orderBy(col("df").desc, col("term")).limit(vocabSize)
    val inVocab = terms.join(broadcast(vocab), Seq("term"))
    // N as a broadcast 1-row aggregate: keeps the whole computation one
    // lazy plan (no separate driver-side count action)
    val nDocs = docs.agg(count(lit(1)).as("n_total"))
    val pairs = inVocab.select(col("doc_id"), col("term").as("a"), col("df").as("df_a"))
      .join(inVocab.select(col("doc_id"), col("term").as("b"), col("df").as("df_b")),
        Seq("doc_id"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("df_a"), col("df_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.filter(col("n_ab") >= minPairs)
      .crossJoin(broadcast(nDocs))
      .select(col("a"), col("b"), col("n_ab"), col("df_a"), col("df_b"),
        round(log(col("n_ab") * col("n_total") / (col("df_a") * col("df_b"))), 6)
          .as("pmi"))
      .orderBy(col("a"), col("b"))
  }

  /** Flesch-style readability per document, from three exact counts:
    * whitespace words, sentence-ending punctuation (min 1), and vowel-run
    * "syllables". One codegen'd projection pass — the same single-scan
    * shape as [[docFeatures]]; no shuffle at all. Scores rounded to 4. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val words = tokenCount(col("text")).cast("long")
    val sents = greatest(regexp_count(col("text"), lit("[.!?]")), lit(1))
      .cast("long")
    val sylls = greatest(regexp_count(col("text"), lit("[aeiouy]+")), lit(1))
      .cast("long")
    docs.select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
        sylls.as("n_sylls"))
      // 1e-4-quantized BIGINT gates: the count-ratio terms land on exact
      // 4dp half-way ties (scanner-verified on fk_grade), the
      // q_pack_bins failure class — integers carry no tie
      .withColumn("flesch_q4",
        round((lit(206.835) - lit(1.015) * col("n_words") / col("n_sents")
          - lit(84.6) * col("n_sylls") / col("n_words")) * 1e4).cast("long"))
      .withColumn("fk_grade_q4",
        round((lit(0.39) * col("n_words") / col("n_sents")
          + lit(11.8) * col("n_sylls") / col("n_words") - lit(15.59)) * 1e4)
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token (unigram) entropy — the vocabulary-diversity
    * quality signal: low entropy flags boilerplate/repetition, the
    * complement of [[gopherRepetition]]'s span metrics.
    *
    * Uses H = log2(n) − (Σ c·log2 c)/n, an exact algebraic rewrite of
    * −Σ p·log2 p that aggregates ONE map-side-combinable sum of
    * c·log2(c) per document instead of needing p (= c/n) before the
    * aggregation — so the whole thing is tf-count → one groupBy, no
    * second pass, no window. norm_entropy divides by log2(#distinct)
    * (0 when a document is a single repeated token). */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropyFromDocs(Tables.documents(spark, dir))

  def tokenEntropyFromDocs(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log2(col("c"))).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log2(col("n_tokens")) - col("s") / col("n_tokens"), 6)
          .as("entropy"),
        when(col("n_distinct") > 1,
            round((log2(col("n_tokens")) - col("s") / col("n_tokens"))
              / log2(col("n_distinct")), 6))
          .otherwise(lit(0.0)).as("norm_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled multilingual sampling weights (the α=1/2 point of
    * the p_l ∝ c_l^α family; UniMax's waterfill is the α→0 end, natural
    * sampling the α=1 end). sqrt is correctly rounded in IEEE-754, and
    * the normalizing sum runs over the per-language frame in lang order
    * on both engines, so the weights agree bit-for-bit before the
    * round(6). One tiny aggregate — the scan does the heavy lifting. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val byLang = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val all = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byLang
      .withColumn("z", sum(sqrt(col("n_docs"))).over(all))
      .withColumn("n_total", sum(col("n_docs")).over(all))
      .select(col("lang"), col("n_docs"),
        round(sqrt(col("n_docs")) / col("z"), 6).as("weight"),
        round(sqrt(col("n_docs")) / col("z")
          / (col("n_docs").cast("double") / col("n_total")), 6).as("boost"))
      .orderBy(col("lang"))
  }

  /** χ² term selection per language class, gated as q_chi2_terms: the
    * classic feature-selection statistic over the 2×2 (term present ×
    * class membership) document-contingency table, top-5 terms per
    * language by χ² (term asc tie-break).
    *
    * Counts shape: one doc-distinct term explode → ONE (term, lang)
    * map-side-combinable groupBy (the only corpus-scale shuffle); the
    * per-term totals ride a vocab-bounded second aggregate joined back
    * on term, class totals and N are broadcast 1-row/|lang|-row
    * aggregates. χ² is computed in double with a fixed left-assoc
    * factor order mirrored in the oracle (the four marginal factors
    * reach ~N⁴, past int64 at 100× — doubles on both engines, so the
    * products agree bit-for-bit before round(4)). A term present in
    * every document (n−t = 0) or a class spanning the whole corpus
    * (n−c = 0) has a zero marginal: χ² is defined as 0 there (no
    * signal), guarded identically in the oracle. The final
    * top-5-per-lang runs on the vocab-bounded scored frame — the
    * spillable window form, |vocab|·|langs| rows, never the corpus. */
  def chi2Terms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val present = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(tokens(col("text")))).as("term"))
    val a = present.groupBy(col("term"), col("lang"))
      .agg(count(lit(1)).as("a"))
    val byTerm = a.groupBy(col("term")).agg(sum(col("a")).as("t"))
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
    val total = docs.agg(count(lit(1)).as("n"))
    val scored = a
      .join(byTerm, Seq("term"))
      .join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(total))
      .withColumn("b", col("t") - col("a"))
      .withColumn("cc", col("c") - col("a"))
      .withColumn("dd", col("n") - col("t") - col("c") + col("a"))
      .withColumn("chi2",
        when(col("n") === col("t") || col("n") === col("c"), lit(0.0)).otherwise(
          round(col("n").cast("double")
            * pow((col("a") * col("dd") - col("b") * col("cc")).cast("double"), 2)
            / ((col("a") + col("b")).cast("double")
              * (col("cc") + col("dd")).cast("double")
              * (col("a") + col("cc")).cast("double")
              * (col("b") + col("dd")).cast("double")), 4)))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("chi2").desc, col("term"))))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk").cast("long").as("rnk"), col("term"),
        col("a").as("docs_in_class"), col("t").as("docs_with_term"),
        col("chi2"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** Misra–Gries heavy-hitter certification, gated as q_misra_gries:
    * runs the mergeable [[graft.functions.MisraGries]] summary (k
    * counters, k ≪ keys) over a deterministically skewed key stream and
    * certifies its guarantees as hash-stable boolean columns.
    *
    * The harness corpus is near-uniform over a 31-word vocabulary —
    * useless for exercising a heavy-hitter summary — so the key stream
    * keeps three head terms concentrated and fans every other
    * occurrence out to `term_(doc_id mod 97)`: ~2.7k distinct keys of
    * which exactly three exceed the N/(k+1) presence threshold. With
    * k = 64 ≪ 2.7k keys the decrement/merge-cut paths genuinely fire.
    *
    * Certified properties (each a theorem of MG + the Agarwal-et-al
    * merge, so deterministically 1 under ANY partitioning — the oracle
    * emits literal 1s): head keys above threshold are present
    * (`presence_ok`), estimates never exceed exact (`le_exact_ok`),
    * undercount ≤ N/(k+1) checked in INTEGER arithmetic —
    * (cnt−est)·(k+1) ≤ N — (`bound_ok`), and the summary held ≤ k
    * counters (`tracked_le_k`). The exact-count side is the
    * verification harness (affordable at oracle SF); the production
    * artifact is the one k-entry summary from the single MG pass. */
  def misraGries(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import spark.implicits._
    val headKeys = Seq("join", "hash", "row")
    val keys = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .select(when(col("term").isin(headKeys: _*), col("term"))
        .otherwise(concat(col("term"), lit("_"),
          (col("doc_id") % 97).cast("string"))).as("key"))
    // the MG pass: one ObjectHashAggregate, ≤ k counters per partial.
    // The k-entry summary stays a ONE-ROW DataFrame (broadcast
    // cross-join), never a driver literal — construction remains
    // analysis-only (no .head() side effect) and the key stream is
    // scanned once per run, not once at build time and again at run time
    val mg = keys.as[String]
      .select(new graft.functions.MisraGries(k).toColumn.name("mg"))
    val exact = keys.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
    val total = exact.agg(sum(col("cnt")).as("n"))
    exact.filter(col("key").isin(headKeys: _*))
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(mg))
      .select(col("key").as("term"), col("cnt"),
        coalesce(element_at(col("mg"), col("key")), lit(0L)).as("e"),
        col("n"), size(map_keys(col("mg"))).as("n_tracked"))
      .select(col("term"), col("cnt"),
        when(col("cnt") * (k + 1) <= col("n") || col("e") > 0, 1L)
          .otherwise(0L).as("presence_ok"),
        when(col("e") <= col("cnt"), 1L).otherwise(0L).as("le_exact_ok"),
        when((col("cnt") - col("e")) * (k + 1) <= col("n"), 1L)
          .otherwise(0L).as("bound_ok"),
        when(col("n_tracked") <= k, 1L).otherwise(0L).as("tracked_le_k"))
      .orderBy(col("term"))
  }

  /** Unicode-normalization census, gated as q_unicode_norm: per
    * language, the NFC/NFD/STRIP behavior of the corpus under the
    * native [[graft.functions.UnicodeNorm]] expression. The synthetic
    * corpus is pure ASCII (normalization-invariant by definition), so
    * the census plants accents deterministically — `translate` swaps
    * every lowercase vowel for its precomposed Latin-1 form — and then
    * certifies, per language:
    *
    *  - `nfd_chars`: char mass after NFD, which must exceed the
    *    original by exactly one combining mark per planted vowel
    *    (each precomposed vowel decomposes into base + U+0301/0308);
    *  - `nfc_stable`: precomposed text is an NFC fixed point;
    *  - `roundtrip`: NFC∘NFD restores the precomposed form bit-exactly;
    *  - `restored`: STRIP (NFD + drop `\p{M}`, DuckDB's
    *    `strip_accents`) recovers the original ASCII text bit-exactly.
    *
    * The DuckDB oracle recomputes `nfc_stable`/`restored` with its own
    * ICU (`nfc_normalize`/`strip_accents`) — a genuine cross-engine
    * check of the expression — and the NFD facts closed-form (DuckDB
    * exposes no NFD). Scale shape: one codegen'd projection pass over
    * the scan plus a |languages|-row aggregate; the ASCII fast path in
    * the expression never allocates, so the added cost on a real
    * mostly-ASCII corpus is one sign-bit scan per row. */
  def unicodeNorm(spark: SparkSession, dir: String): DataFrame = {
    // precomposed NFC literals, pinned as escapes: a e i o u acute/uml
    val accents = "\u00e1\u00e9\u00ed\u00f6\u00fc"
    def norm(c: Column, f: String): Column =
      graft.functions.UnicodeNorm(spark, c, f)
    Tables.documents(spark, dir)
      .select(col("lang"), col("text"),
        translate(col("text"), "aeiou", accents).as("acc"),
        length(col("text")).as("len"),
        (length(col("text")) -
          length(translate(col("text"), "aeiou", ""))).as("vcnt"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("len")).as("chars"),
        sum(col("vcnt")).as("vowels"),
        sum(length(norm(col("acc"), "NFD"))).as("nfd_chars"),
        sum(when(norm(col("acc"), "NFC") === col("acc"), 1L).otherwise(0L))
          .as("nfc_stable"),
        sum(when(norm(norm(col("acc"), "NFD"), "NFC") === col("acc"), 1L)
          .otherwise(0L)).as("roundtrip"),
        sum(when(norm(col("acc"), "STRIP") === col("text"), 1L).otherwise(0L))
          .as("restored"))
      .orderBy(col("lang"))
  }
}
