package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.{Staging, Tables}

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table: exact, word-shingle Jaccard, MinHash+LSH, SimHash,
  * and embedding-cosine near-dup (see Similarity for the vector side).
  *
  * Scale design:
  *   - Exact dedup is a hash-shuffle groupBy on the content key — the
  *     cheapest possible form; at 100 TB group on `md5(text)` instead of
  *     raw text so shuffle rows carry 32 bytes, not documents.
  *   - Jaccard is the *verification* stage and is only run on candidate
  *     pairs; the all-pairs form here is bounded by the shingle-join and
  *     is the oracle-checkable reference semantics.
  *   - MinHash+LSH is the scale path: signatures are one groupBy over
  *     exploded shingles (map-side combinable mins), candidates come from
  *     an equi-join on (band_idx, band_hash) — never an O(n²) cross join.
  *     All hashing is md5-based so the DuckDB oracle can reproduce it
  *     bit-for-bit (lexicographic min over hex strings).
  *   - SimHash is a pure projection per doc + a groupBy on the 16-bit
  *     fingerprint — no joins at all until candidate verification.
  */
object Dedup {

  /** The distinct word n-gram shingles of one document as an array column —
    * deduplicated INSIDE the row (`array_distinct`), so downstream shapes
    * need neither a `.distinct()` shuffle nor a per-doc count window:
    * cardinality is `size(...)` map-side. Documents are KB-sized, so the
    * whole array is a few hundred entries at worst. */
  def shingleArray(text: Column, n: Int = 3): Column = {
    val w = split(text, " ")
    val idx = when(size(w) >= n, sequence(lit(1), size(w) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(idx, i =>
      concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
  }

  private def gramArray(n: Int): Column = shingleArray(col("text"), n)

  // documents often arrive as one small parquet file = ONE input task;
  // spread rows across the cluster BEFORE the shingle/hash work so the
  // per-row compute parallelizes (no-op at scale where files are many)
  private def spread(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)

  /** Distinct word 3-gram shingles per document: (doc_id, shingle).
    * Zero shuffles — the distinct is per-row. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    spread(docs).select(col("doc_id"), explode(gramArray(n)).as("s"))

  /** Shingles with the document's shingle-set cardinality riding along:
    * (doc_id, c, s). `c` is a window count over the exploded stream (the
    * in-row array is distinct, so count = cardinality). The window costs
    * one doc_id shuffle, but the naive in-row alternative — projecting
    * the gram array and taking `size(...)` next to the `explode(...)` —
    * measured ~9x slower: Catalyst inlines the projection into both
    * consumers and the interpreted higher-order gram lambda re-evaluates
    * per reference. Shuffling 30-byte rows beats re-running the lambda. */
  def shinglesWithCard(docs: DataFrame, n: Int = 3): DataFrame =
    withCard(shingles(docs, n))

  /** Attach the per-doc shingle count to an already-exploded (and
    * in-row-distinct) shingle stream. Split out so callers can prune the
    * stream (e.g. a broadcast semi-join on candidate ids) BEFORE the
    * window shuffle. */
  def withCard(sh: DataFrame): DataFrame =
    sh.withColumn("c",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("c"), col("s"))

  /** Exact-duplicate groups: canonical (min) doc id + group size per
    * distinct content hash. */
  def exactGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .select(col("keep_id"), col("n_docs"))
      .orderBy(col("keep_id"))

  /** Per-source duplicate accounting — WHERE the duplicate mass comes
    * from, the census a crawl-mix owner reads before deciding which
    * source to re-fetch, re-canonicalize, or drop. Per source: total
    * docs, distinct contents, docs sitting in a corpus-wide duplicate
    * group (the group census is one hash-keyed window over 32-byte
    * fingerprints — cross-source duplicates count for every source
    * they touch, which is the point), and the duplicate rate. */
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    dupRateBySourceOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, source, text) frame. On the gated corpus
    * every source reports zero — the corpus is exactly-clean, which is
    * itself the audit result; DedupSpec proves the census fires on a
    * fixture with planted cross- and within-source duplicates. */
  def dupRateBySourceOf(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    fp.withColumn("grp", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_in_dup_groups"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        col("n_in_dup_groups"),
        round(col("n_in_dup_groups").cast("double") /
              col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy(col("source"))
  }

  /** All near-duplicate pairs with word-3-gram Jaccard >= tau: one
    * sort-merge self-join on the shingle + one pair aggregation. The
    * per-doc cardinality rides along from the in-row gram array, so
    * there is no distinct pass and no count window. On corpora where hub
    * shingles make this join quadratic, [[jaccardPairsPrefix]] computes
    * the identical result with PPJoin prefix filtering. */
  def jaccardPairs(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame =
    jaccardPairsUnsorted(spark, dir, tau).orderBy(col("id_a"), col("id_b"))

  /** Large-corpus execution guard for the single-plan pair pipelines:
    * when the partition count [[graft.util.Staging.autoPartitions]]
    * derives from the documents footprint (1.5 MiB of documents parquet
    * per partition) exceeds the session setting, the plan runs staged
    * ([[graft.util.Staging.run]]) to one parquet phase UNDER that derived
    * count and the (tiny, dup-rate-bounded) pair table streams back. The
    * r9/sf100 lesson this encodes: the naive shingle self-join's
    * sort-merge working set is per-task, so the partition count is the
    * memory knob, and the recorded sf100 runs only completed at a
    * hand-set 512 — the rule derives ~540 at that rung (79 MB sf10
    * derives ~53, the small rungs keep their single lazy plan
    * unchanged). Construction stays analysis-only either way. */
  private def heavyPartitions(spark: SparkSession, dir: String): Int =
    Staging.autoPartitions(spark,
      Staging.inputBytes(spark, s"$dir/documents.parquet"), 1536L << 10)

  private def stagesHeavy(spark: SparkSession, dir: String): Boolean =
    heavyPartitions(spark, dir) >
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

  private def guardHeavy(spark: SparkSession, dir: String, label: String,
      schema: org.apache.spark.sql.types.StructType, staged: Boolean)(
      plan: => DataFrame): DataFrame =
    Staging.run(spark, label, schema, staged, heavyPartitions(spark, dir))(_ => plan)

  /** [[jaccardPairs]] without the final presentation sort — the form to
    * compose (e.g. as connected-components input), where a global
    * range-partition sort of the pair stream is pure wasted shuffle. */
  def jaccardPairsUnsorted(spark: SparkSession, dir: String,
      tau: Double = 0.8): DataFrame =
    jaccardPairsUnsorted(spark, dir, tau, stagesHeavy(spark, dir))

  /** [[jaccardPairsUnsorted]] on a chosen medium (`staged`). */
  private[graft] def jaccardPairsUnsorted(spark: SparkSession, dir: String,
      tau: Double, staged: Boolean): DataFrame =
    guardHeavy(spark, dir, "jaccard_naive", PairSchema, staged) {
      jaccardPairsUnsortedPlan(spark, dir, tau)
    }

  private def jaccardPairsUnsortedPlan(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    val sh = shinglesWithCard(Tables.documents(spark, dir))
    // the self-join MUST shuffle on the shingle: Catalyst sizes a Generate
    // by its (tiny) parquet child, so without a hint it broadcasts the
    // whole exploded shingle table — unbounded build side at scale.
    // MERGE, not SHUFFLE_HASH: a shuffled-hash build side cannot spill,
    // and at sf100 (2.8e9 candidate rows) the per-partition hash map
    // exceeds memory and the job DIES regardless of partition count
    // (measured: OOM at 32 and at 512 shuffle partitions) — while the
    // sort-merge join spills its sort runs and completes. A graceful
    // spill beats a fast plan that falls over at 100x.
    val a = sh.hint("merge").as("a"); val b = sh.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("ix"), max(col("a.c")).as("ca"), max(col("b.c")).as("cb"))
      .withColumn("jac", round(col("ix").cast("double") /
        (col("ca") + col("cb") - col("ix")), 6))
      .filter(col("jac") >= tau)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Asymmetric containment near-dup pairs: |A∩B| / |A| >= tau, i.e. at
    * least `tau` of A's shingle set occurs in B. Directional where Jaccard
    * is symmetric — the quote/excerpt/subset detector (a short document
    * wholly quoted inside a long one has high containment but low Jaccard,
    * so a Jaccard dedup pass never finds it). Same single sort-merge
    * self-join shape as [[jaccardPairsUnsorted]]; only the denominator
    * changes (|A| instead of |A∪B|), and both directions of a pair emit
    * independently. Containment >= Jaccard always, so tau here should sit
    * above the Jaccard threshold to stay selective. */
  def containmentPairs(spark: SparkSession, dir: String,
      tau: Double = 0.9): DataFrame =
    containmentPairs(spark, dir, tau, stagesHeavy(spark, dir))

  /** [[containmentPairs]] on a chosen medium (`staged`). */
  private[graft] def containmentPairs(spark: SparkSession, dir: String,
      tau: Double, staged: Boolean): DataFrame =
    guardHeavy(spark, dir, "containment_naive", ContainmentSchema, staged) {
      containmentPairsPlan(spark, dir, tau)
    }.orderBy(col("id_sub"), col("id_super"))

  /** (id_sub, id_super, containment) — the directional pair schema. */
  private val ContainmentSchema = new org.apache.spark.sql.types.StructType()
    .add("id_sub", org.apache.spark.sql.types.LongType)
    .add("id_super", org.apache.spark.sql.types.LongType)
    .add("containment", org.apache.spark.sql.types.DoubleType)

  private def containmentPairsPlan(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    val sh = shinglesWithCard(Tables.documents(spark, dir))
    // merge, not shuffle_hash — same shape and same sf100 OOM class as
    // jaccardPairsUnsorted (the non-spillable hash build died at 32
    // shuffle partitions); the sort-merge join spills and completes
    val a = sh.hint("merge").as("a"); val b = sh.as("b")
    // intersect each unordered pair ONCE (id_a < id_b — half the join
    // output of a != join) and EXPLODE the two directions out of the
    // aggregate's rows: a union of two projections of the aggregate
    // would re-run the whole shingle pipeline + pair agg per branch
    // whenever ReuseExchange fails to fire across self-join branches
    // (it reliably fails under AQE here — measured 2x the runtime)
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("ix"), max(col("a.c")).as("ca"), max(col("b.c")).as("cb"))
      .select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_super"),
          round(col("ix").cast("double") / col("ca"), 6).as("containment")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          round(col("ix").cast("double") / col("cb"), 6).as("containment"))))
        .as("d"))
      .select(col("d.id_sub").as("id_sub"), col("d.id_super").as("id_super"),
        col("d.containment").as("containment"))
      .filter(col("containment") >= tau)
  }

  /** [[containmentPairs]] with the prefix bound adapted to containment:
    * C(A→B) = |A∩B|/|A| ≥ tau forces |A∩B| ≥ ceil(tau·|A|), so under any
    * fixed global shingle order B must intersect A's first
    * `|A| − ceil(tau·|A|) + 1` shingles — the prefix applies to the
    * SUBSET side only (the superset side has no bound and probes with
    * its full set), plus the size filter |B| ≥ ceil(tau·|A|). Ordering
    * shingles rarest-first keeps hub shingles out of the candidate join,
    * which at tau = 0.9 carries ~10% of the subset side instead of all
    * of it. Candidates are verified exactly (per direction), so the
    * output is identical to [[containmentPairs]] — asserted in DedupSpec
    * the way [[jaccardPairsPrefix]] is. On this hub-free synthetic corpus
    * the extra stages (frequency agg, rank window, candidate distinct,
    * re-verify) cost more than the candidate cut saves (4.0s vs 1.8s at
    * sf0.1), so the naive join stays the bench default — on a web-scale
    * corpus with hub shingles the selectivity inverts that, the same
    * trade [[jaccardPairsPrefix]] documents. */
  def containmentPairsPrefix(spark: SparkSession, dir: String,
      tau: Double = 0.9): DataFrame =
    guardHeavy(spark, dir, "containment_prefix", ContainmentSchema,
        stagesHeavy(spark, dir)) {
      containmentPairsPrefixPlan(spark, dir, tau)
    }.orderBy(col("id_sub"), col("id_super"))

  private def containmentPairsPrefixPlan(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    // three consumers (frequency agg, candidate join, verification) —
    // materialize once; checkpoint() at cluster scale
    // DISK_ONLY, not localCheckpoint: the materialized shingle stream is
    // ~130 rows/doc (26 GB at the sf100 rung), and localCheckpoint's
    // MEMORY_AND_DISK blocks created it THROUGH the heap — measured as a
    // GCLocker allocation storm that shut the context down. Disk-backed
    // reuse costs a read-back per consumer and nothing else.
    val sh = shinglesWithCard(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    def ceilSafe(x: Column): Column = ceil(x - lit(1e-9)) // see jaccardPairsPrefix
    val prefix = sh.hint("merge").join(freq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("c") - ceilSafe(lit(tau) * col("c")) + 1)
      .select(col("doc_id").as("id_sub"), col("c").as("c_sub"), col("s"))
    // candidate = directed pair whose subset-prefix hits the superset's
    // full stream (+ the size bound |B| >= ceil(tau*|A|)), normalized to
    // an unordered pair so each is verified ONCE; prefix filtering is
    // lossless per direction, so a direction that never generated a
    // candidate cannot reach tau and the post-verify filter drops it
    val cand = prefix.hint("merge").as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("id_sub") =!= col("b.doc_id") &&
          col("b.c") >= ceilSafe(lit(tau) * col("c_sub")))
      .select(least(col("id_sub"), col("b.doc_id")).as("id_a"),
        greatest(col("id_sub"), col("b.doc_id")).as("id_b"))
      .distinct()
    // exact verification once per unordered pair; both directions explode
    // out of the single aggregate (see containmentPairs)
    cand.hint("merge")
      .join(sh.hint("merge").as("va"), col("id_a") === col("va.doc_id"))
      .join(sh.hint("merge").as("vb"),
        col("id_b") === col("vb.doc_id") && col("va.s") === col("vb.s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ix"),
        max(col("va.c")).as("ca"), max(col("vb.c")).as("cb"))
      .select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_super"),
          round(col("ix").cast("double") / col("ca"), 6).as("containment")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          round(col("ix").cast("double") / col("cb"), 6).as("containment"))))
        .as("d"))
      .select(col("d.id_sub").as("id_sub"), col("d.id_super").as("id_super"),
        col("d.containment").as("containment"))
      .filter(col("containment") >= tau)
  }

  /** [[jaccardPairs]] with PPJoin-style prefix filtering (Xiao et al.,
    * WWW'08; Bayardo et al.'s all-pairs): under any fixed global shingle
    * order, two sets with J >= tau MUST share an element inside each
    * one's first `|X| - ceil(tau*|X|) + 1` shingles. Ordering shingles
    * rarest-first makes those prefixes the rare shingles, so the
    * candidate self-join never touches the hub shingles that make the
    * naive join quadratic — THE failure mode of all-pairs similarity on
    * skewed real corpora. Candidates are verified exactly, so the output
    * is identical to [[jaccardPairs]] (asserted in DedupSpec).
    *
    * On this synthetic corpus (hub-free by construction) the extra
    * stages cost more than they save, so the naive form stays the bench
    * default; on a web-scale corpus the selectivity inverts that.
    *
    * Execution is ADAPTIVE (round 11): below 256 MiB of documents
    * parquet (between the sf10 rung that completes un-staged and the
    * sf100 rung that does not) the whole prefix pipeline is ONE lazy
    * plan; from there on, the disk-bounded staged pipeline runs as
    * [[graft.util.Staging.run]] phases, deferred to first action, so
    * construction is analysis-only at EVERY rung. The staged phases size
    * their shuffle partitions from the documents footprint (2 MiB of
    * documents parquet per partition — the 811 MB sf100 rung derives
    * ~400 where the recorded run hand-set 128; more, smaller tasks on
    * the same spill volume). */
  def jaccardPairsPrefix(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame =
    jaccardPairsPrefix(spark, dir, tau,
      Staging.inputBytes(spark, s"$dir/documents.parquet") >= (256L << 20))

  /** [[jaccardPairsPrefix]] on a chosen medium (`staged`). */
  private[graft] def jaccardPairsPrefix(spark: SparkSession, dir: String,
      tau: Double, staged: Boolean): DataFrame =
    if (staged)
      Staging.run(spark, "ppjoin", PairSchema, stage = true, Staging.autoPartitions(
        spark, Staging.inputBytes(spark, s"$dir/documents.parquet"), 2L << 20))(
        jaccardPairsPrefixStaged(_, spark, dir, tau)).orderBy(col("id_a"), col("id_b"))
    else jaccardPairsPrefixPlan(spark, dir, tau)

  /** (id_a, id_b, jac) — the near-dup pair schema every Jaccard-family
    * operator emits. */
  private val PairSchema = new org.apache.spark.sql.types.StructType()
    .add("id_a", org.apache.spark.sql.types.LongType)
    .add("id_b", org.apache.spark.sql.types.LongType)
    .add("jac", org.apache.spark.sql.types.DoubleType)

  /** Single-plan prefix pipeline for inputs whose spill fits the disk
    * budget (the r9 form, kept as the small-input path: ~4 s vs the
    * staged form's 34.5 s at sf0.1). The shingle stream is persisted
    * DISK_ONLY (lazily — construction stays analysis-only) because the
    * frequency aggregate, the f-join, and verification all consume it.
    * NOTE this spelling intentionally differs from the staged twin: the
    * window-count cardinality + string keys measured ~2× faster than
    * the in-row-cardinality/hashed-key form when the stream lives in
    * the block-manager cache (the hashed form only wins when phases
    * round-trip through parquet, where the string column's disk
    * footprint dominates). */
  private def jaccardPairsPrefixPlan(spark: SparkSession, dir: String, tau: Double): DataFrame = {
    val sh = shinglesWithCard(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    def ceilSafe(x: Column): Column = ceil(x - lit(1e-9))
    val prefix = sh.hint("merge").join(freq, "s")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("c") - ceilSafe(lit(tau) * col("c")) + 1)
      .select(col("doc_id"), col("c"), col("s"))
    val cand = prefix.hint("merge").as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // size filter: J >= tau forces tau*|A| <= |B| and tau*|B| <= |A|
          col("b.c") >= ceilSafe(lit(tau) * col("a.c")) &&
          col("a.c") >= ceilSafe(lit(tau) * col("b.c")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyPairs(cand.hint("merge"), sh, tau)
      .orderBy(col("id_a"), col("id_b"))
  }

  private def jaccardPairsPrefixStaged(p: Staging.Phases, spark: SparkSession,
      dir: String, tau: Double): DataFrame = {
    // STAGED to parquet, one phase per materialization, because one
    // mega-plan re-spills the shingle stream per consumer: the round-9
    // sf100 attempt died at ~430 s with "No space left on device" when
    // the persisted stream (DISK_ONLY serialized rows), the freq join,
    // the per-doc rank window, the candidate DISTINCT and the verify
    // sorts all held spill simultaneously. As phases, peak disk is
    // (shingle parquet) + (one phase's own shuffle spill).
    // shingle stream with IN-ROW cardinality (size of the distinct gram
    // array, materialized once per row by the three-projection spelling
    // — CollapseProject never inlines the non-cheap gram lambda into
    // its two consumers), instead of shinglesWithCard's count window:
    // this operator's sf100 budget cannot afford the window's extra
    // full-stream exchange sitting in the block store while the later
    // phases spill.
    // the frequency/prefix/candidate phases run on 8-byte xxhash64
    // shingle keys, not the ~30-byte gram strings: PPJoin is correct
    // under ANY fixed global shingle order (rarest-first is only the
    // efficiency choice), and a 64-bit collision can only MERGE two
    // grams' counts/candidate groups — extra candidates that exact
    // verification (on the TRUE shingles) removes; a true candidate
    // can never be lost (equal grams always share h). The staged
    // stream carries ONLY (doc_id, c, h): the true shingles are
    // rebuilt in-row from `documents` at verification time, so no
    // string column ever sits on disk between phases.
    val shh = p.stage("shh", spread(Tables.documents(spark, dir))
      .select(col("doc_id"), shingleArray(col("text")).as("arr"))
      .select(col("doc_id"), size(col("arr")).as("c"), col("arr"))
      .select(col("doc_id"), col("c"), explode(col("arr")).as("s"))
      .select(col("doc_id"), col("c"), xxhash64(col("s")).as("h")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("h"))
    // ceil over double arithmetic can round tau*c to just ABOVE an exact
    // integer (e.g. 0.7*10 = 7.000000000000001 → ceil 8), which would
    // shrink the prefix / tighten the size filter and silently drop
    // qualifying pairs — candidates missed here are unrecoverable because
    // verification only sees generated candidates. Subtracting an epsilon
    // far below 1/maxCard before ceil can only loosen the bound (more
    // candidates, same exact-verified output).
    def ceilSafe(x: Column): Column = ceil(x - lit(1e-9))
    // frequency, f-join, and rank window as SEPARATE phases: inside one
    // job the f-join's exchange and the window's exchange coexist on
    // disk (~2 full-stream copies + the window's sort spill), which is
    // exactly the 66 GB overage the sf100 attempts kept dying of;
    // phase-split, each holds ONE full-stream exchange at a time
    val freq = p.stage("freq", shh.groupBy(col("h")).agg(count(lit(1)).as("f")))
    val joined = p.stage("joined", shh.hint("merge").join(freq, "h"))
    // the hashed stream and frequency table are consumed — free their
    // parquet BEFORE the window phase, whose exchange + sort spill is
    // the single largest disk moment of the pipeline (attempt 4 died
    // here ~10 GB short with them still on disk)
    p.drop("shh", "freq")
    val prefix = p.stage("prefix", joined
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("c") - ceilSafe(lit(tau) * col("c")) + 1)
      .select(col("doc_id"), col("c"), col("h")))
    p.drop("joined")
    val cand = p.stage("cand", prefix.hint("merge").as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          // size filter: J >= tau forces tau*|A| <= |B| and tau*|B| <= |A|
          col("b.c") >= ceilSafe(lit(tau) * col("a.c")) &&
          col("a.c") >= ceilSafe(lit(tau) * col("b.c")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct())
    // the prefix stream is consumed — free it before verification
    p.drop("prefix")
    // verification only needs the TRUE shingles of docs that appear in
    // some candidate pair (dup-rate bounded) — rebuilt in-row from
    // `documents` behind the semi-join prune, so the corpus-scale
    // string stream never existed on disk; `c` is per-doc, unchanged
    // by the prune
    val ids = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val candDocs = spread(Tables.documents(spark, dir))
      .join(ids, Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), shingleArray(col("text")).as("arr"))
    val candSh = candDocs
      .select(col("doc_id"), size(col("arr")).as("c"), col("arr"))
      .select(col("doc_id"), col("c"), explode(col("arr")).as("s"))
    // verification lands as the run's final phase, inside its partition
    // scope; the verified pair table is dup-rate-bounded — a small
    // parquet. Presentation order is the caller's.
    verifyPairs(cand.hint("merge"), candSh, tau)
  }

  /** Census-driven selection between the naive shingle self-join
    * ([[jaccardPairs]]) and the prefix-filtered form
    * ([[jaccardPairsPrefix]]). The two are output-identical; which is
    * CHEAPER is a corpus property: the naive join's extra cost is the
    * hub-collision mass Σ_s f_s·(f_s−1) (rows its shingle self-join
    * must produce), while the prefix form pays a roughly constant
    * multiple of the stream size N for its extra stages (measured ~2.5×
    * at sf10). So: take a deterministic ≤`sampleCap`-doc sample, census
    * the hashed shingle frequencies, and pick the prefix path iff the
    * full-corpus extrapolation of the hub mass exceeds `overheadFactor`
    * × N. Only shingles with sample frequency ≥ 5 count toward hub mass
    * — bounded duplicate clusters (f ≤ 2–3) make the naive join LINEAR,
    * not quadratic, and must not be upscaled by the (n/m)² hub
    * extrapolation. On the hub-free synthetic corpus this picks naive;
    * on the 2 %-hub fixture (each hub shingle in ~2 % of docs, so mass
    * grows n²) it picks prefix — both asserted in DedupSpec.
    *
    * The census is one count + one aggregate over the sample (the
    * q_bucket_stats statistic applied to shingles) and runs at
    * construction time — the same data-dependent plan selection AQE
    * performs, paid once per (dir, tau) per JVM (memoized: inputs are
    * immutable for a run). */
  def prefixPathWins(spark: SparkSession, dir: String,
      sampleCap: Long = 20000L, overheadFactor: Double = 8.0): Boolean =
    chooserCache.computeIfAbsent(
      s"${new java.io.File(dir).getAbsolutePath}_${sampleCap}_$overheadFactor", _ => {
        val docs = Tables.documents(spark, dir)
        val n = docs.count()
        if (n == 0) java.lang.Boolean.FALSE
        else {
          val frac = math.min(1.0, sampleCap.toDouble / n.toDouble)
          val sample =
            if (frac >= 1.0) docs
            else docs.filter(pmod(xxhash64(col("doc_id")), lit(1000000L))
              < lit(math.round(frac * 1000000)))
          // hub cut: a HUB shingle appears in a constant FRACTION of
          // documents (its sample frequency scales with m), while
          // shared-vocabulary / duplicate-cluster shingles have BOUNDED
          // frequency at any corpus size (measured: the hub-free corpus
          // peaks at f=25 over 5k docs and f=6 over a 20k-doc sample of
          // 500k, while each 2%-hub shingle hits f≈400 in the same
          // sample). Only fraction-scaled shingles may be extrapolated
          // by (n/m)² — counting bounded-f mass there misclassified the
          // hub-free corpus in the first cut of this chooser.
          val mHat = math.max(1.0, n * frac)
          val hubCut = math.max(5.0, 0.005 * mHat)
          val census = spread(sample)
            .select(col("doc_id"), explode(shingleArray(col("text"))).as("s"))
            .groupBy(xxhash64(col("s")).as("h")).agg(count(lit(1)).as("f"))
            .agg(
              sum(col("f")).as("stream_rows"),
              coalesce(sum(when(col("f") >= hubCut, col("f") * (col("f") - 1))),
                lit(0L)).as("hub_mass"))
            .head()
          val streamRows = census.getLong(0)
          val hubMass = census.getLong(1)
          val scale = 1.0 / frac
          java.lang.Boolean.valueOf(
            hubMass * scale * scale > overheadFactor * streamRows * scale)
        }
      }).booleanValue()

  private val chooserCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** [[jaccardPairs]] with the execution strategy chosen by
    * [[prefixPathWins]]'s hub-mass census: naive self-join on hub-free
    * corpora (cheaper by the prefix form's constant stage overhead),
    * prefix-filtered on hubbed ones (where naive is quadratic in hub
    * frequency and DNFs at scale). Output is identical either way. */
  def jaccardPairsAuto(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame =
    if (prefixPathWins(spark, dir)) jaccardPairsPrefix(spark, dir, tau)
    else jaccardPairs(spark, dir, tau)

  /** [[containmentPairs]] under the same census-driven selection —
    * containment's naive self-join has the identical Σf² hub-collision
    * failure mode (same shingle stream, same equi-join on s), and
    * BENCH_hub.json records the same inversion (naive 32.4 s vs prefix
    * 85.9 s hub-free; 198.2 s vs 59.5 s at 2% hubs), so one chooser
    * serves both families. Output identical either way. */
  def containmentPairsAuto(spark: SparkSession, dir: String,
      tau: Double = 0.9): DataFrame =
    if (prefixPathWins(spark, dir)) containmentPairsPrefix(spark, dir, tau)
    else containmentPairs(spark, dir, tau)

  /** Exact Jaccard over candidate pairs: join each side's full shingle
    * set, count the intersection, filter by tau. Callers choose the
    * candidate side's distribution (broadcast for LSH's bounded
    * candidate sets, shuffle for unbounded ones). */
  private[ops] def verifyPairs(cand: DataFrame, sh: DataFrame, tau: Double): DataFrame =
    cand
      .join(sh.hint("merge").as("va"), col("id_a") === col("va.doc_id"))
      .join(sh.hint("merge").as("vb"),
        col("id_b") === col("vb.doc_id") && col("va.s") === col("vb.s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ix"),
        max(col("va.c")).as("ca"), max(col("vb.c")).as("cb"))
      .withColumn("jac", round(col("ix").cast("double") /
        (col("ca") + col("cb") - col("ix")), 6))
      .filter(col("jac") >= tau)
      .select(col("id_a"), col("id_b"), col("jac"))

  /** MinHash estimator accuracy over the LSH candidate pairs — the
    * dedup-side index measurement mirroring q_lsh_recall/q_ndcg on the
    * ANN side: per candidate pair, the signature-agreement estimate
    * ĵ = (#agreeing hash rows)/k against the exact shingle Jaccard,
    * with the absolute error. E[ĵ] = J and Var = J(1−J)/k, so this is
    * the table that decides whether k=12 rows suffice before trusting
    * banding thresholds on a new corpus. Signatures join back by doc id
    * (k hex mins per doc — tiny), exact Jaccard reuses the
    * candidate-verified [[verifyPairs]] join; nothing touches raw text
    * twice. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE signature build feeds candidates AND both estimate probes —
    // the lshCandidates(spark, dir) spelling rebuilt the whole
    // shingle+signature pipeline a second time (the r9 bench's #1 cost
    // inside this query at sf10)
    val sig = minhashSignatures(docs).localCheckpoint()
    val cand = lshCandidatesOf(sig)
      .select(col("id_a"), col("id_b"), col("n_bands"))
      .localCheckpoint() // two consumers (estimate join + exact verify)
    val sa = sig.toDF(sig.columns.map(c => if (c == "doc_id") "id_a" else c + "_a"): _*)
    val sb = sig.toDF(sig.columns.map(c => if (c == "doc_id") "id_b" else c + "_b"): _*)
    val nMatch = (0 until MinhashK).map(k =>
      when(col(s"h${k}_a") === col(s"h${k}_b"), 1L).otherwise(0L)).reduce(_ + _)
    val withEst = cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("n_match", nMatch)
      .select(col("id_a"), col("id_b"), col("n_bands"), col("n_match"),
        round(col("n_match").cast("double") / MinhashK, 6).as("mh_est"))
    val exact = verifyPairs(cand.select(col("id_a"), col("id_b")),
      candidateShingles(docs, cand), tau = 0.0)
    withEst.join(exact, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("n_bands"), col("n_match"),
        col("mh_est"), col("jac"),
        round(abs(col("mh_est") - col("jac")), 6).as("err"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The (doc_id, c, s) shingle stream pruned to documents that appear
    * in some candidate pair — exact verification never needs the rest
    * of the corpus. The semi-join shuffles on doc_id, the SAME key the
    * cardinality window needs, so the prune costs no extra exchange;
    * `c` is a per-doc count, unchanged by dropping other docs. */
  private def candidateShingles(docs: DataFrame, cand: DataFrame): DataFrame = {
    val ids = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id")))
      .distinct()
    // broadcast semi: the id set is bounded by 2× the candidate pairs,
    // and a map-side prune drops non-candidate docs BEFORE the gram
    // lambda and the card window's doc_id exchange (the shuffle-semi
    // spelling exploded the whole corpus first); materialized because
    // verifyPairs reads the stream as BOTH join sides — left lazy, the
    // split+gram+explode+window pipeline executes once per side
    withCard(shingles(docs.join(broadcast(ids), Seq("doc_id"), "leftsemi")))
      .localCheckpoint(eager = false)
  }

  /** Dedup threshold sweep — the q_pr_curve analog for near-dup dedup:
    * for a τ grid, how many candidate pairs survive and how many
    * documents a pass at that τ would touch. THE table read before
    * committing a Jaccard threshold to a corpus (τ too low merges
    * topical neighbors; too high misses boilerplate variants); computed
    * from ONE candidate-verification pass (the LSH candidates with
    * exact Jaccard), swept by a 10-row τ spine theta-join — the
    * corpus-scale work is not repeated per threshold. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = lshCandidates(spark, dir).select(col("id_a"), col("id_b"))
      .localCheckpoint() // two consumers (verify join + shingle prune)
    val pairs = verifyPairs(cand, candidateShingles(docs, cand), tau = 0.0)
      .localCheckpoint() // one verification pass, ten thresholds
    val spine = spark.range(0, 10)
      .select((lit(0.5) + col("id") * 0.05).as("tau"))
    spine.join(pairs, col("jac") >= col("tau"), "left")
      .groupBy(col("tau"))
      .agg(count(col("jac")).as("n_pairs"),
        countDistinct(col("id_b")).as("n_removable"))
      .select(round(col("tau"), 2).as("tau"), col("n_pairs"),
        col("n_removable"))
      .orderBy(col("tau"))
  }

  /** Number of MinHash hash functions (= band count × rows per band). */
  val MinhashK = 12
  val Bands = 4
  val RowsPerBand = MinhashK / Bands

  /** Per-document MinHash signature: for each of k seeded hash functions,
    * the lexicographic min of `md5(seed || '|' || shingle)` — one explode
    * + one groupBy with k map-side-combinable `min` aggregates. The
    * hashing runs on the codegen'd per-row path with partial aggregation;
    * the equivalent in-row `array_min(transform(...))` form measured ~5x
    * slower here because higher-order functions evaluate through
    * interpreted lambdas per element. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = shingles(docs)
    val aggs = (0 until MinhashK).map(k =>
      min(md5(concat(lit(s"mh$k|"), col("s")))).as(s"h$k"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing at least one of the `Bands` band
    * hashes (md5 of the concatenated band rows). Output is distinct
    * (id_a < id_b) pairs with the count of agreeing bands. */
  def lshCandidates(spark: SparkSession, dir: String): DataFrame =
    lshCandidatesOf(minhashSignatures(Tables.documents(spark, dir)))

  /** [[lshCandidates]] over an existing signature frame — callers that
    * also probe signatures (q_minhash_acc) pass one checkpointed build
    * instead of paying the shingle+signature pipeline twice. */
  def lshCandidatesOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { bnd =>
      val rows = (0 until RowsPerBand).map(r => col(s"h${bnd * RowsPerBand + r}"))
      md5(concat_ws("|", rows: _*)).as(s"b$bnd")
    }
    val banded = sig.select(col("doc_id") +: bandCols: _*)
    val exploded = banded.select(col("doc_id"),
      posexplode(array((0 until Bands).map(bnd => col(s"b$bnd")): _*))
        .as(Seq("band_idx", "band_hash")))
      // materialize the banded table (4 small rows per doc) before the
      // self-join: the two join sides are not exchange-reused, so an
      // un-materialized lineage runs the whole shingle+signature pipeline
      // TWICE — the dominant cost of this query
      .localCheckpoint()
    // same Generate-undersizing hazard as jaccardPairs: force a shuffle
    // join on the band key, never a broadcast of the exploded signatures
    val a = exploded.hint("shuffle_hash").as("a"); val b = exploded.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every 8-char gram of
    * the document, slide a window of 6 hashes, keep each window's min —
    * guaranteeing any match of length >= 13 chars shares a fingerprint —
    * then summarize the selected fingerprint set per document. Pure
    * column algebra: position explode + one window min per doc; md5-hex
    * lexicographic mins so the SQL oracle reproduces selections exactly. */
  def winnowSummary(spark: SparkSession, dir: String,
      k: Int = 8, w: Int = 6): DataFrame = {
    // ENTIRELY IN-ROW (round 11): winnowing is a per-document sliding
    // minimum over that document's own char-gram hashes — nothing about
    // it needs other rows, so the explode + doc-partitioned window
    // spelling (5·10⁹ exploded rows and a full-stream exchange carrying
    // 32-byte hex at sf100 ≈ 350 GB) was pure shuffle waste, and is
    // exactly what DNF'd the sf100 rung ("No space left on device" with
    // 66 GB free). The naive in-row fix — md5 inside `transform(...)` —
    // trades the exchange for the interpreted-lambda path and measured
    // 60 s at sf0.1 vs 3.3 s exploded. [[graft.functions.WinnowPrints]]
    // keeps both properties: native md5 + O(np) deque sliding-min in
    // ONE codegen'd expression, zero exchanges before the presentation
    // sort. Values are bit-identical to the relational spelling (the
    // oracle SQL is unchanged; WinnowSpec pins equality to the window
    // form). */
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("np", length(col("text")) - (k - 1))
      // a doc needs at least one full window (length >= k+w-1) to emit a
      // fingerprint; shorter docs would only do dead hashing work
      .filter(col("np") >= w)
    docs
      .select(col("doc_id"),
        graft.functions.WinnowPrints(spark, col("text"), k, w).as("wp"))
      .select(col("doc_id"), col("wp.n_prints").as("n_prints"),
        col("wp.min_print").as("min_print"),
        col("wp.max_print").as("max_print"))
      .orderBy(col("doc_id"))
  }

  /** The full dedup pipeline, composed the way it runs at 100 TB:
    * (1) LSH proposes candidate pairs (equi-join on band hashes — cheap),
    * (2) exact Jaccard verifies ONLY the candidates (never all pairs),
    * (3) verified duplicates' higher doc_ids are dropped via a left-anti
    * join, keeping the canonical (lowest-id) document of each dup set.
    * Returns the surviving documents. */
  def dedupSurvivors(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // candidates are small by construction and read three times (both
    // pair columns + the id set) — materialize once
    val cand = lshCandidates(spark, dir).select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // restrict to candidate documents BEFORE the gram lambda and any
    // shuffle: the broadcast semi-join prunes the doc rows map-side, so
    // shingling, the card window and the verify exchanges carry only the
    // candidate slice, not the whole corpus; materialized because
    // verifyPairs reads the stream as BOTH join sides (left lazy, the
    // split+gram+explode+window pipeline executes once per side)
    val sh = withCard(
      shingles(docs.join(broadcast(ids), Seq("doc_id"), "left_semi")))
      .localCheckpoint(eager = false)
    // LSH candidates are the bounded set by construction — broadcast them
    // so verification stays map-side against the shingle stream
    val verified = verifyPairs(broadcast(cand), sh, tau)
    docs.join(verified.select(col("id_b").as("dup_id")),
        col("doc_id") === col("dup_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination check: training documents sharing at least
    * `minShared` distinct word `n`-grams with any document of the
    * benchmark set (here: doc_id < `benchMax` — in production, the eval
    * suites). The benchmark side is intrinsically small and is broadcast,
    * so the scan over the training corpus stays map-side: shingle, hash
    * against the broadcast set, aggregate matches — no shuffle of the
    * corpus at any scale. The n-gram length trades recall for precision
    * exactly like winnowing's k; 5-grams + a count floor suppress
    * single-collision noise on a shared-vocabulary corpus. */
  def contamination(spark: SparkSession, dir: String, n: Int = 5,
      benchMax: Long = 10L, minShared: Long = 3L): DataFrame = {
    val sh = spread(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(shingleArray(col("text"), n)).as("s"))
    val bench = sh.filter(col("doc_id") < benchMax)
      .select(col("doc_id").as("bench_doc"), col("s"))
    val train = sh.filter(col("doc_id") >= benchMax)
    train.join(broadcast(bench), "s")
      .groupBy(col("doc_id").as("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("train_doc"), col("bench_doc"))
  }

  /** Span-level decontamination: for EVERY training document, the
    * exact length of its longest token span that also appears verbatim
    * anywhere in the benchmark set (doc_id < `benchMax`) — the
    * contamination-severity signal behind Lee et al. 2022's
    * substring-dedup cut, where [[contamination]] only answers the
    * Boolean "shares ≥ k n-grams". A 30-token verbatim GSM8K answer and
    * three coincidental 5-grams both trip the Boolean; only the span
    * length separates them.
    *
    * Two exact sub-searches, both corpus-shuffle-free:
    *
    *  1. spans ≥ `seed` (8): any such span starts at a train/bench
    *     position pair sharing an 8-gram, so seed-gram equality join +
    *     in-row LCP extension over the ORIGINAL token arrays (offset
    *     lambda — no suffix slices materialize anywhere) and a per-doc
    *     max is exact. The benchmark's seed grams and its raw docs are
    *     both broadcast (benchmarks are intrinsically small — the same
    *     contract as [[contamination]]), so the
    *     train side is one streaming pass: explode → broadcast-probe →
    *     LCP → map-side-combined max. Pair volume is Σ_g cntTrain(g) ·
    *     cntBench(g) ≤ |bench positions| · max-gram-frequency — linear
    *     in the corpus for a bounded benchmark.
    *  2. spans < `seed`: per L in 1..7, train L-grams semi-joined with
    *     the broadcast distinct bench L-grams; max matching L per doc.
    *     One explode of positions × 7 widths, constant per-row work.
    *
    * Returns every train doc: (doc_id, n_tokens, max_contam_span),
    * 0 = provably clean at token granularity. */
  def decontamSpans(spark: SparkSession, dir: String, benchMax: Long = 100L,
      seed: Int = 8): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    decontamSpansOf(
      docs.filter(col("doc_id") >= benchMax),
      docs.filter(col("doc_id") < benchMax), seed)
  }

  private def gramAt(t: Column, i: Column, l: Column): Column =
    concat_ws(" ", slice(t, i, l))

  /** The spans-≥-seed half of [[decontamSpans]]: per train doc, the max
    * shared span found by seed-gram pairing + in-row LCP extension.
    * Stateless up to ONE per-doc max aggregation, so `train` may be a
    * STREAMING DataFrame (the live contamination monitor — a running
    * per-doc severity that tightens as batches arrive; StreamDecontam-
    * Spec pins the streamed census to this batch output). Returns
    * (doc_id, long_span). */
  def decontamLongSpans(train: DataFrame, bench: DataFrame,
      seed: Int = 8): DataFrame =
    decontamPairs(train, bench, seed)
      .groupBy(col("doc_id")).agg(max(col("span")).as("long_span"))

  /** The shared pair stream of the ≥-seed search: one row per seeded
    * (train position, bench position) match, reduced to the span it
    * certifies — (doc_id, pa, span). */
  private def decontamPairs(train: DataFrame, bench: DataFrame,
      seed: Int): DataFrame = {
    val benchSeeds = bench
      .select(col("doc_id").as("bench_doc"), col("t"), col("n"),
        posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("bench_doc"), col("t"), col("n"), (col("p0") + 1).as("pb"))
      .filter(col("pb") + seed - 1 <= col("n"))
      .select(gramAt(col("t"), col("pb"), lit(seed)).as("g"),
        col("bench_doc"), col("pb"))
    val benchDocs = bench
      .select(col("doc_id").as("bench_doc"), col("t").as("tb"),
        col("n").as("nb"))
    // exact prefilter: a position can start a bench-matching gram only
    // if its first token occurs in the benchmark at all — the benchmark
    // vocabulary is broadcast-sized, and the filter runs BEFORE any
    // gram string is built (the dominant per-row cost; at sf100 it cut
    // the pass from 370 s to the token-scan floor on a corpus whose
    // replicas share no vocabulary with the benchmark)
    val benchVocab = bench.select(explode(col("t")).as("tok")).distinct()
    val trainSeeds = train
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(col("t")).as(Seq("p0", "tok")))
      .join(broadcast(benchVocab), Seq("tok"), "left_semi")
      .select(col("doc_id"), col("t"), col("n"), (col("p0") + 1).as("pa"))
      .filter(col("pa") + seed - 1 <= col("n"))
      .withColumn("g", gramAt(col("t"), col("pa"), lit(seed)))
    // LCP over the original arrays by offset: never slices a suffix
    val m = (least(col("n") - col("pa"), col("nb") - col("pb")) + 1)
      .cast("long")
    val eqs = transform(sequence(lit(0L), m - 1), j =>
      element_at(col("t"), (col("pa") + j).cast("int")) ===
        element_at(col("tb"), (col("pb") + j).cast("int")))
    val p = array_position(eqs, false)
    trainSeeds
      .join(broadcast(benchSeeds), Seq("g"))
      .join(broadcast(benchDocs), Seq("bench_doc"))
      .select(col("doc_id"), col("pa").cast("long").as("pa"),
        when(p === 0, m).otherwise(p - 1).as("span"))
  }

  /** Contaminated intervals, one row per seeding position: (doc_id,
    * pa, e) — tokens pa..e of the train doc appear verbatim in the
    * benchmark. The union of these intervals is EXACTLY the token set
    * inside some shared span ≥ seed (every such span seeds at each of
    * its start positions). */
  def decontamIntervals(train: DataFrame, bench: DataFrame,
      seed: Int = 8): DataFrame =
    decontamPairs(train, bench, seed)
      .groupBy(col("doc_id"), col("pa"))
      .agg(max(col("span")).as("l"))
      .filter(col("l") >= seed)
      .select(col("doc_id"), col("pa"), (col("pa") + col("l") - 1).as("e"))

  /** Span-level decontamination EXCISION — the rewrite form of
    * [[decontamSpans]] (what q_span_scrub is to q_dup_spans): every
    * train token covered by a shared-with-benchmark span ≥ `seed` is
    * cut; emits the cleaned text plus exact removal accounting. The
    * interval set is [[decontamIntervals]] (bounded by the CONTAMINATED
    * mass, not the corpus); the rebuild is an in-row filter after one
    * per-doc interval collect, so clean docs pass through untouched —
    * the only corpus-scale exchange is the (doc, position) interval
    * aggregate. */
  def decontamScrub(spark: SparkSession, dir: String, benchMax: Long = 100L,
      seed: Int = 8): DataFrame = {
    val docs = spread(Tables.documents(spark, dir))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    val bench = docs.filter(col("doc_id") < benchMax)
    val train = docs.filter(col("doc_id") >= benchMax)
    val ivs = decontamIntervals(train, bench, seed)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("pa"), col("e"))).as("ivs"))
    // n >= 1 guard: sequence(1, 0) infers step -1 and yields [1, 0] —
    // an empty token array would grow two phantom null tokens and a
    // negative n_removed. Unreachable on split-of-non-null text (never
    // empty), but the rebuild must not depend on that upstream detail.
    val toks = when(col("n") >= 1,
      transform(sequence(lit(1L), col("n").cast("long")),
        j => struct(j.as("j"), element_at(col("t"), j.cast("int")).as("tok"))))
      .otherwise(array().cast("array<struct<j:bigint,tok:string>>"))
    val kept = filter(toks, s =>
      !exists(col("ivs"), iv =>
        s("j") >= iv("pa") && s("j") <= iv("e")))
    train.join(ivs, Seq("doc_id"), "left")
      .withColumn("ivs", coalesce(col("ivs"),
        array().cast("array<struct<pa:bigint,e:bigint>>")))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        (col("n").cast("long") - size(kept)).as("n_removed"),
        array_join(transform(kept, s => s("tok")), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** [[decontamSpans]] over explicit `(doc_id, t, n)` frames. */
  def decontamSpansOf(train: DataFrame, bench: DataFrame,
      seed: Int = 8): DataFrame = {
    val long8 = decontamLongSpans(train, bench, seed)
    // --- spans < seed: per-width bench gram membership -----------------
    val widths = (1 until seed).map(_.toLong)
    val benchSmall = bench
      .select(posexplode(col("t")).as(Seq("p0", "tok")),
        col("t"), col("n"))
      .select((col("p0") + 1).as("pb"), col("t"), col("n"),
        explode(array(widths.map(lit): _*)).as("l"))
      .filter(col("pb") + col("l") - 1 <= col("n"))
      .select(col("l"), gramAt(col("t"), col("pb"), col("l")).as("g"))
      .distinct()
    // same exact first-token prefilter as decontamLongSpans: the
    // width-explode and gram strings only build for positions whose
    // first token exists in the benchmark vocabulary
    val benchVocab = bench.select(explode(col("t")).as("tok")).distinct()
    val small = train
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(col("t")).as(Seq("p0", "tok")))
      .join(broadcast(benchVocab), Seq("tok"), "left_semi")
      .select(col("doc_id"), col("t"), col("n"), (col("p0") + 1).as("pa"),
        explode(array(widths.map(lit): _*)).as("l"))
      .filter(col("pa") + col("l") - 1 <= col("n"))
      .select(col("doc_id"), col("l"),
        gramAt(col("t"), col("pa"), col("l")).as("g"))
      .join(broadcast(benchSmall), Seq("l", "g"), "left_semi")
      .groupBy(col("doc_id")).agg(max(col("l")).as("small_span"))
    train.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(long8, Seq("doc_id"), "left")
      .join(small, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        greatest(coalesce(col("long_span"), lit(0L)),
          coalesce(col("small_span"), lit(0L))).as("max_contam_span"))
      .orderBy(col("doc_id"))
  }

  /** 16-bit SimHash over the document's distinct tokens. Bit p is set
    * when, summing +1/−1 per token according to the p-th hex nibble's
    * high bit of `md5(token)`, the total is positive. Identical-fingerprint
    * groups are the dedup candidates. */
  def simhash(text: Column): Column = {
    // hash each distinct token ONCE; the 16 bit-votes then read one hex
    // nibble each from the precomputed digest (16x fewer md5 calls)
    val hashes = transform(array_distinct(split(text, " ")), t => md5(t))
    val bits = (1 to 16).map { p =>
      val votes = aggregate(
        hashes,
        lit(0),
        (acc, h) => acc +
          when(substring(h, p, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1))
      when(votes > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** SimHash collision groups (identical 16-bit fingerprints). */
  def simhashGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // see shingles()
      .groupBy(simhash(col("text")).as("simhash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("simhash"), col("keep_id"), col("n_docs"))
      .orderBy(col("simhash"))

  /** Engine-portable Bloom filter + exact false-positive census — the
    * replayable complement to the native BloomFilterAggregate used by
    * q_incremental_bloom (whose bit layout is Spark-internal and
    * therefore only rows-checkable). Here the filter IS a DataFrame:
    * k md5-derived positions per key (the repo's portable hash family),
    * the bit set is `SELECT DISTINCT pos` over the member keys, and a
    * probe passes iff all k of its positions are present. Train = even
    * doc fingerprints, probes = odd — the corpus is exactly-clean
    * (DedupSpec), so every probe hit is a FALSE POSITIVE by
    * construction, and the census compares the measured FP rate to the
    * load-factor theory (bits_set/m)^k computed from the SAME exact
    * integers (no e^-formula, no libm pow — multiplied out).
    *
    * Scale shape: one projection + k-explode per side, one distinct on
    * positions (≤ m rows — the filter is m-bounded no matter the
    * corpus), one broadcast-able join of probes against the bit set.
    * This is how you ship a bloom BETWEEN engines at 100 TB: the bit
    * set is rows, not an opaque binary blob. */
  def bloomFpr(spark: SparkSession, dir: String, m: Long = 65536L,
      k: Int = 3): DataFrame = {
    def posArr(fp: org.apache.spark.sql.Column) = array((1 to k).map { j =>
      conv(substring(md5(concat(lit(s"bf$j|"), fp)), 1, 8), 16, 10)
        .cast("long") % m
    }: _*)
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    val bits = fps.filter(col("doc_id") % 2 === 0)
      .select(explode(posArr(col("fp"))).as("pos")).distinct()
      .localCheckpoint(eager = false) // the count and the probe join read it
    val probeRows = fps.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), explode(posArr(col("fp"))).as("pos"))
    val perProbe = probeRows
      .join(bits.withColumn("hit", lit(1)), Seq("pos"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_present"))
    val nTrain = fps.filter(col("doc_id") % 2 === 0)
      .agg(count(lit(1)).as("n_train"))
    val nProbes = perProbe.agg(count(lit(1)).as("n_probes"))
    val nBits = bits.agg(count(lit(1)).as("bits_set"))
    val nFp = perProbe.filter(col("n_present") === k)
      .agg(count(lit(1)).as("fp_count"))
    val md = m.toDouble
    val loadC = col("bits_set").cast("double") / md
    nTrain.crossJoin(nProbes).crossJoin(nBits).crossJoin(nFp)
      .select(col("n_train"), col("n_probes"), col("bits_set"), col("fp_count"),
        round(col("fp_count").cast("double") / col("n_probes").cast("double"), 6)
          .as("fp_rate"),
        round(loadC, 6).as("load"),
        // theoretical FP = load^k for the k probe positions (the k-fold
        // product, not a hardcoded cube — the oracle replays k = 3)
        round(Seq.fill(k)(loadC).reduce(_ * _), 6).as("fp_theory"))
  }

  /** SimHash estimator-accuracy census — the [[simhashGroups]] family's
    * q_minhash_acc twin: on a fixed probe slice, every pair's 16-bit
    * fingerprint Hamming distance against its EXACT distinct-token
    * Jaccard, bucketed by distance. The SimHash guarantee is that
    * fingerprint bits disagree with probability proportional to the
    * angle between token sets, so mean Jaccard must fall monotonically
    * as Hamming grows — this census is the one-look table that says
    * whether a 16-bit fingerprint separates your corpus's similarity
    * range BEFORE you trust identical-fingerprint dedup with it.
    *
    * Probe slice is fixed-size, so the pair space is C(probes, 2) at
    * any SF — census cost does not grow with the corpus (the fingerprint
    * pass it evaluates does, linearly). Per-pair Jaccard quantizes to
    * 1e-6 integers before the bucket mean, engine-portable. */
  def simhashAccuracy(spark: SparkSession, dir: String,
      probes: Long = 100L): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") < probes)
      .select(col("doc_id"), simhash(col("text")).as("sig"),
        array_distinct(split(col("text"), " ")).as("toks"))
      .localCheckpoint(eager = false) // both pair sides read it
    val a = base.select(col("doc_id").as("ida"), col("sig").as("siga"),
      col("toks").as("ta"))
    val b = base.select(col("doc_id").as("idb"), col("sig").as("sigb"),
      col("toks").as("tb"))
    a.join(b, col("ida") < col("idb"))
      .select(
        graft.functions.StrHamming(spark, col("siga"), col("sigb")).as("hamming"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double") * 1e6)
          .cast("long").as("jq"))
      .groupBy(col("hamming"))
      // mean gated in 1e-6 BIGINT units: round(Σjq/n) — a 6dp DOUBLE
      // gate here sat on exact half-way ties (scanner-verified)
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jq")).cast("double") / count(lit(1))).cast("long")
          .as("mean_jacc_q6"))
      .orderBy(col("hamming"))
  }

  /** Embedding-cosine near-duplicate pairs, blocked on `label` (the
    * pre-clustering key) so the pair space is per-block, not global.
    * The cosine is exact; blocking is what scales it.
    *
    * The pair probe is a shuffled-hash equi-join ON the block key — the
    * same shape as [[semanticDedup]]: after co-location each task's
    * build side is exactly one label's bucket, so the corpus-sized build
    * side a broadcast (or the Generate-undersized plan Catalyst would
    * pick alone) needs never materializes. A label-only key caps
    * parallelism at #labels (10 here — a third of the cores idle, and
    * the BENCH_sf1 run showed it), so the join key is SALTED: the probe
    * side takes one deterministic salt per row, the build side
    * replicates to every salt — each qualifying pair still meets exactly
    * once (at the probe row's salt), per-task build memory stays one
    * label's bucket, and parallelism becomes #labels × S. At 100 TB the
    * block key is the finer IVF/LSH cluster id (see semanticDedup),
    * which grows with the corpus and makes the salt unnecessary.
    * PlanSpec asserts no BroadcastExchange appears in this plan. */
  def embeddingNearDups(spark: SparkSession, dir: String, tau: Double = 0.35,
      salts: Int = 8): DataFrame = {
    val e = Similarity.vecs(spark, dir) // norms precomputed once per vector
    // the hint rides the RIGHT side: build-side choice follows it there
    val a = e.withColumn("salt", pmod(col("vec_id"), lit(salts))).as("a")
    val b = e.withColumn("salt",
        explode(array((0 until salts).map(lit): _*)))
      .hint("shuffle_hash").as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.salt") === col("b.salt") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(Similarity.cosinePrenormed(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6))
      .filter(col("cos") >= tau)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then look for
    * near-duplicates ONLY within a cluster — pairwise work drops from
    * O(n²) to O(n²/k), and k grows with the corpus so each cluster's
    * pair-join stays bounded at 100 TB. Clustering reuses
    * [[Similarity.ivfAssign]] (deterministic first-`nlist` seed
    * centroids, broadcast assignment — the corpus never shuffles by
    * cluster); a vector is DROPPED when a lower-id member of its own
    * cluster has cosine ≥ `tau`, so exactly one representative (the min
    * id) survives each greedy duplicate chain.
    *
    * Returns every vector: (vec_id, centroid_id, keep ∈ {0,1}). The
    * pair probe SHUFFLES both sides on `centroid_id` (shuffled-hash
    * equi-join on the cluster id): after co-location each task's build
    * side is exactly one cluster's bucket — the corpus-sized build side
    * a broadcast self-join would need never materializes, which is what
    * makes this shape survive a 100 TB corpus. Parallelism is bounded by
    * `nlist`, which SemDeDup grows with the corpus (50k clusters at
    * LAION scale), so the shuffle stays wide where it matters. */
  def semanticDedup(spark: SparkSession, dir: String, nlist: Int = 8,
      tau: Double = 0.35): DataFrame = {
    // materialize the assignment once: it feeds BOTH sides of the pair
    // probe plus the final keep-join, and exchange reuse does not fire
    // reliably across self-join sides under AQE — un-checkpointed, the
    // whole broadcast-assign pipeline ran three times
    val asg = Similarity.ivfAssign(spark, dir, nlist)
      .select(col("vec_id"), col("centroid_id"), col("v"), col("nrm"))
      .localCheckpoint()
    val a = asg.as("a")
    val b = asg.select(col("vec_id").as("b_vec_id"),
      col("centroid_id").as("b_centroid_id"), col("v").as("b_v"),
      col("nrm").as("b_nrm"))
    // round-then-compare mirrors the oracle exactly (6-dp cosine is the
    // cross-engine-stable value; the raw double is not a contract)
    // the hint must ride the RIGHT side: a left-semi join can only build
    // its hash table from the right, so a left-side hint is ignored with
    // a warning and the planner falls back to its own choice
    val dropped = a.join(b.hint("shuffle_hash"),
        col("a.centroid_id") === col("b_centroid_id") &&
        col("b_vec_id") < col("a.vec_id") &&
        round(Similarity.cosinePrenormed(
          col("a.v"), col("b_v"), col("a.nrm"), col("b_nrm")), 6) >= tau,
        "left_semi")
      .select(col("vec_id"))
    // drop-list broadcast is bounded by the DUPLICATE count, not the
    // corpus; at a dup rate where this outgrows the broadcast limit,
    // swap to .hint("shuffle_hash") on the same join
    asg.select(col("vec_id"), col("centroid_id"))
      .join(broadcast(dropped.withColumn("is_dup", lit(1L))), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("is_dup").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Incremental exact dedup: admit only new-batch (delta) documents
    * whose content hash is unseen in history, electing one survivor
    * (min doc_id) per hash WITHIN the delta too. The history side is its
    * distinct-hash INDEX, not the corpus — in a lakehouse that index is
    * a maintained side table, so a 100 TB history costs one narrow-column
    * scan (here) or nothing (maintained), and only the delta is ever
    * shuffled at full width. The anti-join and the survivor election
    * share the same hash key, so the delta shuffles once. History/delta
    * are split by a deterministic doc_id band to stay reproducible. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
    val historyIndex = docs.filter(col("doc_id") % 10 < 8)
      .select(col("content_md5")).distinct()
    val delta = docs.filter(col("doc_id") % 10 >= 8)
    delta.join(historyIndex, Seq("content_md5"), "left_anti")
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select(col("doc_id"), col("content_md5"), col("n_dups"))
      .orderBy(col("doc_id"))
  }

  /** [[incrementalDedup]] with a bloom prefilter on the history index —
    * the shape the anti-join takes once history holds billions of keys.
    * The plain form shuffles the ENTIRE delta into the anti-join; here a
    * bloom of the index (native `BloomFilterAggregate`, bounded bytes,
    * maintained alongside the index in a real lakehouse) splits the delta
    * map-side: rows the bloom has never seen are new WITH CERTAINTY (no
    * false negatives) and skip the join entirely; only the ~dup fraction
    * plus the bloom's false-positive mass pays the exact anti-join. The
    * output is bit-identical to [[incrementalDedup]] by construction —
    * same oracle SQL gates both. */
  def incrementalDedupBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Blooms
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
    val historyIndex = docs.filter(col("doc_id") % 10 < 8)
      .select(col("content_md5")).distinct()
    // the collected bloom is bounded by the ITEM BUDGET we set, never by
    // data volume — the same contract as a broadcast dim, and the same
    // bytes Spark's own runtime row-level filtering ships to executors
    val bloomBytes = historyIndex
      .agg(Blooms.agg(spark, xxhash64(col("content_md5")), 1L << 20).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val delta = docs.filter(col("doc_id") % 10 >= 8)
      .withColumn("maybe_seen", Blooms.mightContain(spark,
        lit(bloomBytes), xxhash64(col("content_md5"))))
    val definitelyNew = delta.filter(!col("maybe_seen")).drop("maybe_seen")
    val maybeSeen = delta.filter(col("maybe_seen")).drop("maybe_seen")
      .join(historyIndex, Seq("content_md5"), "left_anti")
    definitelyNew.unionByName(maybeSeen)
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select(col("doc_id"), col("content_md5"), col("n_dups"))
      .orderBy(col("doc_id"))
  }

  /** Incremental FUZZY dedup — the near-dup twin of [[incrementalDedup]]
    * and the shape a production crawl refresh runs: screen only the
    * DELTA against the history's MinHash LSH band index, verify
    * candidates exactly, and admit delta docs with no verified history
    * near-dup. History contributes its band index (`Bands` narrow rows
    * per doc — a maintained side table at scale, like the hash index of
    * the exact form) plus the shingle sets of only the CANDIDATE history
    * docs (map-side semi-join prune before any shuffle, the
    * [[dedupSurvivors]] idiom). The delta — the only side read at full
    * width — is banded fresh and probes the index on the band key;
    * candidate volume is bounded by delta size × dup rate, so the
    * verify-side broadcasts stay bounded by construction (at a dup rate
    * where they outgrow the limit, swap the hints to shuffle_hash — the
    * [[semanticDedup]] note). Output: every delta doc with its best
    * verified history match (max jaccard, min history id on ties) and
    * the admit flag. */
  def incrementalDedupFuzzy(spark: SparkSession, dir: String,
      tau: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % 10 >= 8
    def banded(d: DataFrame): DataFrame = {
      val sig = minhashSignatures(d)
      val bandCols = (0 until Bands).map { bnd =>
        val rows = (0 until RowsPerBand).map(r => col(s"h${bnd * RowsPerBand + r}"))
        md5(concat_ws("|", rows: _*)).as(s"b$bnd")
      }
      sig.select(col("doc_id") +: bandCols: _*)
        .select(col("doc_id"),
          posexplode(array((0 until Bands).map(b => col(s"b$b")): _*))
            .as(Seq("band_idx", "band_hash")))
    }
    val histIdx = banded(docs.filter(!isDelta)) // maintained at scale
    val deltaIdx = banded(docs.filter(isDelta))
    // candidates are read three times (id prune + both verify columns) —
    // materialize once, like dedupSurvivors' candidate slice
    val cand = deltaIdx.hint("shuffle_hash").as("d")
      .join(histIdx.as("h"),
        col("d.band_idx") === col("h.band_idx") &&
          col("d.band_hash") === col("h.band_hash"))
      .select(col("h.doc_id").as("id_a"), col("d.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint()
    val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // prune-before-gram + materialize-for-both-sides, as dedupSurvivors
    val sh = withCard(
      shingles(docs.join(broadcast(ids), Seq("doc_id"), "left_semi")))
      .localCheckpoint(eager = false)
    val verified = verifyPairs(broadcast(cand), sh, tau) // id_a hist, id_b delta
    // best history match per delta doc: max jaccard, min id on ties —
    // one struct-max aggregate, no window
    val best = verified.groupBy(col("id_b").as("doc_id"))
      .agg(max(struct(col("jac"), (-col("id_a")).as("neg"))).as("m"))
      .select(col("doc_id"), (-col("m.neg")).as("first_dup"),
        col("m.jac").as("best_jac"))
    docs.filter(isDelta).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("first_dup"), col("best_jac"),
        when(col("first_dup").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Blocked sorted-neighborhood dedup — the third classic blocking
    * family next to LSH banding and prefix filtering: sort records on a
    * cheap key (here the text's 24-char prefix) and compare each record
    * only to its `w` predecessors in that order. The textbook form uses
    * ONE global sort — a single total order is exactly what does not
    * scale — so this blocks by `lang` first and sorts within the block:
    * the neighborhood window is a per-block `lag`, every block runs in
    * parallel, and nothing is ever globally ordered. (With finer blocks
    * — length buckets, key prefixes — the same shape carries a 100 TB
    * corpus; recall degrades only at block boundaries, the standard
    * trade of every blocking scheme.) Candidates are then verified with
    * exact token-set Jaccard in-row (array algebra, no shuffle beyond
    * the one sort). */
  def sortedNeighborhood(spark: SparkSession, dir: String,
      w: Int = 3, tau: Double = 0.5): DataFrame = {
    val win = Window.partitionBy(col("lang"))
      .orderBy(col("sk"), col("doc_id"))
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 24).as("sk"),
        array_distinct(split(col("text"), " ")).as("toks"))
    val withLags = (1 to w).foldLeft(base) { (df, k) =>
      df.withColumn(s"p$k", lag(col("doc_id"), k).over(win))
        .withColumn(s"t$k", lag(col("toks"), k).over(win))
    }
    val pairs = (1 to w).map { k =>
      withLags.filter(col(s"p$k").isNotNull)
        .select(col(s"p$k").as("id_a"), col("doc_id").as("id_b"),
          col(s"t$k").as("ta"), col("toks").as("tb"))
    }.reduce(_ unionAll _)
    pairs
      .withColumn("jac",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double"))
      .filter(col("jac") >= tau)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Generic drop-duplicates-keep-first on arbitrary key columns — the
    * upsert/dedup primitive the sink router uses (models the reference's
    * Cassandra last-write-wins PK semantics, SURVEY.md §1.1). */
  def keepLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
}
