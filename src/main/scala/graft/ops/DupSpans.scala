package graft.ops

import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Longest duplicated token span per document — the exact form of the
  * fixed-window approximation in
  * [[TextAnalysis.duplicatedSpans q_dup_spans]]: for each document, the
  * length of its longest token span that occurs at least twice anywhere
  * in the corpus (any document, including overlapping occurrences within
  * the same document) — the substring-dedup signal of Lee et al. 2022
  * (arXiv:2107.06499), which builds a suffix array for it.
  *
  * Distributed construction, suffix-array style by prefix doubling
  * (Manber–Myers): position `(doc, i)` carries an order-preserving rank
  * of its covered-length token prefix; one doubling round refines ranks
  * by the pair `(rank(i), rank(i+cover))` — the per-doc `lead` is a
  * window, and the re-ranking sorts only the DISTINCT pairs
  * (range-partitioned sort; ids composed from (partition, offset), so no
  * extra counting pass and never a global single-partition window).
  * In-loop ranks are SPARSE (order- and equality-preserving is all
  * doubling needs); the contiguous ranks the adjacency step wants are
  * assigned once at the end, over the distinct-suffix table only. Each
  * round is exactly one job: the tie metrics that drive termination ride
  * the round's `localCheckpoint` materialization as an `Observation`,
  * the same mechanism as the CC fixpoint in
  * [[Graph.connectedComponents]]. The loop stops as soon as every
  * remaining tie group is fully compared (identical suffixes stay tied
  * forever — equal content forces equal length, so `cover >=` their
  * length means they can never split).
  *
  * The answer then falls out of the classic suffix-array property: a
  * suffix's maximum LCP with any other suffix is attained at an adjacent
  * suffix in sorted order. Tie groups (identical suffixes) contribute
  * their full length directly; adjacent DISTINCT suffixes are compared
  * once per rank via one representative (so an exact-dup cluster of k
  * documents costs O(k), not O(k^2)), with the LCP computed in-row from
  * the two token arrays — documents are KB-sized by corpus contract, so
  * the per-pair scan is bounded and never shuffles.
  *
  * Scale shape: every round is O(positions) shuffle volume and the round
  * count is logarithmic in document length (not corpus size); lineage is
  * truncated per round. Nothing driver-side except the O(1) max-length
  * lookup and the per-round Observation scalars.
  */
object DupSpans {

  /** First-round prefix width: one window pass builds the 8-token key
    * directly, saving three doubling rounds over a single-token start. */
  private val Seed = 8

  def longestDupSpan(spark: SparkSession, dir: String): DataFrame = {
    // scale-adaptive rank path (guide §2: derive the shape from input
    // bytes, not a constant): under the threshold the whole positions
    // table fits one task comfortably, and the per-round distributed
    // rank machinery (distinct + range sort + id join — ~9 scheduler
    // jobs/round with AQE) costs far more than the data. The small path
    // runs each round as ONE single-partition window pass; above the
    // threshold the distributed path is unchanged. Both paths produce
    // identical ranks up to order-isomorphism, hence identical output
    // (DupSpansSpec pins equality).
    val small = graft.util.Staging.inputBytes(
      spark, s"$dir/documents.parquet") < (64L << 20)
    longestDupSpanFromDocs(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism), small)
  }

  /** [[longestDupSpan]] over an explicit `(doc_id, text)` table. */
  def longestDupSpanFromDocs(docsRaw: DataFrame,
      small: Boolean = false): DataFrame = {
    // ---- exact-dedup pre-pass -------------------------------------------
    // a document with an exact copy answers trivially (its full length),
    // and its suffixes are identical to the copy's — left in, those tie
    // groups would pin `maxTiedLen` at full document depth and force the
    // doubling loop to run to ceil(log2 maxN) rounds every time. Dedup
    // first (one content-hash shuffle, the same shape as q_dedup_exact),
    // run the suffix machinery over representatives only, and fold copies
    // back at the end. Span answers are unchanged: matching a removed
    // copy's content is the same as matching its representative's.
    val base = docsRaw.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .withColumn("h", md5(concat_ws(" ", col("t"))))
    // rep/copies as windows over the content hash: ONE exchange on h.
    // The groupBy(h)+join-back spelling shuffled the token arrays twice
    // (once into the join, once out) for the same answer.
    val wH = Window.partitionBy(col("h"))
    val withRep = base
      .withColumn("rep_id", min(col("doc_id")).over(wH))
      .withColumn("copies", count(lit(1)).over(wH))
      .select(col("doc_id"), col("t"), col("n"), col("rep_id"), col("copies"))
      .localCheckpoint() // read by the pipeline AND the final fold-back
    val docs = withRep.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("t"), col("n"))
    // bounded driver lookup: the doubling depth (like bpeLearn's one-row
    // collect, this is O(1) rows, not data)
    val maxN = docs.agg(max(col("n"))).head().getInt(0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    // small path: positions sorted globally by (doc_id, i) are contiguous
    // per doc, so the per-doc lead(k) equals the GLOBAL lead(k) masked by
    // i+k <= n — one single-partition window, no doc_id exchange
    val wg = Window.orderBy(col("doc_id"), col("i"))
    def leadIn(c: Column, k: Int): Column =
      if (small) when(col("i") + k <= col("n"), lead(c, k).over(wg))
      else lead(c, k).over(w)

    // ---- suffix ranks by prefix doubling --------------------------------
    // token alphabet remap: dense ids via a broadcast vocab join, so every
    // rank key from the seed onward is a long, not a string. The id order
    // is an arbitrary-but-fixed alphabet permutation — a suffix array
    // over a renamed alphabet has the same adjacency structure and the
    // same token-equality LCPs, which is all the answer depends on.
    // (Vocabulary plateaus by Heaps' law; if it ever outgrew broadcast
    // this becomes a plain shuffle join on the token.)
    val stream = docs
      .select(col("doc_id"), col("n"),
        posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("n"), col("tok"))
    val vocab = denseRankBy(stream.select(col("tok")).distinct(), col("tok"),
        small)
      .select(col("tok"), col("__nr").as("tid"))
    val ids = stream.join(broadcast(vocab), Seq("tok")).drop("tok")
    // seed rank: the first `Seed` token ids as one struct key. Beyond-doc-
    // end slots are null and nulls sort FIRST, so a proper prefix orders
    // before its extensions — matching list/array comparison on both
    // engines (the -1L sentinel plays the same role in later rounds).
    // (A wider small-path seed — 16/32 tokens to skip 1-2 doubling
    // rounds — was measured a wash at sf0.1: the wider struct key makes
    // every comparison in the seed round's two sorts proportionally
    // more expensive. Kept at 8 on both paths.)
    val seedW = Seed
    val seeded = (1 until seedW)
      .foldLeft(ids)((d, k) =>
        d.withColumn(s"tk$k", leadIn(col("tid"), k)))
    // per-round checkpoint blocks are corpus-sized; once the next round
    // materializes, the previous round's positions block is dead weight
    // in the block manager — free it (the FINAL round's block survives:
    // the adjacency step below still reads it)
    // blocks are tracked DIRECTLY (the checkpointed frame's LogicalRDD),
    // never by set-diffing sc.getPersistentRDDs: on a shared context a
    // registry diff would claim any RDD another thread persisted in the
    // window and later evict someone else's cache — and an unpersisted
    // localCheckpoint block is unrecoverable
    var liveRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    def trackedRank(df: DataFrame, keys: Seq[String],
        round: Int): (DataFrame, RoundStats) = {
      val res = rankRound(df, keys, round, small)
      val created = checkpointRdds(res._1)
      liveRdds.foreach(_.unpersist(blocking = false))
      liveRdds = created
      res
    }
    var (pos, st) = trackedRank(seeded,
      "tid" +: (1 until seedW).map(k => s"tk$k"), round = -1)
    pos = pos.drop(("tid" +: (1 until seedW).map(k => s"tk$k")): _*)
    var cover = seedW.toLong
    var round = 0
    // a tie group can only still split if some member's suffix extends
    // past the compared prefix
    var done = st.noTies || st.maxTiedLen <= cover
    while (!done && cover < maxN) {
      val paired = pos.withColumn("r2",
        coalesce(leadIn(col("r"), cover.toInt), lit(-1L)))
      val (next, s) = trackedRank(paired, Seq("r", "r2"), round)
      pos = next.drop("r2")
      cover *= 2
      round += 1
      done = s.noTies || s.maxTiedLen <= cover
    }

    // ---- adjacent-LCP over the suffix order -----------------------------
    // contiguous ranks once, over the distinct-suffix table only; one
    // representative per distinct suffix — identical suffixes (cnt>1) are
    // duplicated at full length by definition
    val reps = denseRankBy(
        pos.groupBy(col("r"))
          .agg(min(struct(col("doc_id"), col("i"))).as("rep"),
            count(lit(1)).as("cnt")),
        col("r"), small)
      .select(col("r"), col("__nr").as("q"),
        col("rep.doc_id").as("rd"), col("rep.i").as("ri"), col("cnt"))
      .localCheckpoint() // read three times below
    // LCP of adjacent distinct suffixes, TWO-PHASE (the honest-bench
    // fix: materializing every rep's FULL suffix slice shuffled
    // O(Σ suffix lengths) ≈ (avg doc len / 2)× the corpus token volume
    // and dominated the sf10 wall clock). Phase 1 compares bounded
    // Seed-token prefixes — an 8× corpus volume instead of ~65× — and
    // is EXACT for every pair whose LCP < Seed (the first mismatch is
    // inside the window) and for every pair where one suffix ends
    // within Seed (a proper prefix; lcp = its full length). Only pairs
    // tied through the whole window — positions inside a >= Seed-token
    // shared run, the duplicated mass itself — go to phase 2, which
    // joins the two full token arrays and scans from offset Seed.
    val pref = reps
      .join(docs.select(col("doc_id").as("rd"), col("t")), Seq("rd"))
      .select(col("q"), col("rd"), col("ri"),
        slice(col("t"), col("ri"),
          least(lit(Seed), size(col("t")) - col("ri") + 1)).as("p8"))
    // MATERIALIZED with l8 computed once: left lazy, the shallow/deep
    // branch filters referencing l8 get pushed into the self-join as a
    // join CONDITION — the interpreted zip_with LCP then evaluates per
    // candidate row inside a SortMergeJoin, the pref⋈pref join runs once
    // per Union branch, and the plan carries 16 copies of the expression
    // (measured: 162 CPU-seconds on a 261k-position corpus, the single
    // hottest stage of the query). Checkpointing cuts the lineage so l8
    // is computed once per adjacent pair in a Project, and both branches
    // read the narrow materialized rows (7 ints/longs, no token arrays).
    val adj = pref.as("a")
      .join(pref.withColumn("q", col("q") - 1).as("b"), Seq("q"))
      .select(col("q"),
        col("a.rd").as("rda"), col("a.ri").as("ria"),
        col("b.rd").as("rdb"), col("b.ri").as("rib"),
        lcp(col("a.p8"), col("b.p8")).as("l8"),
        size(col("a.p8")).as("la"), size(col("b.p8")).as("lb"))
      .localCheckpoint(eager = false)
    val deepNeeded = col("l8") === Seed &&
      col("la") === Seed && col("lb") === Seed
    val shallow = adj.filter(!deepNeeded)
      .select(col("q"), col("l8").as("lcp"))
    val deep = adj.filter(deepNeeded)
      .select(col("q"), col("rda"), col("ria"), col("rdb"), col("rib"))
      .join(docs.select(col("doc_id").as("rda"), col("t").as("ta")), Seq("rda"))
      .join(docs.select(col("doc_id").as("rdb"), col("t").as("tb")), Seq("rdb"))
      .select(col("q"), (lit(Seed) + lcp(
        slice(col("ta"), col("ria") + Seed,
          greatest(size(col("ta")) - col("ria") - (Seed - 1), lit(0))),
        slice(col("tb"), col("rib") + Seed,
          greatest(size(col("tb")) - col("rib") - (Seed - 1), lit(0)))))
        .as("lcp"))
    // two readers below (d_next and d_prev joins); materialize the
    // narrow (q, lcp) rows instead of running shallow∪deep twice
    val lcpNext = shallow.unionByName(deep).localCheckpoint(eager = false)

    val d = pos
      .join(reps.select(col("r"), col("q"), col("cnt")), Seq("r"))
      .join(lcpNext.select(col("q"), col("lcp").as("d_next")), Seq("q"), "left")
      .join(lcpNext.select((col("q") + 1).as("q"), col("lcp").as("d_prev")),
        Seq("q"), "left")
      .select(col("doc_id"), greatest(
        when(col("cnt") > 1, (col("n") - col("i") + 1).cast("long"))
          .otherwise(lit(0L)),
        coalesce(col("d_next"), lit(0L)),
        coalesce(col("d_prev"), lit(0L))).as("d"))
      .groupBy(col("doc_id")).agg(max(col("d")).as("max_dup_span"))

    // fold exact-dup copies back: every member of a multi-copy group is
    // duplicated at full length by definition; singletons take their
    // representative's (= their own) computed span
    withRep.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        col("rep_id"), col("copies"))
      .join(d.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("copies") > 1, col("n_tokens"))
          .otherwise(coalesce(col("max_dup_span"), lit(0L))).as("max_dup_span"))
      .orderBy(col("doc_id"))
  }

  private case class RoundStats(noTies: Boolean, maxTiedLen: Long)

  /** One ranking round: order-preserving SPARSE rank of the key (rank =
    * range-partition id composed with the in-partition offset — one
    * materialization job over the DISTINCT keys, no counting pass),
    * group sizes carried so the termination metrics ride the same
    * job's Observation. Returns the re-ranked frame (rank in `r`,
    * checkpointed) plus the round's stats.
    *
    * (An in-place variant — full-table range sort + a streaming rank
    * pass per sorted partition — was measured strictly worse at sf10:
    * 226 s vs ~140 s; the per-row Row round-trip and the full-table
    * range sort cost more than the distinct-key sort + hash join they
    * replaced. The join formulation stays.) */
  private def rankRound(df: DataFrame, keyCols: Seq[String],
      round: Int, small: Boolean): (DataFrame, RoundStats) = {
    if (small) return rankRoundSmall(df, keyCols, round)
    val spark = df.sparkSession
    val keyed = df.withColumn("__k", struct(keyCols.map(col): _*))
    // materialized BEFORE the range sort: orderBy's partitioner runs a
    // sampling job over its child, which would otherwise re-execute the
    // whole window+groupBy lineage a second time per round
    val grouped = keyed.groupBy(col("__k")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    val scratch = checkpointRdds(grouped)
    val outSchema = StructType(
      grouped.schema.fields :+ StructField("__r", LongType, nullable = false))
    val ranked = spark.createDataFrame(
      grouped.orderBy(col("__k")).rdd.mapPartitionsWithIndex { (p, it) =>
        // 2^40 rows per partition / 2^23 partitions headroom; ordering
        // across partitions follows the range partitioner
        it.zipWithIndex.map { case (row, j) =>
          Row.fromSeq(row.toSeq :+ ((p.toLong << 40) | j.toLong)) }
      }, outSchema)
    val obs = Observation(s"sa_round_${round}_${System.identityHashCode(df)}")
    val next = keyed.join(ranked, Seq("__k"))
      .drop("__k").drop("r")
      .withColumnRenamed("__r", "r")
      .observe(obs, max(col("__cnt")).as("maxc"),
        max(when(col("__cnt") > 1, col("n") - col("i") + 1)).as("maxtied"))
      .localCheckpoint()
    val noTies = obs.get("maxc").asInstanceOf[Long] == 1L
    val maxTied = Option(obs.get("maxtied"))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    // the distinct-key block is dead once `next` is materialized
    scratch.foreach(_.unpersist(blocking = false))
    (next.drop("__cnt"), RoundStats(noTies, maxTied))
  }

  /** Small-corpus ranking round: ONE single-partition window pass —
    * `dense_rank` over the key order is the order-preserving rank, the
    * per-key `count` feeds the same termination metrics, and nothing
    * shuffles beyond the one standing single-partition exchange. Below
    * the smallBytes threshold this replaces the distributed round's
    * distinct + range sort + id join (~9 scheduler jobs with AQE) with
    * one job; the ranks differ only by order-isomorphism, which the
    * doubling algebra is invariant to. */
  private def rankRoundSmall(df: DataFrame, keyCols: Seq[String],
      round: Int): (DataFrame, RoundStats) = {
    val ord = Window.orderBy(keyCols.map(col): _*)
    val part = Window.partitionBy(keyCols.map(col): _*)
    val obs = Observation(s"sa_round_${round}_${System.identityHashCode(df)}")
    val next = df
      .withColumn("__cnt", count(lit(1)).over(part))
      .withColumn("__r", dense_rank().over(ord).cast("long"))
      .drop("r").withColumnRenamed("__r", "r")
      .observe(obs, max(col("__cnt")).as("maxc"),
        max(when(col("__cnt") > 1, col("n") - col("i") + 1)).as("maxtied"))
      .localCheckpoint()
    val noTies = obs.get("maxc").asInstanceOf[Long] == 1L
    val maxTied = Option(obs.get("maxtied"))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    (next.drop("__cnt"), RoundStats(noTies, maxTied))
  }

  /** The persisted RDDs backing a localCheckpoint()ed frame — read off
    * the frame's own LogicalRDD leaves, so unpersisting them can never
    * touch blocks some other query on the shared context owns. */
  private def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Token-LCP of two suffix arrays, in-row: zip the length-aligned
    * slices, find the first mismatch position. O(min len) per pair,
    * bounded by the KB-document contract. */
  private def lcp(sa: Column, sb: Column): Column = {
    val m = least(size(sa), size(sb))
    val eqs = zip_with(slice(sa, lit(1), m), slice(sb, lit(1), m),
      (x, y) => x === y)
    val p = array_position(eqs, lit(false))
    when(p === 0, m.cast("long")).otherwise(p - 1)
  }

  /** Distributed dense rank of `key`: sort the DISTINCT keys (a
    * range-partitioned exchange) and number them with `zipWithIndex`
    * (order-preserving across partitions), then map ranks back with an
    * equi-join. Never a single-partition global window. Adds `__nr`.
    * Used once, over the distinct-suffix table. */
  private def denseRankBy(df: DataFrame, key: Column,
      small: Boolean): DataFrame = {
    // small path: one single-partition window; 1-based dense_rank shifted
    // to match zipWithIndex's 0-based numbering (offset only — adjacency
    // q/q±1 arithmetic is translation-invariant, but keep paths aligned)
    if (small)
      return df.withColumn("__nr",
        dense_rank().over(Window.orderBy(key)).cast("long") - 1)
    val spark = df.sparkSession
    val keyed = df.withColumn("__dk", key)
    val distinct = keyed.select(col("__dk")).distinct()
    val outSchema = StructType(
      distinct.schema.fields :+ StructField("__nr", LongType, nullable = false))
    val ranked = spark.createDataFrame(
      distinct.orderBy(col("__dk")).rdd.zipWithIndex()
        .map { case (row, idx) => Row.fromSeq(row.toSeq :+ idx) },
      outSchema)
    keyed.join(ranked, Seq("__dk")).drop("__dk")
  }
}
