package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k against a query vector —
  *     the correctness baseline. One broadcast of the query, one scan,
  *     one window top-k. At 100 TB this is a full scan but embarrassingly
  *     parallel and shuffle-free until the final k-row reduction.
  *   - [[ivfTopK]]: IVF-style ANN — vectors are bucketed by nearest
  *     centroid once (the expensive part, amortized across queries), a
  *     query probes only `nprobe` buckets. Centroid assignment and probe
  *     selection are deterministic, so results are testable; recall vs.
  *     brute force is asserted in SimilaritySpec.
  *
  * The pairwise hot path (dot/norm/cosine) is the native codegen'd
  * [[graft.functions.VecDot]] expression; the remaining vector math
  * (hyperplane signatures) stays `zip_with`/`aggregate` higher-order
  * functions — cold path, one evaluation per vector, not per pair.
  */
object Similarity {

  /** Sum of elementwise products — the codegen'd [[graft.functions.VecDot]]
    * expression (tight primitive loop, no intermediate zipped array, no
    * interpreted lambdas). Same left-to-right accumulation as the HOF form
    * it replaced, so results are bit-identical. Callers must have run
    * [[graft.GraftExtensions.install]] on the session (every public query
    * shape here does via [[vecs]]). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed-norm pair: identical doubles to [[cosine]]
    * (same expressions, same evaluation order), but the O(d) norm work is
    * done once per VECTOR rather than once per PAIR — the difference
    * between O(n·d) and O(n²·d) work in pairwise queries. */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Embeddings as `array<double>` with the L2 norm materialized. */
  def vecs(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.install(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** Exact top-k by cosine against the embedding of `queryId` (excluded
    * from results). The 1-row query side is broadcast. */
  def bruteForceTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
    rankTopK(scored, k)
  }

  /** Global top-k without a global shuffle: orderBy+limit compiles to
    * TakeOrderedAndProject (per-partition top-k, k-row reduction at the
    * driver side of the exchange); the rank window then runs over only k
    * rows. A bare `row_number() OVER ()` would instead move EVERY scored
    * row to one task. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.partitionBy().orderBy(col("cos").desc, col("vec_id"))))
      .select(col("rnk"), col("vec_id"), col("cos"))
      .orderBy(col("rnk"))

  /** Batch ANN: exact top-`k` per query for a SET of query vectors in
    * ONE corpus scan — the retrieval shape of dedup-candidate lookup and
    * eval-suite contamination probes, where queries arrive thousands at
    * a time and per-query scans would each cost a full pass.
    *
    * The bounded query set broadcasts; every corpus row scores against
    * all queries map-side; the per-query top-k runs through the custom
    * [[graft.plans.TopKPerKey]] operator, whose PARTIAL pass prunes to k
    * rows per query per task BEFORE the shuffle — so the exchange
    * carries O(tasks × queries × k) rows, not the full n × queries score
    * matrix a window form would sort and shuffle. The k-row-per-query
    * result then ranks with a trivially small window. */
  def batchTopK(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 3): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.filter(col("vec_id") >= nQueries)
      .join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .select(col("query_id"), col("vec_id"), col("cos"))
    graft.plans.Graft.topKPerKey(scored, Seq("query_id"),
        Seq(("cos", true), ("vec_id", false)), k)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .select(col("query_id"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Random-hyperplane LSH signatures (SimHash for vectors): bit p is
    * the sign of v·h_p where hyperplane h_p's component d is a
    * deterministic pseudo-random weight derived from `md5("hp<p>|<d>")`
    * (first hex nibble mapped to 1..16, centered at 8.5). Vectors
    * sharing a signature land in one bucket — the LSH-bucketed ANN path
    * complementing IVF. Fully deterministic, so the SQL oracle
    * reproduces every signature. */
  def hyperplaneSignature(v: Column, planes: Int = 8): Column = {
    require(planes <= 32, "one md5 digest supplies at most 32 plane nibbles")
    val hexPos = map(
      "0123456789abcdef".zipWithIndex.flatMap { case (c, idx) =>
        Seq(lit(c.toString), lit((idx + 1).toDouble))
      }: _*)
    // ONE digest per dimension; plane p reads nibble p (the same
    // one-digest-many-nibbles trick as Dedup.simhash — `planes`x fewer
    // md5 calls on the scan's hot path)
    val digests = transform(sequence(lit(1), size(v)), d =>
      md5(concat(lit("hp|"), d.cast("string"))))
    val bits = (1 to planes).map { p =>
      val weights = transform(digests, h =>
        element_at(hexPos, substring(h, p, 1)) - 8.5)
      val dotP = aggregate(zip_with(v, weights, (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
      when(dotP > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Bucket census over the hyperplane signatures: vectors per bucket
    * with the canonical (min) member — the index a query probes. Empty
    * embeddings carry no signal and are excluded (mirrors the oracle,
    * whose unnest drops them). */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .filter(size(col("v")) > 0)
      // single-small-file inputs would otherwise run the md5-heavy
      // signature projection on ONE task (see Dedup.shingles); no-op at
      // scale where inputs are many files
      .repartition(spark.sparkContext.defaultParallelism)
      .groupBy(hyperplaneSignature(col("v")).as("sig"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("sig"))

  /** Mutual k-NN graph over the embedding corpus — the graph-based
    * curation primitive (SemDeDup pruning, cluster balancing, and
    * graph-dedup all start from a neighbor graph): per-node census of
    * LSH-bucket candidates, directed top-k neighbors, and MUTUAL edges
    * (a ∈ knn(b) ∧ b ∈ knn(a) — the reciprocity filter that separates
    * genuine near-neighbors from hub attraction).
    *
    * Scale shape: candidates come from shared hyperplane-LSH buckets
    * (cost Σ|bucket|², never the n² all-pairs), cosine reuses the
    * prenormed codegen'd dot, the per-node top-k runs through the
    * partial-below-the-shuffle [[graft.plans.TopKPerKey]] operator, and
    * the mutuality check is a self-semi-join of the n·k-bounded edge
    * list on the reversed key — every stage is keyed, nothing is
    * driver-side. Nodes in singleton buckets surface with zero degrees
    * (left joins from the vector spine). */
  /** `truncate=false` keeps the full lineage in one plan (the intermediates
    * recompute per consumer) — ONLY for plan inspection in PlanSpec; the
    * production default materializes the signature pass and the n·k edge
    * list once each, since three consumers read them. */
  /** Expected-bucket-size target for the k-NN candidate LSH: planes =
    * min p with 2^p · KnnBucketTarget ≥ n keeps E[|bucket|] ≤ target as
    * the corpus grows, so the candidate volume Σ|bucket|² stays ≈
    * n · target — LINEAR in n. A fixed plane count (the previous 8)
    * makes buckets grow ∝ n and candidates ∝ n², the scale-killer the
    * sf10 ladder exposed (12.9× per decade). The rule is exact integer
    * arithmetic (shiftleft + comparison), NOT ceil(log2(·)) — libm log2
    * differs across engines in the last ulp exactly at the power-of-two
    * boundaries where ceil flips. */
  val KnnBucketTarget = 32

  /** Hard per-bucket candidate cap. The plane rule bounds the EXPECTED
    * bucket size, but clustered corpora defeat any sign-LSH's
    * expectation: the sf100 probe (chained scale-up noise shared within
    * a replica — the synthetic twin of template/boilerplate embeddings)
    * produced 100k-member buckets and 21.3e9 candidates at p = 16.
    * Capping each bucket's probe side to its `KnnBucketCap` smallest
    * vec_ids makes the worst case Σ|b|·min(|b|, C) ≤ C·n — linear BY
    * CONSTRUCTION, not in expectation (the FAISS list-truncation move).
    * Buckets under the cap are untouched, so well-hashed corpora see
    * identical output; a mega-bucket is exactly where single-bucket kNN
    * carries no signal anyway (|b| ≫ k), so truncating its probe list
    * costs recall only where the index was already the wrong tool. */
  val KnnBucketCap = 256

  /** The plane-count rule as pure Scala (spec replay). */
  def knnPlanes(n: Long, target: Int = KnnBucketTarget): Int =
    (1 to 32).find(p => (1L << p) * target >= n).getOrElse(32)

  /** Mutual-kNN graph with the bucket cap AND automatic multi-probe
    * compensation: a node whose own bucket saturates (|b| > cap) also
    * probes the Hamming-1 flip buckets — the recall remedy is wired in
    * by default, not a separate gate (round-10; the `when(bsz > cap)`
    * guard makes it a no-op on uncapped corpora, so healthy corpora pay
    * one extra bucket-size aggregate and nothing else — output
    * byte-identical, asserted in SimilaritySpec). */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 5,
      truncate: Boolean = true): DataFrame =
    knnGraphCore(spark, dir, k, KnnBucketCap, includeProbes = false,
      compensate = true, truncate = truncate)

  /** Multi-probe-compensated kNN graph, gated as q_knn_compensated: the
    * [[knnGraph]] pipeline with the recall remedy for exactly the rows
    * the probe cap hurts. The cap (see [[KnnBucketCap]]) makes worst-case
    * candidates linear by truncating a saturated bucket's probe list —
    * at the cost of neighbors past the truncation point. Compensation:
    * a node whose OWN bucket is saturated (|b| > cap) probes, in
    * addition to its own bucket's capped representatives, the capped
    * representatives of every Hamming-distance-1 bucket (one flipped
    * signature bit each — the [[multiProbeRecall]] machinery, Lv et al.
    * 2007). Nodes in healthy buckets are byte-identical to [[knnGraph]];
    * saturated nodes trade one bounded probe fan-out (1 + planes
    * buckets, each ≤ cap) for recovered neighbors on the far side of a
    * single hyperplane — where sign-LSH loses near neighbors first.
    *
    * Scale: candidates ≤ (1 + planes)·cap·n — still linear in n with
    * the plane count's log factor, under ANY distribution; probes are
    * generated in-row (bounded explode), candidates stay one
    * bucket-keyed equi-join, and the per-node top-k rides the same
    * partial-TopK operator. The gate pins cap=8 (not the production
    * 256) so the saturated path actually executes at gate scale; the
    * oracle replays the flip set and the cap bit-for-bit. */
  def knnGraphCompensated(spark: SparkSession, dir: String, k: Int = 5,
      cap: Int = 8): DataFrame =
    knnGraphCore(spark, dir, k, cap, includeProbes = true,
      compensate = true, truncate = true)

  /** Shared pipeline behind [[knnGraph]] and [[knnGraphCompensated]].
    * `compensate = false` exists ONLY so SimilaritySpec can build the
    * uncompensated twin for its recall A/B — production callers always
    * compensate (the guard is a per-node no-op on healthy buckets). */
  private[graft] def knnGraphCore(spark: SparkSession, dir: String, k: Int,
      cap: Int, includeProbes: Boolean, compensate: Boolean,
      truncate: Boolean): DataFrame = {
    // eager=false: lineage still truncates at first execution, but
    // CONSTRUCTION stays analysis-only (plan dumps and analysis-only
    // spec loops must not run two corpus-scale jobs as a side effect)
    def cp(df: DataFrame): DataFrame =
      if (truncate) df.localCheckpoint(eager = false) else df
    val base = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
    // one cheap count pass derives the plane count; the 32-bit signature
    // is cropped per row to that length (same nibble per plane as the
    // fixed-count signature, so outputs at the n where the rule gives 8
    // planes are bit-identical to the old gate)
    val tot = base.agg(count(lit(1)).as("n_tot"))
    val sv = cp(base
      .crossJoin(broadcast(tot))
      .withColumn("sig32", hyperplaneSignature(col("v"), 32))
      .withColumn("sig", expr(
        s"""substring(sig32, 1, coalesce(array_min(filter(sequence(1, 32),
           |  p -> shiftleft(1L, p) * $KnnBucketTarget >= n_tot)), 32))"""
          .stripMargin))
      .select(col("vec_id"), col("v"), col("nrm"), col("sig"))
    ) // one signature pass feeds buckets, probes, and the rhs
    val bsz = sv.groupBy(col("sig")).agg(count(lit(1)).as("bsz"))
    val rhs = sv.select(col("sig"), col("vec_id").as("b"),
        col("v").as("vb"), col("nrm").as("nb"))
      // deterministic per-bucket truncation (see KnnBucketCap): every
      // node still probes min(|bucket|, C) representatives
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("sig")).orderBy(col("b"))))
      .filter(col("rk") <= cap).drop("rk")
    // own bucket always; the planes single-bit flips only when saturated
    val probes = sv.join(bsz, "sig")
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(when(lit(compensate) && col("bsz") > cap,
          concat(array(col("sig")), expr(
            """transform(sequence(1, length(sig)), p -> concat(
              |  substring(sig, 1, p - 1),
              |  CASE WHEN substring(sig, p, 1) = '1' THEN '0' ELSE '1' END,
              |  substring(sig, p + 1, 32)))""".stripMargin)))
          .otherwise(array(col("sig")))).as("psig"))
    // a candidate's sig is unique, probe sigs are distinct strings —
    // each b matches at most one probe, so the join emits no duplicates
    val cand = probes.join(rhs, probes("psig") === rhs("sig"))
      .filter(col("vec_id") =!= col("b"))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("vb"), col("nrm"), col("nb")), 6))
      .select(col("vec_id").as("a"), col("b"), col("cos"))
    val nCand = cand.groupBy(col("a")).agg(count(lit(1)).as("n_cand"))
    val knn = cp(graft.plans.Graft.topKPerKey(cand, Seq("a"),
      Seq(("cos", true), ("b", false)), k))
    val mutual = knn.join(
      knn.select(col("a").as("b2"), col("b").as("a2")),
      col("a") === col("a2") && col("b") === col("b2"), "left_semi")
    val deg = knn.groupBy(col("a")).agg(count(lit(1)).as("knn_deg"),
        max(struct(col("cos"), (-col("b")).as("nb"))).as("m"))
      .select(col("a"), col("knn_deg"),
        (-col("m.nb")).as("nn_top"), col("m.cos").as("nn_top_cos"))
    val mdeg = mutual.groupBy(col("a")).agg(count(lit(1)).as("mutual_deg"))
    val base0 = sv.select(col("vec_id"))
    val out = (if (includeProbes)
        base0.join(probes.groupBy(col("vec_id"))
          .agg(count(lit(1)).as("n_probes")), Seq("vec_id"), "left")
      else base0)
      .join(nCand, col("vec_id") === nCand("a"), "left").drop("a")
      .join(deg, col("vec_id") === deg("a"), "left").drop("a")
      .join(mdeg, col("vec_id") === mdeg("a"), "left").drop("a")
    val cols = Seq(col("vec_id")) ++
      (if (includeProbes)
        Seq(coalesce(col("n_probes"), lit(0L)).as("n_probes")) else Nil) ++
      Seq(coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("knn_deg"), lit(0L)).as("knn_deg"),
        coalesce(col("mutual_deg"), lit(0L)).as("mutual_deg"),
        col("nn_top"), col("nn_top_cos"))
    out.select(cols: _*).orderBy(col("vec_id"))
  }

  /** Plane-count recall ladder, gated as q_plane_sweep: for each
    * candidate plane count p, the single-bucket recall@k of the
    * hyperplane index (how many exact top-k neighbors share the query's
    * p-bit prefix) against the candidate cost Σ|bucket|² — the measured
    * tradeoff curve behind [[KnnBucketTarget]]'s rule. Doubling the
    * bucket count halves expected candidates but drops single-probe
    * recall; this census is what picks the operating point BEFORE
    * committing a corpus to an index (the q_lsh_recall / q_probe_sweep
    * methodology applied to the plane axis; prefixes nest, so one
    * 32-bit signature pass serves every p).
    *
    * Scale: one signature projection; the exact top-k reuses the
    * broadcast-query ranking; the cost census is a two-level groupBy on
    * (p, prefix). Recall is gated as exact integer ppm (hits·1e6 DIV
    * (nQueries·k)) — counts and integer division only, no float. */
  def planeSweep(spark: SparkSession, dir: String, nQueries: Int = 8,
      k: Int = 10, planesList: Seq[Int] = Seq(4, 6, 8, 10, 12)): DataFrame = {
    // The q_plane_sweep oracle SQL replays these EXACT parameters
    // (nQueries, k, the plane list, and the nQueries*k recall
    // denominator are all inlined there); a non-default invocation would
    // silently diverge from the gate, so fail loudly instead.
    require(nQueries == 8 && k == 10 && planesList == Seq(4, 6, 8, 10, 12),
      s"planeSweep($nQueries, $k, $planesList) diverges from the " +
        "q_plane_sweep oracle, which inlines the defaults (8, 10, " +
        "[4,6,8,10,12]); regenerate the oracle SQL before changing them")
    val pArr = array(planesList.map(p => lit(p)): _*)
    val e = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("sig32", hyperplaneSignature(col("v"), 32))
      .localCheckpoint(eager = false) // one signature pass, three readers
    val corpus = e.filter(col("vec_id") >= nQueries)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig32").as("qsig"))
    val topk = corpus
      .join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
    val recall = topk
      .withColumn("planes", explode(pArr))
      .groupBy(col("planes"))
      .agg(sum(when(expr("substring(sig32, 1, planes)") ===
          expr("substring(qsig, 1, planes)"), 1L).otherwise(0L)).as("hits"))
      .withColumn("recall_ppm",
        expr(s"hits * 1000000L div ${nQueries.toLong * k}L"))
    val cost = corpus
      .withColumn("planes", explode(pArr))
      .groupBy(col("planes"), expr("substring(sig32, 1, planes)").as("pref"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("planes"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("cnt") * col("cnt")).as("candidate_sum_sq"),
        max(col("cnt")).as("max_bucket"))
    recall.join(cost, Seq("planes"))
      .select(col("planes").cast("long").as("planes"), col("hits"),
        col("recall_ppm"), col("n_buckets"), col("candidate_sum_sq"),
        col("max_bucket"))
      .orderBy(col("planes"))
  }

  /** LSH bucket-saturation census, gated as q_bucket_stats: the
    * monitoring face of [[KnnBucketCap]]. Per corpus, the bucket-size
    * distribution of the corpus-scaled signature (count, max, exact
    * median and p99 bucket size) and the saturation figures — how many
    * buckets exceed the probe cap and what fraction of the corpus sits
    * inside them. A rising saturation_ppm is the alarm that the
    * embedding corpus has template/boilerplate clusters the index
    * cannot separate (the sf100 probe's failure shape) and needs an
    * exact/semantic dedup pass BEFORE indexing — the diagnostic half of
    * the cap's remedy. Quantiles run over the BUCKET-SIZE histogram
    * (≤ distinct sizes rows — bounded), all outputs exact integers. */
  def bucketStats(spark: SparkSession, dir: String): DataFrame = {
    val base = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
    val tot = base.agg(count(lit(1)).as("n_tot"))
    val buckets = base.crossJoin(broadcast(tot))
      .withColumn("sig32", hyperplaneSignature(col("v"), 32))
      .withColumn("sig", expr(
        s"""substring(sig32, 1, coalesce(array_min(filter(sequence(1, 32),
           |  p -> shiftleft(1L, p) * $KnnBucketTarget >= n_tot)), 32))"""
          .stripMargin))
      .groupBy(col("sig")).agg(count(lit(1)).as("bsz"))
    val hist = buckets.groupBy(col("bsz")).agg(count(lit(1)).as("nb"))
      .withColumn("cum", sum(col("nb")).over(
        Window.orderBy(col("bsz"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint(eager = false) // totals + two quantile picks read it
    val totals = hist.agg(
      sum(col("nb")).as("n_buckets"),
      sum(col("nb") * col("bsz")).as("n_vecs"),
      max(col("bsz")).as("max_bucket"),
      sum(when(col("bsz") > KnnBucketCap, col("nb")).otherwise(0L))
        .as("n_saturated"),
      sum(when(col("bsz") > KnnBucketCap, col("nb") * col("bsz"))
        .otherwise(0L)).as("vecs_in_saturated"))
    def pick(q: Int): Column = {
      // smallest size with cumulative bucket count >= ceil(q·n/100)
      min(when(col("cum") * 100 >= col("n_buckets") * q, col("bsz")))
    }
    hist.crossJoin(broadcast(totals))
      .agg(first(col("n_buckets")).as("n_buckets"),
        first(col("n_vecs")).as("n_vecs"),
        first(col("max_bucket")).as("max_bucket"),
        pick(50).as("p50_bucket"),
        pick(99).as("p99_bucket"),
        first(col("n_saturated")).as("n_saturated"),
        first(col("vecs_in_saturated")).as("vecs_in_saturated"))
      .withColumn("saturation_ppm",
        expr("vecs_in_saturated * 1000000L div n_vecs"))
  }

  /** True per-label centroid vectors (the k-means "update" step — the
    * upgrade path for [[ivfAssign]]'s first-n seed centroids): elementwise
    * mean via posexplode + one grouped aggregation on (label, position).
    * Emitted as flat (label, pos, centroid) rows — at scale that IS the
    * storage layout (no giant array rows through the shuffle). */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("label"), (col("pos") + 1).as("pos"))
      .agg(round(avg(col("e").cast("double")), 6).as("centroid"))
      .orderBy(col("label"), col("pos"))

  /** Two-stage ANN over int8-quantized codes: every vector gets a
    * symmetric per-vector int8 code (q = round(127·x/max|x|)); stage 1
    * ranks the corpus by the INTEGER dot product of codes against the
    * query's codes — 16x less memory traffic than doubles, exact in
    * either engine because integer sums are order-independent — and
    * keeps the top `pool`; stage 2 reranks only the pool by exact
    * double cosine and emits the top k. The standard memory-bound
    * compression for billion-vector ANN; codes ride through the same
    * codegen'd vec_dot. */
  def quantizedTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, pool: Int = 30): DataFrame = {
    val e = vecs(spark, dir)
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q8", transform(col("v"), x =>
        when(col("ma") === 0, lit(0.0))
          .otherwise(round(x * 127.0 / col("ma")))))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("q8").as("qq8"), col("v").as("qv"), col("nrm").as("qnrm"))
    val pooled = e.filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .withColumn("qscore", dot(col("q8"), col("qq8")).cast("long"))
      .orderBy(col("qscore").desc, col("vec_id"))
      .limit(pool)
    pooled
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy().orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("vec_id"), col("cos"), col("qscore"))
      .orderBy(col("rnk"))
  }

  /** `iters` Lloyd (k-means) rounds from the deterministic first-`k`
    * seeds: assign every vector to its max-cosine centroid, recompute
    * each centroid as the elementwise mean of its members, repeat.
    * Returns the final (centroid_id, cv) centroid table.
    *
    * Scale shape per round: centroids are k×dim doubles — genuinely
    * tiny — so they are collected and re-broadcast each round (what
    * MLlib's KMeans does); assignment is a broadcast join + one window
    * top-1, the update one (centroid, position) aggregation. The corpus
    * never shuffles by cluster. Empty clusters keep their previous
    * centroid, so ids are stable and k never shrinks.
    *
    * SPEC-ONLY BY DESIGN (SimilaritySpec): double means never hash-match
    * across engines, so the oracle-gated twin [[kmeansQuantized]]
    * (q_ivf_kmeans) supersedes this for correctness gating; this variant
    * stays as the float-precision form a user would actually deploy. */
  def kmeansCentroids(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    var cents: Map[Long, Seq[Double]] = e.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().toMap
    for (_ <- 1 to iters) {
      val centsDf = cents.toSeq.map { case (id, v) => (id, v) }
        .toDF("centroid_id", "cv")
        .withColumn("cnrm", norm(col("cv")))
      val assigned = e.join(broadcast(centsDf))
        .withColumn("sim", cosinePrenormed(col("v"), col("cv"), col("nrm"), col("cnrm")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))))
        .filter(col("rnk") === 1)
      val updated = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"), transform(col("pm"), p => p.getField("m")).as("cv"))
        .as[(Long, Seq[Double])].collect().toMap
      cents = cents.map { case (id, v) => id -> updated.getOrElse(id, v) }
    }
    cents.toSeq.sortBy(_._1).toDF("centroid_id", "cv")
  }

  /** Lloyd k-means over integer-quantized vectors, exactly
    * reproducible on any engine: components quantize once to
    * `round(x * 1000)` (BIGINT), distances are integer squared-L2, and
    * each updated centroid component is `round(avg(q))` re-quantized to
    * BIGINT — so every iteration's state is integers, whose sums are
    * order-independent, making true multi-round k-means (not just the
    * first-n-seed stand-in of [[ivfAssign]]) oracle-checkable.
    *
    * Dataflow per round — long format (vec_id, pos, qx), not arrays:
    * assignment is corpus ⋈ broadcast(centroids) on `pos` followed by a
    * map-side-combinable sum to (vec_id, centroid_id) and a per-vector
    * top-1; the update is one groupBy(centroid_id, pos) avg. The corpus
    * never shuffles by cluster and centroids stay k×dim rows (tiny →
    * broadcast), the same shape MLlib uses. Empty clusters keep their
    * previous centroid, so ids are stable.
    *
    * Returns the final assignment (vec_id, centroid_id, dist2). */
  def kmeansQuantized(spark: SparkSession, dir: String,
      k: Int = 8, iters: Int = 2): DataFrame = {
    val ev = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "x")))
      .select(col("vec_id"), (col("p0") + 1).as("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("qx"))
      .localCheckpoint() // feeds every round twice; lineage must not grow
    def assign(cents: DataFrame): DataFrame =
      ev.join(broadcast(cents), "pos")
        .groupBy(col("vec_id"), col("centroid_id"))
        .agg(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("dist2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("dist2"), col("centroid_id"))))
        .filter(col("rnk") === 1)
        .select(col("vec_id"), col("centroid_id"), col("dist2"))
    var cents = ev.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("pos"), col("qx").as("cx"))
    for (_ <- 1 to iters) {
      val upd = assign(cents).select(col("vec_id"), col("centroid_id"))
        .join(ev, "vec_id")
        .groupBy(col("centroid_id"), col("pos"))
        .agg(expr("CAST(round(avg(qx)) AS BIGINT)").as("ux"))
      cents = cents.join(upd, Seq("centroid_id", "pos"), "left")
        .select(col("centroid_id"), col("pos"),
          coalesce(col("ux"), col("cx")).as("cx"))
        .localCheckpoint() // next round reads it for assign AND update
    }
    assign(cents).orderBy(col("vec_id"))
  }

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou et al. 2011, the FAISS `PQ` index), integer-exact end to end
    * so training, codes, and search are all oracle-checkable:
    *
    *  1. components quantize once to `round(x*1000)` BIGINT and each
    *     vector splits into `m` contiguous subvectors;
    *  2. per-subspace codebooks (`ksub` centroids each) train with one
    *     integer-exact Lloyd round from the first-`ksub` seeds — ALL
    *     subspaces in one dataflow (codebooks are m×ksub×dsub rows →
    *     broadcast), and the assignment aggregates straight to one row
    *     per (vector, subspace) via a ksub-way conditional-sum pivot +
    *     struct argmin, so the corpus stream is exchanged ONCE at
    *     (vector, subspace) grain — never per candidate, never through
    *     a rank window (the per-candidate spelling was the recorded
    *     sf100 bottleneck);
    *  3. every vector encodes to `m` 4-bit codes (nearest centroid
    *     per subspace, integer squared-L2, ties to the lower id) — the
    *     16x memory compression that makes billion-vector search fit;
    *  4. a query builds its ADC lookup table (m×ksub partial distances,
    *     broadcast) and scores the WHOLE corpus by code lookup + sum —
    *     one map-side-combinable aggregate over the codes table, never
    *     touching the original vectors;
    *  5. the ADC top-k is reranked-annotated with exact cosine (ordering
    *     stays by the integer ADC distance, so the row set and order are
    *     engine-exact).
    *
    * Returns (rnk, vec_id, adc_dist2, cos). Recall vs brute force is
    * asserted in SimilaritySpec. */
  def pqTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, m: Int = 32, ksub: Int = 16): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    // bounded driver lookup: the (fixed) embedding dimensionality
    val dim = raw.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // vectors NORMALIZE before quantization: on the unit sphere,
    // squared-L2 order equals cosine order (L2^2 = 2 - 2cos), so the ADC
    // ranking approximates the cosine ranking the exact queries use —
    // unnormalized PQ would rank by magnitude as much as by direction
    // spread before the explode: embeddings often land as ONE parquet
    // file = one scan task, and this checkpoint's dim-fold explode +
    // quantization was the query's hottest stage as a single task
    // (no-op at scale, where the file count already provides splits)
    val ev = vecs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("nrm"), posexplode(col("v")).as(Seq("p0", "x")))
      .select(col("vec_id"),
        (col("p0") / dsub).cast("int").as("sub"),
        (col("p0") % dsub).as("spos"),
        expr("CAST(round(x / nrm * 1000) AS BIGINT)").as("qx"))
      .localCheckpoint() // feeds train, encode, and the query LUT
    val c0 = ev.filter(col("vec_id") < ksub)
      .select(col("vec_id").as("centroid_id"), col("sub"), col("spos"),
        col("qx").as("cx"))
    // the ksub centroid ids actually seeded (vec_ids < ksub may have
    // gaps on an arbitrary corpus) — a bounded driver lookup like `dim`;
    // c1 keeps the same id set by construction
    val cids = c0.select(col("centroid_id")).distinct()
      .orderBy(col("centroid_id"))
      .collect().map(_.getLong(0))
    // degenerate seed set (no vec_id < ksub at all) would otherwise
    // surface as an opaque `aggs.head` crash at plan-build time
    require(cids.nonEmpty,
      s"PQ codebook seeding found no vec_id < ksub=$ksub in $dir/embeddings")
    // nearest codebook entry per (vector, subspace). The first spelling
    // here (groupBy (vec_id, sub, centroid) + row_number top-1) was the
    // recorded sf100 bottleneck: the broadcast join fans every component
    // row out ksub-fold, and BOTH the per-candidate aggregate and the
    // rank window exchange that ~2B-row stream (q_ann_pq 700 s at sf100,
    // 14x/decade — all spill). Instead, aggregate straight to ONE row
    // per (vec_id, sub) with a ksub-way conditional-sum pivot (the
    // candidate axis becomes columns, combined map-side before the only
    // exchange) and take the argmin as array_min over (d2, centroid_id)
    // structs — same integer distances, same lower-id tie-break, no
    // window, and the exchanged stream shrinks ksub*dsub-fold.
    // carrySub additionally rides each subvector's (spos, qx) pairs
    // through the pivot (collected once, on the first candidate row) so
    // the training update needs NO join back against the component
    // stream.
    def encode(cents: DataFrame, carrySub: Boolean): DataFrame = {
      // centroid axis folded into ONE broadcast array per (sub, spos)
      // (r12): the per-centroid-ROW spelling fanned every component row
      // ksub-fold through the join and pushed ksub× the rows into the
      // conditional-sum hash aggregate — the query's two hottest stages
      // (25 + 16 CPU-s at sf0.1). The 1:1 join computes the same ksub
      // squared distances in-row from the array (cxs is ordered by the
      // sorted `cids`, so d2_{cids(k)} sums the identical values) and
      // the aggregate sees the original component-row volume. Every
      // seed is a full vector, so each (sub, spos) carries all ksub
      // centroids and the sums match the fan-out form cell-for-cell.
      val centArr = cents.groupBy(col("sub"), col("spos"))
        .agg(transform(
          array_sort(collect_list(struct(col("centroid_id"), col("cx")))),
          s => s.getField("cx")).as("cxs"))
      val sums = cids.indices.map { k =>
        val d = col("qx") - element_at(col("cxs"), k + 1)
        sum(d * d).as(s"d2_${cids(k)}")
      }
      val carry =
        if (carrySub)
          Seq(collect_list(struct(col("spos"), col("qx"))).as("sv"))
        else Seq.empty
      val aggs = sums ++ carry
      // a candidate with NO overlapping (sub, spos) rows sums to NULL,
      // which sorts FIRST in the struct ordering and would elect a
      // centroid the vector never measured against — coalesce to +inf
      // so such candidates lose, matching the old row_number form that
      // simply never generated them
      val best = array_min(array(cids.map(c =>
        struct(coalesce(col(s"d2_$c"), lit(Long.MaxValue)).as("d2"),
          lit(c).as("cid"))): _*))
      ev.join(broadcast(centArr), Seq("sub", "spos"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(aggs.head, aggs.tail: _*)
        .select(Seq(col("vec_id"), col("sub"),
          best.getField("cid").as("centroid_id")) ++
          (if (carrySub) Seq(col("sv")) else Seq.empty): _*)
    }
    val upd = encode(c0, carrySub = true)
      .select(col("centroid_id"), col("sub"), explode(col("sv")).as("s"))
      .groupBy(col("centroid_id"), col("sub"), col("s.spos").as("spos"))
      .agg(expr("CAST(round(avg(s.qx)) AS BIGINT)").as("ux"))
    // empty codebook entries keep their seed, so ids stay stable
    val c1 = c0.join(upd, Seq("centroid_id", "sub", "spos"), "left")
      .select(col("centroid_id"), col("sub"), col("spos"),
        coalesce(col("ux"), col("cx")).as("cx"))
      .localCheckpoint() // read by encode AND the LUT below
    val codes = encode(c1, carrySub = false)
    // ADC lookup table: the query's partial distance to every codebook
    // entry — m*ksub rows, broadcast to score the corpus by lookup only
    val lut = ev.filter(col("vec_id") === queryId)
      .join(c1, Seq("sub", "spos"))
      .groupBy(col("sub"), col("centroid_id"))
      .agg(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("pd2"))
    val scored = codes.filter(col("vec_id") =!= queryId)
      .join(broadcast(lut), Seq("sub", "centroid_id"))
      .groupBy(col("vec_id"))
      .agg(sum(col("pd2")).as("adc_dist2"))
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(k)
    // exact-cosine annotation of the k winners (k rows; ordering and
    // membership remain the integer ADC ranking)
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    scored
      .join(e.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy().orderBy(col("adc_dist2"), col("vec_id"))))
      .select(col("rnk"), col("vec_id"), col("adc_dist2"), col("cos"))
      .orderBy(col("rnk"))
  }

  /** Deterministic IVF index: centroids are the embeddings of the first
    * `nlist` vec_ids (a stand-in for k-means at this scale); every vector
    * is assigned to its max-cosine centroid. Returns (vec_id, label, v,
    * centroid_id). */
  def ivfAssign(spark: SparkSession, dir: String, nlist: Int): DataFrame = {
    val e = vecs(spark, dir)
    val cents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    e.join(broadcast(cents))
      .withColumn("sim", cosinePrenormed(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("centroid_id"))
  }

  /** ANN top-k: probe the `nprobe` centroids nearest the query, search
    * only their buckets. The bucketed table would be written partitioned
    * by centroid_id at scale, making a probe a partition-pruned scan. */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, nlist: Int = 8, nprobe: Int = 2): DataFrame = {
    val assigned = ivfAssign(spark, dir, nlist)
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val cents = vecs(spark, dir).filter(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val probed = cents.join(broadcast(q))
      .withColumn("sim", cosinePrenormed(col("cv"), col("qv"), col("cnrm"), col("qnrm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy().orderBy(col("sim").desc, col("centroid_id"))))
      .filter(col("rnk") <= nprobe)
      .select(col("centroid_id"))
    val scored = assigned
      .join(broadcast(probed), "centroid_id")
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
    rankTopK(scored, k)
  }

  /** ANN index evaluation: recall of the hyperplane-LSH bucket index
    * against the exact cosine top-k, per query — the measurement that
    * decides whether an index's bucket count / plane count is adequate
    * BEFORE committing a 100 TB corpus to it. For each of the first
    * `nQueries` vectors: the exact top-k over the corpus (vec_id ≥
    * nQueries, the q_ann_batch convention), how many of those k land in
    * the query's own bucket (= what a 1-probe search would find), and
    * the bucket's candidate cost.
    *
    * Signatures are computed ONCE for corpus and queries in the same
    * projection; queries are a broadcast k-row side; the exact ranking
    * reuses the per-partition top-k shape. Evaluation is itself a
    * dataflow — no collected ranking lists on the driver. */
  def lshRecall(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val e = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("sig", hyperplaneSignature(col("v")))
    val corpus = e.filter(col("vec_id") >= nQueries)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    val hits = corpus
      .join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .groupBy(col("query_id"), col("qsig"))
      .agg(sum(when(col("sig") === col("qsig"), 1L).otherwise(0L)).as("hits"))
    val buckets = corpus.groupBy(col("sig").as("qsig"))
      .agg(count(lit(1)).as("n_candidates"))
    hits.join(buckets, Seq("qsig"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("hits"),
        round(col("hits") / lit(k.toDouble), 6).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Multi-probe LSH recall: candidates come from the query's own
    * bucket PLUS all 8 Hamming-distance-1 buckets (one flipped
    * signature bit each) — the standard remedy when q_lsh_recall /
    * q_ndcg show a plane count whose buckets are too fine (Lv et al.
    * 2007): near neighbors that fell one hyperplane to the other side
    * are recovered WITHOUT rebuilding the index or coarsening the
    * planes. Probe signatures are generated in-row (9 per query, a
    * bounded explode), candidates stay a bucket-keyed join, and the
    * output is row-compatible with [[lshRecall]] so the two gates
    * measure the same thing before/after. */
  def multiProbeRecall(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val e = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("sig", hyperplaneSignature(col("v")))
      .localCheckpoint()
    val corpus = e.filter(col("vec_id") >= nQueries)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    val probes = q.select(col("query_id"), explode(concat(
        array(col("qsig")),
        expr("""transform(sequence(1, 8), p -> concat(
                  substring(qsig, 1, p - 1),
                  CASE WHEN substring(qsig, p, 1) = '1' THEN '0' ELSE '1' END,
                  substring(qsig, p + 1, 8 - p)))""")))
      .as("probe"))
    val nCand = corpus.join(broadcast(probes), col("sig") === col("probe"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_candidates"))
    val top = corpus.join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("sig"))
    val hits = top.join(broadcast(probes),
        Seq("query_id")).filter(col("sig") === col("probe"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    q.select(col("query_id"))
      .join(nCand, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall", round(col("hits") / lit(k.toDouble), 6))
      .orderBy(col("query_id"))
  }

  /** Probe-budget sweep: cumulative recall@10 as a function of how many
    * buckets each query probes, in [[multiProbeRecall]]'s probe order
    * (own bucket, then the 8 single-bit flips) — the CURVE behind the
    * before/after pair, showing where extra probes stop paying (the
    * knee that sets the probe budget). Each true-top-10 member is
    * covered at probe 0 (same signature), at probe p (signatures differ
    * in exactly bit p), or never within a Hamming-1 sweep; the sweep is
    * then one tiny theta-join of the 9-row budget spine against the
    * queries×k covered table — all corpus-scale work stays in the one
    * scored pass. */
  def probeSweep(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val e = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("sig", hyperplaneSignature(col("v")))
      .localCheckpoint()
    val corpus = e.filter(col("vec_id") >= nQueries)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    val covered = corpus.join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .withColumn("cover", expr(
        """CASE WHEN sig = qsig THEN 0
           WHEN size(filter(sequence(1, 8),
               p -> substring(sig, p, 1) <> substring(qsig, p, 1))) = 1
           THEN element_at(filter(sequence(1, 8),
               p -> substring(sig, p, 1) <> substring(qsig, p, 1)), 1)
           ELSE NULL END"""))
      .select(col("query_id"), col("cover"))
    val spine = spark.range(0, 9).select(col("id").as("n_flips"))
    spine.join(covered, col("cover") <= col("n_flips"), "left")
      .groupBy(col("n_flips"))
      .agg(count(col("cover")).as("hits_total"))
      .select((col("n_flips") + 1).as("n_probes"), col("hits_total"),
        round(col("hits_total").cast("double") / lit((nQueries * k).toDouble), 6)
          .as("mean_recall"))
      .orderBy(col("n_probes"))
  }

  /** 1e6-scaled DCG position discounts round(1e6/log2(p+1)), p=1..10 —
    * baked as constants so DCG sums are pure integers (no libm in the
    * comparison path) and the oracle carries the same literals. */
  private val NdcgDiscounts: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  /** NDCG@10 of the LSH-bucket ANN arm against the exact-cosine ideal —
    * the rank-weighted upgrade of [[lshRecall]]'s set-overlap view (two
    * indexes with equal recall can rank the hits very differently; NDCG
    * is the number that decides which one serves retrieval). Graded
    * relevance rel = 11 − exact_rank for the true top-10, 0 otherwise;
    * system order = bucket candidates by (cos desc, vec_id). DCG/IDCG
    * accumulate rel·discount as exact BIGINTs over the constant
    * [[NdcgDiscounts]] table, so the only float is the final division.
    * All rankings run per query over the broadcast-query score table —
    * the same one-corpus-scan shape as lshRecall. */
  def lshNdcg(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    require(k == NdcgDiscounts.length, "discount table is @10")
    val e = vecs(spark, dir).filter(size(col("v")) > 0)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("sig", hyperplaneSignature(col("v")))
      .localCheckpoint() // one signature pass; scored twice below
    val corpus = e.filter(col("vec_id") >= nQueries)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    val scored = corpus.join(broadcast(q))
      .withColumn("cos", round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6))
      .localCheckpoint() // exact ranking and bucket ranking both read it
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val rel = scored
      .withColumn("xrnk", row_number().over(byQ))
      .filter(col("xrnk") <= k)
      .select(col("query_id"), col("vec_id"),
        (lit(k + 1) - col("xrnk")).cast("long").as("rel"))
    val disc = typedLit(NdcgDiscounts)
    val sys = scored.filter(col("sig") === col("qsig"))
      .withColumn("pos", row_number().over(byQ))
      .filter(col("pos") <= k)
      .select(col("query_id"), col("vec_id"),
        element_at(disc, col("pos")).as("d"))
    val idcg = NdcgDiscounts.zipWithIndex
      .map { case (d, i) => d * (k - i) }.sum // Σ (11-p)·d_p, exact
    val perQ = sys.join(rel, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ranked"),
        coalesce(sum(coalesce(col("rel"), lit(0L)) * col("d")), lit(0L))
          .as("dcg_q"))
    // singleton-bucket queries retrieve nothing: ndcg 0, not a dropout
    q.select(col("query_id")).join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("dcg_q"), lit(0L)).as("dcg_q"))
      .withColumn("ndcg",
        round(col("dcg_q").cast("double") / lit(idcg.toDouble), 6))
      .orderBy(col("query_id"))
  }

  /** Higher-order array-function surface over the embedding column:
    * transform / filter / exists / aggregate (fold) / zip_with /
    * array_max-min, all codegen'd Catalyst expressions evaluated inline
    * per row — a single projection pass over the scan, zero shuffle,
    * no UDFs. This is the vector feature-engineering shape (clipping,
    * energy, range checks) that at 100 TB must NOT leave the scan stage. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .select(
        col("vec_id"),
        size(col("v")).cast("long").as("dim"),
        size(filter(col("v"), _ > 0)).cast("long").as("n_pos"),
        round(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x), 6)
          .as("sum_sq"),
        round(aggregate(
            transform(col("v"), x => least(greatest(x, lit(-0.5)), lit(0.5))),
            lit(0.0), _ + _) / size(col("v")), 6)
          .as("clipped_mean"),
        exists(col("v"), x => abs(x) > lit(2.0)).as("has_big"),
        round(aggregate(zip_with(col("v"), reverse(col("v")), _ * _),
            lit(0.0), _ + _), 6)
          .as("self_conv"),
        round(array_max(col("v")) - array_min(col("v")), 6).as("rng"))
      .orderBy(col("vec_id"))

  /** Per-label mean silhouette score (centroid form): a = distance to
    * the own-label centroid, b = min distance to any other centroid,
    * s = (b−a)/max(a,b), averaged per label.
    *
    * Everything runs FLAT on (vec_id, label, pos) rows — centroids are
    * computed and joined as (label, pos, c) rows, never materialized as
    * array columns, so the shuffle carries scalars and the per-point ×
    * per-centroid distance matrix is one pos-keyed join + one grouped
    * sum. With L labels this is an L-fold expansion of the flat vectors
    * (L is tens, not millions) — the exact-pairwise silhouette's O(n²)
    * never appears. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val flat = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("xf").cast("double").as("x"))
    val cents = flat.groupBy(col("label").as("clabel"), col("pos"))
      .agg(avg(col("x")).as("c"))
    val d = flat.join(broadcast(cents), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d2"))
    val ab = d.groupBy(col("vec_id"), col("label"))
      .agg(
        sqrt(max(when(col("clabel") === col("label"), col("d2")))).as("a"),
        sqrt(min(when(col("clabel") =!= col("label"), col("d2")))).as("b"))
    ab.select(col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("s"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(avg(col("s")), 6).as("mean_sil"))
      .orderBy(col("label"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    * retrieve a bounded candidate pool by relevance, then greedily pick
    * k results trading relevance against redundancy —
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). The
    * diversity-aware retrieval face of the ANN family: RAG context
    * assembly and eval-set selection both need "top-k that aren't five
    * near-copies of the same document".
    *
    * Scale shape: the ONLY corpus-scale stage is the relevance top-N
    * (partial top-k below the shuffle, same as bruteForceTopK); the
    * greedy loop runs entirely on the N-row pool and its N² pairwise
    * sims — bounded by construction, never revisits the corpus. The
    * pool is lineage-truncated lazily: one corpus scan feeds the pair
    * build and all k rounds.
    *
    * Exactness: cosines quantize to 1e-6 integers after the repo's 6dp
    * round, so each greedy step compares exact integers
    * (mmrq = 7·relq − 3·maxsimq at λ = 0.7, 1e-7 units) with vec_id
    * tiebreak — the oracle unrolls the same k-step argmax chain. */
  def mmrRerank(spark: SparkSession, dir: String, queryId: Long = 0L,
      nCand: Int = 16, k: Int = 5): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val cand = e.filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .withColumn("relq", round(round(
        cosinePrenormed(col("v"), col("qv"), col("nrm"), col("qnrm")), 6) * 1e6)
        .cast("long"))
      .orderBy(col("relq").desc, col("vec_id")).limit(nCand)
      .select(col("vec_id"), col("v"), col("nrm"), col("relq"))
      .localCheckpoint(eager = false) // one corpus scan feeds pairs + k rounds
    val pairs = cand.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
      .join(cand.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")),
        col("a") =!= col("b"))
      .select(col("a"), col("b"), round(round(
        cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")), 6) * 1e6)
        .cast("long").as("simq"))
      .localCheckpoint(eager = false)
    var sel = cand.orderBy(col("relq").desc, col("vec_id")).limit(1)
      .select(lit(1).as("rnk"), col("vec_id"), col("relq"),
        (lit(7L) * col("relq")).as("mmrq"))
    for (t <- 2 to k) {
      val pen = pairs
        .join(sel.select(col("vec_id").as("b")), Seq("b"))
        .groupBy(col("a")).agg(max(col("simq")).as("mx"))
        .withColumnRenamed("a", "vec_id")
      val pick = cand.join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
        .join(pen, Seq("vec_id"))
        .withColumn("mmrq", lit(7L) * col("relq") - lit(3L) * col("mx"))
        .orderBy(col("mmrq").desc, col("vec_id")).limit(1)
        .select(lit(t).as("rnk"), col("vec_id"), col("relq"), col("mmrq"))
      sel = sel.union(pick).localCheckpoint(eager = false)
    }
    // gate the exact integers themselves: mmrq is in 1e-7 units, so a
    // 6dp DOUBLE gate (mmrq/1e7) half-ties whenever mmrq ≡ 5 (mod 10) —
    // a structural 1-in-10 hazard (scanner-verified)
    sel.select(col("rnk"), col("vec_id"),
      col("relq").as("rel_q6"), col("mmrq").as("mmr_q7"))
      .orderBy(col("rnk"))
  }

  /** Generated oracle for [[mmrRerank]]: one argmax CTE per greedy step. */
  def mmrRerankSql(queryId: Long = 0L, nCand: Int = 16, k: Int = 5): String = {
    val steps = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT $t AS rnk, c.vec_id, c.relq, 7 * c.relq - 3 * p.mx AS mmrq
         |  FROM cand c
         |  JOIN (SELECT a, max(simq) AS mx FROM pairs
         |        WHERE b IN (SELECT vec_id FROM sel${t - 1}) GROUP BY a) p
         |    ON p.a = c.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |  ORDER BY mmrq DESC, c.vec_id LIMIT 1),
         |sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST(round(round(list_cosine_similarity(
       |      CAST(embedding AS DOUBLE[]), q.qv), 6) * 1e6) AS BIGINT) AS relq
       |  FROM embeddings,
       |    (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |     WHERE vec_id = $queryId) q
       |  WHERE vec_id <> $queryId
       |  ORDER BY relq DESC, vec_id LIMIT $nCand),
       |pairs AS MATERIALIZED (
       |  SELECT ca.vec_id AS a, cb.vec_id AS b,
       |    CAST(round(round(list_cosine_similarity(
       |      CAST(ea.embedding AS DOUBLE[]),
       |      CAST(eb.embedding AS DOUBLE[])), 6) * 1e6) AS BIGINT) AS simq
       |  FROM cand ca JOIN embeddings ea ON ea.vec_id = ca.vec_id
       |  JOIN cand cb ON cb.vec_id <> ca.vec_id
       |  JOIN embeddings eb ON eb.vec_id = cb.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT 1 AS rnk, vec_id, relq, 7 * relq AS mmrq FROM cand
       |  ORDER BY relq DESC, vec_id LIMIT 1),
       |$steps
       |SELECT rnk, vec_id,
       |  CAST(relq AS BIGINT) AS rel_q6,
       |  CAST(mmrq AS BIGINT) AS mmr_q7
       |FROM sel$k ORDER BY rnk""".stripMargin
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003 sign
    * variant): y_j = Σ_i s(i,j)·x_i / √k with s ∈ {±1} drawn from a
    * DETERMINISTIC hash of (dimension, output index) — no RNG, so the
    * projection is reproducible across engines, epochs and resumes (the
    * property every downstream index/clustering job needs), and the
    * matrix is never materialized anywhere: each exploded (i, j) cell
    * recomputes its sign in-row.
    *
    * This is the pre-clustering reduction of the SemDeDup-style
    * pipeline: at 100 TB you project 1024-d embeddings to k≈64 before
    * k-means/LSH so the iterate-over-corpus stages move 16x fewer
    * bytes; JL guarantees pairwise distances distort by at most ~1/√k.
    *
    * Exactness shape: per-component contributions quantize to 1e-5
    * integers BEFORE the ±sum (a float sum of signed doubles is
    * partitioning-dependent; BIGINT sums are not), and the single
    * divide + round happens after — the oracle replays the identical
    * integer arithmetic. One explode (d·k rows per vector) feeding a
    * map-side-combinable groupBy; k and d are constants, so cost is
    * linear in vectors. */
  def jlProject(spark: SparkSession, dir: String, k: Int = 8,
      maxDim: Int = 256): DataFrame = {
    // the sign MATRIX is d·k cells — built once from the md5 hash the
    // sketch ops already use (engine-portable), broadcast everywhere;
    // never a per-(vector, cell) hash. A multiplicative mixer mod 2
    // would be cheaper but degenerate (parity of i+j), which is why the
    // hash is a real one.
    val signs = spark.range(maxDim).select(col("id").cast("int").as("i0"))
      .crossJoin(spark.range(k).select(col("id").as("j")))
      .withColumn("s",
        when(conv(substring(md5(concat_ws("|", lit("jl"), col("i0"), col("j"))),
          1, 8), 16, 10).cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
      .select(col("vec_id"), col("i0"),
        round(col("xf").cast("double") * 100000).cast("long").as("xq"))
      .join(broadcast(signs), Seq("i0"))
      .groupBy(col("vec_id"), col("j"))
      .agg(round(sum(col("xq") * col("s")) / 100000.0 /
        math.sqrt(k.toDouble), 6).as("y"))
      .orderBy(col("vec_id"), col("j"))
  }

  /** JL distortion census — the evaluation twin of [[jlProject]] (the
    * q_lsh_recall of this index family): exact pairwise L2² on a fixed
    * probe slice (vec_id < 200, all C(200,2) pairs) vs the projected
    * L2², bucketed by the distortion ratio. The JL lemma says the
    * buckets concentrate around 1.0 with spread ~1/√k — the one-look
    * table that tells you whether k is big enough BEFORE re-clustering
    * a corpus on the projection.
    *
    * Exactness: original distances are BIGINT sums over the same 1e-5
    * quantization as the projection; projected distances square the
    * already-6dp-rounded y. Probe slice is fixed-size, so the pair join
    * is C(200,2)·d rows at any SF — the census cost does not grow with
    * the corpus (the projection it evaluates does, linearly). */
  def jlDistortion(spark: SparkSession, dir: String, k: Int = 8,
      probes: Int = 200): DataFrame = {
    val cells = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < probes)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
      .select(col("vec_id"), col("i0"),
        round(col("xf").cast("double") * 100000).cast("long").as("xq"))
    val dorig = cells.select(col("vec_id").as("a"), col("i0"), col("xq"))
      .join(cells.select(col("vec_id").as("b"), col("i0"),
        col("xq").as("xq2")), Seq("i0"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("xq") - col("xq2")) * (col("xq") - col("xq2"))).as("d2q"))
    // y re-quantizes to 1e-6 integers before squaring: a float Σ over
    // the k terms would depend on partial-aggregation order and could
    // flip a ratio sitting on a bucket edge between engines
    val proj = jlProject(spark, dir, k).filter(col("vec_id") < probes)
      .select(col("vec_id"), col("j"), round(col("y") * 1e6).cast("long").as("yq"))
    val dproj = proj.select(col("vec_id").as("a"), col("j"), col("yq"))
      .join(proj.select(col("vec_id").as("b"), col("j"), col("yq").as("y2")),
        Seq("j"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("yq") - col("y2")) * (col("yq") - col("y2"))).as("p2q"))
    dorig.join(dproj, Seq("a", "b"))
      .filter(col("d2q") > 0)
      .select(((col("p2q") / 1e12) / (col("d2q") / 1e10)).as("ratio"))
      .select(least(lit(19L), floor(col("ratio") * 10).cast("long")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  /** IVF index maintenance: the decision procedure a deployed IVF
    * index runs when new data arrives — train on the BASE half of the
    * corpus, census how the DELTA half lands in those buckets, and
    * trigger a re-train when any bucket's occupancy share drifts past
    * `driftThresholdPpm` (the batch twin of the live occupancy feed in
    * [[graft.streaming.StreamIvf]]; IvfMaintenanceSpec asserts the
    * streaming census reproduces the batch one bit-for-bit and reaches
    * the same trigger decision).
    *
    * One report row per centroid: base/delta occupancy, each side's
    * share in ppm (integer division — engine-exact), the absolute
    * drift, the global trigger flag, and the post-maintenance occupancy
    * `n_post` — the full corpus re-assigned to the centroids one Lloyd
    * update (seeded from the stale ones) produces, i.e. what the index
    * looks like AFTER the maintenance the trigger demands. All
    * arithmetic is the integer-quantized algebra of [[kmeansQuantized]]
    * so every row is oracle-checkable.
    *
    * Scale shape: every assignment is corpus ⋈ broadcast(k·d centroid
    * cells) + a map-side-combinable sum — the corpus never shuffles by
    * cluster; the drift census and share windows run on k rows; driver
    * state is one scalar (the vec_id split point). Three linear corpus
    * passes (base train, delta census, full re-train+census), each
    * embarrassingly parallel — the same cost profile at 100 TB. */
  /** Integer nearest-centroid assignment over long-format quantized
    * vectors (vec_id, pos, qx) x centroids (centroid_id, pos, cx):
    * broadcast join + map-side-combinable distance sum + per-vector
    * top-1, lowest-id tiebreak — the shared kernel of every IVF op. */
  private def ivfAssignQuantized(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.join(broadcast(cents), "pos")
      .groupBy(col("vec_id"), col("centroid_id"))
      .agg(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))).as("dist2"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("dist2"), col("centroid_id"))))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("centroid_id"))

  /** One integer-exact Lloyd round: assign, average each cluster's
    * members (re-quantized to BIGINT), keep the previous centroid for
    * empty clusters so ids stay stable. */
  private def ivfLloydUpdate(corpus: DataFrame, cents: DataFrame): DataFrame =
    cents.join(
      ivfAssignQuantized(corpus, cents)
        .join(corpus, "vec_id")
        .groupBy(col("centroid_id"), col("pos"))
        .agg(expr("CAST(round(avg(qx)) AS BIGINT)").as("ux")),
      Seq("centroid_id", "pos"), "left")
      .select(col("centroid_id"), col("pos"),
        coalesce(col("ux"), col("cx")).as("cx"))

  /** The stale-index ingredients of [[ivfMaintenance]]: the base/delta
    * split point, the quantized long-format corpus, and the centroids
    * trained on the base half (first-k seeds + one Lloyd round).
    * Exposed so IvfMaintenanceSpec can feed the SAME centroids to
    * [[graft.streaming.StreamIvf]] and assert the live occupancy census
    * reproduces the batch one. */
  def ivfStaleParts(spark: SparkSession, dir: String,
      k: Int = 8): (Long, DataFrame, DataFrame) = {
    val raw = Tables.embeddings(spark, dir)
    // bounded driver state: one scalar, the base/delta split point
    val half = (raw.agg(max(col("vec_id"))).head().getLong(0) + 1L) / 2L
    val ev = raw
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "x")))
      .select(col("vec_id"), (col("p0") + 1).as("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("qx"))
      .localCheckpoint() // feeds train, both censuses, and the re-train
    val base = ev.filter(col("vec_id") < half)
    val seeds = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("pos"), col("qx").as("cx"))
    (half, ev, ivfLloydUpdate(base, seeds).localCheckpoint()) // read 4x
  }

  /** What the [[ivfMaintenance]] re-train actually buys: recall@k of
    * nprobe-bucket IVF search under the STALE centroids (trained on the
    * base half only) vs the RETRAINED ones (one full-corpus Lloyd
    * update), for a fixed panel of `nq` queries drawn from the DELTA —
    * the data the stale index never saw. Ground truth is the exact
    * integer-L2 top-k over the whole corpus; hits are integer set
    * intersections, so every row is oracle-checkable.
    *
    * Scale shape: the pair-distance table is nq·n rows (nq constant —
    * one linear pass, broadcast query cells); per-query top-k goes
    * through the partial [[graft.plans.TopKPerKey]] operator, so no
    * task ever sorts a corpus-sized group; each probe census is a
    * corpus ⋈ broadcast(k·d centroids) pass. Returns one row per query:
    * (vec_id, hits_stale, hits_retrained) out of k. */
  def ivfRetrainGain(spark: SparkSession, dir: String, k: Int = 10,
      nq: Int = 8, nprobe: Int = 2): DataFrame = {
    val (half, ev, cBase) = ivfStaleParts(spark, dir)
    val cNew = ivfLloydUpdate(ev, cBase).localCheckpoint()
    val queries = ev
      .filter(col("vec_id") >= half && col("vec_id") < half + nq)
      .select(col("vec_id").as("qid"), col("pos"), col("qx").as("qqx"))
    // exact integer pair distances (qid, vec_id, d2) — reused by the
    // ground truth AND both probe scorings
    val pairD = ev.join(broadcast(queries), Seq("pos"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum((col("qx") - col("qqx")) * (col("qx") - col("qqx"))).as("d2"))
      .localCheckpoint()
    val gt = graft.plans.Graft.topKPerKey(pairD, Seq("qid"),
      Seq(("d2", false), ("vec_id", false)), k)
      .select(col("qid"), col("vec_id"))
    def hitsUnder(cents: DataFrame, name: String): DataFrame = {
      val assigned = ivfAssignQuantized(ev, cents)
      val qprobe = queries.join(broadcast(cents), "pos")
        .groupBy(col("qid"), col("centroid_id"))
        .agg(sum((col("qqx") - col("cx")) * (col("qqx") - col("cx")))
          .as("qd2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("qd2"), col("centroid_id"))))
        .filter(col("rnk") <= nprobe)
        .select(col("qid"), col("centroid_id"))
      val cand = pairD.join(assigned, Seq("vec_id"))
        .join(broadcast(qprobe), Seq("qid", "centroid_id"), "left_semi")
      graft.plans.Graft.topKPerKey(cand, Seq("qid"),
        Seq(("d2", false), ("vec_id", false)), k)
        .join(gt, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as(name))
    }
    queries.select(col("qid")).distinct()
      .join(hitsUnder(cBase, "hits_stale"), Seq("qid"), "left")
      .join(hitsUnder(cNew, "hits_retrained"), Seq("qid"), "left")
      .select(col("qid").as("vec_id"),
        coalesce(col("hits_stale"), lit(0L)).as("hits_stale"),
        coalesce(col("hits_retrained"), lit(0L)).as("hits_retrained"))
      .orderBy(col("vec_id"))
  }

  def ivfMaintenance(spark: SparkSession, dir: String, k: Int = 8,
      driftThresholdPpm: Long = 20000L): DataFrame = {
    val (half, ev, cBase) = ivfStaleParts(spark, dir, k)
    val base = ev.filter(col("vec_id") < half)
    def assign(corpus: DataFrame, cents: DataFrame): DataFrame =
      ivfAssignQuantized(corpus, cents)
    def lloydUpdate(corpus: DataFrame, cents: DataFrame): DataFrame =
      ivfLloydUpdate(corpus, cents)
    val occBase = assign(base, cBase)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_base"))
    val occDelta = assign(ev.filter(col("vec_id") >= half), cBase)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_delta"))
    // maintenance: one Lloyd update over the FULL corpus from the stale
    // centroids, then the post-maintenance occupancy census
    val occPost = assign(ev, lloydUpdate(ev, cBase))
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_post"))
    val wAll = Window.partitionBy() // k rows — bounded, not a data window
    cBase.select(col("centroid_id")).distinct()
      .join(occBase, Seq("centroid_id"), "left")
      .join(occDelta, Seq("centroid_id"), "left")
      .join(occPost, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("n_post"), lit(0L)).as("n_post"))
      .withColumn("tot_base", sum(col("n_base")).over(wAll))
      .withColumn("tot_delta", sum(col("n_delta")).over(wAll))
      // integer ppm shares (div, not float divide: a double quotient
      // that rounds up across an integer boundary would diverge from
      // the oracle's BIGINT floor division)
      .withColumn("base_ppm", expr("n_base * 1000000 div tot_base"))
      .withColumn("delta_ppm", expr("n_delta * 1000000 div tot_delta"))
      .withColumn("drift_ppm", abs(col("delta_ppm") - col("base_ppm")))
      .withColumn("retrain",
        max(col("drift_ppm")).over(wAll) > lit(driftThresholdPpm))
      .select(col("centroid_id"), col("n_base"), col("n_delta"),
        col("base_ppm"), col("delta_ppm"), col("drift_ppm"),
        col("retrain"), col("n_post"))
      .orderBy(col("centroid_id"))
  }
}
