package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.util.{Staging, Tables}

/** Connected components over near-duplicate candidate pairs — the cluster
  * resolution step between pair generation (Dedup.jaccardPairs /
  * lshCandidates) and canonical-document election. Two docs are in one
  * cluster when a chain of verified near-dup pairs links them, so electing
  * one survivor per PAIR (as a pairwise anti-join does) under-merges:
  * A~B, B~C with no A~C pair must still collapse to one kept document.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round every node takes the min of its own and its
  * neighbors' labels; fixpoint = components. Rounds are plain
  * shuffle-on-key joins (no driver-side graph), so each round costs one
  * join + one groupBy at any scale, and the iteration count is the graph
  * diameter — small for dedup clusters, which are dense blobs, not paths.
  * Lineage is truncated each round (`localCheckpoint`) so the plan does
  * not grow with iterations; on a cluster a reliable `checkpoint` to the
  * checkpoint dir gives the same truncation fault-tolerantly.
  */
object Graph {

  /** (node, component) for every node of `edges`; component = min node id
    * reachable. `edges` columns: id_a, id_b (id_a < id_b by convention,
    * either accepted). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // undirected adjacency, both directions
    val bi = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = bi.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // superseded round state is freed AS THE LOOP RUNS, not left for the
    // query's end: with two checkpoints per round and nothing released,
    // every round's blocks stay pinned in the block manager and the
    // accumulated dead weight turns into GC pressure — the measured
    // mechanism behind the q_cluster_* suite-context drift. Only frames
    // the NEXT round's checkpoint has already replaced are freed; the
    // frame backing the returned labels survives.
    var prevBacking: DataFrame = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min label among each node's neighborhood (map-side combinable)
      val nbrMin = bi.join(labels, bi("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
      // materialize before the jump self-join: both join sides read
      // `stepped`, and an un-checkpointed lineage would recompute the
      // whole neighbor-min round twice
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("next"))
        .localCheckpoint()
      // pointer-jumping shortcut: follow my label's label, so label chains
      // halve every round — convergence in O(log diameter) rounds instead
      // of O(diameter), the difference between 40 and 6 shuffle rounds on
      // a 1e12-edge graph with stringy components
      // convergence check rides the checkpoint job as an observe metric
      // (CollectMetrics computes during materialization) — no separate
      // isEmpty action, so each round is exactly one job
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val jumped = stepped
        .join(stepped.select(col("node").as("j_node"), col("next").as("j_next")),
          col("next") === col("j_node"), "left")
        .select(col("node"), col("label"),
          least(col("next"), coalesce(col("j_next"), col("next"))).as("next"))
        .observe(obs, count(when(col("next") < col("label"), 1)).as("improved"))
        .localCheckpoint()
      converged = obs.get("improved").asInstanceOf[Long] == 0L
      // `jumped` is materialized: the previous round's backing blocks
      // and this round's intermediate `stepped` are now dead
      Staging.freeCheckpoints(prevBacking, stepped)
      prevBacking = jumped
      labels = jumped.select(col("node"), col("next").as("label"))
      iter += 1
    }
    // the final labels read only their own checkpoint — the adjacency's
    // blocks are dead weight from here on
    Staging.freeCheckpoints(bi)
    labels.select(col("node"), col("label").as("component"))
  }

  /** Near-dup clusters of the documents table: connected components over
    * the verified Jaccard pairs, as (doc_id, cluster_id) — cluster_id is
    * the component's min doc_id, i.e. the canonical survivor every other
    * member would be folded into. Only docs that appear in at least one
    * verified pair are emitted (singletons are trivially their own
    * cluster and would swamp the output). */
  def docClusters(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame =
    docClustersUnsorted(spark, dir, tau)
      .orderBy(col("cluster_id"), col("doc_id"))

  private def docClustersUnsorted(spark: SparkSession, dir: String,
      tau: Double): DataFrame =
    connectedComponents(
        Dedup.jaccardPairsUnsorted(spark, dir, tau)
          .select(col("id_a"), col("id_b")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))

  /** Leakage-free train/val split: a near-dup cluster lands WHOLLY on one
    * side. A per-document hash split (q_train_split) lets two near-copies
    * of the same page straddle train and val, silently inflating eval —
    * the contamination mode that motivates cluster-aware splitting in
    * every published pretraining-data pipeline. Group key = the doc's
    * near-dup cluster id (component min doc_id) when it has one, else its
    * own doc_id; the split side hashes the GROUP key, so membership moves
    * with the cluster, not the document.
    *
    * At scale: the cluster table is dup-rate-bounded (only docs in at
    * least one verified pair), so the left join broadcasts while small
    * and falls back to a doc_id-keyed shuffle join beyond that; the hash
    * and side election are map-side expressions. */
  def clusterSafeSplit(spark: SparkSession, dir: String,
      tau: Double = 0.8): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(docClustersUnsorted(spark, dir, tau), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(concat(lit("split:"), col("group_id").cast("string"))),
          1, 1).isin("0", "1"), "val").otherwise("train"))
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Canonical-document election: within each near-dup cluster keep the
    * BEST representative — longest document (`n_chars`, an exact
    * integer, so the argmax is engine-portable; published pipelines use
    * quality scores here, whose float ties would not be), ties to the
    * lowest doc_id. The min-id election (q_dedup_survivors) keeps an
    * arbitrary member; this keeps the one a curator would.
    *
    * Scale shape: the cluster table is dup-rate-bounded, so its join
    * onto the corpus broadcasts while small (AQE decides); the winner
    * table is one max-struct aggregate over clustered docs only —
    * singleton docs never enter a shuffle wider than that join. */
  def canonicalSurvivors(spark: SparkSession, dir: String,
      tau: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val clusters = docClustersUnsorted(spark, dir, tau)
    val withC = docs.join(clusters, Seq("doc_id"), "left")
    // lexicographic max of (n_chars, -doc_id) = longest doc, ties → min id
    val weight = struct(col("n_chars"), (-col("doc_id")).as("neg_id"))
    val best = withC.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(max(weight).as("best_w"))
    withC.join(best, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"),
        col("n_chars"),
        (col("cluster_id").isNull || weight === col("best_w")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Cluster census: size and id range per near-dup cluster. */
  def clusterSizes(spark: SparkSession, dir: String, tau: Double = 0.8): DataFrame =
    docClustersUnsorted(spark, dir, tau)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("cluster_id"))

  /** Iterative PageRank in exact integer arithmetic. Ranks are
    * micro-units (1e6 = 1.0) and every step is integer: contribution =
    * `pr div out_degree`, update = `150000 + (85 * Σcontribs) div 100`
    * (damping 0.85). Integer sums are associative, so the result is
    * bit-identical on any engine and any partitioning — the same trick
    * as the int8 ANN stage — which is what lets a graph metric be
    * oracle-checked at all (double PageRank never hash-matches across
    * engines).
    *
    * Scale shape: one shuffle-on-`src` join (ranks into the
    * degree-annotated adjacency, pre-materialized once) plus one
    * map-side-combinable groupBy(`dst`) per iteration — the Pregel
    * dataflow without a graph framework. Callers must pass edges where
    * every node has out-degree >= 1 (e.g. symmetrized edges);
    * dangling-mass redistribution is deliberately out of scope.
    *
    * Lineage is truncated every `checkpointEvery` rounds rather than
    * every round: a handful of join+agg rounds is a shallow plan that
    * Catalyst pipelines into fewer jobs, and only long runs need the
    * periodic cut to keep plan growth (and recovery cost on a real
    * cluster) bounded. */
  def pageRank(edges: DataFrame, iters: Int = 3,
      checkpointEvery: Int = 5): DataFrame =
    Staging.run(edges.sparkSession, "pagerank", GraphStateSchema("pr"),
      stage = false, 0)(pageRankPhases(_, edges, iters, checkpointEvery))

  /** [[pageRank]] on either [[Staging]] medium. Staged, it is shaped for
    * the rung where the single-plan form dies of disk: with the whole
    * loop in one plan, every iteration's join + aggregate shuffle stays
    * referenced until the final action, so ~1.2B-edge graphs accumulate
    * 3 iterations × ~12 GB of spill ON TOP of the adjacency persist (the
    * recorded sf100 DNF). As phases, peak disk is ONE iteration's shuffle
    * plus the staged edge/rank parquet (ranks are one small row per
    * node), and the adjacency is a bucketed table on the join key: each
    * iteration moves only the rank table, and the |E|-row side crosses
    * the wire exactly once. */
  private def pageRankPhases(p: Staging.Phases, edges: DataFrame,
      iters: Int, checkpointEvery: Int): DataFrame = {
    // staged: the construction shuffles (orders⋈lineitem + distinct) are
    // freed before iteration spill starts, and every later phase runs at
    // a partition count derived from the staged edges' footprint — the
    // r11 label-prop twin proved the partition count is the MEMORY knob
    // for these 1e9-edge rounds (DNF at 128, pass at a hand-set 512)
    val e = p.stage("edges", edges)
    p.resize("edges", GraphBytesPerPartition)
    // degree annotation as a window over the adjacency's own exchange by
    // src. The aggregate+join spelling paid the same exchange PLUS a deg
    // aggregate and a join (profiled 68.7 s vs 12.7 s for label-prop's
    // join-free adjacency on the same staged volume).
    val adj = p.keyed("pr_adj", e, "src", _.withColumn("d",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("d")))
    p.drop("edges")
    // iters == 0 degenerates to the constant starting rank
    p.rounds("ranks", iters, checkpointEvery)(adj.select(col("src").as("node"))
        .distinct().select(col("node"), lit(1000000L).as("pr"))) { (i, ranks) =>
      // iteration 1 needs no rank join: every starting rank is the
      // constant 1e6 (and the start covers exactly the adjacency's src
      // set), so the contribution is `1000000 div d` straight off the
      // adjacency row — algebraically identical to joining the start,
      // minus one join (and, staged, one phase) per query
      val contribs =
        if (i == 1) adj.select(col("dst"), expr("1000000 div d").as("c"))
        else adj.join(ranks, adj("src") === ranks("node"))
          .select(col("dst"), expr("pr div d").as("c"))
      contribs
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(85 * s) div 100")).as("pr"))
    }
  }

  /** Graph-family partition sizing: 8 MiB of compressed edge parquet per
    * shuffle partition. Calibrated on the recorded sf100 boundary — the
    * ~1.17B-edge symmetrized trade graph stages ~6-10 GB of edge parquet
    * and needs >= 512 partitions to fit a vote/aggregate round's
    * per-task working set in the unified pool (DNF at 128); 8 MiB lands
    * that rung at ~750-1250 partitions with margin while the sf10 rung
    * derives ~125 — the same order as the hand-tuned value that rung
    * always ran at. */
  private val GraphBytesPerPartition: Long = 8L << 20

  /** The trade-graph loops ([[tradeRank]], [[labelPropagation]]) stage
    * from 4 GiB of lineitem parquet: the in-memory forms complete
    * comfortably at sf10 (~1.1 GB of lineitem) and die at sf100
    * (~11 GB). */
  private def stagesTradeGraph(spark: SparkSession, dir: String): Boolean =
    Staging.inputBytes(spark, s"$dir/lineitem.parquet") >= (4L << 30)

  /** The directed customer→supplier trade edges: one per distinct
    * customer–supplier pair that shares an order. Node ids: customer
    * c → 2c, supplier s → 2s+1 (disjoint spaces). */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  /** PageRank over the (undirected) customer↔supplier trade graph
    * ([[tradeEdges]] both ways). High-rank nodes are the hub traders —
    * the entity-importance pass of a graph-shaped pipeline. */
  def tradeRank(spark: SparkSession, dir: String): DataFrame =
    tradeRank(spark, dir, stagesTradeGraph(spark, dir))

  /** [[tradeRank]] on a chosen medium (`staged`). The staged edge-
    * generation phase, before any staged footprint exists, sizes its
    * partitions from the lineitem parquet the edges derive from. */
  private[graft] def tradeRank(spark: SparkSession, dir: String,
      staged: Boolean): DataFrame = {
    val e0 = tradeEdges(spark, dir)
    val bi = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    Staging.run(spark, "pagerank", GraphStateSchema("pr"), staged,
      edgePhasePartitions(spark, dir))(
      pageRankPhases(_, bi, iters = 3, checkpointEvery = 5))
      .orderBy(col("node"))
  }

  /** Output schema of the graph loops' per-node state table —
    * (node, `valueCol`), both int64. */
  private def GraphStateSchema(valueCol: String) =
    new org.apache.spark.sql.types.StructType()
      .add("node", org.apache.spark.sql.types.LongType)
      .add(valueCol, org.apache.spark.sql.types.LongType)

  /** Partition count for the edge-GENERATION phase of a staged graph
    * loop (orders⋈lineitem + distinct): 8 MiB of lineitem parquet per
    * partition, the same density as [[GraphBytesPerPartition]]. An
    * earlier 32 MiB rule left the sf10 rung at the session count (32)
    * and the join+distinct paid 83 s of sort spill in one profiled run —
    * at 8 MiB that rung derives ~90 and the phase tracks the unstaged
    * form; the ~11 GB sf100 rung derives ~1400 (recorded runs completed
    * at a hand-set 128-512, so this is margin, not a knife edge). */
  private def edgePhasePartitions(spark: SparkSession, dir: String): Int =
    Staging.autoPartitions(spark,
      Staging.inputBytes(spark, s"$dir/lineitem.parquet"), 8L << 20)

  /** Synchronous majority label propagation (Raghavan et al. 2007) over
    * the customer↔supplier trade graph — community detection one level
    * finer than [[connectedComponents]]: labels start as node ids and
    * each round every node adopts the label held by the MOST of its
    * neighbors (ties → smallest label), for a fixed number of rounds.
    * Fixed rounds + deterministic tie-break make the trajectory
    * engine-exact (async/random-order LPA is famously run-dependent,
    * which would be un-oracle-able), and integer labels mean the argmax
    * is one max-of-struct aggregate — no rank window.
    *
    * Scale shape: per round, one join of labels into the dst-partitioned
    * adjacency (pinned once, like [[pageRank]]'s) and two
    * map-side-combinable aggregates — (node, label) vote counts, then
    * per-node argmax via max(struct(votes, -label)). State per round is
    * one row per node; lineage truncated per round. */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame =
    labelPropagation(spark, dir, rounds, stagesTradeGraph(spark, dir))

  /** [[labelPropagation]] on a chosen medium (`staged`); partitioned like
    * [[tradeRank]]'s. */
  private[graft] def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int, staged: Boolean): DataFrame =
    Staging.run(spark, "labelprop", GraphStateSchema("community"), staged,
      edgePhasePartitions(spark, dir))(
      labelPropPhases(_, tradeEdges(spark, dir), rounds))
      .orderBy(col("node"))

  /** The LPA core over directed edges (src, dst); symmetrized here.
    * Returns (node, community) after `rounds` synchronous rounds. */
  def labelPropRounds(edges: DataFrame, rounds: Int): DataFrame =
    Staging.run(edges.sparkSession, "labelprop", GraphStateSchema("community"),
      stage = false, 0)(labelPropPhases(_, edges, rounds))

  /** [[labelPropRounds]] on either [[Staging]] medium. Staged, it is
    * shaped like [[pageRankPhases]]: the recorded sf100 DNF here was
    * EXECUTION memory, not disk — the 1.2B-row symmetrized adjacency
    * pinned in the block manager plus a round's join/aggregate working
    * set overran the unified memory pool. The bucketed adjacency removes
    * the pin and phases cap disk at one round's shuffle, so both failure
    * axes are bounded by a single round's working set. */
  private def labelPropPhases(p: Staging.Phases, edges: DataFrame,
      rounds: Int): DataFrame = {
    // staged: the DIRECTED edges first (staging the symmetrized union
    // directly would derive the edges twice in one job), and partitions
    // sized for the symmetrized double: 4 MiB of directed edges = 8 MiB
    // of adjacency each — the rung where this loop recorded its sf100
    // DNF was EXACTLY a partition-count knife edge
    val e = p.stage("edges", edges)
    p.resize("edges", GraphBytesPerPartition / 2)
    // adjacency pinned on the vote-round join key (dst) once; only the
    // one-row-per-node label table moves through each round's join
    val bi = p.keyed("lp_bi",
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))), "dst")
    p.drop("edges")
    // rounds == 0 degenerates to the identity labels
    p.rounds("labels", rounds)(bi.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))) { (r, labels) =>
      // round 1 needs no label join: the start is the identity and bi is
      // distinct, so every neighbor casts exactly one vote for its own
      // id — argmax by (votes=1, -label) degenerates to min(neighbor).
      // One map-side-combinable aggregate replaces the round's join plus
      // the (src,label) vote count; rounds 2+ run the generic form.
      if (r == 1) bi.groupBy(col("src"))
        .agg(min(col("dst")).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
      else bi.join(labels, bi("dst") === labels("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("votes"))
        .groupBy(col("src"))
        .agg(max(struct(col("votes"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("lbl"))
    }.select(col("node"), col("lbl").as("community"))
  }

  /** Exact per-node triangle counts of an undirected graph, by
    * degree-ordered orientation — the O(m^1.5) algorithm (each edge is
    * directed from its lower-(degree, id) endpoint to its higher one, so
    * every triangle is generated exactly once, from its lowest-order
    * corner, and wedge fan-out is bounded by ~√m per node instead of the
    * raw degree: the hub that breaks naive wedge counting has huge
    * in-degree but tiny OUT-degree after orientation).
    *
    * Dataflow: degree aggregation (map-side combinable) + two hash
    * joins — wedges share an oriented source, the closing edge is
    * probed by (v1, v2). No driver-side adjacency; every step shuffles
    * on a key, so the shape survives a 1000-executor scale-up as long
    * as the wedge set does (which orientation is exactly what bounds).
    *
    * `edges` columns: (a, b), distinct, a < b. Returns (node,
    * n_triangles) for nodes in at least one triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // columnar persist, not localCheckpoint — see pageRank
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // annotate both endpoints with degree. No broadcast hint: deg is
    // |V|-sized, and on the 1e9-node graphs this operator is written for
    // a forced |V| broadcast is the executor OOM — let Catalyst/AQE
    // broadcast while deg measures small and fall back to a shuffle join
    // on the endpoint key beyond that
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    // orient toward the higher (degree, id); carry the target's rank so
    // wedge endpoints can be ordered without re-joining degrees
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at the lowest-order corner: two out-edges of u, ordered
    val w1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val w2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = w1.join(w2, Seq("u"))
      .filter(col("d1") < col("d2") || (col("d1") === col("d2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    // close the wedge with the oriented edge v1→v2 (orientation order is
    // consistent, so the closing edge can only point that way)
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val tris = wedges.join(closing, Seq("v1", "v2"))
    tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Triangle census of the co-purchase graph: parts are adjacent when
    * some order (in a fixed six-month window) contains both. Per-order
    * pair generation is the quadratic hazard of every co-occurrence
    * graph, so orders with more than `maxFan` distinct parts are dropped
    * before pairing — the standard hub cap, bounding work per order at
    * C(maxFan, 2) no matter how pathological the basket. */
  def copurchaseTriangles(spark: SparkSession, dir: String,
      maxFan: Int = 10): DataFrame =
    triangleCounts(copurchaseEdges(spark, dir, maxFan))
      .select(col("node"), col("n_triangles"))
      .orderBy(col("node"))

  /** The co-purchase edge list feeding [[copurchaseTriangles]] — split
    * out so plan guards can assert the order-date pushdown before
    * [[triangleCounts]] truncates lineage with its checkpoint. */
  def copurchaseEdges(spark: SparkSession, dir: String,
      maxFan: Int = 10): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      .select(col("o_orderkey"))
    val op = Tables.lineitem(spark, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val ok = op.groupBy(col("o")).agg(count(lit(1)).as("f"))
      .filter(col("f") <= maxFan).select(col("o"))
    val capped = op.join(ok, "o")
    capped.select(col("o"), col("p").as("pa"))
      .join(capped.select(col("o"), col("p").as("pb")), Seq("o"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("a"), col("pb").as("b"))
      .distinct()
  }

  /** Degree-distribution census of the co-purchase graph: how many
    * nodes have each degree — the first sanity report of any graph
    * pipeline (skew, hubs, disconnection all show up here). Two
    * map-side-combinable aggregations over the edge list; the
    * distribution table is |distinct degrees|-sized, trivially small
    * at any corpus scale. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(spark, dir)
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))
  }

  /** Link prediction by neighborhood overlap: for every non-adjacent node
    * pair with at least one common neighbor, the common-neighbor count
    * and Jaccard coefficient |N(x)∩N(y)| / |N(x)∪N(y)| — the classic
    * unsupervised baseline (Liben-Nowell & Kleinberg 2003).
    *
    * Candidate pairs come from a wedge self-join of the adjacency list on
    * the center vertex, so only pairs sharing a neighbor are ever
    * materialized — never the O(n²) pair space. Wedge volume is
    * Σ deg(v)², so hubs above `maxDeg` are excluded from the CENTER role
    * first (they still appear as endpoints); that is the same hub-cap
    * discipline `triangleCounts` applies, and at web scale it is what
    * keeps the wedge fan-out near-linear. Existing edges leave by
    * anti-join on the (a<b)-normalized edge list. */
  def linkPrediction(edgesRaw: DataFrame, maxDeg: Int = 60,
      topN: Int = 50): DataFrame = {
    // the edge list fans out into SIX plan references (adjacency twice,
    // the anti-join, and three degree joins) — without truncation every
    // reference re-expands the whole upstream derivation (a 1000+-node
    // plan for the co-purchase graph) and the planner re-executes it;
    // one checkpoint makes each reference a scan of the materialized
    // edge partitions (cluster form: reliable checkpoint)
    val edges = edgesRaw.localCheckpoint()
    val deg = edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // annotate BOTH endpoint degrees onto the edge list up front (two
    // |E|-scale joins, the triangleCounts shape), so endpoint degree
    // rides through the wedge pipeline as a payload column and the
    // Jaccard denominator needs NO post-aggregate join: the naive tail
    // (common ⋈ deg ⋈ deg) re-shuffles and re-sorts the Σdeg²-sized
    // aggregate twice, which measured ~1000 CPU-s at 10x scale vs ~100
    // for the |E|-side annotation
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // materialize the annotated adjacency before the self-join: both
    // join sides reference it, and ReuseExchange dedups only the
    // Exchange, not the joins above it — un-materialized, one stage
    // computes the annotation twice AND the wedge expansion AND the
    // partial aggregate, piling six sorters plus an agg map into every
    // task (measured 5-8x slower than the same dataflow split at this
    // seam). |adj| = 2|E| rows of three longs — cheap to pin. Cluster
    // form: reliable checkpoint.
    val adj = withDeg.select(col("a").as("v"), col("da").as("dv"),
        col("b").as("n"), col("db").as("dn"))
      .unionAll(withDeg.select(col("b").as("v"), col("db").as("dv"),
        col("a").as("n"), col("da").as("dn")))
      .localCheckpoint()
    val centers = adj.filter(col("dv") <= maxDeg)
    val wedges = centers.select(col("v"), col("n").as("x"), col("dn").as("dx"))
      .join(centers.select(col("v"), col("n").as("y"), col("dn").as("dy")),
        Seq("v"))
      .filter(col("x") < col("y"))
    // dx/dy are functionally dependent on x/y — folding them into the
    // grouping key costs nothing (same group count, wider key) and keeps
    // the aggregate one-pass
    val common = wedges.groupBy(col("x"), col("y"), col("dx"), col("dy"))
      .agg(count(lit(1)).as("common"))
      .join(edges, col("x") === col("a") && col("y") === col("b"),
        "left_anti")
    common
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("dx") + col("dy") - col("common")), 6))
      .select(col("x"), col("y"), col("common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("common").desc, col("x"), col("y"))
      .limit(topN)
  }

  /** [[linkPrediction]] over the co-purchase graph: "parts never bought
    * together that the neighborhood structure says should be". */
  def copurchaseLinks(spark: SparkSession, dir: String): DataFrame =
    linkPrediction(copurchaseEdges(spark, dir))

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * whose degree in the surviving induced subgraph is < k, until a
    * fixpoint. Returns (node, core_deg) — the members of the k-core and
    * their degree inside it.
    *
    * Each round prunes the EDGE set too (semi-join on both endpoints)
    * and checkpoints it, so later rounds run on the shrinking subgraph
    * rather than re-filtering the original edges — on a power-law graph
    * the frontier collapses after the first couple of peels and rounds
    * get cheaper geometrically. Convergence rides the checkpoint job as
    * an `Observation` (survivor count unchanged), one job per round, no
    * driver-side graph. Peel rounds are O(degeneracy) worst-case but
    * single-digit in practice; the fixpoint is idempotent, so running
    * extra rounds never changes the result (the property the unrolled
    * SQL oracle relies on). */
  def kCore(edgesRaw: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    var edges = edgesRaw.localCheckpoint()
    var prevN = -1L
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val obs = org.apache.spark.sql.Observation(s"kcore_round_$iter")
      val deg = edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val surv = deg.filter(col("deg") >= k).select(col("v"))
      // induced subgraph of the survivors. The convergence metric rides
      // the checkpoint job, observed on the OUTPUT node (always executed
      // — an inner-node observe can be skipped when AQE collapses an
      // empty join). Edge-count-unchanged ⟺ node-set-unchanged: every
      // peeled node had deg ≥ 1, so peeling always removes edges.
      val peeled = edges
        .join(surv.select(col("v").as("sa")), col("a") === col("sa"))
        .join(surv.select(col("v").as("sb")), col("b") === col("sb"))
        .select(col("a"), col("b"))
        .observe(obs, count(lit(1)).as("n_edges"))
        .localCheckpoint()
      // the pre-peel edge blocks are dead once the peeled round has
      // materialized — free them instead of pinning every round's
      // shrinking copy until the final aggregate (see connectedComponents)
      Staging.freeCheckpoints(edges)
      edges = peeled
      val n = obs.get("n_edges").asInstanceOf[Long]
      converged = n == prevN
      prevN = n
      iter += 1
    }
    edges.select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
      .orderBy(col("v"))
  }

  /** The 3-core of the co-purchase graph. */
  def copurchaseKCore(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    kCore(copurchaseEdges(spark, dir), k)

  /** Deterministic negative sampling for link-prediction training: for
    * every node `a`, `k` pseudo-random probe partners drawn by md5 hash
    * from the node universe, minus self-pairs and true edges. Replayable
    * across engines and epochs (seeded hash, no RNG), the property that
    * makes contrastive training resumable.
    *
    * The node index is a global rank — at scale that is a range-
    * partitioned two-phase sort (Spark's orderBy), built once per
    * universe and reused across epochs/seeds; probes then hash-join the
    * index and anti-join the edge list, all key-partitioned, nothing
    * driver-side. Expected output ≈ n·k minus hash self/edge collisions
    * — exact-count certainty is NOT a goal of negative sampling. */
  /** Deterministic random walks, gated as q_random_walks: fixed-length
    * walks over the (symmetrized) co-purchase graph — the corpus
    * generator for DeepWalk/node2vec-style graph embeddings
    * (Perozzi et al., KDD'14). The "coin" at each step is an
    * md5-derived index into the node's rank-ordered neighbor list, so
    * walks are reproducible across engines, partitionings and reruns —
    * the same property every sampling op in this repo builds on.
    *
    * Scale shape: the adjacency is ranked once (per-node window —
    * degree-bounded per partition; a hub-capped graph like this one
    * keeps it tight) and pinned; each step is ONE equi-join of the
    * frontier with the adjacency on the current node followed by the
    * rank==pick filter — corpus-linear per step, `steps` is a small
    * constant. Walk starts are a deterministic 1-in-4 node sample, so
    * the output is Θ(|V|/4) rows at any scale. */
  def randomWalks(edgesRaw: DataFrame, steps: Int = 4): DataFrame = {
    val sym = edgesRaw.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edgesRaw.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    val adj = sym
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(eager = false) // one ranking pass, `steps` readers
    def h8(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    val start = adj.select(col("src")).distinct()
      .filter(pmod(h8(concat(lit("rws|"), col("src"))), lit(4L)) === 0)
      .select(col("src").as("start"), col("src").as("cur"))
    val walked = (1 to steps).foldLeft(start) { (front, s) =>
      front.join(adj, col("src") === col("cur"))
        .withColumn("pick",
          pmod(h8(concat_ws("|", lit("rw"), col("start"), lit(s), col("cur"))),
            col("deg")) + 1)
        .filter(col("rank") === col("pick"))
        .withColumn(s"step$s", col("dst"))
        .drop("src", "dst", "rank", "deg", "pick", "cur")
        .withColumn("cur", col(s"step$s"))
    }
    walked.select(col("start") +:
        (1 to steps).map(s => col(s"step$s")): _*)
      .orderBy(col("start"))
  }

  /** The gated entry: walks over [[copurchaseEdges]]. */
  def copurchaseWalks(spark: SparkSession, dir: String): DataFrame =
    randomWalks(copurchaseEdges(spark, dir))

  /** Skip-gram training pairs from the walk corpus, gated as
    * q_skipgram: (center, context) co-occurrences within a ±`win`
    * position window over each walk — the stage between [[randomWalks]]
    * and an SGNS embedding trainer. Pairs are unordered (skip-gram with
    * symmetric context), counted exactly.
    *
    * Scale shape: walks explode to (walk, pos, node) — 5 rows per walk
    * — and the windowed pairing is a self-join ON THE WALK ID with the
    * |i−j| ≤ win predicate, so each walk pairs only with itself
    * (C(5,2)-bounded fan-out per walk); the count is one map-side
    * combinable aggregate on the pair key. */
  def skipgramPairs(spark: SparkSession, dir: String, win: Int = 2): DataFrame = {
    val walks = copurchaseWalks(spark, dir)
    val pos = walks.select(col("start"),
        posexplode(array(col("start"), col("step1"), col("step2"),
          col("step3"), col("step4"))).as(Seq("pos", "node")))
    pos.select(col("start"), col("pos").as("i"), col("node").as("na"))
      .join(pos.select(col("start"), col("pos").as("j"), col("node").as("nb")),
        Seq("start"))
      .filter(col("i") < col("j") && col("j") - col("i") <= win)
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("a"), col("b"))
  }

  def negativeSample(edgesRaw: DataFrame, k: Int = 4,
      seed: String = "neg1"): DataFrame = {
    val edges = edgesRaw.localCheckpoint()
    val nodes = edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
      .distinct()
    val idx = nodes.withColumn("idx",
      row_number().over(Window.orderBy(col("v"))).cast("long") - 1)
    val n = idx.agg(count(lit(1)).as("n_nodes"))
    val probes = idx.select(col("v").as("a"))
      .crossJoin(broadcast(n))
      .withColumn("i", explode(sequence(lit(1), lit(k))))
      .withColumn("idx",
        conv(substring(md5(concat(lit(seed + "|"), col("a"), lit("|"), col("i"))),
          1, 8), 16, 10).cast("long") % col("n_nodes"))
    val cand = probes.join(idx.select(col("idx"), col("v").as("b")), Seq("idx"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("i"), col("b"),
        least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"))
    cand.join(edges,
        cand("lo") === edges("a") && cand("hi") === edges("b"), "left_anti")
      .select(col("a"), col("i").cast("long").as("i"), col("b"))
      .orderBy(col("a"), col("i"))
  }

  /** Negative samples over the co-purchase graph. */
  def copurchaseNegatives(spark: SparkSession, dir: String): DataFrame =
    negativeSample(copurchaseEdges(spark, dir))
}
