package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chain merges transitively, islands stay apart") {
    // A~B, B~C (no A~C edge) must collapse into one component; D~E is a
    // separate island — the exact under-merge a pairwise survivor
    // election gets wrong.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: long path needs multiple propagation rounds") {
    // a 9-node path has diameter 8 — exercises the iteration loop, not
    // just the first round
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Graph.connectedComponents(edges).as[(Long, Long)].collect()
    assert(cc.length === 9)
    assert(cc.forall(_._2 === 0L))
  }

  test("connected components: edge direction does not matter") {
    val cc = Graph.connectedComponents(
        Seq((5L, 2L), (2L, 9L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("link prediction: common-neighbor pairs scored, edges excluded") {
    // 1-2, 1-3, 2-3 triangle; 1-4 bridge; 4-5 leaf.
    // Non-adjacent pairs with a shared neighbor: (2,4) via 1, (3,4) via 1,
    // (1,5) via 4 — each 1 common, all jaccard 1/3; edges never appear.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L))
      .toDF("a", "b")
    val out = Graph.linkPrediction(e)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (1L, 5L, 1L, 0.333333),
      (2L, 4L, 1L, 0.333333),
      (3L, 4L, 1L, 0.333333)))
  }

  test("link prediction: hub above maxDeg is skipped as wedge center") {
    // with maxDeg=2 node 1 (degree 3) cannot be a center, so only the
    // (1,5) wedge through node 4 survives
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L))
      .toDF("a", "b")
    val out = Graph.linkPrediction(e, maxDeg = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 5L, 1L, 0.333333)))
  }

  test("pagerank: symmetric pair is a fixed point at 1e6 micro-units") {
    // both nodes have out-degree 1, so rank = 150000 + 85% of 1e6 = 1e6
    // every round — integer PageRank conserves the uniform distribution
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRank(e, iters = 3).as[(Long, Long)].collect().toMap
    assert(pr === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pagerank: 3-leaf star matches the hand-unrolled integer recurrence") {
    val e0 = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val e = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    // center c, leaf l; c0=l0=1e6
    // c1 = 150000 + 85*(3*(l0 div 1)) div 100 = 2700000
    // l1 = 150000 + 85*(c0 div 3) div 100    = 433333
    // c2 = 150000 + 85*(3*l1) div 100        = 1254999
    // l2 = 150000 + 85*(c1 div 3) div 100    = 915000
    // c3 = 150000 + 85*(3*l2) div 100        = 2483250
    // l3 = 150000 + 85*(c2 div 3) div 100    = 505583
    val pr = Graph.pageRank(e, iters = 3).as[(Long, Long)].collect().toMap
    assert(pr === Map(0L -> 2483250L, 1L -> 505583L, 2L -> 505583L, 3L -> 505583L))
  }

  test("trade rank: hubs outrank leaves and id spaces stay disjoint") {
    val pr = Graph.tradeRank(spark, sf).as[(Long, Long)].collect()
    assert(pr.nonEmpty)
    assert(pr.forall(_._2 >= 150000L)) // base mass is the floor
    val (cust, supp) = pr.partition(_._1 % 2 == 0)
    assert(cust.nonEmpty && supp.nonEmpty)
    // suppliers serve many customers -> the max-degree side carries the
    // highest rank mass in a bipartite trade graph
    assert(supp.map(_._2).max > cust.map(_._2).max)
  }

  test("staged pagerank and label prop equal the single-plan forms; scratch honors stage.root") {
    val root = java.nio.file.Files.createTempDirectory("graftgstage")
    val plainPr = Graph.tradeRank(spark, sf).as[(Long, Long)].collect().toSeq
    val plainLp = Graph.labelPropagation(spark, sf).as[(Long, Long)].collect().toSeq
    spark.conf.set("spark.graft.stage.root", root.toString)
    try {
      val stagedPr = Graph.tradeRank(spark, sf, staged = true)
        .as[(Long, Long)].collect().toSeq
      val stagedLp = Graph.labelPropagation(spark, sf, 3, staged = true)
        .as[(Long, Long)].collect().toSeq
      // integer arithmetic end to end -> bit-identical, not just close
      assert(stagedPr === plainPr)
      assert(stagedLp === plainLp)
      assertStagedCleanup(root, "pagerank", "labelprop")
    } finally spark.conf.unset("spark.graft.stage.root")
  }

  test("stageBucketed: the iteration-loop join reads the adjacency with no exchange and no sort") {
    // the exact join shape the staged graph loops run per round: bucketed-sorted adjacency scan ⋈ small state table. Only the
    // state side may exchange (and sort); the |E|-row side must be a bare
    // bucketed scan — the whole point of writing it bucketed once.
    val dir = java.nio.file.Files.createTempDirectory("graftbkt")
    val adj = (0L until 200L).map(i => (i % 50, i, i % 7 + 1))
      .toDF("src", "dst", "d")
    graft.util.Staging.stageBucketed(spark, adj.repartition(8, col("src")), "src", 8,
      s"$dir/adj", "graft_spec_adj")
    try {
      val scan = spark.table("graft_spec_adj")
      val ranks = (0L until 50L).map(i => (i, 1000000L)).toDF("node", "pr")
      val joined = scan.join(ranks, scan("src") === ranks("node"))
        .select(col("dst"), expr("pr div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      joined.collect() // execute so AQE finalizes the plan
      val plan = joined.queryExecution.executedPlan.toString
      // one exchange for the ranks side, one for the groupBy(dst) — the
      // adjacency side contributes none (3 would mean it re-shuffled)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 2, s"expected 2 exchanges, got $exchanges in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"adjacency scan not bucketed:\n$plan")
      // one file per bucket -> the scan reports its sortBy order and the
      // sort-merge join needs no Sort above the adjacency scan; assert
      // via file count (plan-level sort placement is join-strategy
      // dependent under AQE, but one-file-per-bucket is the precondition)
      val files = Option(new java.io.File(s"$dir/adj").listFiles()).get
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 8, s"expected 8 bucket files, got ${files.length}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec_adj")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("doc clusters on testdata: members pair with a lower-id doc in-cluster") {
    val clusters = Graph.docClusters(spark, sf)
      .as[(Long, Long)].collect()
    assert(clusters.nonEmpty)
    // every cluster id is the min member (canonical survivor election)
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.length >= 2) // singletons are not emitted
    }
    // cluster census agrees with the per-doc view
    val sizes = Graph.clusterSizes(spark, sf)
      .as[(Long, Long, Long)].collect()
      .map { case (cid, n, _) => cid -> n }.toMap
    assert(sizes === byCluster.view.mapValues(_.length.toLong).toMap)
  }

  test("triangleCounts: K4 plus a pendant — each clique node in C(3,2) triangles") {
    // K4 on {1,2,3,4} has 4 triangles, each node in 3; pendant 5-1 adds none
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: matches brute-force enumeration on the co-purchase graph") {
    // rebuild the capped edge list exactly as copurchaseTriangles does
    val ord = graft.util.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      .select(col("o_orderkey"))
    val op = graft.util.Tables.lineitem(spark, sf)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val byOrder = op.as[(Long, Long)].collect().groupBy(_._1)
      .filter(_._2.length <= 10).view.mapValues(_.map(_._2).sorted).toMap
    val edgeSet = byOrder.values.flatMap { ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edgeSet.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bruteTris = for {
      (a, b) <- edgeSet.toSeq
      c <- adj.getOrElse(b, Set.empty) if edgeSet.contains((a, c))
    } yield (a, b, c)
    val brute = bruteTris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graph.copurchaseTriangles(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("clusterSafeSplit: clusters never straddle the split, singletons keyed by own id") {
    val split = Graph.clusterSafeSplit(spark, sf)
      .as[(Long, Long, String)].collect()
    assert(split.nonEmpty)
    // every near-dup group is entirely train or entirely val
    split.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._3).distinct.length === 1)
    }
    // docs outside any cluster are their own group
    val clustered = Graph.docClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    split.foreach { case (doc, group, _) =>
      assert(group === clustered.getOrElse(doc, doc))
    }
    // both sides are populated and the split is the group-hash election
    assert(split.map(_._3).distinct.sorted.toSeq === Seq("train", "val"))
  }

  test("degreeDistribution: node-weighted degree total equals 2|E|") {
    val dist = Graph.degreeDistribution(spark, sf)
      .as[(Long, Long)].collect()
    assert(dist.nonEmpty)
    val nEdges = Graph.copurchaseEdges(spark, sf).count()
    assert(dist.map(d => d._1 * d._2).sum === 2 * nEdges)
  }

  test("canonicalSurvivors: longest doc wins its cluster, exactly one keeper per group") {
    val out = Graph.canonicalSurvivors(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    val clusters = Graph.docClusters(spark, sf)
      .as[(Long, Long)].collect().toMap // doc -> cluster
    val chars = graft.util.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").as[(Long, Long)].collect().toMap
    assert(out.length === chars.size)
    out.foreach { case (id, g, n, keep) =>
      assert(g === clusters.getOrElse(id, id))
      assert(n === chars(id))
    }
    // per group: exactly one keeper, and it is the longest (ties: min id)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val keepers = rows.filter(_._4)
      assert(keepers.length === 1)
      val expect = rows.minBy(r => (-r._3, r._1))
      assert(keepers.head._1 === expect._1)
    }
    // the election is non-trivial on this corpus: some doc loses
    assert(out.exists(!_._4))
  }

  test("kCore: cascading peel — K4 survives, tail chain dissolves") {
    // K4 on {1,2,3,4} plus a chain 4-5-6. For k=2 a single-pass degree
    // filter would keep node 5 (initial degree 2), but peeling 6 drops
    // 5's degree to 1 and it must cascade out — iteration is the point.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core3 = Graph.kCore(edges, k = 3).as[(Long, Long)].collect().toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=2: the chain still dissolves (6 peels, then 5), K4 keeps deg 3
    val core2 = Graph.kCore(edges, k = 2).as[(Long, Long)].collect().toMap
    assert(core2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: empty result when k exceeds the densest subgraph") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(Graph.kCore(edges, k = 4).count() === 0L)
  }

  test("copurchase 3-core converges within the oracle's unroll margin") {
    // The DuckDB oracle unrolls 8 peel rounds; the peel is idempotent at
    // the fixpoint, so the unroll is exact iff the data converges in ≤8.
    // Assert convergence in ≤4 on the fixture — half the margin.
    val out = Graph.kCore(graft.ops.Graph.copurchaseEdges(spark, sf), 3, maxIter = 4)
      .as[(Long, Long)].collect()
    val again = Graph.kCore(graft.ops.Graph.copurchaseEdges(spark, sf), 3, maxIter = 8)
      .as[(Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    assert(out.forall(_._2 >= 3))
  }

  test("labelPropagation: labels are node ids, every node labeled, deterministic") {
    val lp = graft.ops.Graph.labelPropagation(spark, sf)
      .as[(Long, Long)].collect()
    assert(lp.nonEmpty)
    val nodes = lp.map(_._1).toSet
    assert(lp.map(_._1).distinct.length === lp.length) // one row per node
    assert(lp.map(_._2).toSet.subsetOf(nodes)) // communities are node ids
    val again = graft.ops.Graph.labelPropagation(spark, sf)
      .as[(Long, Long)].collect()
    assert(lp.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("labelPropagation: majority vote with min-label tie-break on a hand graph") {
    // Star 1-(2,3,4) plus edge 2-3. One synchronous round: node 1 sees
    // labels {2,3,4} — a three-way tie → min label 2; nodes 2 and 3 see
    // {1, each other} — tie {1,3}/{1,2} → min 1; node 4 sees only 1.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.labelPropRounds(e, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // Two rounds: labels keep collapsing toward the hub's majority —
    // node 1 now sees {1,1,1} → 1; everyone else majority-sees node 1's
    // round-1 label 2 (4: {2}; 2: {2,1}→tie→1... ) hand-checked below
    val got2 = Graph.labelPropRounds(e, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("randomWalks: every hop is a graph edge; picks match the hash rule; reruns identical") {
    val edges = Graph.copurchaseEdges(spark, sf)
      .as[(Long, Long)].collect()
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
    val adjSorted = und.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.sorted).toMap
    val walks = Graph.copurchaseWalks(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(walks.nonEmpty)
    def md5mod(s: String, m: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(8), 16) % m
    }
    walks.foreach { case (start, s1, s2, s3, s4) =>
      assert(md5mod(s"rws|$start", 4) === 0L, s"$start not in the start sample")
      val hops = Seq(start -> s1, s1 -> s2, s2 -> s3, s3 -> s4)
      hops.zipWithIndex.foreach { case ((from, to), i) =>
        assert(und.contains(from -> to), s"walk $start hop ${i + 1} not an edge")
        val nbrs = adjSorted(from)
        val pick = md5mod(s"rw|$start|${i + 1}|$from", nbrs.length)
        assert(nbrs(pick.toInt) === to,
          s"walk $start step ${i + 1}: hash rule violated")
      }
    }
    // every sampled node walks, and none walks twice
    val expectStarts = adjSorted.keySet.filter(v => md5mod(s"rws|$v", 4) == 0L)
    assert(walks.map(_._1).toSet === expectStarts)
    assert(walks.map(_._1).distinct.length === walks.length)
    val again = Graph.copurchaseWalks(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === walks.sortBy(_._1).toSeq)
  }

  test("skipgramPairs: counts equal a direct sliding-window recount of the walks") {
    val walks = Graph.copurchaseWalks(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    val expect = scala.collection.mutable.Map.empty[(Long, Long), Long]
    walks.foreach { case (s0, s1, s2, s3, s4) =>
      val w = Seq(s0, s1, s2, s3, s4)
      for (i <- w.indices; j <- i + 1 until w.length if j - i <= 2) {
        val key = (math.min(w(i), w(j)), math.max(w(i), w(j)))
        expect(key) = expect.getOrElse(key, 0L) + 1L
      }
    }
    val got = Graph.skipgramPairs(spark, sf)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === expect.toMap)
    // total pair mass: 7 windowed pairs per 5-node walk
    assert(got.values.sum === walks.length * 7L)
  }
}
