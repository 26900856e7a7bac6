package graft

import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("brute-force top-k returns k rows with descending scores") {
    val out = Similarity.bruteForceTopK(spark, sf, queryId = 0L, k = 10)
      .select("rnk", "vec_id", "cos").as[(Int, Long, Double)].collect()
    assert(out.length === 10)
    assert(out.map(_._3).sliding(2).forall(p => p.head >= p.last))
    assert(!out.map(_._2).contains(0L))
  }

  test("batch ANN: per-query results match a single-query scan restricted to the shared corpus") {
    val batch = Similarity.batchTopK(spark, sf, nQueries = 8, k = 3)
      .as[(Long, Int, Long, Double)].collect()
    assert(batch.map(_._1).distinct.sorted.toSeq === (0L to 7L))
    assert(batch.groupBy(_._1).forall(_._2.length === 3))
    // cross-check one query against an independent brute-force scan over
    // the same corpus slice (vec_id >= 8)
    val solo = Similarity.vecs(spark, sf)
    val q0 = solo.filter($"vec_id" === 0L)
      .select($"v".as("qv"), $"nrm".as("qnrm"))
    val want = solo.filter($"vec_id" >= 8L)
      .join(org.apache.spark.sql.functions.broadcast(q0))
      .withColumn("cos", org.apache.spark.sql.functions.round(
        Similarity.cosinePrenormed($"v", $"qv", $"nrm", $"qnrm"), 6))
      .orderBy($"cos".desc, $"vec_id").limit(3)
      .select("vec_id", "cos").as[(Long, Double)].collect().toSeq
    val got = batch.filter(_._1 == 0L).sortBy(_._2).map(r => (r._3, r._4)).toSeq
    assert(got === want)
  }

  test("IVF ANN reaches >=50% recall@10 vs brute force while probing 2/8 buckets") {
    val exact = Similarity.bruteForceTopK(spark, sf, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.ivfTopK(spark, sf, 0L, 10, nlist = 8, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.size === 10)
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("PQ ANN: positive recall@10 vs brute force; m codes per vector; ADC distances ranked") {
    val exact = Similarity.bruteForceTopK(spark, sf, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.pqTopK(spark, sf, 0L, 10).collect()
    assert(pq.length === 10)
    // rnk follows the integer ADC distance exactly
    val dists = pq.map(_.getLong(2))
    assert(dists.sorted.toSeq === dists.toSeq)
    // 32x16 codebooks over 2-d subspaces are lossy but must still find a
    // meaningful share of the true neighbors (10x a random 10-subset)
    val recall = exact.intersect(pq.map(_.getLong(1)).toSet).size / 10.0
    assert(recall >= 0.3, s"recall@10 = $recall")
  }

  test("quantized ANN: high recall vs exact top-k; codes stay in int8 range") {
    import org.apache.spark.sql.functions._
    val exact = Similarity.bruteForceTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val quant = Similarity.quantizedTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(quant.size === 10)
    assert(exact.intersect(quant).size >= 8, // int8 loses little at d=64
      s"recall ${exact.intersect(quant).size}/10")
    // every quantized code is within [-127, 127]
    val bad = Similarity.vecs(spark, sf)
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q8", transform(col("v"), x =>
        when(col("ma") === 0, lit(0.0)).otherwise(round(x * 127.0 / col("ma")))))
      .filter(exists(col("q8"), c => abs(c) > 127))
      .count()
    assert(bad === 0L)
  }

  test("k-means: iterations keep k stable centroids and tighten the clustering") {
    import org.apache.spark.sql.functions._
    def cost(cents: org.apache.spark.sql.DataFrame): Double = {
      val c = cents.withColumn("cnrm", Similarity.norm(col("cv")))
      Similarity.vecs(spark, sf).join(broadcast(c))
        .withColumn("sim", Similarity.cosinePrenormed(
          col("v"), col("cv"), col("nrm"), col("cnrm")))
        .groupBy(col("vec_id")).agg(max(col("sim")).as("best"))
        .agg(sum(col("best"))).as[Double].head()
    }
    val seeds = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 0)
    val trained = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 3)
    assert(seeds.count() === 8 && trained.count() === 8)
    // Lloyd never worsens the objective; on real data it strictly helps
    assert(cost(trained) > cost(seeds))
    // determinism: the whole pipeline reruns to the same centroids
    val again = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 3)
    assert(trained.collect().map(_.toString).sorted
      === again.collect().map(_.toString).sorted)
  }

  test("quantized k-means: seeds self-assign at zero distance, Lloyd tightens") {
    import org.apache.spark.sql.functions._
    val zero = Similarity.kmeansQuantized(spark, sf, k = 8, iters = 0)
    // with the seed centroids, every seed vector is its own centroid
    val seedsSelf = zero.filter(col("vec_id") < 8)
      .as[(Long, Long, Long)].collect()
    seedsSelf.foreach { case (vid, cid, d2) =>
      assert(cid === vid && d2 === 0L, s"seed $vid -> $cid at $d2")
    }
    val trained = Similarity.kmeansQuantized(spark, sf, k = 8, iters = 2)
    // same corpus, every vector assigned exactly once
    assert(trained.count() === zero.count())
    assert(trained.select("centroid_id").distinct().count() <= 8)
    // Lloyd non-increasing total within-cluster distance (quantization
    // rounds each centroid coordinate by <= 0.5, far below the
    // inter-cluster gaps on this corpus)
    def cost(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("dist2"))).as[Long].head()
    assert(cost(trained) <= cost(zero))
    // exact determinism across re-runs (the oracle contract)
    val again = Similarity.kmeansQuantized(spark, sf, k = 8, iters = 2)
    assert(trained.collect().toSeq === again.collect().toSeq)
  }

  test("cosine of a vector with itself is 1") {
    GraftExtensions.install(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val c = df.select(Similarity.cosine($"a", $"b")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("vec_dot: codegen'd expression matches the HOF form bit-for-bit") {
    GraftExtensions.install(spark)
    import org.apache.spark.sql.functions._
    val df = graft.util.Tables.embeddings(spark, sf).limit(200)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val hof = df.select(
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)).as[Double].collect()
    val native = df.select(Similarity.dot(col("v"), col("v")))
      .as[Double].collect()
    assert(native.toSeq === hof.toSeq) // exact equality: same summation order
    // null semantics match the HOF composition
    val edge = Seq(
      (Array(1.0, 2.0), Array(3.0, 4.0)),
      (null, Array(1.0))).toDF("a", "b")
    val got = edge.select(Similarity.dot(col("a"), col("b")))
      .as[Option[Double]].collect()
    assert(got.toSeq === Seq(Some(11.0), None))
  }

  test("arrayFuncs matches a driver-side recomputation of the first vector") {
    val row = Similarity.arrayFuncs(spark, sf)
      .as[(Long, Long, Long, Double, Double, Boolean, Double, Double)]
      .collect().minBy(_._1)
    val v = graft.util.Tables.embeddings(spark, sf).orderBy($"vec_id")
      .select($"embedding").as[Array[Float]].head().map(_.toDouble)
    assert(row._2 === v.length.toLong)
    assert(row._3 === v.count(_ > 0).toLong)
    assert(math.abs(row._4 - v.map(x => x * x).sum) < 1e-4)
    assert(math.abs(row._7 - v.zip(v.reverse).map { case (a, b) => a * b }.sum) < 1e-4)
    assert(math.abs(row._8 - (v.max - v.min)) < 1e-4)
  }

  test("lshRecall: hits bounded by k and by the bucket census") {
    val out = Similarity.lshRecall(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length === 8)
    assert(out.forall { case (_, nCand, hits, recall) =>
      hits >= 0 && hits <= 10 && hits <= nCand &&
        math.abs(recall - hits / 10.0) < 1e-9 })
  }

  test("silhouette: per-label counts partition the corpus; scores in [-1, 1]") {
    val out = Similarity.silhouette(spark, sf)
      .as[(Int, Long, Double)].collect()
    val total = graft.util.Tables.embeddings(spark, sf).count()
    assert(out.map(_._2).sum === total)
    assert(out.forall { case (_, _, s) => s >= -1.0 && s <= 1.0 })
  }

  test("lshNdcg: bounds, zero-recall queries score zero, hit queries score > 0") {
    val ndcg = Similarity.lshNdcg(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val recall = Similarity.lshRecall(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(ndcg.keySet === recall.keySet)
    ndcg.foreach { case (qid, (_, nRanked, dcg, score)) =>
      assert(score >= 0.0 && score <= 1.0, s"q$qid ndcg out of range")
      assert(nRanked <= 10)
      val hits = recall(qid)._3
      if (hits === 0L) assert(dcg === 0L, s"q$qid: dcg>0 with zero recall")
      // a bucket that fits entirely in the top-10 ranks every hit
      else if (nRanked < 10) assert(dcg > 0L, s"q$qid: zero dcg, $hits hits, full bucket ranked")
    }
  }

  test("multiProbeRecall: dominates the single-bucket probe on every query") {
    val single = Similarity.lshRecall(spark, sf)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val multi = Similarity.multiProbeRecall(spark, sf)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(multi.keySet === single.keySet)
    multi.foreach { case (qid, (_, nCand, hits, recall)) =>
      // probing a superset of buckets can only add candidates and hits
      assert(nCand >= single(qid)._2, s"q$qid: candidates shrank")
      assert(hits >= single(qid)._3, s"q$qid: hits shrank")
      assert(recall >= 0.0 && recall <= 1.0 && hits <= nCand)
    }
    // and the remedy must actually help somewhere on this corpus
    assert(multi.values.map(_._3).sum > single.values.map(_._3).sum,
      "multi-probe found no additional true neighbors")
  }

  test("probeSweep: monotone curve whose endpoints equal the two recall gates") {
    val curve = Similarity.probeSweep(spark, sf)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq === (1L to 9L))
    curve.sliding(2).foreach {
      case Array(a, b) => assert(b._2 >= a._2, "recall curve decreased")
      case _ => ()
    }
    val single = Similarity.lshRecall(spark, sf).as[(Long, Long, Long, Double)]
      .collect().map(_._3).sum
    val multi = Similarity.multiProbeRecall(spark, sf).as[(Long, Long, Long, Double)]
      .collect().map(_._3).sum
    assert(curve.head._2 === single, "probe-1 point != single-bucket recall")
    assert(curve.last._2 === multi, "probe-9 point != multi-probe recall")
  }

  test("bucketStats: census coherent; planted template cluster fires the alarm") {
    val Array((nb, nv, mx, p50, p99, nsat, vsat, ppm)) =
      Similarity.bucketStats(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    val n = Similarity.vecs(spark, sf)
      .filter(org.apache.spark.sql.functions.size($"v") > 0).count()
    assert(nv === n)
    assert(p50 <= p99 && p99 <= mx && nb > 0)
    assert(ppm === vsat * 1000000L / nv)
    assert(vsat <= nv && nsat <= nb)

    // planted template cluster: 600 near-identical vectors (one shared
    // direction + tiny noise) hash to one bucket far over the cap —
    // the alarm the census exists to raise
    val d = 8
    val rows = (0 until 600).map { r =>
      (r.toLong, Array.tabulate(d)(i =>
        (0.5f + (((r * 13 + i * 7) % 11) - 5) / 5000.0f)).toSeq, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("bstats").toString
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", $"embedding".cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val Array((_, nv2, mx2, _, _, nsat2, vsat2, ppm2)) =
      Similarity.bucketStats(spark, dir)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(nv2 === 600L)
    assert(mx2 > Similarity.KnnBucketCap, "template cluster not detected")
    assert(nsat2 >= 1L && vsat2 > 256L)
    assert(ppm2 > 400000L, s"saturation alarm too weak: $ppm2 ppm")
  }

  test("planeSweep: recall and cost both fall monotonically with plane count") {
    val rows = Similarity.planeSweep(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(4L, 6L, 8L, 10L, 12L))
    // prefixes nest: adding planes can only split buckets, so hits
    // (single-bucket recall) and candidate mass are non-increasing
    // while the bucket count is non-decreasing
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 <= a._2, s"hits rose ${a._1}->${b._1}")
        assert(b._5 <= a._5, s"candidate mass rose ${a._1}->${b._1}")
        assert(b._4 >= a._4, s"bucket count fell ${a._1}->${b._1}")
      case _ => ()
    }
    // recall_ppm is exactly hits/(8*10) in ppm
    rows.foreach { r => assert(r._3 === r._2 * 1000000L / 80L) }
    // cost identity: sum of squared bucket sizes >= corpus size
    val n = Similarity.vecs(spark, sf)
      .filter(org.apache.spark.sql.functions.size($"v") > 0)
      .filter($"vec_id" >= 8).count()
    rows.foreach { r => assert(r._5 >= n, "sum |b|^2 below corpus size") }
  }

  test("knnGraph: degree bounds, even mutual mass, candidate census") {
    val rows = Similarity.knnGraph(spark, sf, k = 5)
      .select("vec_id", "n_cand", "knn_deg", "mutual_deg")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nCand, deg, mdeg) =>
      assert(deg === math.min(5L, nCand), s"$id: knn_deg != min(k, n_cand)")
      assert(mdeg <= deg, s"$id: mutual_deg exceeds knn_deg")
    }
    // every mutual pair contributes one unit to each endpoint
    assert(rows.map(_._4).sum % 2 === 0)
    // candidate census equals sum over buckets of min(|b|, C)·(|b|−1) —
    // every node probes the bucket's C smallest-id representatives,
    // excluding itself exactly when it is one of them — with buckets
    // replayed at the corpus-scaled plane count the graph used
    val planes = Similarity.knnPlanes(rows.length.toLong)
    val cap = Similarity.KnnBucketCap
    val bucketPairs = Similarity.vecs(spark, sf)
      .filter(org.apache.spark.sql.functions.size($"v") > 0)
      .groupBy(org.apache.spark.sql.functions.substring(
        Similarity.hyperplaneSignature($"v", 32), 1, planes).as("sig"))
      .count().as[(String, Long)].collect()
      .map { case (_, n) => math.min(n, cap.toLong) * (n - 1) }.sum
    assert(rows.map(_._2).sum === bucketPairs)
    // the plane rule keeps expected bucket size bounded by the target
    assert((1L << planes) * Similarity.KnnBucketTarget >= rows.length,
      "plane count under-partitions the corpus")
  }

  test("knnGraphCompensated: probe fan-out, exact candidate census, degree bounds") {
    val cap = 8
    val rows = Similarity.knnGraphCompensated(spark, sf, k = 5, cap = cap)
      .select("vec_id", "n_probes", "n_cand", "knn_deg", "mutual_deg")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val planes = Similarity.knnPlanes(rows.length.toLong)
    // replay buckets at the derived plane count
    val sigs = Similarity.vecs(spark, sf)
      .filter(org.apache.spark.sql.functions.size($"v") > 0)
      .select($"vec_id", org.apache.spark.sql.functions.substring(
        Similarity.hyperplaneSignature($"v", 32), 1, planes).as("sig"))
      .as[(Long, String)].collect()
    val bySig = sigs.groupBy(_._2)
      .map { case (s, xs) => s -> xs.map(_._1).sorted.toSeq }
    val sigOf = sigs.toMap
    def reps(s: String): Seq[Long] = bySig.getOrElse(s, Seq.empty).take(cap)
    def flips(s: String): Seq[String] = (0 until s.length).map(i =>
      s.updated(i, if (s(i) == '1') '0' else '1'))
    rows.foreach { case (id, np, nc, deg, mdeg) =>
      val own = sigOf(id)
      val saturated = bySig(own).length > cap
      assert(np === (if (saturated) 1L + planes else 1L),
        s"$id: probe fan-out must be 1 or 1+planes")
      // exact census: capped own-bucket reps minus self, plus (when
      // saturated) every Hamming-1 bucket's capped reps
      val expect = reps(own).count(_ != id) +
        (if (saturated) flips(own).map(reps(_).size).sum else 0)
      assert(nc === expect.toLong, s"$id: candidate census")
      assert(deg === math.min(5L, nc), s"$id: knn_deg != min(k, n_cand)")
      assert(mdeg <= deg, s"$id: mutual_deg exceeds knn_deg")
    }
    assert(rows.map(_._5).sum % 2 === 0)
    // this corpus saturates every bucket at cap=8 (16 buckets of 21-48
    // members), so the saturated path runs corpus-wide here...
    assert(rows.forall(_._2 === 1L + planes),
      "cap=8 should saturate every bucket at spec scale")
    // ...and the healthy/mixed path is exercised by a second run with
    // the cap above the median bucket size
    val cap2 = 30
    val rows2 = Similarity.knnGraphCompensated(spark, sf, k = 5, cap = cap2)
      .select("vec_id", "n_probes", "n_cand")
      .as[(Long, Long, Long)].collect()
    def reps2(s: String): Seq[Long] = bySig.getOrElse(s, Seq.empty).take(cap2)
    rows2.foreach { case (id, np, nc) =>
      val own = sigOf(id)
      val saturated = bySig(own).length > cap2
      assert(np === (if (saturated) 1L + planes else 1L),
        s"$id: cap=$cap2 probe fan-out")
      val expect = reps2(own).count(_ != id) +
        (if (saturated) flips(own).map(reps2(_).size).sum else 0)
      assert(nc === expect.toLong, s"$id: cap=$cap2 candidate census")
    }
    assert(rows2.exists(_._2 > 1L), "no saturated bucket at cap=30")
    assert(rows2.exists(_._2 === 1L), "no healthy bucket at cap=30")
  }

  test("knnGraph auto-compensation: no-op on healthy corpora, recall >= plain on capped") {
    // 1) at the production cap nothing saturates at spec scale, so the
    // default (compensating) graph must be byte-identical to the
    // uncompensated twin — the wiring costs healthy corpora nothing
    val comp256 = Similarity.knnGraph(spark, sf, k = 5).collect().toSeq
    val plain256 = Similarity.knnGraphCore(spark, sf, k = 5,
      cap = Similarity.KnnBucketCap, includeProbes = false,
      compensate = false, truncate = true).collect().toSeq
    assert(comp256 === plain256)
    // 2) at a saturating cap the compensated graph dominates the plain
    // capped graph: strictly more candidates overall, and per node the
    // best-neighbor cosine can only improve (superset of candidates)
    val cap = 8
    def byId(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(4)).map(_ => r.getDouble(5)))).toMap
    val comp = byId(Similarity.knnGraphCore(spark, sf, k = 5, cap = cap,
      includeProbes = false, compensate = true, truncate = true).collect().toSeq)
    val plain = byId(Similarity.knnGraphCore(spark, sf, k = 5, cap = cap,
      includeProbes = false, compensate = false, truncate = true).collect().toSeq)
    assert(comp.keySet === plain.keySet)
    comp.keySet.foreach { id =>
      assert(comp(id)._1 >= plain(id)._1, s"$id: compensated n_cand shrank")
      (comp(id)._2, plain(id)._2) match {
        case (Some(c), Some(p)) =>
          assert(c >= p, s"$id: compensated nn_top_cos worse than plain")
        case (None, Some(_)) => fail(s"$id: compensation lost the neighbor")
        case _ => ()
      }
    }
    assert(comp.values.map(_._1).sum > plain.values.map(_._1).sum,
      "cap=8 saturates this corpus; compensation must add candidates")
  }

  test("jlProject: norm-preserving in expectation, signs non-degenerate") {
    val proj = Similarity.jlProject(spark, sf, k = 8)
      .as[(Long, Long, Double)].collect().groupBy(_._1)
      .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3) }
    val orig = graft.util.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    assert(proj.nonEmpty)
    // E[||y||^2] = ||x||^2 for ±1/√k signs; per-vector variance is 2/k,
    // so the corpus MEAN ratio concentrates tightly around 1
    val ratios = proj.toSeq.collect { case (id, y) =>
      val x2 = orig(id).map(v => v.toDouble * v).sum
      if (x2 > 1e-9) Some(y.map(v => v * v).sum / x2) else None
    }.flatten
    val mean = ratios.sum / ratios.size
    assert(mean > 0.85 && mean < 1.15, s"mean norm ratio $mean")
    // regression guard against a degenerate sign matrix (e.g. parity of
    // i+j makes all components with the same j-parity collinear): the 8
    // projections of one vector must not collapse to ±one magnitude
    val mags = proj.head._2.map(math.abs).distinct
    assert(mags.length > 2, s"degenerate sign matrix: magnitudes $mags")
  }

  test("MMR re-rank replays the greedy argmax chain exactly") {
    val got = Similarity.mmrRerank(spark, sf, queryId = 0L, nCand = 16, k = 5)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length === 5 && got.map(_._2).distinct.length === 5)
    // first pick must be the relevance top-1
    val top1 = Similarity.bruteForceTopK(spark, sf, 0L, 1)
      .select("vec_id").as[Long].head()
    assert(got.head._2 === top1)
    // independent replay: collect the pool + pairwise sims, run the
    // greedy loop in plain Scala with the same integer arithmetic
    val e = Similarity.vecs(spark, sf)
    val qv = e.filter($"vec_id" === 0L).select($"v").as[Seq[Double]].head()
    def cosq(a: Seq[Double], b: Seq[Double]): Long = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val c = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.round(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    val pool = e.filter($"vec_id" =!= 0L).select($"vec_id", $"v")
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v, cosq(v, qv)) }
      .sortBy(r => (-r._3, r._1)).take(16)
    var sel = List(pool.minBy(r => (-r._3, r._1)))
    var expect = List((1, sel.head._1, sel.head._3, 7L * sel.head._3))
    for (t <- 2 to 5) {
      val rem = pool.filterNot(c => sel.exists(_._1 == c._1))
      val scored = rem.map { c =>
        val mx = sel.map(s => cosq(c._2, s._2)).max
        (c, 7L * c._3 - 3L * mx)
      }
      val best = scored.minBy { case (c, m) => (-m, c._1) }
      sel = sel :+ best._1
      expect = expect :+ ((t, best._1._1, best._1._3, best._2))
    }
    // the gate emits the exact integers (rel_q6, mmr_q7) — compare
    // the full selection chain and both scores exactly
    val gotQ = got.map(r => (r._1, r._2, r._3))
    assert(gotQ.toList === expect.map(e => (e._1, e._2, e._3)))
    got.zip(expect).foreach { case (g, e) =>
      assert(g._4 === e._4, s"rank ${g._1} mmr") }
  }
}
