package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the harness tables: replicates every table
  * `factor`x with disjoint key spaces, for large-SF bench validation
  * (`BENCH_sf1`) — the empirical check behind the repo's 100x-scale
  * claims (does AQE skew handling fire, does any build side outgrow its
  * broadcast, does any query go superlinear).
  *
  * Replication is REFERENTIALLY CONSISTENT (the same per-replica offset
  * shifts customer keys and orders' foreign keys, etc.) and similarity-
  * aware: replica texts word-suffix to `w_rN` and embeddings get a
  * deterministic per-replica directional perturbation, so cross-replica
  * near-dup/ANN pair volume does not explode quadratically — a corpus
  * 10x bigger with the SAME duplication rate, which is what a real 10x
  * corpus looks like. Dims (nation/region) stay fixed, like real dims.
  *
  * Replicas ride ONE cross-join with a `spark.range(factor)` spine, not
  * a union of `factor` per-replica plans: the union tree made analysis
  * O(factor) and capped the practical factor. Scaling must start from
  * ORIGINAL testdata — chaining scale-ups reuses the same `i * Off`
  * offsets and silently COLLIDES keys (the round-8 target/sf100 had 5M
  * document rows under 545k doc_ids that way, which breaks every
  * per-key algebra downstream — e.g. Jaccard's |A|+|B|-|A∩B| hit zero).
  * A loud max-key guard now rejects already-scaled sources.
  *
  * Usage: `tools/run_main.sh graft.ScaleUp /root/testdata/sf0.1 target/sf1 10`
  */
object ScaleUp {

  /** Per-replica key offset — far above any harness id. */
  val Off: Long = 1L << 33

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args(2).toInt
    // --hub=P: make P of all documents (uniform across replicas) share
    // one fixed boilerplate sentence — the synthetic twin of crawl
    // boilerplate (cookie banners, nav chrome, legal footers). The
    // harness corpus is deliberately hub-free, which makes every
    // Σf²-shaped all-pairs join look linear; a hubbed fixture is the
    // corpus shape PPJoin's prefix filter exists for (its hub shingles
    // have frequency P·N, so the naive shingle self-join grows (P·N)²
    // per hub gram while rarest-first prefixes never touch them).
    val hubFrac = args.drop(3).find(_.startsWith("--hub="))
      .map(_.drop("--hub=".length).toDouble).getOrElse(0.0)
    require(hubFrac >= 0.0 && hubFrac < 1.0, s"--hub=$hubFrac out of [0,1)")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // no repartition on the way out: the replicated frame is already
    // spread (see replicate), and a second full shuffle of the expanded
    // data would double the job's I/O for nothing but a file count
    def write(df: DataFrame, name: String, parts: Int = 0): Unit =
      (if (parts > 0) df.repartition(parts) else df)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    val spine = spark.range(factor.toLong)
      .select(col("id").cast("int").as("rep_i"))

    /** Cross-join the replica spine, shift every key by rep_i*Off, apply
      * the per-table `extra` (which may read rep_i), drop the spine. The
      * base is repartitioned FIRST: testdata tables arrive as one parquet
      * file = one input task, and without the spread that single task
      * would compute the whole factor-x cross-join alone. */
    def replicate(name: String, keyCols: Seq[String])(
        extra: DataFrame => DataFrame = identity): DataFrame = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      keyCols.foreach { c =>
        val mx = base.agg(max(col(c)).cast("long")).head.getLong(0)
        require(mx < Off,
          s"$name.$c max=$mx >= Off=$Off: source looks already scaled; " +
            "chaining scale-ups reuses offsets and collides keys — " +
            "scale from the original testdata with a larger factor")
      }
      val spreadBase = base.repartition(
        spark.sparkContext.defaultParallelism * 4)
      val shifted = keyCols.foldLeft(spreadBase.crossJoin(spine))((d, c) =>
        d.withColumn(c, col(c) + col("rep_i") * Off))
      extra(shifted).drop("rep_i")
    }

    // dims stay fixed
    Seq("nation", "region").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t, parts = 1)
    }
    write(replicate("customer", Seq("c_custkey"))(), "customer")
    write(replicate("orders", Seq("o_orderkey", "o_custkey"))(), "orders")
    write(replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem")
    write(replicate("part", Seq("p_partkey"))(), "part")
    write(replicate("supplier", Seq("s_suppkey"))(), "supplier")
    // ts stays raw int64 nanos (read via nanosAsLong) — Tables.events
    // converts on read, eventsBetween prunes on the raw long
    write(replicate("events", Seq("event_id", "user_id"))(), "events")
    // 16 words -> 14 three-gram hub shingles, constant across replicas
    // (prepended AFTER the replica word-suffixing: real boilerplate is
    // the same bytes on every page regardless of which crawl slice the
    // page came from)
    val boiler = "this site uses cookies to improve your experience " +
      "please accept our terms of service and policy"
    write(replicate("documents", Seq("doc_id")) { d =>
      val suffixed = d.withColumn("text",
        when(col("rep_i") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_r"), col("rep_i").cast("string"))), " ")))
      val hubbed =
        if (hubFrac == 0.0) suffixed
        else suffixed.withColumn("text",
          when(pmod(xxhash64(col("doc_id")), lit(1000000L)) <
              lit((hubFrac * 1000000L).toLong),
            concat(lit(boiler), lit(" "), col("text")))
            .otherwise(col("text")))
      hubbed.withColumn("n_chars", length(col("text")))
    }, "documents")
    write(replicate("embeddings", Seq("vec_id")) { d =>
      d.withColumn("embedding",
        when(col("rep_i") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, pos) =>
            // deterministic directional noise (±0.2 per component,
            // varying by replica and position) so cross-replica cosines
            // drop below the near-dup taus: same dup RATE as the base
            // corpus at any factor
            (x + (pmod(pos.cast("long") * lit(2654435761L)
                + col("rep_i").cast("long") * lit(40503L), lit(201L))
              - 100).cast("double") / 500.0).cast("float"))))
    }, "embeddings")

    // post-write uniqueness certificate: every replicated table must have
    // exactly factor * base distinct primary keys — the loud version of
    // the guarantee downstream per-key algebra assumes
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id").foreach { case (t, k) =>
      val baseN = spark.read.parquet(s"$src/$t.parquet")
        .select(col(k)).distinct().count()
      val gotN = spark.read.parquet(s"$dst/$t.parquet")
        .select(col(k)).distinct().count()
      require(gotN == baseN * factor,
        s"$t.$k: expected ${baseN * factor} distinct keys, got $gotN")
      println(s"[scaleup] $t.$k distinct=$gotN OK")
    }
    spark.stop()
  }
}
