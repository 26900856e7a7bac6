package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.indicators.Indicators
import graft.util.Tables

/** The reference's five analytical query shapes (Flask endpoints, SURVEY.md
  * §2.4-2.8, §3.3), re-expressed as single declarative Spark plans over the
  * harness tables.
  *
  * Mapping of the crypto schema onto the harness star schema / event
  * stream:
  *   - `coins` (dimension)                → `customer` (+ `nation`/`region`)
  *   - `price_data` (per-key time series) → `events` keyed by
  *     (user_id, event_type) with `ts`/`value`, or `orders` keyed by
  *     o_custkey with o_orderdate
  *   - the indicator table               → indicators computed over `events`
  *
  * Scale notes (the part that matters at 100 TB):
  *   - every time-range / suffix predicate sits directly on the parquet
  *     scan → Catalyst pushes it into the reader (`PushedFilters`), unlike
  *     the reference which filters client-side after a full CQL scan
  *     (`flask/app.py:51,110,163`);
  *   - latest-per-key is a single window (one shuffle on the key), not the
  *     reference's fetch-all-then-pandas `sort + groupby.last`;
  *   - dimension joins are broadcast (`broadcast(customer ⋈ nation ⋈
  *     region)`) so the fact table never shuffles for them.
  */
object Analytics {

  private def rn(partition: Seq[Column], order: Seq[Column]): Column =
    row_number().over(Window.partitionBy(partition: _*).orderBy(order: _*))

  /** Deterministic event-series ordering: ts with event_id tiebreak. */
  private val evOrder: Seq[Column] = Seq(col("ts"), col("event_id"))

  // --------------------------------------------------------------------
  // /price_chart shape: time-range filter + suffix filter + projection
  // (reference flask/app.py:24-75; F1+F2+P5+O2)
  // --------------------------------------------------------------------

  /** Rows of the price series for "coins" whose id ends with a suffix,
    * within a time range — filters pushed to the scan. */
  def priceChart(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsBetween(spark, dir, // range pushed to the raw scan column
        "2024-01-15T00:00:00Z", "2024-01-22T00:00:00Z")
      .filter(col("event_type").endsWith("e")) // F2: suffix predicate
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
              round(col("value"), 6).as("value"))
      .orderBy(col("event_id"))

  // --------------------------------------------------------------------
  // /ohlc_chart shape: per-key per-bucket OHLC resample
  // (reference flask/app.py:78-140 renders stored OHLC; we derive bars
  //  from the tick stream — same window machinery as F8/O5 top-1-per-group)
  // --------------------------------------------------------------------

  /** Daily OHLC bars per user: open/close via deterministic first/last
    * (window top-1), high/low/volume via plain aggregates. Single shuffle
    * on (user_id, day). */
  def ohlcResample(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
    val key = Seq(col("user_id"), col("day"))
    val asc = rn(key, evOrder)
    val desc = rn(key, Seq(col("ts").desc, col("event_id").desc))
    ev.withColumn("rn_open", asc).withColumn("rn_close", desc)
      .groupBy(col("user_id"), col("day"))
      .agg(
        round(max(when(col("rn_open") === 1, col("value"))), 6).as("open"),
        round(max(col("value")), 6).as("high"),
        round(min(col("value")), 6).as("low"),
        round(max(when(col("rn_close") === 1, col("value"))), 6).as("close"),
        count(lit(1)).as("n_ticks"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Multi-timeframe OHLC in ONE pass — the reference pulls 1h/1d/1w/1M
    * bars as four separate REST fetches per coin
    * (`dags/crypto_data_streaming.py:67-70`); here each tick explodes
    * into its four (timeframe, bucket) assignments and a single
    * map-side-combinable aggregation builds every bar of every frame:
    * one scan and one shuffle for the whole ladder instead of four
    * (the explode is map-side — 4× rows into the partial agg, which
    * collapses them to bar granularity before anything moves). Buckets
    * are pure integer algebra on epoch-µs (weeks Monday-aligned via
    * `(epoch_day + 3) div 7`, months as `year·12 + month − 1`);
    * open/close are (ts, event_id)-argmin/argmax — deterministic under
    * ties, no window pass at all. */
  def ohlcMulti(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
    val frames = array(
      struct(lit("1h").as("tf"), expr("us div 3600000000").as("bucket")),
      struct(lit("1d").as("tf"), expr("us div 86400000000").as("bucket")),
      struct(lit("1w").as("tf"),
        expr("((us div 86400000000) + 3) div 7").as("bucket")),
      struct(lit("1M").as("tf"),
        (year(col("ts")) * 12 + month(col("ts")) - 1).cast("long").as("bucket")))
    ev.withColumn("f", explode(frames))
      .groupBy(col("user_id"), col("f.tf").as("tf"), col("f.bucket").as("bucket"))
      .agg(
        round(expr("min_by(value, struct(ts, event_id))"), 6).as("open"),
        round(max(col("value")), 6).as("high"),
        round(min(col("value")), 6).as("low"),
        round(expr("max_by(value, struct(ts, event_id))"), 6).as("close"),
        count(lit(1)).as("n_ticks"))
      .orderBy(col("user_id"), col("tf"), col("bucket"))
  }

  // --------------------------------------------------------------------
  // latest-per-key (A2): the `sort + groupby.last` of flask/app.py:300
  // --------------------------------------------------------------------

  /** Latest event per (user_id, event_type) — one window, one shuffle. */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rnk", rn(Seq(col("user_id"), col("event_type")),
                            Seq(col("ts").desc, col("event_id").desc)))
      .filter(col("rnk") === 1)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
              round(col("value"), 6).as("value"))
      .orderBy(col("user_id"), col("event_type"))

  // --------------------------------------------------------------------
  // /coin_table shape (J1-J3 + A2): dim ⋈ fact latest-per-key snapshot
  // (reference flask/app.py:270-302)
  // --------------------------------------------------------------------

  /** Flagship: per customer, the latest order joined with the customer /
    * nation / region dimensions. The dims are broadcast so the fact scan
    * is the only distributed input; latest-per-key is a single window.
    * This is the sane "latest-per-source-then-join" variant (SURVEY.md
    * §2.5 J3 caveat). */
  def coinTable(spark: SparkSession, dir: String): DataFrame = {
    val latestOrder = Tables.orders(spark, dir)
      .withColumn("rnk", rn(Seq(col("o_custkey")),
                            Seq(col("o_orderdate").desc, col("o_orderkey").desc)))
      .filter(col("rnk") === 1)
    val dims = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
    latestOrder.join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"),
              col("o_orderkey"), round(col("o_totalprice"), 6).as("o_totalprice"),
              col("o_orderdate"))
      .orderBy(col("c_custkey"))
  }

  /** The reference's *exact* cross-product join semantics (J1-J3 joined on
    * key only across three per-key time series, then one latest row kept
    * per key — flask/app.py:294-300), made deterministic with a full
    * ordering. Kept as its own query for oracle parity; `coinTable` is the
    * efficient variant. */
  def coinTableRef(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def stream(t: String, pfx: String): DataFrame =
      ev.filter(col("event_type") === t)
        .select(col("user_id"),
                col("ts").as(s"${pfx}_ts"),
                col("event_id").as(s"${pfx}_id"),
                col("value").as(s"${pfx}_value"))
    val joined = stream("purchase", "a")
      .join(stream("click", "b"), "user_id")
      .join(stream("view", "c"), "user_id")
    joined
      .withColumn("rnk", rn(Seq(col("user_id")),
        Seq(col("a_ts").desc, col("a_id").desc, col("b_ts").desc,
            col("b_id").desc, col("c_ts").desc, col("c_id").desc)))
      .filter(col("rnk") === 1)
      .select(col("user_id"), col("a_ts"), round(col("a_value"), 6).as("a_value"),
              col("b_ts"), round(col("b_value"), 6).as("b_value"),
              col("c_ts"), round(col("c_value"), 6).as("c_value"))
      .orderBy(col("user_id"))
  }

  // --------------------------------------------------------------------
  // /coin_market_cap shape (A1+F4+A10): latest snapshot + share
  // --------------------------------------------------------------------

  /** Share-of-total on the latest day: two-step max-snapshot collapsed
    * into one plan (scalar max subquery instead of the reference's two
    * hand-executed round-trips, flask/app.py:208-218). */
  def marketCapShare(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    val lastDay = ev.agg(max(col("day")).as("last_day"))
    ev.join(broadcast(lastDay), col("day") === col("last_day"))
      .groupBy(col("event_type"))
      .agg(sum(col("value")).as("total_value"), count(lit(1)).as("n"))
      .withColumn("share",
        round(col("total_value") / sum(col("total_value")).over(Window.partitionBy()), 6))
      .withColumn("total_value", round(col("total_value"), 6))
      .orderBy(col("event_type"))
  }

  // --------------------------------------------------------------------
  // per-group series stats (A3 oracle-friendly form) + top-k (F8/O5)
  // --------------------------------------------------------------------

  /** Per-exchange series aggregates (A3's collect-series rendered as
    * aggregate stats for a hashable oracle). */
  def seriesStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value")), 4).as("sum_value"),
           round(avg(col("value")), 6).as("avg_value"),
           min(col("ts")).as("first_ts"),
           max(col("ts")).as("last_ts"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** Top-3 events by value per user (F8's limit-1-per-timeframe shape,
    * generalized): window top-k, no global sort. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rnk", rn(Seq(col("user_id")),
                            Seq(col("value").desc, col("event_id"))))
      .filter(col("rnk") <= 3)
      .select(col("user_id"), col("rnk"), col("event_id"),
              round(col("value"), 6).as("value"))
      .orderBy(col("user_id"), col("rnk"))

  /** [[topkPerGroup]]'s result via the custom sort-free
    * [[graft.plans.TopKPerKey]] operator (bounded per-key heaps, partial
    * before the shuffle + final after — the whole-operator extension
    * rung; see TopKSpec for the plan and equality guarantees). */
  def topkNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.Graft.topKPerKey(
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), col("value")),
        keyCols = Seq("user_id"),
        orderCols = Seq(("value", true), ("event_id", false)), k = 3)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
      .orderBy(col("user_id"), col("event_id"))

  // --------------------------------------------------------------------
  // TPC-H-shaped aggregates (bench headliners)
  // --------------------------------------------------------------------

  /** Q1 shape: scan-heavy grouped aggregation over lineitem — map-side
    * partial aggregation, 4-6 groups, whole-stage codegen end to end. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Q3 shape: selective dim filter → broadcast ⋈ fact ⋈ fact → top-k
    * revenue. Customer is broadcast; lineitem⋈orders shuffles on the
    * orderkey only. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("2000-03-15 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape — the six-table join/reorder showcase: lineitem ⋈
    * orders ⋈ customer shuffle on their keys, while supplier and the
    * region-filtered nation dim are broadcast. Revenue is summed in
    * DECIMAL: a per-NATION double sum over thousands of rows differs
    * between engines at the ulp and 6dp rounding sits inside that noise;
    * decimal sums are exact and identical everywhere. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val dec = (c: Column) => c.cast("decimal(18,2)")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") -
          dec(col("l_discount")))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("rev")).cast("double"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // --------------------------------------------------------------------
  // scalar-function pack (C1-C11) — exercised as one projection query
  // --------------------------------------------------------------------

  /** The reference's scalar surface in one pass over `part`: split /
    * element_at (C1), concat (C2), endswith (C3), ratio-with-null-guard
    * (C8), casts (C9), arithmetic (C11). */
  def scalarPack(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        split(col("p_type"), " ").getItem(0).as("type_head"),
        concat_ws("_", col("p_brand"), col("p_partkey")).as("brand_id"),
        col("p_type").endsWith("STEEL").cast("int").as("is_steel"),
        when(col("p_size") =!= 0, round(col("p_retailprice") / col("p_size"), 6)).as("price_per_size"),
        round(col("p_retailprice") * 1.1 - 5.0, 6).as("adjusted"))
      .orderBy(col("p_partkey"))

  /** JSON field extraction from the events `props` column (the envelope's
    * nested-JSON surface, P2, applied per-row). regexp-based so the DuckDB
    * oracle is expressible without the JSON extension. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  // --------------------------------------------------------------------
  // indicators (A4-A9) over the event stream
  // --------------------------------------------------------------------

  /** Full indicator table per (user_id, event_type) series — the
    * reference's technical_indicators output (spark-streaming.py:152-162)
    * over harness data. One Window operator computes SMA/EMA/RSI/MACD. */
  def indicatorTable(spark: SparkSession, dir: String): DataFrame =
    Indicators.withIndicators(
        Tables.events(spark, dir),
        keys = Seq("user_id", "event_type"),
        order = Seq(col("ts"), col("event_id")),
        value = col("value"))
      // 1e-6-quantized BIGINT gates: rsi_14 landed on an exact 6dp
      // half-way tie at sf0.1 (scanner-verified) and macd crosses zero
      // (the -0.0 sign-split class); nulls propagate through round/cast
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
              round(col("sma_20") * 1e6).cast("long").as("sma_20_q6"),
              round(col("ema_20") * 1e6).cast("long").as("ema_20_q6"),
              round(col("rsi_14") * 1e6).cast("long").as("rsi_14_q6"),
              round(col("macd") * 1e6).cast("long").as("macd_q6"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))

  /** J4 (the reference's dormant geo join, flask/app.py:242-244): left
    * outer join of a complete dimension against sparse aggregates, with
    * `fillna(0)` semantics — nations with no BUILDING customers keep a
    * zero row instead of vanishing. */
  def leftJoinFill(spark: SparkSession, dir: String): DataFrame = {
    val perNation = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_building"),
           round(sum(col("c_acctbal")), 4).as("total_bal"))
    Tables.nation(spark, dir)
      .join(perNation, col("n_nationkey") === col("c_nationkey"), "left")
      .na.fill(0, Seq("n_building", "total_bal"))
      .select(col("n_nationkey"), col("n_name"), col("n_building"), col("total_bal"))
      .orderBy(col("n_nationkey"))
  }

  /** A3 (per-exchange collect-series for the multi-line chart,
    * flask/app.py:49-56): the time-ordered series per key, collected and
    * rendered as one deterministic string so the oracle can hash it. */
  def seriesCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("ts"), col("event_id")))),
          s => s.getField("event_id").cast("string")),
        ",").as("series"))
      .orderBy(col("event_type"))

  /** C10: map→rows flatten (the reference's market_cap_percentage dict,
    * dags/crypto_data_streaming.py:130-138) — JSON object parsed as a
    * MapType and exploded into key/value rows. */
  def mapExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType))))
      .select(col("event_id"), col("key"), col("value"))
      .orderBy(col("event_id"), col("key"))

  /** As-of join: each click enriched with the latest purchase value
    * at-or-before its timestamp per user — the point-in-time semantics
    * the reference's cross-product join approximates (see ops/AsOf). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value"), 6).as("click_value"))
    // __tb (the purchase event_id) makes exact-ts tie resolution
    // deterministic regardless of fixture — see AsOf's tie contract
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("__tb"),
        round(col("value"), 6).as("last_purchase"))
    graft.ops.AsOf.joinAsOf(clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("last_purchase"), tieBreak = Seq("__tb"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** Forward as-of: each click enriched with the NEXT purchase value
    * at-or-after its timestamp per user — time-to-conversion semantics,
    * the mirror of [[asofJoin]]. */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value"), 6).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("__tb"),
        round(col("value"), 6).as("next_purchase"))
    graft.ops.AsOf.joinAsOfForward(clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("next_purchase"), tieBreak = Seq("__tb"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** [[asofJoin]] with a 1-hour staleness bound: a purchase only
    * enriches a click made within the following hour — the freshness
    * contract every market-data as-of carries in practice. Same
    * single-shuffle union+window plan; the bound is a projection. */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value"), 6).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("__tb"),
        round(col("value"), 6).as("last_purchase"))
    graft.ops.AsOf.joinAsOfTolerance(clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("last_purchase"), tolUs = 3600L * 1000000L,
        tieBreak = Seq("__tb"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** Set operations (absent from the reference, §2.9 — part of the
    * complete relational surface): per user, whether they belong to the
    * clickers∩purchasers, clickers∖purchasers, and the union count. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    val both = users("click").intersect(users("purchase"))
      .withColumn("relation", lit("click_and_purchase"))
    val onlyClick = users("click").except(users("purchase"))
      .withColumn("relation", lit("click_only"))
    val union = users("click").union(users("purchase")).distinct()
      .withColumn("relation", lit("click_or_purchase"))
    both.unionByName(onlyClick).unionByName(union)
      .orderBy(col("relation"), col("user_id"))
  }

  /** The SQL entry path: the same engine driven through `spark.sql` over
    * registered views — proving the library's tables compose with plain
    * SQL (every other query uses the DataFrame DSL). */
  def sqlApi(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS total_price
        |FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** Explicit GROUPING SETS (the general form behind cube/rollup,
    * §2.6): per-(type, cohort), per-type, and grand-total aggregates in
    * ONE Expand+Aggregate pass — the plan reads the input once and
    * replicates rows per grouping set, vs three scans for a UNION ALL
    * of separate GROUP BYs. The grouping id is spelled as
    * grouping(a)·2 + grouping(b) so both engines agree bit-for-bit on
    * the set labels regardless of their native grouping_id order. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("v_events")
    spark.sql(
      """SELECT event_type, user_id % 10 AS cohort,
        |  grouping(event_type) * 2 + grouping(user_id % 10) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM v_events
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
        |ORDER BY gid, event_type, cohort""".stripMargin)
  }

  /** Correlated scalar subquery + EXISTS, SQL-expressed so Catalyst's
    * decorrelation rules (RewriteCorrelatedScalarSubquery /
    * RewritePredicateSubquery — the rewrites the reference executed by
    * hand as two round-trips, SURVEY.md §4) turn them into joins:
    * orders above their customer's average with at least one lineitem. */
  def correlated(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
        |FROM v_orders o
        |WHERE o_totalprice > (SELECT round(avg(o2.o_totalprice) * 1.5, 4)
        |                      FROM v_orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |  AND EXISTS (SELECT 1 FROM v_lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Pivot (crosstab): per-user event counts, one column per event type.
    * The value list is fixed, so the schema is static and plannable. */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Unpivot (melt): part's numeric attributes long-form. */
  def unpivotPart(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "metric", "metric_value")
      .withColumn("metric_value", round(col("metric_value"), 6))
      .orderBy(col("p_partkey"), col("metric"))

  /** Ranking/distribution window pack: lead, rank, dense_rank, ntile,
    * cume_dist over a deterministic per-user order. */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(lead(col("value"), 1).over(w), 6).as("next_value"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Scalar string pack 2: pad/reverse/translate/repeat/levenshtein. */
  def scalarPack2(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        lpad(col("p_brand"), 12, "#").as("padded"),
        reverse(col("p_type")).as("reversed"),
        translate(col("p_brand"), "#", "_").as("translated"),
        concat(col("p_brand"), lit("|"), col("p_brand")).as("doubled"),
        levenshtein(col("p_type"), lit("PROMO BURNISHED STEEL")).as("edit_dist"),
        // C4: the reference's display-casing (flask/app.py:139,194)
        initcap(col("p_type")).as("title_type"))
      .orderBy(col("p_partkey"))

  /** Datetime extraction pack with engine-normalized semantics (ISO
    * Monday-start weekday, ISO week number, truncations). */
  def datetimePack(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        // ISO weekday 1=Monday..7=Sunday on both engines
        expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int").as("iso_dow"),
        weekofyear(col("ts")).as("iso_week"),
        date_trunc("week", col("ts")).as("week_start"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .orderBy(col("event_id"))

  /** Supplier rollup by region (Q5-lite): two broadcast dims, one fact
    * aggregation — exercises the remaining harness table. */
  def supplierByRegion(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("s_acctbal")), 4).as("total_bal"),
        round(avg(col("s_acctbal")), 6).as("avg_bal"))
      .orderBy(col("r_name"))

  /** Sketch/approximate aggregation (HLL-based approx_count_distinct),
    * gated with a bracket-style oracle: the hashed output carries the
    * EXACT distinct counts (DuckDB-reproducible) plus 0/1 flags asserting
    * each sketch estimate landed within its published error envelope —
    * the default-rsd (0.05) sketch within 3σ = 15%, the rsd=0.02 sketch
    * within 6%. The flags are DERIVED from the sketch values, so a broken
    * sketch flips them and fails the hash gate; the raw estimates stay
    * out of the hashed columns because no other engine reproduces a
    * DataSketches buffer bit-for-bit. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    def within(est: Column, exact: Column, tol: Double): Column =
      when(abs(est.cast("double") - exact) <= lit(tol) * exact, 1L).otherwise(0L)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("au"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("value"), 0.02).as("av"),
        countDistinct(col("value")).as("exact_values"))
      .select(col("event_type"), col("exact_users"), col("exact_values"),
        within(col("au"), col("exact_users"), 0.15).as("approx_users_ok"),
        within(col("av"), col("exact_values"), 0.06).as("approx_values_ok"))
      .orderBy(col("event_type"))
  }

  /** Range (interval) join, scalable form: clicks ⋈ purchases of the
    * same user within ±5 minutes. A naive theta-join is O(n·m) per user;
    * instead both sides are bucketed into 5-minute bands and the left
    * side probes bands {b−1, b, b+1} via an equi-join, with the exact
    * |Δts| predicate applied after — each qualifying pair matches exactly
    * one band, so no dedup is needed. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val W = 300L * 1000000L // 5 minutes in µs
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withColumn("bucket",
        explode(array(Seq(-1, 0, 1).map(d => expr(s"c_us div $W") + d): _*)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withColumn("bucket", expr(s"p_us div $W"))
    clicks.join(purchases, Seq("user_id", "bucket"))
      .filter(abs(col("c_us") - col("p_us")) <= W)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Grouping-sets rollup over the corpus: cube(lang, source) with
    * grouping id and ALL placeholders (no nulls, so ordering semantics
    * can't diverge between engines). */
  def cubeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        grouping_id().cast("int").as("gid"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("avg_chars"), col("gid"))
      .orderBy(col("gid"), col("lang"), col("source"))

  /** Hierarchical ROLLUP over the region → nation dimension ladder:
    * per-nation, per-region subtotal, grand total in ONE aggregation pass
    * (grouping sets share the scan and the partial aggregates), with
    * customer counts and integer-cents balances so every level is
    * engine-exact. The rollup lattice is linear — unlike cube it never
    * explodes combinatorially with dimension count. */
  def rollupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"),
        grouping_id().cast("int").as("gid"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("bal_cents"), col("gid"))
      .orderBy(col("gid"), col("region"), col("nation"))

  /** Sessionization (gaps-and-islands): user sessions split on >30min
    * inactivity, aggregated to (start, end, events, value). The formulation
    * is two windows + one groupBy — identical semantics to Spark's native
    * `session_window` (demonstrated in WindowedStatsSpec) but expressible
    * in the oracle. At scale: one shuffle on user_id, sessions never
    * materialized row-wise. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
    // integer-microsecond gap check: second-truncating casts would
    // disagree with the oracle on fractional-second boundaries
    val us = unix_micros(col("ts"))
    val gap = when(us - lag(us, 1).over(w) > 1800L * 1000000L, 1).otherwise(0)
    Tables.events(spark, dir)
      .withColumn("new_session", gap)
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"),
           count(lit(1)).as("n_events"),
           // integer cents, not round(sum(double), 4): a float sum's low
           // bits depend on summation order (partitioning, engine thread
           // count), and a 4-dp round can't hide a boundary-straddling
           // ulp — the one hash flake in rounds 1-2. Cents are exact and
           // order-independent.
           sum(round(col("value") * 100).cast("long")).as("session_cents"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** SCD2-style validity windows: each observation per (user, type)
    * becomes a versioned row [valid_from, valid_to) with a current flag —
    * the upsert-history layout a warehouse keeps for dimensions. One
    * window pass. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(evOrder: _*)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        lead(col("ts"), 1).over(w).isNull.cast("int").as("is_current"))
      .orderBy(col("user_id"), col("event_type"), col("valid_from"), col("event_id"))
  }

  /** Conversion funnel: per user, first timestamp of each stage and
    * whether the signup → click → purchase sequence completed in order. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("signup_ts"),
        min(when(col("event_type") === "click", col("ts"))).as("click_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("purchase_ts"))
      .withColumn("converted",
        (col("signup_ts").isNotNull && col("click_ts").isNotNull &&
         col("purchase_ts").isNotNull &&
         col("signup_ts") < col("click_ts") &&
         col("click_ts") < col("purchase_ts")).cast("int"))
      .orderBy(col("user_id"))

  /** Deterministic stratified (systematic) sampling: every 10th row per
    * stratum in a fixed total order — reproducible across engines and
    * runs, unlike RNG-based `sample()`. The per-stratum rate is exact to
    * within one row. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(evOrder: _*)))
      .filter(col("rn") % 10 === 1)
      .select(col("event_type"), col("rn"), col("event_id"), col("ts"),
        round(col("value"), 6).as("value"))
      .orderBy(col("event_type"), col("rn"))

  /** Outlier detection: events above their type's exact p99 — the
    * threshold aggregate is tiny (one row per key) and broadcast, so the
    * fact scan never shuffles. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    // threshold rounded BEFORE the comparison: Spark's percentile and
    // DuckDB's quantile_cont differ at the ulp level (~3e-14 measured),
    // so membership must be decided on the engine-stable rounded value
    val thresholds = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.99)"), 6).as("p99"))
    Tables.events(spark, dir)
      .join(broadcast(thresholds), "event_type")
      .filter(col("value") > col("p99"))
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"), col("p99"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** Fixed-width histogram per key: 20 buckets of width 10 over the
    * value range, top bucket open-ended — the distribution profile pass
    * of a data-quality pipeline, one grouped aggregation. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bucket",
        least(floor(col("value") / 10.0), lit(19.0)).cast("int"))
      .groupBy(col("event_type"), col("bucket"))
      // mean via exact cent sums (order-independent), gated as the
      // 1e-6-quantized BIGINT: float avg() both accumulates in
      // partition order and landed on a 6dp half-way tie
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("event_type"), col("bucket"), col("n"),
        round(col("sum_cents").cast("double") * 1e4 / col("n").cast("double"))
          .cast("long").as("avg_value_q6"))
      .orderBy(col("event_type"), col("bucket"))

  /** Mergeable log-bucket quantile sketch, gated as q_quantile_sketch —
    * the 100 TB answer to exact `percentile()` (which needs a per-group
    * sort of the full value stream): DDSketch-style buckets with `sub`
    * sub-buckets per octave, giving relative error ≤ ~1/sub, except the
    * bucket index is EXACT INTEGER arithmetic — octave = floor(log2 c) =
    * length(bin(c)) − 1 and sub-bucket = (c − 2^e)·sub DIV 2^e — not
    * log_γ(x), whose libm rounding differs across engines exactly at
    * bucket boundaries. The histogram is the sketch: counts add, so the
    * summary is order-invariant and mergeable by construction (the
    * sketch_merge property, no custom buffer needed), with ≤ 64·sub
    * buckets per key at ANY corpus size.
    *
    * Per (event_type, q ∈ {50, 90, 99}): the covering bucket, its exact
    * integer [lo, hi] cent bounds, the exact rank-based quantile, and
    * the `within_ok` certificate that the bound contains it. The exact
    * side is the verification harness (affordable at oracle SF — one
    * value-histogram cumsum, the misraGries convention); the production
    * artifact is the bounded histogram from the single pass. All gated
    * columns are BIGINTs/flags — no float anywhere. The per-key
    * quantile windows run over the BOUNDED histograms (the
    * classifierAuc bounded-table exception, ≤ 64·sub rows per key). */
  def quantileSketch(spark: SparkSession, dir: String,
      sub: Int = 8, qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .filter(col("c") >= 1)
      .localCheckpoint(eager = false) // sketch pass + exact harness read it
    // one additive aggregation on a FIXED key space (≤ 64·sub cells per
    // event_type): cells from disjoint inputs merge by addition
    val hist = base
      .withColumn("e", (length(bin(col("c"))) - 1).cast("long"))
      .withColumn("p2", expr("shiftleft(1L, cast(e as int))"))
      .withColumn("subb", expr(s"(c - p2) * $sub div p2"))
      .withColumn("bucket", col("e") * sub + col("subb"))
      .groupBy(col("event_type"), col("bucket"), col("p2"), col("subb"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo_cents", col("p2") + expr(s"subb * p2 div $sub"))
      .withColumn("hi_cents", col("p2") + expr(s"(subb + 1) * p2 div $sub"))
    val wKey = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wKey))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .localCheckpoint(eager = false) // one histogram feeds all 3 quantiles
    // exact discrete quantile from the VALUE histogram (verification side)
    val vw = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exactCum = base.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("vc"))
      .withColumn("vcum", sum(col("vc")).over(vw))
      .localCheckpoint(eager = false)
    // one pass for all quantiles: explode q as a column instead of a
    // per-q union (a union re-plans the whole subtree per branch)
    val picked = cum
      .withColumn("q", explode(array(qs.map(q => lit(q.toLong)): _*)))
      .withColumn("target", expr("(n * q + 99) div 100")) // ceil, exact
      .filter(col("cum") >= col("target"))
      .groupBy(col("event_type"), col("q"), col("target"), col("n"))
      .agg(min(struct(col("bucket"), col("lo_cents"), col("hi_cents"))).as("b"))
      .select(col("event_type"), col("q"), col("n"), col("target"),
        col("b.bucket").as("bucket"), col("b.lo_cents").as("lo_cents"),
        col("b.hi_cents").as("hi_cents"))
    val quantiles = picked.join(
        exactCum.select(col("event_type"), col("c"), col("vcum")),
        Seq("event_type"))
      .filter(col("vcum") >= col("target"))
      .groupBy(col("event_type"), col("q"), col("n"), col("bucket"),
        col("lo_cents"), col("hi_cents"))
      .agg(min(col("c")).as("exact_cents"))
    quantiles
      .select(col("event_type"), col("q"), col("n"), col("bucket"),
        col("lo_cents"), col("hi_cents"), col("exact_cents"),
        when(col("exact_cents").between(col("lo_cents"), col("hi_cents")), 1L)
          .otherwise(0L).as("within_ok"))
      .orderBy(col("event_type"), col("q"))
  }

  /** Exact percentiles per key (p50/p90/p99 with linear interpolation —
    * the distribution-summary pass every data-quality pipeline runs). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy(col("event_type"))

  /** O3: the /technical_indicators endpoint's limit-then-filter shape
    * (reference flask/app.py:151 applies LIMIT 1000 BEFORE the symbol
    * filter — a sampling bug we replicate deterministically by imposing a
    * total order first). */
  def indicatorSlice(spark: SparkSession, dir: String): DataFrame =
    lagDiff(spark, dir)
      .limit(1000)
      .filter(col("event_type").endsWith("k"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))

  /** Bollinger bands (20-row mid ± 2σ): rolling mean + sample stddev in
    * the same masked window as SMA — one more indicator sharing the
    * single Window pass. */
  def bollinger(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(evOrder: _*)
    val f = w.rowsBetween(-19, 0)
    val cnt = count(lit(1)).over(f)
    val mid = when(cnt === 20, avg(col("value")).over(f))
    val sd = when(cnt === 20, stddev_samp(col("value")).over(f))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        round(mid, 6).as("bb_mid"),
        round(mid + lit(2.0) * sd, 6).as("bb_upper"),
        round(mid - lit(2.0) * sd, 6).as("bb_lower"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))
  }

  /** Hot-key aggregation via two-phase salting (ops/Skew): identical
    * results to a plain groupBy — which is exactly what the oracle runs —
    * but the partial aggregate spreads each of the 5 hot event_type keys
    * over 32 tasks. Restricted to exactly-decomposable aggregates
    * (count / long-sum / min / max) so salting is bit-exact. */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedAgg(
        Tables.events(spark, dir), Seq("event_type"), buckets = 32,
        aggs = scala.collection.immutable.ListMap(
          "n" -> (("event_id", graft.ops.Skew.CountAgg)),
          "total_id" -> (("event_id", graft.ops.Skew.SumAgg)),
          "lo" -> (("value", graft.ops.Skew.MinAgg)),
          "hi" -> (("value", graft.ops.Skew.MaxAgg))))
      .orderBy(col("event_type"))

  /** Salt-replicated fact⋈dim join (Skew.saltedJoin), aggregated per
    * market segment. Exact-equality twin of the plain equi-join oracle:
    * the salt spreads any hot user over 8 tasks and the post-join groupBy
    * starts from the already-spread (key, salt) partitioning. */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.ops.Skew.saltedJoin(fact, dim, "user_id", buckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total_cents"),
        countDistinct(col("user_id")).as("users"))
      .orderBy(col("c_mktsegment"))
  }

  /** P1-P8 exercised end-to-end: pack the event stream into JSON
    * envelopes (one per day, the ingestion side's `json.dumps`), then
    * parse + explode them back out — the result must be the identity
    * projection of the input, which is exactly what the oracle asserts. */
  def envelopeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id").cast("string").as("coin_id"),
        col("event_type").as("exchange"),
        col("ts").as("timestamp"),
        round(col("value"), 6).as("price"),
        col("event_id").cast("double").as("volume_24h"),
        lit(0.0).as("percent_change_24h"))
    val env = graft.ingest.Envelope.buildEnvelopes(
      ev, Seq(to_date(col("timestamp")).as("day")))
    val d = graft.ingest.Envelope.demux(graft.ingest.Envelope.parse(env))
    d.price.orderBy(col("coin_id"), col("timestamp"), col("volume_24h"))
  }

  /** Lag/diff alone (A7) — kept separate so the oracle isolates it. */
  def lagDiff(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("prev_value",
        lag(col("value"), 1).over(
          Window.partitionBy(col("user_id"), col("event_type")).orderBy(evOrder: _*)))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
              round(col("value") - col("prev_value"), 6).as("delta"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))

  /** Wilder-smoothed RSI-14 (the standard variant the reference's
    * Cutler-RSI omits) — the custom Ewma window function with α = 1/14
    * over a seeded gain/loss series, one Window pass. */
  def rsiWilder(spark: SparkSession, dir: String): DataFrame =
    Indicators.withWilderRsi(
        Tables.events(spark, dir),
        keys = Seq("user_id", "event_type"),
        order = evOrder,
        value = col("value"))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        round(col("wg") * 1e6).cast("long").as("avg_gain_q6"),
        round(col("wl") * 1e6).cast("long").as("avg_loss_q6"),
        round(col("rsi_wilder") * 1e6).cast("long").as("rsi_wilder_q6"))
      .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))

  /** Column profiling over lineitem's numeric columns: row/null/distinct
    * counts + min/max/mean per column, in long form — the data-quality
    * gate a training pipeline runs before ingesting a new source. ONE
    * aggregation pass over the scan (the multi-count-distinct expands
    * rows k-ways map-side — still a single shuffle, no per-column scans),
    * then an unpivot of the 1-row result, which is free. */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(spark, dir)
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"n__$c"),
        sum(col(c).isNull.cast("long")).as(s"nulls__$c"),
        countDistinct(col(c)).as(s"dist__$c"),
        min(col(c)).cast("double").as(s"min__$c"),
        max(col(c)).cast("double").as(s"max__$c"),
        round(avg(col(c)), 6).as(s"avg__$c"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"n__$c").as("n_rows"),
        col(s"nulls__$c").as("n_nulls"), col(s"dist__$c").as("n_distinct"),
        col(s"min__$c").as("min_v"), col(s"max__$c").as("max_v"),
        col(s"avg__$c").as("avg_v"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .orderBy(col("col_name"))
  }

  /** Engine-portable table checksum: an order-independent fingerprint
    * (row count + SUM of a 32-bit slice of each row's md5) any engine can
    * reproduce — THE verification primitive for a migration like this
    * repo itself (reference engine → Spark): run on both sides, compare
    * two numbers instead of terabytes. Integer sums are exact and
    * commutative, so partitioning/order never changes the result; md5 is
    * available everywhere (unlike engine-native hash functions). One
    * map-side pass + a scalar aggregate. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, TimestampNTZType, TimestampType}
    val li = Tables.lineitem(spark, dir)
    // canonical engine-portable string per column: timestamps as epoch
    // micros (render formats differ across engines), doubles as integer
    // CENTS — round(x*100) is portable because halves are exactly
    // representable at scale 0, whereas a direct 2-dp decimal cast
    // diverges (Java rounds the shortest string repr, e.g. "0.145" ->
    // 0.15, DuckDB rounds the binary value -> 0.14). Everything else as
    // its plain string cast.
    val canon = li.schema.fields.map { f =>
      val c = f.dataType match {
        case TimestampType | TimestampNTZType => // NTZ reads as wall-clock;
          // the session is pinned UTC so the micros are engine-identical
          unix_micros(col(f.name).cast("timestamp")).cast("string")
        case DoubleType => round(col(f.name) * 100).cast("long").cast("string")
        case _ => col(f.name).cast("string")
      }
      coalesce(c, lit("~null~"))
    }
    li.select(conv(substring(md5(concat_ws("|", canon.toSeq: _*)), 1, 8), 16, 10)
        .cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
      .select(col("n_rows"), col("checksum"))
  }

  /** Keyed snapshot diff — the CDC/reconciliation shape: classify every
    * key as added / removed / changed / unchanged between two table
    * versions via ONE full outer join on the key with row-hash
    * comparison (never two scans per class). Versions are simulated
    * deterministically from `orders`: the "old" snapshot is missing 1/97
    * of keys and carries a stale status on 1/31 of them. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
    val hash = (st: Column) => md5(st)
    val newSide = base.select(col("o_orderkey").as("k"),
      hash(concat_ws("|", col("o_orderstatus"), col("o_totalprice"))).as("h_new"))
    val oldSide = base
      .filter(pmod(col("o_orderkey"), lit(97)) =!= 0) // 1/97 not yet ingested
      .select(col("o_orderkey").as("k"),
        hash(concat_ws("|",
          when(pmod(col("o_orderkey"), lit(31)) === 0, lit("STALE"))
            .otherwise(col("o_orderstatus")),
          col("o_totalprice"))).as("h_old"))
    newSide.join(oldSide, Seq("k"), "full_outer")
      .select(when(col("h_old").isNull, "added")
        .when(col("h_new").isNull, "removed")
        .when(col("h_old") =!= col("h_new"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("status"))
  }

  /** MERGE INTO applied with plain relational algebra — the lakehouse
    * upsert/delete CDC apply, no table format required: one full-outer
    * join of snapshot and change-feed on the key, then per-row CASE
    * (delete drops, update/insert take the change side, untouched rows
    * pass through). The change feed is synthesized deterministically
    * from the snapshot (every 7th key updated, every 11th deleted,
    * every 13th re-keyed as an insert) so the oracle reproduces it
    * exactly. One shuffle on the key at any scale — and on a real
    * deployment the snapshot side is bucketed on the key, making the
    * merge shuffle-free on re-runs. */
  def mergeApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val changes = base
      .select(col("k"), col("status"), col("cents"),
        when(pmod(col("k"), lit(7)) === 0, "U")
          .when(pmod(col("k"), lit(11)) === 0, "D")
          .when(pmod(col("k"), lit(13)) === 0, "I").as("op"))
      .filter(col("op").isNotNull)
      .select(
        when(col("op") === "I", col("k") + 10000000L).otherwise(col("k")).as("k"),
        when(col("op") === "U", lit("X")).otherwise(col("status")).as("c_status"),
        when(col("op") === "U", col("cents") + 100000L).otherwise(col("cents"))
          .as("c_cents"),
        col("op"))
    base.join(changes, Seq("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("k"),
        when(col("op").isNotNull, col("c_status")).otherwise(col("status"))
          .as("status"),
        when(col("op").isNotNull, col("c_cents")).otherwise(col("cents"))
          .as("cents"))
      .orderBy(col("k"))
  }

  /** Event-time RANGE window frame: per user, the trailing-1-hour sum and
    * count of `value` — a TIME-based sliding aggregate (all events within
    * the hour, however many), which no ROWS frame can express. Ordering
    * key is epoch MICROseconds so frame membership is exact and
    * tie-stable (RANGE includes all order-value peers). One shuffle on
    * user_id + one sort — the same cost as any other window here. */
  def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        // integer cents: a windowed float sum's low bits depend on the
        // engine's accumulation order, and 10k output rows give boundary
        // ulps plenty of chances to flip a 6-dp round (the q_sessionize
        // flake class)
        sum(round(col("value") * 100).cast("long")).over(w).as("hour_cents"),
        count(lit(1)).over(w).as("hour_n"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** Mergeable-sketch rollup per event_type, gated with a bracket-style
    * oracle (see [[approxDistinct]] — raw sketch values never hash-match
    * across engines, so the hashed columns are exact values + 0/1 flags
    * DERIVED from the sketches):
    *   - merge_lossless: the one-shot HLL distinct-user estimate equals
    *     the same estimate via per-shard partial sketches merged with
    *     hll_union_agg — the property that lets 1000 executors sketch
    *     locally and combine 32-KB buffers instead of shuffling raw
    *     user_ids;
    *   - users_within_rse: the HLL estimate is within 5% (> 3σ at the
    *     default lgConfigK=12, ~1.6% RSE) of the exact distinct count;
    *   - p50/p99_in_bracket: approx_percentile (mergeable KLL-style
    *     quantile sketch, rank error not value error) lands inside the
    *     exact rank bracket [percentile .45, .55] resp. [.95, max].
    * At 100 TB sketches are the only affordable form of distinct/quantile
    * telemetry — exact forms shuffle the full key universe. */
  def sketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // array-form percentiles: each scalar percentile/approx_percentile
    // aggregate buffers the column independently (4 value buffers per
    // group under the honest noop bench); the array forms buffer ONCE
    // per family and emit every requested rank from it — same values,
    // same algorithm, 2 buffers instead of 5.
    // countDistinct lives in its OWN aggregation: Spark plans a distinct
    // aggregate alongside non-distinct ones via the Expand rewrite,
    // which drags every other buffer through a per-(group, user_id)
    // partial phase — measured 4.4 s for countDistinct+approx_percentile
    // in one agg vs 0.2 s each alone at sf0.1. The exact count is 4 rows
    // either way; the extra broadcast join on event_type is free.
    val direct = ev.groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("users_direct"),
        approx_percentile(col("value"),
          array(lit(0.5), lit(0.99)), lit(10000)).as("ap"),
        expr("percentile(value, array(0.45, 0.55, 0.95))").as("pc"),
        max(col("value")).as("hi99"))
      .select(col("event_type"), col("users_direct"),
        round(element_at(col("ap"), 1), 6).as("p50_value"),
        round(element_at(col("ap"), 2), 6).as("p99_value"),
        element_at(col("pc"), 1).as("lo50"),
        element_at(col("pc"), 2).as("hi50"),
        element_at(col("pc"), 3).as("lo99"),
        col("hi99"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val merged = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(8)).as("shard"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("users_merged"))
    direct.join(exact, "event_type").join(merged, "event_type")
      .select(col("event_type"), col("exact_users"),
        when(col("users_direct") === col("users_merged"), 1L).otherwise(0L)
          .as("merge_lossless"),
        when(abs(col("users_direct").cast("double") - col("exact_users")) <=
          lit(0.05) * col("exact_users"), 1L).otherwise(0L).as("users_within_rse"),
        when(col("p50_value").between(col("lo50"), col("hi50")), 1L).otherwise(0L)
          .as("p50_in_bracket"),
        when(col("p99_value").between(col("lo99"), col("hi99")), 1L).otherwise(0L)
          .as("p99_in_bracket"))
      .orderBy(col("event_type"))
  }

  /** Morton (Z-order) clustering code per lineitem row over the
    * (l_partkey, l_suppkey) cell grid — the key a Z-order writer
    * range-partitions and sorts by. Emitted per-row so the
    * bit-interleave is oracle-checkable. */
  def zorderCodes(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(256)).as("cx"),
        pmod(col("l_suppkey"), lit(256)).as("cy"))
      .withColumn("zcode",
        graft.sink.Layout.mortonCode(col("cx"), col("cy"), bits = 8))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Incremental aggregation maintenance — the materialized-view pattern:
    * a stored per-user aggregate state is refreshed by aggregating ONLY
    * the newly-arrived delta and algebraically merging partials
    * (counts/sums add, min/max fold), never rescanning history. Here the
    * "stored" state is the partial aggregate of earlier arrival
    * generations (event_id % 4 != 0), materialized via localCheckpoint so
    * the job genuinely reads state + delta rather than re-deriving both
    * from one scan; the delta is the remaining quarter. At 100 TB this is
    * the difference between touching a day of data and touching all of
    * it. Every aggregate is chosen decomposable-exact: counts and
    * integer-cents sums (doubles canonicalized as round(x*100) BIGINT —
    * order-independent, engine-portable), epoch-µs min/max. The oracle is
    * the FULL recompute, so the hash match proves the merge lossless. */
  /** Per-user equi-depth deciles of event value (cents): ntile(10) inside
    * each user's partition, rolled up to per-(user, decile) stats — the
    * curriculum/difficulty-binning shape. The window is PARTITIONED by
    * user, so every key bins independently in parallel; a global ntile
    * would force the whole table through one partition, which is why the
    * corpus-wide flavor of this query belongs to the quantile sketch
    * (q_sketch_merge), not to a rank window. Ties are broken by event_id
    * so the binning is total-ordered and engine-portable. */
  def equidepthBins(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cents"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), cents.as("cents"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("user_id"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("user_id"), col("decile"))
  }

  /** Power-of-two sequence-length buckets: each document rounds up to the
    * smallest power of two ≥ its token count (bucket = 1 << bitlength
    * (n-1), pure integer algebra — no float log2 on the comparison
    * path), with per-bucket doc/token totals and the padding waste a
    * fixed-shape training batcher would pay. Zero-shuffle scan + one
    * tiny agg; the bucket id is what a length-bucketed batching sampler
    * shards on at scale. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val bucket = when(col("n_tokens") <= 1L, 1L)
      .otherwise(expr("shiftleft(1L, length(bin(n_tokens - 1)))").cast("long"))
    Tables.documents(spark, dir)
      .select(graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
      .select(bucket.as("bucket"), col("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        (col("bucket") * count(lit(1)) - sum(col("n_tokens"))).as("padding_tokens"))
      .orderBy(col("bucket"))
  }

  /** Exact, reproducible variance via integer moments: canonicalize
    * `value` to cents, aggregate (n, Σx, Σx²) with built-in long sums
    * (whole-stage codegen, map-side combine — the Spark-first form of
    * the typed [[graft.functions.ExactMoments]] Aggregator), and derive
    * sample variance from the moments at the very end. Every quantity on
    * the comparison path is either an exact integer or a single
    * IEEE-rounded double op, so the result is bit-identical across runs,
    * partitionings, and engines — float var_samp is none of those. At
    * true 100 TB the Σx² sum belongs in DECIMAL(38,0); long covers this
    * range with margin. */
  def exactVariance(spark: SparkSession, dir: String): DataFrame = {
    val c = round(col("value") * 100).cast("long")
    Tables.events(spark, dir)
      .select(col("user_id"), c.as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
        sum(col("c") * col("c")).as("sumsq_cents"))
      .select(col("user_id"), col("n"), col("sum_cents"),
        // 1e-6-quantized BIGINT gate: the exact-integer-ratio variance
        // lands on genuine 6dp half-way ties (scanner-verified), the
        // q_pack_bins failure class — integers carry no tie
        round((col("n") * col("sumsq_cents") - col("sum_cents") * col("sum_cents"))
            .cast("double")
          / (col("n") * (col("n") - lit(1L))).cast("double") / lit(10000.0)
          * 1e6).cast("long").as("var_value_q6"))
      .filter(col("n") >= 2)
      .orderBy(col("user_id"))
  }

  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        min(col("us")).as("first_us"),
        max(col("us")).as("last_us"))
    val state = partial(ev.filter(pmod(col("event_id"), lit(4)) =!= 0))
      .localCheckpoint()
    val delta = partial(ev.filter(pmod(col("event_id"), lit(4)) === 0))
    state.unionByName(delta)
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("first_us")).as("first_us"),
        max(col("last_us")).as("last_us"))
      .orderBy(col("user_id"))
  }

  /** 2-D skyline (Pareto frontier) of parts on (retail price ↓, size ↓):
    * a part survives iff no other part is <= on both dimensions and < on
    * at least one. The naive form is a quadratic NOT EXISTS self-join
    * (the oracle); this runs the classic sorted-sweep instead, collapsed
    * to the PRICE DOMAIN: per distinct price the min size (one shuffle,
    * map-side combinable), a running strictly-preceding min over that
    * ~|price domain| aggregate (single-partition window over the tiny
    * domain table, never the fact table), then one broadcast join back.
    * 100 TB of parts flows through one aggregation + one broadcast
    * join; only the distinct-price table must stay driver-small. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val mins = p.groupBy(col("p_retailprice").as("price"))
      .agg(min(col("p_size")).as("msz"))
    val prevMin = min(col("msz")).over(
      Window.orderBy(col("price")).rowsBetween(Window.unboundedPreceding, -1))
    val run = mins.withColumn("prev_min", prevMin)
    p.join(broadcast(run), col("p_retailprice") === col("price"))
      // dominated ⇔ strictly-cheaper part with size <= mine, or
      // equal-price part with size < mine
      .filter(coalesce(col("prev_min") > col("p_size"), lit(true)) &&
        col("msz") >= col("p_size"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** Mode (most frequent value) of event_type per user, count-desc then
    * lexicographic tie-break — the categorical analogue of median, two
    * map-side-combinable aggregations and one per-user top-1. */
  def modePerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rnk") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("n"))
      .orderBy(col("user_id"))

  /** Median absolute deviation per event_type: the robust spread metric
    * (insensitive to the heavy tails that wreck stddev-based outlier
    * fences). Two exact-percentile passes: per-key median, then the
    * median of |value − median| after a broadcast join of the k-row
    * median table back onto the facts. */
  def madPerType(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(
        round(min(col("med")), 6).as("median_value"),
        round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
      .orderBy(col("event_type"))
  }

  /** Hourly resample + forward fill (LOCF) of each user's event series:
    * one row per user per hour from that user's first to last active
    * hour, carrying the last observed value across silent hours — the
    * gap-filling step every downstream time-series model assumes has
    * already happened. Grid generation is `sequence` + `explode` per
    * user (bounded by the user's own span, never a global calendar
    * cross-join); the fill is one `last(ignoreNulls)` running window per
    * user partition, so the whole operator is two key-shuffles and
    * parallel across users at any scale. The per-hour observation is the
    * latest event in the hour ((ts, event_id)-argmax, deterministic
    * under ties). */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
    val obs = ev.groupBy(col("user_id"), col("h"))
      .agg(expr("max_by(value, struct(ts, event_id))").as("v_obs"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("h"))
    val filled = last(col("v_obs"), ignoreNulls = true).over(
      Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grid.join(obs, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("epoch_hour"),
        round(filled, 6).as("value_filled"),
        col("v_obs").isNotNull.as("is_observed"))
      .orderBy(col("user_id"), col("epoch_hour"))
  }

  /** Hourly resample + LINEAR interpolation — the smooth companion of
    * [[gapFill]]'s LOCF: silent hours take the straight line between the
    * surrounding observations instead of holding the last one. Anchors
    * ride two ignoreNulls windows over the same grid (last-preceding and
    * first-following observation, value and hour alike), so the plan is
    * the identical two key-shuffles as LOCF plus one projection. The
    * grid spans each user's own observed range, so every grid hour has
    * both anchors by construction. Exactness: observations are integer
    * cents and `Δcents × Δhours` is an exact BIGINT product; the single
    * division making the fraction is the only float op, identical in
    * both engines — observed hours short-circuit to the exact value. */
  def interpolate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
    val obs = ev.groupBy(col("user_id"), col("h"))
      .agg(expr("max_by(cast(round(value * 100) as bigint), struct(ts, event_id))")
        .as("c_obs"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("h"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next anchor" as a RUNNING last over the DESC order, not a
    // [current, unboundedFollowing) frame: Spark's unbounded-following
    // frame re-aggregates the tail for every row — O(rows²) per user
    // partition (measured 46.6 s at sf0.1 once the noop bench stopped
    // pruning this projection; 1.8 s as a running frame). Same rows,
    // same values, one extra in-partition sort.
    val wNextRev = Window.partitionBy(col("user_id")).orderBy(col("h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsH = when(col("c_obs").isNotNull, col("h"))
    val anchored = grid.join(obs, Seq("user_id", "h"), "left")
      .withColumn("pc", last(col("c_obs"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(obsH, ignoreNulls = true).over(wPrev))
      .withColumn("nc", last(col("c_obs"), ignoreNulls = true).over(wNextRev))
      .withColumn("nh", last(obsH, ignoreNulls = true).over(wNextRev))
    val interp = when(col("nh") === col("ph"), col("pc").cast("double"))
      .otherwise(col("pc").cast("double") +
        ((col("nc") - col("pc")) * (col("h") - col("ph"))).cast("double")
          / (col("nh") - col("ph")).cast("double"))
    // NO final rounding: every op here (exact BIGINT→double casts, one
    // correctly-rounded division, one addition, /100.0) is IEEE-identical
    // in both engines, so the raw double is bit-exact — while round(x, 6)
    // on a repeating fraction can land on a 6-dp tie that Spark and
    // DuckDB break differently
    anchored
      .select(col("user_id"), col("h").as("epoch_hour"),
        (interp / 100.0).as("value_interp"),
        col("c_obs").isNotNull.as("is_observed"))
      .orderBy(col("user_id"), col("epoch_hour"))
  }

  /** Per-event-type linear trend (OLS of value vs hours since the
    * series origin) from EXACT integer moments: x is the integer hour
    * index, y integer cents, and the five sufficient statistics
    * (n, Σx, Σy, Σx², Σxy) are built-in long sums on the codegen'd
    * map-side-combine path — order-independent and engine-exact, unlike
    * a float covariance accumulator. The closed-form slope/intercept is
    * computed from decimal-exact products (headroom beyond long at
    * larger scale) with ONE IEEE division each at the very end, so both
    * engines see identical doubles. One tiny aggregation; the scan
    * never shuffles raw rows. */
  def olsTrend(spark: SparkSession, dir: String): DataFrame = {
    val origin = 1704067200000000L // 2024-01-01T00:00:00Z µs
    val m = Tables.events(spark, dir)
      .select(col("event_type"),
        expr(s"(unix_micros(ts) - ${origin}L) div 3600000000").as("x"),
        expr("cast(round(value * 100) as bigint)").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    val den = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    m.withColumn("slope", num.cast("double") / den.cast("double"))
      .select(col("event_type"), col("n"),
        round(col("slope"), 6).as("slope_cents_per_hour"),
        round((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double"), 4).as("intercept_cents"))
      .orderBy(col("event_type"))
  }

  /** Per-key z-score feature scaling from EXACT integer moments: mean
    * and variance of integer cents derive from (n, Σc, Σc²) long sums
    * (map-side combinable, order-independent), broadcast back as a
    * k-row stats table, and each row's standardized value is computed
    * in one identically-shaped IEEE expression — so the normalized
    * feature is reproducible across runs, partitionings, and engines,
    * which a float `stddev_samp` pipeline is not. The corpus scan never
    * shuffles; only the k-row stats table moves. */
  def featureScale(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("c"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("mean_c", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sd_c", sqrt(
        (col("n").cast("double") * col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double")) /
          (col("n").cast("double") * (col("n") - 1).cast("double"))))
      .select(col("event_id"), col("event_type"),
        round((col("c").cast("double") - col("mean_c")) / col("sd_c"), 6).as("z"))
      .orderBy(col("event_id"))
  }

  /** Robust outlier detection via the modified z-score
    * 0.6745·(x − median)/MAD — the fence that survives the heavy tails
    * which inflate a stddev-based cut until real outliers pass. Two
    * exact-percentile aggregations per key (median, then MAD after a
    * broadcast join of the k-row median table), then a zero-shuffle
    * scoring scan; only flagged rows are emitted. */
  def robustOutliers(spark: SparkSession, dir: String,
      fence: Double = 3.5): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("med")).as("med"),
        expr("percentile(abs(value - med), 0.5)").as("mad"))
    ev.join(broadcast(mad), "event_type")
      .withColumn("score",
        round(abs(lit(0.6745) * (col("value") - col("med")) / col("mad")), 6))
      .filter(col("score") > fence)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"), col("score"))
      .orderBy(col("event_id"))
  }

  /** Temporal train/test split: each user's FIRST 80% of events (by
    * time) train, the trailing 20% test — the leakage-safe split for
    * forecasting-shaped tasks, where a row-hash split would let the
    * model peek at the future. percent_rank over the per-user time
    * order (event_id tie-break) is exact small-integer arithmetic, so
    * the boundary is deterministic and engine-portable; every user
    * splits in parallel, nothing is globally ordered. */
  def temporalSplit(spark: SparkSession, dir: String,
      trainFrac: Double = 0.8): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("pr", percent_rank().over(w))
      .select(col("user_id"), col("event_id"),
        when(col("pr") < trainFrac, lit("train")).otherwise(lit("test"))
          .as("split"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Dense categorical label encoding: codes assigned by frequency
    * (most common = 0) with lexicographic tie-break — the vocabulary
    * step of feature engineering. The code table is one tiny aggregate
    * + rank window over k rows; rows encode through a broadcast join,
    * so the corpus pass is shuffle-free. */
  def labelEncode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("event_type"))
    val codes = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("code",
        row_number().over(Window.orderBy(col("n").desc, col("event_type"))) - 1)
      .select(col("event_type"), col("code"))
    ev.join(broadcast(codes), "event_type")
      .select(col("event_id"), col("event_type"), col("code"))
      .orderBy(col("event_id"))
  }

  /** Hashing-trick feature crosses: (event_type × hour-of-day) crossed
    * into 64 hash buckets by md5 nibbles — the fixed-width categorical
    * encoding that never needs a vocabulary pass (vs [[labelEncode]]'s
    * exact codes), plus the collision census (distinct crosses per
    * bucket) that tells you whether 64 buckets is enough. One zero-join
    * projection + one aggregate; the bucket id is deterministic across
    * engines, epochs, and executors. */
  def featureCross(spark: SparkSession, dir: String,
      buckets: Int = 64): DataFrame =
    Tables.events(spark, dir)
      .select(concat(col("event_type"), lit("|"), hour(col("ts"))).as("cross"))
      .withColumn("bucket",
        conv(substring(md5(col("cross")), 1, 2), 16, 10).cast("long")
          % buckets)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cross")).as("n_crosses"),
        min(col("cross")).as("min_cross"))
      .orderBy(col("bucket"))

  /** Quantity-weighted average price per brand (the VWAP shape of the
    * crypto reference, on the harness schema): Σ(price·qty)/Σ(qty) from
    * integer-cents and milli-unit long sums — exact, order-independent
    * partials on the map-side-combine path, one IEEE division per brand
    * at the end. The part dim broadcasts; lineitem shuffles only its
    * two aggregate columns. */
  def vwap(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        expr("cast(round(l_quantity * 1000) as bigint)").as("milli"))
    li.join(broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("cents")).as("sum_cents"), sum(col("milli")).as("sum_milli"),
        count(lit(1)).as("n_lines"))
      .select(col("p_brand"), col("n_lines"),
        round(col("sum_cents").cast("double") / col("sum_milli").cast("double")
          * 1000.0 / 100.0, 6).as("vwap"))
      .orderBy(col("p_brand"))
  }

  /** Pairwise Pearson correlation between event types over their
    * hour-aligned value series, from EXACT integer moments: hourly
    * cents sums per type (one map-side-combinable aggregation), a
    * self-join on the hour (the aligned-series join every correlation
    * matrix needs — k² pair rows per hour, k = #types, never the raw
    * corpus), then the six sufficient statistics as long sums. The
    * final r uses decimal-exact products, IEEE sqrt and one division —
    * reproducible across engines and partitionings, which a float
    * `corr()` accumulator is not. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"),
        col("event_type"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("c"))
    val a = hourly.select(col("h"), col("event_type").as("ta"), col("c").as("x"))
    val b = hourly.select(col("h"), col("event_type").as("tb"), col("c").as("y"))
    val m = a.join(b, "h").filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val num = (dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))).cast("double")
    val denx = (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))).cast("double")
    val deny = (dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))).cast("double")
    m.select(col("ta"), col("tb"), col("n"),
        round(num / (sqrt(denx) * sqrt(deny)), 6).as("r"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Weekly cohort retention: users bucketed by the week of their first
    * event; cell (cohort_week, week_offset) counts distinct users of
    * that cohort active offset weeks later — the canonical retention
    * triangle. First-seen is one map-side-combinable min; the offset is
    * exact integer date arithmetic (both week stamps are Mondays, so
    * datediff/7 is exact). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    ev.join(first, "user_id")
      .withColumn("week_offset",
        (datediff(date_trunc("week", col("ts")).cast("date"),
          col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Distributed ntile without a global sort (shared by [[rfm]]; the
    * same decomposition TextAnalysis.calibration inlines): global rank
    * = (count of strictly smaller values, via the value-HISTOGRAM
    * cumsum — bounded by distinct values) + (row_number within the tied
    * value by `idCol` — partitioned by value, so no single task sorts
    * the table). Closed-form ntile of rank r over n rows into b
    * buckets: the first n mod b buckets hold ⌈n/b⌉ rows. */
  private def distributedNtile(df: DataFrame, value: String, id: String,
      buckets: Int, out: String): DataFrame = {
    val hist = df.groupBy(col(value)).agg(count(lit(1)).as("n_v"))
      .withColumn("cum", sum(col("n_v")).over(Window.orderBy(col(value))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(value), (col("cum") - col("n_v")).as("start0"))
    val total = df.agg(count(lit(1)).as("n_tot"))
    val b = lit(buckets.toLong)
    val qsz = floor(col("n_tot") / b).cast("long")
    val thr = (col("n_tot") % b) * (qsz + 1)
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col(value)).orderBy(col(id))))
      .join(broadcast(hist), Seq(value))
      .crossJoin(broadcast(total))
      .withColumn("rank", col("start0") + col("rn"))
      .withColumn(out,
        when(col("rank") <= thr, floor((col("rank") - 1) / (qsz + 1)) + 1)
          .otherwise((col("n_tot") % b)
            + floor((col("rank") - 1 - thr) / qsz) + 1)
          .cast("int"))
      .drop("rn", "start0", "n_tot", "rank")
  }

  /** RFM segmentation, gated as q_rfm: the classic customer-value
    * census — per user, days since last purchase (Recency), purchase
    * count (Frequency) and cent volume (Monetary), each scored into
    * quintiles, rolled up per (r, f, m) cell. The retention/LTV
    * segment table every commerce pipeline batch-produces nightly.
    *
    * Scale shape: ONE groupBy(user) over the scan, then three
    * [[distributedNtile]] passes over the per-user table — each is a
    * histogram cumsum (bounded by distinct metric values) plus a
    * value-partitioned row_number; no global sort anywhere. Recency
    * anchors on max(ts) over the corpus (one broadcast row), in whole
    * days, so the metric is integer-exact. Quintile direction follows
    * the convention: HIGH score = good (recent, frequent, big). */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        round(col("value") * 100).cast("long").as("cents"))
    val anchor = e.agg(max(col("tus")).as("now_us"))
    val per = e.crossJoin(broadcast(anchor))
      .groupBy(col("user_id"))
      .agg(floor((max(col("now_us")) - max(col("tus")))
          / lit(86400000000L)).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary"))
      // negate recency so the shared ascending ntile gives high score =
      // recent, matching frequency/monetary's direction
      .withColumn("recency_neg", -col("recency_days"))
    val scored = Seq(("recency_neg", "r_score"), ("frequency", "f_score"),
      ("monetary", "m_score")).foldLeft(per) { case (d, (v, o)) =>
      distributedNtile(d, v, "user_id", 5, o)
    }
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("users"),
        sum(col("monetary")).as("total_cents"),
        min(col("user_id")).as("first_user"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }
}
