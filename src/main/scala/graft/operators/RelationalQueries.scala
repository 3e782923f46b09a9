package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational capability surface beyond the reference's dataflow
  * (SURVEY.md §2.4 lists these as absent there but free in Spark):
  * multi-way joins with broadcast of small dimensions, deterministic
  * top-k, and session windows — the shapes a training-data pipeline
  * runs alongside the streaming analytics.
  */
object RelationalQueries {

  /** Orders enriched through customer to nation: the classic
    * fact ⋈ dim ⋈ dim rollup. `nation` (25 rows) is explicitly
    * broadcast; customer⋈orders shuffles on the key. */
  def ordersByNation(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation),
        customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).as("sum_price"))
  }

  /** Deterministic top-k: the 20 most active users by event count
    * (count desc, user_id asc tie-break). The k-cut runs as
    * `orderBy().limit(k)` — Spark's TakeOrderedAndProject does a
    * distributed per-partition top-k then merges k·partitions rows on
    * the driver, instead of funnelling every group through the single
    * partition a global row_number Window would need. Rank is then
    * attached WITHIN the k-row result as 1 + the number of peers
    * ordered ahead (a broadcast nested-loop join over k rows) — equal
    * to the global rank because the k rows ARE the global top-k under
    * the same ordering, and free of the global-Window single-partition
    * funnel (and its WindowExec warning). */
  def topUsers(events: DataFrame, k: Int = 20): DataFrame = {
    val top = events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .orderBy(col("n_events").desc, col("user_id").asc)
      .limit(k)
    val peers = broadcast(top.select(
      col("user_id").as("p_user"), col("n_events").as("p_n")))
    top.join(peers,
        col("p_n") > col("n_events") ||
          (col("p_n") === col("n_events") && col("p_user") < col("user_id")),
        "left")
      .groupBy(col("user_id"))
      .agg(
        max(col("n_events")).as("n_events"),
        max(col("sum_value")).as("sum_value"),
        (count(col("p_user")) + 1).as("rank"))
  }

  /** Hierarchical rollup over lineitem flags: per (returnflag,
    * linestatus), per returnflag subtotal, and grand total — the
    * grouping-sets surface. */
  def lineitemRollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))

  /** Set operations: customers holding open orders minus those who
    * also placed a filled order — INTERSECT/EXCEPT surface. */
  def setOpsCustomers(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("custkey"))
    val open = orders.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    val filled = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    cust.intersect(open).except(filled)
  }

  /** Analytic window functions: each user's first five events with
    * their per-user rank and the gap to the previous event
    * (row_number + lag over a partitioned ordered window — the
    * ranking/analytic surface, SURVEY.md §2.4). */
  def userActivity(events: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("ts_ms"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .filter(col("rank") <= k)
  }

  /** Distinct aggregation + exact interpolated percentiles per event
    * type (SURVEY.md §2.4 lists both as absent in the reference):
    * COUNT(DISTINCT) expands to a two-phase plan (distinct on
    * (type, user) then count per type) and `percentile` is Spark's
    * exact linear-interpolation aggregate — the same definition as
    * DuckDB's quantile_cont, which the oracle runs. At 100 TB the
    * exact percentile is the accuracy baseline; approx_percentile /
    * approx_count_distinct are the sketch path (not oracle-mirrorable
    * bit-for-bit across engines, so graded by their exact twins). */
  def typeStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        expr("percentile(value, 0.5D)").as("p50_value"),
        expr("percentile(value, 0.95D)").as("p95_value"))

  /** Sketch-aggregate surface: HyperLogLog++ distinct counts and
    * t-digest-style quantiles (`approx_count_distinct` /
    * `approx_percentile`) next to their exact twins. At 100 TB these
    * ARE the tools — the exact forms (q23) cost a distinct expansion
    * and a full sort-by-key respectively; the sketches are one pass,
    * constant memory, and merge associatively across partitions.
    * Deterministic for a given dataset (HLL register merge is a
    * max — partitioning-order independent), but the estimates are
    * implementation-specific, so this entry is graded rows-only and
    * the estimate error is pinned against the exact values in
    * RelationalQueriesSpec instead of the cross-engine oracle. */
  def typeStatsApprox(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        expr("approx_percentile(value, 0.5D, 1000)").as("approx_p50"),
        expr("percentile(value, 0.5D)").as("exact_p50"))

  /** Driver-checkable form of the sketch surface: the raw estimates
    * are implementation-specific (no cross-engine oracle can mirror
    * them bit-for-bit), but their error BOUNDS are a contract — so
    * grade those. Emits the exact aggregates plus two booleans:
    * `users_ok` = HLL estimate within 3×rsd (15% rel, floor 3 abs) of
    * the exact distinct count; `p50_ok` = approx_percentile(0.5)
    * inside the exact p45–p55 value band (rank tolerance 0.05 ≫ the
    * sketch's guaranteed 1/accuracy = 0.001). The oracle recomputes
    * the exact columns and asserts the booleans are literally TRUE,
    * making the row hash-stable across engines while still failing if
    * either sketch ever degrades past its bound. */
  def typeStatsApproxChecked(events: DataFrame): DataFrame =
    typeStatsApproxWide(events)
      .select(
        col("event_type"), col("n_events"),
        col("exact_users"), col("exact_p50"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(3.0), lit(0.15) * col("exact_users")))
          .as("users_ok"),
        (col("approx_p50") >= col("p45") &&
          col("approx_p50") <= col("p55")).as("p50_ok"))

  private def typeStatsApproxWide(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        expr("approx_percentile(value, 0.5D, 1000)").as("approx_p50"),
        expr("percentile(value, 0.45D)").as("p45"),
        expr("percentile(value, 0.5D)").as("exact_p50"),
        expr("percentile(value, 0.55D)").as("p55"))

  /** AS-OF JOIN (the event-time join Spark has no operator for,
    * SURVEY.md §2.4 / builder custom-operator list): for every probe
    * event, the same user's most recent reference event at or before
    * it — here purchases attributed to their latest prior click.
    *
    * Implemented the way it scales: union both sides tagged, ONE
    * shuffle on the user key, an in-partition sort, and a
    * carry-forward of the last reference row (`last(..., ignoreNulls)`
    * over ROWS UNBOUNDED PRECEDING). A range-join formulation would
    * explode each probe against every earlier reference before
    * picking the max — quadratic per key; this is linear after the
    * sort. At equal timestamps the reference sorts first, making
    * "at-or-before" inclusive and deterministic (then event_id). */
  def asOfJoin(events: DataFrame, probeType: String = "purchase",
      refType: String = "click"): DataFrame = {
    val t = events
      .filter(col("event_type").isin(probeType, refType))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        (col("event_type") === probeType).cast("int").as("is_probe"),
        when(col("event_type") === refType, col("ts_ms")).as("r_ts"),
        when(col("event_type") === refType, col("event_id")).as("r_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").asc, col("is_probe").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("click_ts", last(col("r_ts"), ignoreNulls = true).over(w))
      .withColumn("click_id", last(col("r_id"), ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1 && col("click_id").isNotNull)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ms").as("purchase_ms"), col("click_id"), col("click_ts"),
        (col("ts_ms") - col("click_ts")).as("gap_ms"))
  }

  /** Semi/anti join surface (SURVEY.md §2.4): customers holding an
    * open order and no filled order — the same predicate as q17's
    * INTERSECT/EXCEPT but through LeftSemi/LeftAnti hash joins (which
    * never materialize the right side's columns). */
  def semiAntiCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val open = orders.filter(col("o_orderstatus") === "O")
    val filled = orders.filter(col("o_orderstatus") === "F")
    cust
      .join(open, cust("c_custkey") === open("o_custkey"), "left_semi")
      .join(filled, col("c_custkey") === filled("o_custkey"), "left_anti")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
  }

  /** RANGE JOIN via bucket-and-refine (SURVEY.md §2.4 / builder
    * custom-operator list): for every probe event, how many reference
    * events (any user) fall in the preceding `windowMs` interval —
    * here clicks in the 5 minutes before each purchase.
    *
    * A naive inequality join has no equi-key, so Spark plans a
    * broadcast-nested-loop / cartesian — |probe|·|ref| comparisons.
    * The scale path quantizes time into `windowMs` buckets: a
    * reference in [t−w, t) can only live in the probe's bucket or the
    * one before, so each probe probes exactly 2 bucket keys and the
    * join becomes a HASH join on the bucket with a residual range
    * filter. Work is |probe|·2 + matched pairs — linear, skew-bounded
    * by true temporal density, and the same trick IS the stream-stream
    * interval join's state layout. */
  def rangeJoinNearby(events: DataFrame, probeType: String = "purchase",
      refType: String = "click", windowMs: Long = 300000L): DataFrame = {
    // floor division (not cast-truncation, which rounds toward zero):
    // pre-epoch timestamps would otherwise land one bucket high and
    // silently miss matches — and the oracle's // floors
    def bucket(ms: Column) = floor(ms / windowMs).cast("long")
    val probes = events.filter(col("event_type") === probeType)
      .select(col("event_id"), col("ts_ms").as("p_ms"),
        explode(array(bucket(col("ts_ms")),
          bucket(col("ts_ms")) - 1)).as("bucket"))
    val refs = events.filter(col("event_type") === refType)
      .select(col("ts_ms").as("r_ms"), bucket(col("ts_ms")).as("bucket"))
    probes
      .join(refs,
        probes("bucket") === refs("bucket") &&
          col("r_ms") >= col("p_ms") - windowMs && col("r_ms") < col("p_ms"),
        "left")
      .groupBy(col("event_id"))
      .agg(count(col("r_ms")).as("n_nearby"))
  }

  /** Semi-structured JSON surface: extract `$.k` from the `props`
    * JSON column and aggregate per event type (get_json_object →
    * JsonPath evaluation, row-local; one aggregation shuffle). */
  def propsStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  /** Fixed language list for the pivot/unpivot pair — explicit values
    * so the pivot needs NO discovery pass over the data (a second job
    * at 100 TB) and the output schema is deterministic. */
  val PivotLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** PIVOT surface: document counts per source, one column per
    * language. Single aggregation shuffle on the group key; absent
    * combinations surface as 0 (coalesced — Spark's pivot yields
    * null there, the oracle's FILTER counts yield 0). */
  def docsPivot(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("source"))
      .pivot("lang", PivotLangs)
      .agg(count(lit(1)))
      .select(col("source") +:
        PivotLangs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)

  /** UNPIVOT (melt) surface: the per-language lang-id score columns
    * back to (doc_id, lang_code, score) rows — row-local generator,
    * no shuffle. */
  def langScoresUnpivot(docs: DataFrame): DataFrame =
    TextAnalysis.langId(docs)
      .unpivot(
        Array(col("doc_id")),
        TextAnalysis.langProfiles.map { case (c, _) => col(s"score_$c") }
          .toArray,
        "lang_code", "score")
      .withColumn("lang_code", regexp_replace(col("lang_code"), "^score_", ""))

  /** Window-FRAME surface (q19 covers lag/row_number; this grades
    * explicit ROWS frames plus the distribution functions): per-user
    * event sequence with a rolling 4-event sum/avg of `value`,
    * quartile bucket (ntile) and percent_rank by value. All windows
    * are partitioned by user — no global ordering anywhere. */
  def rollingUserStats(events: DataFrame): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val frame = seq.rowsBetween(-3, Window.currentRow)
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("rolling_sum", sum(col("value")).over(frame))
      .withColumn("rolling_avg", avg(col("value")).over(frame))
      .withColumn("quartile", ntile(4).over(byValue).cast("long"))
      .withColumn("pct_rank", percent_rank().over(byValue))
  }

  /** Region the graded q70 filters on — a mid-size slice of the
    * seed-42 fixture. */
  val RevenueRegion = "ASIA"

  /** Multi-table analytic join (q70, the TPC-H Q5 shape): revenue by
    * nation for orders whose customer AND line-item supplier sit in
    * the same nation, restricted to one region — the classic
    * star-join the engine must plan well at 100 TB.
    *
    * Scale design: region and nation are BROADCAST (hinted — a few
    * hundred rows at any scale), so the only shuffles are the three
    * fact-side hash joins on their natural keys
    * (customer⋈orders on custkey, ⋈lineitem on orderkey, ⋈supplier on
    * suppkey). The same-nation predicate lands as a join-side filter
    * after the supplier join; the broadcast nation⋈region pre-filter
    * prunes both dimension paths before any fact row moves. The
    * final aggregation keys on ~25 nations — map-side partials
    * collapse it. */
  def regionalRevenue(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
      region: DataFrame, regionName: String = RevenueRegion): DataFrame = {
    val nations = broadcast(
      nation.join(
        broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
    customer.select(col("c_custkey"), col("c_nationkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(nations, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
  }

  /** Explicit GROUPING SETS (q72): event counts and value sums per
    * event_type, per hour, and grand-total in ONE aggregation pass,
    * with `grouping_id` labeling each stratum — the multi-rollup
    * report shape (q16's ROLLUP and q28's CUBE are the fixed-lattice
    * special cases; this is the arbitrary-set form, SQL-only in
    * Spark's surface so it runs through spark.sql over a temp view).
    * One Expand (3 grouping sets) + one exchange, same plan family
    * as rollup/cube. */
  def typeHourGroupingSets(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    // per-call unique view name, dropped after analysis: a fixed name
    // would race concurrent callers on the shared session catalog
    // (one caller's query resolving against the other's data) and
    // leak the view; sql() analyzes eagerly, so the returned frame
    // does not need the view to survive
    val view = s"graft_gs_events_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    events.select(col("event_type"),
      expr("ts_ms DIV 3600000").as("hour"), col("value"))
      .createOrReplaceTempView(view)
    try s.sql(s"""
      SELECT event_type, hour,
             CAST(grouping_id(event_type, hour) AS BIGINT) AS gid,
             COUNT(*) AS n_events,
             SUM(value) AS sum_value
      FROM $view
      GROUP BY GROUPING SETS ((event_type), (hour), ())""")
    finally s.catalog.dropTempView(view)
  }

  /** Session windows: per-user sessions with a 2-hour inactivity gap
    * (Spark `session_window`; a new session starts when the gap to
    * the previous event is >= the timeout). */
  def userSessions(events: DataFrame, gap: String = "2 hours"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"), col("sum_value"))

  /** RFM quintile segmentation (q149) — the classic customer-value
    * table: per customer, Recency (days from last order to the
    * corpus max date — exact DATE arithmetic), Frequency (order
    * count) and Monetary (total price, exact cents), each scored
    * into ntile(5) quintiles with deterministic custkey tiebreaks
    * (recent/frequent/big-spending = 5), combined into the
    * three-digit `rfm` code every lifecycle-marketing segmentation
    * keys on.
    *
    * Determinism: all three metrics are exact integers; ntile is
    * pure rank arithmetic (both engines implement the ANSI
    * first-buckets-get-the-remainder rule) under a total order, so
    * every score matches bit-for-bit. Monetary is re-exposed as
    * cents/100.0 — one fixed-order division.
    *
    * Scale design (100 TB): one map-side-combined per-customer
    * reduction of the orders stream; the three ntile windows run
    * over the CUSTOMER frame (dimension-sized, not order-sized — the
    * q14 discipline; the q57 prefix-sum index is the swap-in if the
    * customer dimension ever rivals facts), and the max-date scalar
    * rides a broadcast row. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_date"),
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val maxRow = broadcast(orders
      .agg(max(col("o_orderdate")).as("max_date")))
    perCust.crossJoin(maxRow)
      .select(col("o_custkey"),
        datediff(col("max_date"), col("last_date")).cast("long")
          .as("recency_days"),
        col("n_orders"),
        (col("cents").cast("double") / 100.0).as("monetary"),
        col("last_date"), col("cents"))
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("last_date").asc, col("o_custkey").asc))
        .cast("long"))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("n_orders").asc, col("o_custkey").asc))
        .cast("long"))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("cents").asc, col("o_custkey").asc))
        .cast("long"))
      .select(col("o_custkey"), col("recency_days"), col("n_orders"),
        col("monetary"), col("r_score"), col("f_score"),
        col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm"))
  }

  /** Support floor and result size of [[frequentItemPairs]]
    * (q146). */
  val BasketMinSupport = 3
  val BasketTopK = 20

  /** Frequent item pairs with lift (q146) — market-basket mining,
    * the first level of A-priori: parts that co-occur in the same
    * order above the support floor, ranked by support, each with
    * lift = N·c(ab)/(c(a)·c(b)) (lift > 1 = genuinely associated,
    * not just individually popular — the q128 PMI idea on baskets
    * instead of adjacent text). Baskets are an order's DISTINCT
    * parts.
    *
    * Scale design (100 TB): baskets materialize as one
    * ONE-EXCHANGE groupBy on the basket key (collect_set — the
    * distinct ride the same shuffle), and pairs expand ROW-LOCALLY
    * from each sorted basket array (the q226 intra-class pattern) —
    * fan-out is Σ basket_size², bounded because real baskets are
    * small (the fixture caps at 7 lineitems; a web-scale variant
    * caps or samples mega-baskets first, the same guard as q58's df
    * cap), and no basket ever crosses a join to meet itself;
    * support counting and the item-frequency table are
    * map-side-combined; item counts and the basket total join back
    * BROADCAST; only the support-floored pair frame (bounded by the
    * floor) ranks through the q14-style single-partition top-k
    * window. Lift is exact-integer division in a fixed operand
    * order — identical doubles, no rounding. */
  def frequentItemPairs(lineitem: DataFrame,
      k: Int = BasketTopK): DataFrame = {
    val baskets = lineitem
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      // a lineitem with no order key belongs to no basket
      .filter(col("oid").isNotNull)
      .groupBy(col("oid"))
      .agg(array_sort(collect_set(col("item"))).as("items"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ascending basket array ⇒ every generated (ia, ib) already has
    // ia < ib — the old self-join's filter, by construction
    val pairs = baskets
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))),
          y => struct(x.as("ia"), y.as("ib")))))).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= BasketMinSupport)
    val items = baskets
      .select(explode(col("items")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("ic"))
    val nRow = broadcast(baskets
      .agg(count(lit(1)).as("n_baskets")))
    // the supported-pair frame is catalog²-bounded at worst — still
    // a top-k pick, so it rides globalTopK's bounded heaps rather
    // than a single-partition rank (the q176/q220 discipline)
    TextAnalysis.globalTopK(
      pairs
        .join(broadcast(items.select(col("item").as("ia"),
          col("ic").as("ca"))), "ia")
        .join(broadcast(items.select(col("item").as("ib"),
          col("ic").as("cb"))), "ib")
        .crossJoin(nRow)
        .select(col("ia"), col("ib"), col("support"),
          (col("n_baskets").cast("double") * col("support") /
            col("ca") / col("cb")).as("lift")),
      Seq("support" -> false, "ia" -> true, "ib" -> true), k)
  }

  /** Graded mergeable-quantile-sketch aggregation (q337, r17): the
    * custom Catalyst [[org.apache.spark.sql.graft.QuantileSketchAgg]]
    * (a TypedImperativeAggregate with a binary MRL-sketch buffer —
    * the §4.3 aggregate-function rung the typed-Aggregator
    * AvgDurationAggregator cannot show) builds per-event-type
    * sketches map-side; only sketch BYTES cross the exchange.
    * Grading is the q40 discipline for sketch outputs: the exact
    * count rides beside RANK-ERROR booleans — each estimate's true
    * rank in the exact distribution must sit within p ± 3% (the
    * deterministic MRL bound at k=1024 with wide margin; the bound
    * holds for ANY merge tree, so task-finish order cannot flip a
    * boolean). */
  def typeQuantileSketch(events: DataFrame): DataFrame =
    sketchRankChecked(sketchQuantiles(events), events)

  /** The sketch aggregation alone: per event_type, exact count +
    * the four quantile estimates (e1..e4 at [[SketchProbs]]). Works
    * unchanged on a STREAMING frame (q339 twin — the binary sketch
    * buffer is the aggregation state Structured Streaming carries
    * across micro-batches). */
  def sketchQuantiles(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, QuantileSketchAgg}
    val agg = Bridge.column(
      QuantileSketchAgg(Bridge.expression(col("value")), 1024,
        SketchProbs).toAggregateExpression())
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), agg.as("q"))
      .select(col("event_type"), col("n_events"),
        col("q")(0).as("e1"), col("q")(1).as("e2"),
        col("q")(2).as("e3"), col("q")(3).as("e4"))
  }

  val SketchProbs: Seq[Double] = Seq(0.1, 0.5, 0.9, 0.99)

  /** Rank-check the estimates against the exact distribution (the
    * q40 discipline): each estimate's true rank within p ± 3%. */
  def sketchRankChecked(sk: DataFrame,
      events: DataFrame): DataFrame = {
    val probs = SketchProbs
    val eps = 0.03
    val ranked = events.select(col("event_type"), col("value"))
      .join(broadcast(sk), "event_type")
      .groupBy(col("event_type"), col("n_events"), col("e1"),
        col("e2"), col("e3"), col("e4"))
      .agg(
        (sum(when(col("value") <= col("e1"), 1L).otherwise(0L)) /
          col("n_events")).as("le1"),
        (0 until 4).flatMap { i =>
          val e = col(s"e${i + 1}")
          val lt = Seq((sum(when(col("value") < e, 1L).otherwise(0L)) /
            col("n_events")).as(s"lt${i + 1}"))
          if (i == 0) lt
          else lt :+ (sum(when(col("value") <= e, 1L).otherwise(0L)) /
            col("n_events")).as(s"le${i + 1}")
        }: _*)
    ranked.select(
      col("event_type") +: col("n_events") +:
        probs.zipWithIndex.map { case (p, i) =>
          (col(s"le${i + 1}") >= p - eps &&
            col(s"lt${i + 1}") <= p + eps)
            .as(s"p${(p * 100).toInt}_ok")
        }: _*)
  }
}
