package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Amplitude-style analytics over the event stream plus TPC-H-style OLAP
  * over the star schema — the query layer the reference lacks entirely
  * (SURVEY.md §2.4: joins/aggs/windows "absent" → built here Spark-first).
  *
  * Oracle-parity discipline (SURVEY.md §7.4.4): money aggregates are summed
  * in DECIMAL (exact, order-independent — safe under any shuffle/partition
  * order) and cast to double ONCE at the end; every query imposes a total
  * deterministic ORDER BY.
  *
  * Scale notes are per-operator; the common theme: aggregations are
  * partial-agg friendly (map-side combine), dimension joins broadcast, and
  * window functions partition by high-cardinality keys (user_id), never a
  * global unpartitioned window.
  */
object Analytics {

  /** Exact-decimal view of a double money column. (18,6) keeps all digits
    * the ~2-dp synthetic data carries without engine-dependent rounding. */
  private def dec(c: Column): Column = c.cast("decimal(18,6)")
  private def d(c: Column): Column = c.cast("double")

  /** TPC-H Q1-style pricing summary. Pure partial-aggregatable groupBy on a
    * 6-value grouping key — at 100 TB this is a map-side-combined scan with
    * a tiny final shuffle (6 groups × partitions). */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        d(sum(dec(col("l_quantity")))).as("sum_qty"),
        d(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        d(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Top-N customers by order revenue. customer is a dimension →
    * broadcast; the agg shuffles on o_custkey (uniform). */
  def topCustomers(orders: DataFrame, customer: DataFrame, n: Int): DataFrame =
    orders
      .groupBy(col("o_custkey"))
      .agg(d(sum(dec(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(n)

  /** Revenue per region: the full star join. All four dimension tables are
    * broadcast (region/nation/customer are tiny at any SF; orders is the
    * fact-side key carrier, joined via shuffle on l_orderkey only when
    * too big to broadcast — Catalyst/AQE decides from stats). */
  def regionRevenue(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val rev = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(d(sum(rev)).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))
  }

  /** ROLLUP region → nation revenue (grouping-sets family; reference has
    * none — SURVEY.md §2.4). Null-position pinned for oracle parity. */
  def rollupRevenue(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(d(sum(dec(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  /** Market-segment revenue by order priority (broadcast dim + two-key agg). */
  def segmentRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(d(sum(dec(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))

  /** TPC-H Q17-style correlated scalar subquery, decorrelated: revenue locked
    * in "small" lineitems (quantity < 0.2× their part's average), by brand.
    * The correlated `(SELECT 0.2*avg(..) WHERE l_partkey = p_partkey)`
    * becomes an aggregate-then-join — per-part averages are one
    * partial-agg scan, and the join back is key-co-partitioned on
    * l_partkey (same shuffle key both sides; AQE broadcasts the agg side
    * when it is small). The per-part average divides an exact decimal sum
    * by the count so the threshold is engine-independent. */
  def smallOrderRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey").as("pk"))
      .agg((d(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"))
    lineitem
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(d(sum(dec(col("l_extendedprice")))).as("small_rev"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q4-style EXISTS: orders with at least one returned lineitem,
    * counted by priority. EXISTS is a left-semi join; the probe side is
    * filtered and projected to the single join key BEFORE the exchange, so
    * only (l_orderkey) longs shuffle — at 100 TB that projection is the
    * difference between shuffling 8 bytes/row and the whole lineitem. */
  def priorityReturns(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.filter(col("l_returnflag") === "R").select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q14-style conditional share: promo revenue as a % of total per
    * ship month. One scan, one partial-agg-friendly groupBy — the CASE
    * lives inside the aggregate so no second pass; both sums are exact
    * decimal, divided once in double at the end. */
  def promoShare(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        (lit(100.0) * d(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,6)"))))
          / d(sum(rev))).as("promo_share"),
        count(lit(1)).as("n_items"))
      .orderBy(col("ship_month"))
  }

  /** Trailing-N-day spend per customer — the RANGE-interval window frame
    * (the ROWS-frame family is covered elsewhere): frame bounds are defined
    * by ORDER-key VALUES (epoch seconds), so date ties share a frame and
    * the result is deterministic under any within-tie row order — which is
    * also why the sum must be decimal-exact. Partitioned by customer; no
    * global window, partitions are per-customer small at any scale. */
  def trailingSpend(orders: DataFrame, days: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-days.toLong * 86400L, 0L)
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        d(sum(dec(col("o_totalprice"))).over(w)).as("trailing_spend"),
        count(lit(1)).over(w).as("n_orders_window"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** TPC-H Q16-style supplier breadth: distinct suppliers per part
    * type/brand, excluding a supplier blocklist (NOT IN → left-anti join;
    * the blocklist is tiny → broadcast anti, zero extra shuffle). The
    * countDistinct expands to (keys, l_suppkey) then reduces — uniform
    * keys, partial-agg friendly. */
  def supplierBreadth(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, minAcctbal: Double = 1000.0): DataFrame = {
    val blocked = supplier.filter(col("s_acctbal") < minAcctbal).select(col("s_suppkey"))
    lineitem
      .join(broadcast(blocked), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("p_brand"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy(col("p_type"), col("p_brand"))
  }

  /** Distinct users over a period from STORED per-day HLL sketches
    * (DataSketches `hll_sketch_agg`/`hll_union_agg`) — the mergeable-
    * artifact pattern: the per-day sketch table is a few KB per day,
    * persisted once, and any date-range unique count is a sketch UNION
    * over the range — never a re-scan of raw events (at 100 TB, the whole
    * point: MAU/WAU/rolling-28d all come off the same daily artifacts).
    * Emits the exact count alongside a ±5% contract boolean so the oracle
    * pins the sketch's accuracy, not just its existence. */
  def uniquesFromDailySketches(events: DataFrame): DataFrame =
    hllUniquesFromTable(hllDailyBuild(events), events)

  /** The persisted per-day HLL artifact itself — (day, sk: binary), a few
    * KB per day at ANY corpus size. Build once, persist, answer every
    * later date-range unique count by sketch union ([[
    * hllUniquesFromTable]]); maintain with [[hllDailyMerge]] (new data)
    * and [[hllDailyDelete]] (erasure). */
  def hllDailyBuild(events: DataFrame): DataFrame =
    events.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))

  /** Fold a batch's per-day sketches into the maintained table: same-day
    * sketches UNION losslessly (HLL union takes register maxima — the
    * mergeability HLL exists for), new days append. Estimates off the
    * maintained table match a rebuild over the union corpus
    * (contract-pinned via q_hll_incr's oracle). Only sketch rows move —
    * the corpus is never re-scanned. */
  def hllDailyMerge(table: DataFrame, batch: DataFrame): DataFrame =
    table.unionByName(batch)
      .groupBy(col("day"))
      .agg(hll_union_agg(col("sk")).as("sk"))

  /** Right-to-erasure over the per-day HLL table — the honest taxonomy
    * for a NON-LINEAR, insertion-only sketch (register maxima cannot be
    * decremented; CMS subtracts exactly, KMV flags `needs_rebuild`, HLL
    * can only rebuild): every day the doomed rows touch REBUILDS its
    * sketch from that day's SURVIVORS, and the day key prunes that
    * rebuild — the survivor scan is gated to touched days by a broadcast
    * semi join, so at 100 TB an erasure re-reads the touched days'
    * partitions, never the corpus. Untouched days reuse their artifact
    * bytes verbatim (spec-pinned). A touched day whose events are all
    * doomed legitimately vanishes from the table. */
  def hllDailyDelete(table: DataFrame, survivors: DataFrame,
      deleted: DataFrame): DataFrame = {
    val touched = deleted.select(to_date(col("ts")).as("day")).distinct()
    val untouched = table.join(broadcast(touched), Seq("day"), "left_anti")
    val rebuilt = hllDailyBuild(
      survivors.join(broadcast(touched),
        to_date(col("ts")) === touched("day"), "left_semi"))
    untouched.unionByName(rebuilt)
  }

  /** Period uniques OFF the maintained artifact: one sketch union over
    * the table's (tiny) rows; `exactSide` supplies the exact count the
    * ±5% contract is published against (the oracle-able form — raw HLL
    * estimates differ across engines, error contracts do not). */
  def hllUniquesFromTable(table: DataFrame, exactSide: DataFrame): DataFrame = {
    val merged = table
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    exactSide.agg(count_distinct(col("user_id")).as("exact_users"))
      .crossJoin(merged) // 1×1
      .select(col("exact_users"),
        (abs(col("approx_users").cast("double")
          / col("exact_users").cast("double") - 1.0) <= 0.05)
          .as("sketch_within_5pct"))
  }

  /** Daily active users — countDistinct shuffles (day, user) then reduces;
    * at 100 TB prefer [[dailyActiveApprox]] (HLL, one pass, no exact-distinct
    * expansion). */
  def dailyActive(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"),
        count(lit(1)).as("n_events"))
      .orderBy(col("day"))

  /** HLL flavor of DAU — single aggregation pass, mergeable sketches, the
    * 100 TB default. Not oracle-able (approximate). */
  def dailyActiveApprox(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(approx_count_distinct(col("user_id")).as("dau_approx"),
        count(lit(1)).as("n_events"))
      .orderBy(col("day"))

  /** Top-k event types. Partial agg collapses to |event_type| rows per
    * partition before the shuffle; the sort is over a tiny aggregate. */
  def topkEvents(events: DataFrame, k: Int): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(k)

  /** Debounce: drop an event that repeats the previous event of the same
    * (user, type) within `withinMs` — the telemetry double-fire cleaner
    * (UI double-clicks, client retries). Chain semantics: a burst of
    * events each ≤ `withinMs` apart collapses to its first event (this is
    * gap-sessionization with gap = `withinMs`, keeping session heads).
    * One window keyed on (user_id, event_type) — the same per-key shuffle
    * as sessionize, each task sorts one key-group slice; nothing global,
    * no self-join. Ties broken by event_id so the kept set is
    * deterministic. */
  def debounce(events: DataFrame, withinMs: Long = 3600000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .filter(col("__prev_ms").isNull ||
        unix_millis(col("ts")) - col("__prev_ms") > withinMs)
      .drop("__prev_ms")
  }

  /** Event-type transition counts: (prev_type → type) bigram frequencies
    * over each user's time-ordered stream — the funnel-DISCOVERY read
    * (which step actually follows which), complement to [[funnel]]'s
    * fixed-steps check. One lag window on user_id (the sessionize shuffle
    * family), then an aggregation bounded by |event types|² rows. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Sessionization: 30-minute-gap sessions via lag + gap-flag + running sum
    * — one shuffle on user_id, then two window passes over the same
    * partitioning (Catalyst reuses the sort). Partition key is user_id:
    * high cardinality in production, no global window anywhere. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = gapMinutes * 60L * 1000L
    val prev = lag(col("ts"), 1).over(w)
    val isNew = when(prev.isNull ||
      (unix_millis(col("ts")) - unix_millis(prev)) > gapMs, 1L).otherwise(0L)
    events
      .withColumn("is_new", isNew)
      .withColumn("session_idx", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session stats from [[sessionize]]. */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"))
      .agg(max(col("session_idx")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Session-level durations: events per session + span millis. */
  def sessionDurations(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))).as("span_ms"))
      .orderBy(col("user_id"), col("session_idx"))

  /** Ordered funnel over per-user first-touch times: users whose first
    * `steps(0)` precedes their first `steps(1)` precedes … One agg on
    * user_id (min per step via conditional agg — no self-joins, no N-pass),
    * then a tiny count. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    val aggCols = steps.map(s =>
      min(when(col("event_type") === s, col("ts"))).as(s"t_$s"))
    val firsts = events
      .filter(col("event_type").isin(steps: _*))
      .groupBy(col("user_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val reached: Seq[Column] = steps.indices.map { i =>
      steps.take(i + 1).indices.drop(1).foldLeft(
        col(s"t_${steps.head}").isNotNull) { (acc, j) =>
        acc && col(s"t_${steps(j)}").isNotNull &&
          col(s"t_${steps(j - 1)}") < col(s"t_${steps(j)}")
      }
    }
    firsts.select(
      reached.zipWithIndex.map { case (c, i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"n_step${i + 1}_${steps(i)}")
      }: _*)
  }

  /** Day-1..N retention: cohort users by first-seen day, count returns at
    * each day offset. Two aggs on user_id/day — shuffle keys are uniform. */
  def retention(events: DataFrame, maxOffsetDays: Int = 7): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    activity
      .join(firstDay, "user_id")
      .withColumn("offset_days", datediff(col("day"), col("cohort_day")))
      .filter(col("offset_days").between(0, maxOffsetDays))
      .groupBy(col("cohort_day"), col("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  /** Tumbling-window event counts (streaming-window analog in batch form:
    * same `window()` expression Structured Streaming uses). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("value")))).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Per-hour volume anomalies: z-score of each hour's event count against
    * the whole-range hourly mean/std — the ops-monitoring read on an event
    * stream (traffic drop, bot spike). Two tiny aggregations: per-hour
    * counts (≤ hours-in-range rows cross the shuffle) and ONE global stats
    * row derived by window — ONE scan of events. The global (empty
    * partition spec) window is deliberate and safe here: it runs over the
    * hourly AGGREGATE, whose row count is calendar-bounded (8 760/year),
    * never over events — the one place the usual no-global-window rule
    * inverts. (The alternative, re-aggregating stats and cross-joining
    * them back, plans as TWO full scans of events: exchange reuse does not
    * fire across the broadcast boundary — measured: 2 parquet scans,
    * 0 ReusedExchange.)
    * Each float step is a single IEEE op on exact integer sums (mean,
    * mean-of-squares, var = msq − mean², std, z), so the scores are
    * engine-portable bit-for-bit. n·n overflows long only past ~3e9
    * events/hour — repartition the hour grain before that. Zero variance
    * (uniform counts, or a single hour) is guarded to z = 0: without it
    * z = 0/0 = NaN, and NaN sorts above every threshold in Spark, so a
    * perfectly flat stream would flag EVERY hour as an anomaly. */
  def hourlyAnomalies(events: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val mean = sum(col("n_events")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    val msq = sum(col("n_events") * col("n_events")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    val variance = msq - mean * mean
    val z = when(variance > 0,
      (col("n_events").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    hourly
      .select(col("hour"), col("n_events"), z.as("z"),
        (abs(z) > zThreshold).as("is_anomaly"))
      .orderBy(col("hour"))
  }

  /** Global distinct-user estimate, exact + HLL side by side. */
  def uniques(events: DataFrame): DataFrame =
    events.agg(
      countDistinct(col("user_id")).as("exact_users"),
      approx_count_distinct(col("user_id"), 0.01).as("approx_users"))

  /** Full CUBE over (segment, priority): all four grouping sets in one
    * pass — Spark expands the cube BEFORE the shuffle, so partial
    * aggregation still applies per grouping set (2^k × map-side rows, k=2
    * here; use explicit grouping sets for high-k cubes at scale). */
  def cubeRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(d(sum(dec(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Semi/anti join pair: which customers have orders, which don't. The
    * orders side reduces to its join key before the shuffle (semi/anti
    * never multiply rows — at scale this is the idiom for existence
    * filtering, NOT a join + distinct). */
  def customerOrderPresence(orders: DataFrame, customer: DataFrame): DataFrame = {
    val semi = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit(true).as("has_orders"))
    val anti = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit(false).as("has_orders"))
    semi.unionByName(anti).orderBy(col("c_custkey"))
  }

  /** Set operators over behavior cohorts: viewers ∩ purchasers and
    * viewers ∖ purchasers. INTERSECT/EXCEPT plan as aggregations over a
    * shared shuffle on user_id — no pairwise comparison. */
  def viewPurchaseCohorts(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view").select(col("user_id")).distinct()
    val p = events.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
    v.intersect(p).withColumn("cohort", lit("view_and_purchase"))
      .unionByName(v.except(p).withColumn("cohort", lit("view_only")))
      .select(col("cohort"), col("user_id"))
      .orderBy(col("cohort"), col("user_id"))
  }

  /** JSON scalar functions over the stringly-typed props column: path
    * extraction (get_json_object) and schema'd parse (from_json). Both are
    * scan-side projections — pushdown-friendly, no shuffle. */
  def propsJson(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_by_path"),
      from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("k INT")).getField("k").as("k_typed"))
      .orderBy(col("event_id"))

  /** Map-typed column operations: parse props to map<string,int>, then
    * size/keys/lookup/filter. The map value is emitted re-serialized
    * (to_json) — map cells don't sort/hash portably across engines. */
  def propsMapOps(events: DataFrame): DataFrame = {
    val m = from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("map<string,int>"))
    events.select(
      col("event_id"),
      size(m).as("m_size"),
      array_join(map_keys(m), ",").as("m_keys"),
      coalesce(element_at(m, "k"), lit(-1)).as("k_val"),
      to_json(map_filter(m, (_, v) => v % 2 === 0)).as("even_entries"))
      .orderBy(col("event_id"))
  }

  /** AS-OF join — for each left row, the single latest right row with the
    * same key and `rightTime <= leftTime`. Spark has no native as-of
    * operator; the naive form (range theta-join + per-pair max) explodes
    * quadratically per key. This is the scalable composition: UNION both
    * sides tagged, one shuffle+sort per key, running `last(_, ignoreNulls)`
    * carries the right side's values forward, then keep only left rows —
    * O(n log n) per key, no range join, no explosion. Right rows sort
    * before left rows at equal timestamps, so an exactly-simultaneous
    * snapshot is visible (`<=` semantics, matching SQL ASOF JOIN).
    *
    * `right` must be unique per (key, rightTime) — pre-aggregate if not.
    * Returns left columns + `valueCols` (null when no right row precedes). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__is_left", lit(1))
      .select(Seq(col(key).as("__k"), col("__t"), col("__is_left")) ++
        leftCols.map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val r = right
      .withColumn("__t", col(rightTime))
      .withColumn("__is_left", lit(0))
      .select(Seq(col(key).as("__k"), col("__t"), col("__is_left")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(col): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .select(Seq(col("__is_left")) ++ leftCols.map(col) ++
        valueCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)): _*)
      .filter(col("__is_left") === 1)
      .drop("__is_left")
  }

  /** Range (interval-containment) join — left rows matched to right
    * intervals `[rStart, rEnd)` on the same key. The naive theta-join
    * (`lt >= rStart && lt < rEnd`) is a per-key cartesian filtered late —
    * quadratic per key. This bucketizes time: an interval registers in
    * every `bucketWidth`-wide bucket it overlaps, a point lives in exactly
    * one, and the join becomes an equi-join on (key, bucket) with the
    * exact range predicate as a residual filter. Candidates per point =
    * intervals overlapping its bucket, not all intervals of the key.
    *
    * `bucketWidth` (ms) tunes replication: intervals replicate
    * ceil(len/bucketWidth)+1 times. Pick ≈ the typical interval length. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rStart: String, rEnd: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val lb = left.withColumn("__bucket",
      floor(unix_millis(col(leftTime)) / bucketWidth))
    val rb = right
      .filter(col(rEnd) > col(rStart)) // empty intervals match nothing;
      // dropping them also keeps the bucket sequence ascending
      .withColumn("__bucket", explode(sequence(
        floor(unix_millis(col(rStart)) / bucketWidth),
        // end is exclusive, but an interval touching a bucket's first ms
        // must still register there
        floor((unix_millis(col(rEnd)) - 1) / bucketWidth))))
    lb.join(rb,
        lb(key) === rb(key) && lb("__bucket") === rb("__bucket") &&
          col(leftTime) >= col(rStart) && col(leftTime) < col(rEnd))
      .drop(rb(key)).drop("__bucket")
  }

  /** Native session_window aggregation (the batch form of the streaming
    * session operator): sessions merge while the gap stays strictly under
    * `gap`. Same partial-agg + merge structure streaming uses; the window
    * start is the session's first event time. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Explicit GROUPING SETS — the general form rollup/cube specialize
    * (here: each single dimension + the grand total, NO cross cell).
    * Spark expands the sets BEFORE the shuffle (Expand operator), so
    * map-side partial aggregation still applies per set; `grouping_id()`
    * disambiguates the null-as-total rows from genuine nulls. */
  def groupingSetsRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("o_orderpriority")), Seq()),
        col("c_mktsegment"), col("o_orderpriority"))
      .agg(d(sum(dec(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("c_mktsegment"), col("o_orderpriority"))

  /** Pivot: one row per segment, one revenue column per order priority.
    * The value set is passed EXPLICITLY — the two-pass "discover distinct
    * values first" form adds a full extra job and makes the output schema
    * data-dependent, both wrong at scale. Expands to CASE-aggregations
    * before the shuffle, so partial aggregation applies as usual. */
  def pivotRevenue(orders: DataFrame, customer: DataFrame,
      priorities: Seq[String]): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderpriority", priorities)
      .agg(d(sum(dec(col("o_totalprice")))))
      .orderBy(col("c_mktsegment"))

  /** Unpivot (melt): wide per-part measure columns back to (part, measure,
    * value) rows — the inverse of [[pivotRevenue]], a pure narrow
    * projection+expand (no shuffle; Spark's Expand emits one row per
    * measure before any exchange). */
  def unpivotPartMeasures(part: DataFrame): DataFrame =
    part.select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")),
        "measure", "value")
      .orderBy(col("p_partkey"), col("measure"))

  /** The full ranking-function family over one window: row_number / rank /
    * dense_rank / ntile / lag / lead. The window ORDER BY carries an id
    * tiebreak so every output column is deterministic under value ties.
    * Scale: one hash shuffle on the (uniform) partition key; each partition
    * sorts locally — no global sort, no single-partition window. */
  def orderRanks(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      row_number().over(w).as("rn"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"),
      lag(col("o_orderkey"), 1).over(w).as("prev_key"),
      lead(col("o_orderkey"), 1).over(w).as("next_key"))
  }

  /** Exact interpolated percentiles of a LOW-CARDINALITY integral column
    * (l_quantity: 50 distinct values). Spark's exact `percentile` holds a
    * value→count map per group — O(distinct) memory, safe at any row count
    * for bounded domains; for unbounded ones use approx_percentile (same
    * query shape, sketch-mergeable). Dense integer duplicates also make the
    * interpolation land on exact values, so the result is engine-portable. */
  def quantitySpread(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95))").as("qs"),
        // the sketch twin, published as an error-contract boolean (the
        // KLL/GK sketch value itself is engine-specific): rank error at
        // accuracy 1000 is ~0.1% of the group, ≤ 2 quantity units here
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p50a"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("qs").getItem(0).as("p25"), col("qs").getItem(1).as("p50"),
        col("qs").getItem(2).as("p75"), col("qs").getItem(3).as("p95"),
        (abs(col("p50a").cast("double") - col("qs").getItem(1)) <= 2.0)
          .as("approx_close"),
        col("n"))
      .orderBy(col("l_returnflag"))

  /** Rolling-window active users: per calendar day, the distinct users
    * active in the trailing `windowDays` window (WAU for 7), alongside
    * that day's DAU and the DAU/WAU stickiness ratio — the engagement
    * report DAU alone can't give. Distinct-count over a SLIDING window
    * can't ride a window function (count_distinct isn't
    * frame-decomposable), so the shape is: per-(user, day) distinct frame
    * ⋈ the BROADCAST day list on a bounded date-range theta (days are
    * thousands even over years — always broadcastable), then one
    * (day)-keyed exact distinct per window. At extreme scale swap the
    * exact distinct for per-day HLL sketches unioned over the window
    * (the uniquesFromDailySketches machinery) — same query shape.
    * Stickiness is one IEEE division of exact longs. */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = ud.select(col("day").as("d")).distinct()
    val dau = ud.groupBy(col("day")).agg(count_distinct(col("user_id")).as("dau"))
    ud.join(broadcast(days),
        datediff(col("d"), col("day")).between(0, windowDays - 1))
      .groupBy(col("d").as("day"))
      .agg(count_distinct(col("user_id")).as("wau"))
      .join(dau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
  }

  /** Last-touch attribution: each conversion event credits the user's
    * most recent touch event at-or-before it, provided the touch is within
    * `windowMs` (the marketing lookback window) — the standard attribution
    * report, expressed as the audited [[asofJoin]] composition (union +
    * last_value window — one keyed shuffle, no range join, no per-user
    * quadratic). Touches are first deduplicated to ONE row per (user, ts)
    * — max (type, id) wins — so the as-of pick is deterministic under
    * same-timestamp touch bursts. Returns one row per conversion:
    * (event_id, user_id, ts, touch_type, touch_ts, attributed). */
  def lastTouchAttribution(events: DataFrame,
      touchTypes: Seq[String] = Seq("view", "click"),
      convType: String = "purchase",
      windowMs: Long = 86400000L): DataFrame = {
    val conv = events.filter(col("event_type") === convType)
      .select(col("event_id"), col("user_id"), col("ts"))
    val touches = events.filter(col("event_type").isin(touchTypes: _*))
      .groupBy(col("user_id"), col("ts").as("touch_ts"))
      .agg(max(struct(col("event_type"), col("event_id"))).as("m"))
      .select(col("user_id"), col("touch_ts"),
        col("m.event_type").as("touch_type"))
    asofJoin(conv, touches, "user_id", "ts", "touch_ts",
        Seq("touch_type", "touch_ts"))
      .withColumn("attributed",
        col("touch_ts").isNotNull &&
          (unix_millis(col("ts")) - unix_millis(col("touch_ts"))) <= windowMs)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("touch_type"), col("touch_ts"), col("attributed"))
  }

  /** Type-2 slowly-changing-dimension history from a change/event log: per
    * key, collapse consecutive identical states (lag compare), then stamp
    * each surviving state with its validity interval — `valid_from` = the
    * change's timestamp, `valid_to` = the NEXT change's timestamp (half-open
    * interval, the standard SCD2 convention), `is_current` on the open row,
    * `version` = per-key change ordinal. The warehouse twin of the MERGE
    * operator ([[graft.sources.Merge]]): MERGE maintains the type-1 "latest
    * row" snapshot, this builds the full type-2 history.
    *
    * Scale shape: ONE shuffle on the key; the collapse lag, the interval
    * lead, and the version row_number all ride the same (key, ts, tie)
    * sort, so Catalyst plans a single Exchange + Sort with stacked Window
    * operators (no re-sort between them — same reuse as sessionize). The
    * key is high-cardinality in production (user/entity id), no global
    * window anywhere. Ties on ts break by `tieCol` so the history is
    * deterministic under redelivery order. */
  def scd2History(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", stateCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changed = events
      .withColumn("_prev", lag(col(stateCol), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col(stateCol))
    changed
      .select(col(keyCol), col(stateCol).as("state"),
        col(tsCol).as("valid_from"),
        lead(col(tsCol), 1).over(w).as("valid_to"),
        row_number().over(w).as("version"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col("state"), col("valid_from"), col("valid_to"),
        col("is_current"), col("version"))
  }

  /** Incremental SCD2 maintenance — apply a batch of strictly-newer change
    * events to an existing [[scd2History]] table, producing EXACTLY what a
    * full recompute over (old events ∪ batch) would (the catalog row shares
    * q_scd2's oracle verbatim). The CDC steady-state pattern: nightly
    * micro-batches must not re-window years of history.
    *
    * Scale shape (the [[graft.llm.Dedup.clustersIncremental]] discipline):
    * the UNTOUCHED bulk — every key absent from the batch — passes one
    * broadcast anti-join and is never re-sorted; touched keys' open rows
    * and last versions arrive as a broadcast sliver; the only window runs
    * over the BATCH (collapse against the carried last state via
    * coalesce'd lag), and closing the superseded open rows is a second
    * broadcast join. Batch events must be strictly newer than their key's
    * open row — out-of-order history would need a rewind — enforced by an
    * in-plan assert_true rail, not a silent wrong answer. */
  def scd2Apply(history: DataFrame, batch: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts",
      stateCol: String = "event_type", tieCol: String = "event_id"): DataFrame = {
    val keys = batch.select(col(keyCol)).distinct()
    val bulk = history.join(broadcast(keys), Seq(keyCol), "left_anti")
    val touched = history.join(broadcast(keys), Seq(keyCol), "left_semi")
    val last = touched.filter(col("is_current"))
      .select(col(keyCol), col("state").as("_last_state"),
        col("version").as("_last_ver"), col("valid_from").as("_last_from"))
    val wb = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val railedState = when(
      assert_true(col("_last_from").isNull || col(tsCol) > col("_last_from"),
        lit("scd2Apply: batch event not newer than the key's open row")).isNull,
      col(stateCol))
    val changed = batch.join(broadcast(last), Seq(keyCol), "left")
      .withColumn("_state", railedState)
      .withColumn("_eff_prev",
        coalesce(lag(col("_state"), 1).over(wb), col("_last_state")))
      .filter(col("_eff_prev").isNull || col("_eff_prev") =!= col("_state"))
    val newRows = changed
      .select(col(keyCol), col("_state").as("state"),
        col(tsCol).as("valid_from"),
        lead(col(tsCol), 1).over(wb).as("valid_to"),
        (coalesce(col("_last_ver"), lit(0)) + row_number().over(wb))
          .as("version"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col("state"), col("valid_from"), col("valid_to"),
        col("is_current"), col("version"))
    val closes = newRows.groupBy(col(keyCol))
      .agg(min(col("valid_from")).as("_first_new"))
    val touchedUpdated = touched.join(broadcast(closes), Seq(keyCol), "left")
      .withColumn("valid_to",
        when(col("is_current") && col("_first_new").isNotNull,
          col("_first_new")).otherwise(col("valid_to")))
      .withColumn("is_current", col("is_current") && col("_first_new").isNull)
      .drop("_first_new")
    bulk.unionByName(touchedUpdated).unionByName(newRows)
  }

  /** Temporal (point-in-validity) lookup against an SCD2 dimension — the
    * standard warehouse enrich: each fact row picks up the dimension state
    * that was CURRENT at the fact's timestamp, via the half-open
    * [valid_from, valid_to) interval contract [[scd2History]] maintains.
    * Intervals partition each key's timeline, so exactly one dimension row
    * matches any in-range fact; pre-history facts survive as NULL state
    * (left join), never silently drop.
    *
    * Scale shape: one equi-join on the key with the interval predicate as
    * a join residual — the dimension is versions-per-key small relative to
    * facts, so the join broadcasts or hash-partitions on the key; at
    * heavy per-key version counts compose with [[rangeJoin]] bucketing. */
  def scd2Lookup(facts: DataFrame, dim: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val d = dim.select(col(keyCol).as("__k"), col("state"),
      col("valid_from"), col("valid_to"), col("version"))
    facts.join(d,
        facts(keyCol) === col("__k") && col("valid_from") <= facts(tsCol) &&
          (col("valid_to").isNull || facts(tsCol) < col("valid_to")),
        "left")
      .drop("__k")
  }

  /** Top-k session paths: the most frequent 3-step consecutive event-type
    * sequences inside gap-based sessions — the "what do users actually do"
    * product-analytics staple next to [[funnel]] (which checks ONE
    * prescribed order; this surfaces the orders that exist).
    *
    * Scale shape: both the sessionizing gap-lag and the two path leads
    * ride ONE (user, time) sort order — Spark plans a single shuffle and
    * sort for all three window functions — and the path count is a
    * hash aggregation on a low-cardinality string key with map-side
    * combine; TakeOrdered finishes the top-k. */
  def topSessionPaths(events: DataFrame, gapMs: Long = 1800000L,
      k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = events
      .withColumn("_prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("_new",
        when(col("_prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("_prev_ts")) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("_sid", sum(col("_new")).over(w))
    val ws = Window.partitionBy(col("user_id"), col("_sid"))
      .orderBy(col("ts"), col("event_id"))
    sess
      .withColumn("_e2", lead(col("event_type"), 1).over(ws))
      .withColumn("_e3", lead(col("event_type"), 2).over(ws))
      .filter(col("_e2").isNotNull && col("_e3").isNotNull)
      .groupBy(concat_ws(" > ", col("event_type"), col("_e2"), col("_e3"))
        .as("path"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(k)
  }

  /** Robust one-row statistics of a money-like column: lower-median, p10/
    * p90, MAD (median absolute deviation), 10%-trimmed mean and
    * winsorized mean — the outlier-resistant summary a finance/metrics
    * report pairs with the moment statistics (which one fat-fingered
    * order can drag arbitrarily).
    *
    * Every quantile is a DISCRETE order statistic the library computes
    * itself — value counts per 1-cent grid point, a cumulative window
    * over DISTINCT values only (the [[graft.llm.Eval.auc]] shrink
    * discipline: the corpus collapses to its value domain before any
    * global window), and "smallest value with cum ≥ ⌈p·n⌉" in pure
    * integer arithmetic — so both engines agree bit-for-bit without
    * trusting percentile-function tie conventions. Means are exact
    * integer cent sums with single trailing divisions. */
  def robustStats(df: DataFrame, valueCol: Column): DataFrame = {
    val agg = df.select(floor(valueCol * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false)
    val w = Window.orderBy(col("c"))
    val cum = agg.withColumn("cum", sum(col("k")).over(w))
    val tot = agg.agg(sum(col("k")).as("n"))
    val sel = cum.crossJoin(tot)
      .agg(first(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("c"))).as("med_c"),
        min(when(col("cum") >= expr("(n + 9) div 10"), col("c"))).as("p10_c"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("c"))).as("p90_c"))
    // MAD: the same discrete-median machinery over |c − median|
    val devs = agg.crossJoin(broadcast(sel))
      .select(abs(col("c") - col("med_c")).as("d"), col("k"))
      .groupBy(col("d")).agg(sum(col("k")).as("k"))
    val dcum = devs.withColumn("cum", sum(col("k")).over(Window.orderBy(col("d"))))
    val mad = dcum.crossJoin(tot)
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("d"))).as("mad_c"))
    val means = agg.crossJoin(broadcast(sel))
      .agg(
        sum(when(col("c").between(col("p10_c"), col("p90_c")),
          col("c") * col("k")).otherwise(0L)).as("tsum"),
        sum(when(col("c").between(col("p10_c"), col("p90_c")), col("k"))
          .otherwise(0L)).as("tcnt"),
        sum(greatest(least(col("c"), col("p90_c")), col("p10_c")) * col("k"))
          .as("wsum"))
    sel.crossJoin(mad).crossJoin(means) // 1×1×1
      .select(col("n"),
        (col("med_c").cast("double") / 100.0).as("median"),
        (col("p10_c").cast("double") / 100.0).as("p10"),
        (col("p90_c").cast("double") / 100.0).as("p90"),
        (col("mad_c").cast("double") / 100.0).as("mad"),
        (col("tsum").cast("double") / col("tcnt").cast("double") / 100.0)
          .as("trimmed_mean"),
        (col("wsum").cast("double") / col("n").cast("double") / 100.0)
          .as("winsorized_mean"))
  }

  /** Two-proportion A/B test — the experimentation read-out: per arm
    * (deterministic assignment expression, e.g. user_id % 2) distinct
    * exposed users and distinct converters, then lift, the pooled
    * two-proportion z statistic and the |z| > 1.96 significance call.
    * All rates are single IEEE divisions of exact integer counts and the
    * z chain is one fixed op sequence (p̂ per arm, pooled p, standard
    * error, one divide) — engine-portable without any grid.
    *
    * Scale shape: one distinct aggregation per role keyed by (arm, user)
    * — map-side combine; everything after runs on a 2-row frame. */
  def abTest(events: DataFrame, armExpr: Column,
      convType: String = "purchase"): DataFrame = {
    val users = events.select(col("user_id"), armExpr.as("arm")).distinct()
      .groupBy(col("arm")).agg(count(lit(1)).as("exposed"))
    val conv = events.filter(col("event_type") === convType)
      .select(col("user_id"), armExpr.as("arm")).distinct()
      .groupBy(col("arm")).agg(count(lit(1)).as("converted"))
    val arms = users.join(conv, Seq("arm"), "left")
      .withColumn("converted", coalesce(col("converted"), lit(0L)))
    val c = arms.filter(col("arm") === 0)
      .select(col("exposed").as("exp_c"), col("converted").as("conv_c"))
    val t = arms.filter(col("arm") === 1)
      .select(col("exposed").as("exp_t"), col("converted").as("conv_t"))
    val j = c.crossJoin(t) // 1×1
    val pC = col("conv_c").cast("double") / col("exp_c").cast("double")
    val pT = col("conv_t").cast("double") / col("exp_t").cast("double")
    val pooled = (col("conv_c") + col("conv_t")).cast("double") /
      (col("exp_c") + col("exp_t")).cast("double")
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / col("exp_c").cast("double") +
        lit(1.0) / col("exp_t").cast("double")))
    // zero-variance guard (the hourlyAnomalies convention): a degenerate
    // pooled rate (0 or 1) has se = 0 — no test statistic, nothing called
    val z = when(se > 0, (pT - pC) / se).otherwise(lit(0.0))
    j.select(col("exp_c"), col("conv_c"), col("exp_t"), col("conv_t"),
      (pT - pC).as("lift"), z.as("z"), (abs(z) > 1.96).as("significant"))
  }

  /** EWMA hourly baseline + spike flags — the forecasting complement to
    * the z-score anomaly detectors: forecast(t) = the smoothed level
    * BEFORE observing hour t, updated s' = ((α⁻¹−1)·s + n·10⁹) div α⁻¹
    * (α = 1/alphaDen). The update is written as ONE integer expression
    * over non-negative terms so truncating and flooring division agree —
    * both engines replay the identical nano-grid sequence (Spark `div`
    * truncates toward zero, DuckDB `//` floors; they only coincide on
    * non-negatives, which this form guarantees). Spike when
    * n > 1.5 × forecast, as the exact integer compare 2·n·10⁹ > 3·f.
    *
    * Scale shape: one calendar-bounded hourly aggregation, then the
    * inherently-sequential smoothing folds over the SINGLE collected
    * array row (≤ 8 760 structs/year — the bounded-driver-state budget
    * of the trainers, except it never even leaves the plan: a HOF
    * aggregate builds the running sequence in one pass). */
  def ewmaBaseline(events: DataFrame, alphaDen: Int = 8,
      tsCol: String = "ts"): DataFrame = {
    require(alphaDen >= 2, s"alphaDen >= 2: $alphaDen")
    val hourly = events
      .groupBy(date_trunc("hour", col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
    val arr = hourly.agg(sort_array(collect_list(struct(col("hour"), col("n"))))
      .as("a"))
    val d = alphaDen
    arr.selectExpr(
      s"""aggregate(a,
         |  named_struct(
         |    'out', cast(array() as
         |      array<struct<hour:timestamp,n:bigint,f:bigint,s:bigint>>),
         |    's', element_at(a, 1).n * 1000000000L),
         |  (acc, x) -> named_struct(
         |    'out', concat(acc.out, array(named_struct(
         |      'hour', x.hour, 'n', x.n, 'f', acc.s,
         |      's', ((${d - 1}L * acc.s + x.n * 1000000000L) div ${d}L)))),
         |    's', ((${d - 1}L * acc.s + x.n * 1000000000L) div ${d}L))
         |).out AS out""".stripMargin)
      .select(explode(col("out")).as("r"))
      .select(col("r.hour").as("hour"), col("r.n").as("n_events"),
        (col("r.f").cast("double") / 1e9).as("forecast"),
        (col("r.s").cast("double") / 1e9).as("ewma"),
        (col("r.n") * lit(2000000000L) > lit(3L) * col("r.f")).as("spike"))
      .orderBy(col("hour"))
  }

  /** Seasonal (hour-of-day) volume anomalies — [[hourlyAnomalies]] with a
    * PER-SLOT baseline: each hour scores against the mean/std of the SAME
    * hour-of-day across the range, so a quiet 3 am and a busy 3 pm each
    * get their own normal and daily periodicity stops masking real
    * spikes. Identical IEEE op order to the flat version (s/n, sq/n,
    * var = msq − mean², one subtract/divide per hour — exact integer
    * window sums underneath), zero-variance slots score z = 0.
    *
    * Scale shape: one hourly count aggregation (calendar-bounded), then
    * the baseline windows partition by the 24-value hour-of-day key —
    * nothing corpus-sized past the first aggregate. */
  def seasonalAnomalies(events: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("hod", hour(col("hour")))
    val w = Window.partitionBy(col("hod"))
    val mean = sum(col("n_events")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    val msq = sum(col("n_events") * col("n_events")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    val variance = msq - mean * mean
    val z = when(variance > 0,
      (col("n_events").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    hourly
      .withColumn("z", z)
      .withColumn("is_anomaly", abs(col("z")) > zThreshold)
      .select(col("hour"), col("hod"), col("n_events"), col("z"),
        col("is_anomaly"))
  }

  /** Shared journey→transition extraction for [[markovAttribution]] and
    * its oracle: per user, conversions segment the timeline; within each
    * segment the chain is START → touch → … → (CONV | NULL). Returns
    * (src, dst, c) transition counts — exact integers, no floats. */
  private[analytics] def markovTransitions(events: DataFrame,
      touchTypes: Seq[String], convType: String): DataFrame = {
    val ev = events
      .filter(col("event_type").isin((touchTypes :+ convType): _*))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === convType, lit("CONV"))
          .otherwise(col("event_type")).as("st"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seg = ev.withColumn("seg",
      sum(when(col("st") === "CONV", 1L).otherwise(0L)).over(wU) -
        when(col("st") === "CONV", 1L).otherwise(0L))
    val wS = Window.partitionBy(col("user_id"), col("seg"))
      .orderBy(col("ts"), col("event_id"))
    val nx = seg
      .withColumn("nxt", lead(col("st"), 1).over(wS))
      .withColumn("rn", row_number().over(wS))
    val steps = nx.filter(col("st") =!= "CONV")
      .select(col("st").as("src"), coalesce(col("nxt"), lit("NULL")).as("dst"))
    val starts = nx.filter(col("rn") === 1)
      .select(lit("START").as("src"), col("st").as("dst"))
    steps.unionByName(starts)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
  }

  /** Markov-chain (removal-effect) attribution — the data-driven model
    * next to the heuristic ones ([[lastTouchAttribution]],
    * [[multiTouchAttribution]]): build the journey transition chain,
    * estimate P(conversion) from START by fixed-iteration integer value
    * iteration, then re-estimate with each channel REMOVED (its incoming
    * edges redirected to NULL — the standard removal-effect surgery);
    * a channel's credit is the conversion probability it would take with
    * it. Published per channel: removal_ppm = ⌊(v_base − v_removed)·10⁶ /
    * v_base⌋ (clamped ≥ 0) and share = removal_ppm normalized — ONE
    * double division.
    *
    * Determinism/portability: the [[graft.llm.Graph.pagerank]] integer
    * discipline — state values live on the 1e-9 grid, every update is
    * Σ c(s,t)·v(t) floor-divided by the exact out-count total, iterations
    * are fixed (`iters`), so both engines replay the identical integer
    * sequence; the oracle mirrors the full unrolled chain per variant.
    *
    * Scale shape: ONE corpus pass (the windows of [[markovTransitions]]
    * ride a single (user, time) sort) reduces 100 TB of events to a
    * (channels+3)² transition-count table; the value iterations run
    * driver-side over that BOUNDED table (the [[graft.llm.Kmeans]]
    * bounded-driver-state pattern — rows never leave the cluster, only
    * the ≤ 25-entry count map does). */
  def markovAttribution(events: DataFrame,
      touchTypes: Seq[String] = Seq("view", "click"),
      convType: String = "purchase", iters: Int = 12): DataFrame = {
    val spark = events.sparkSession
    val counts = markovTransitions(events, touchTypes, convType)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = ("START" +: touchTypes) ++ Seq("CONV", "NULL")
    def startValue(c: Map[(String, String), Long]): Long = {
      val totals = c.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
      var v = states.map(s => s -> (if (s == "CONV") 1000000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        v = states.map { s =>
          s -> (s match {
            case "CONV" => 1000000000L
            case "NULL" => 0L
            case _ =>
              val num = states.map(t => c.getOrElse((s, t), 0L) * v(t)).sum
              val tot = totals.getOrElse(s, 1L)
              num / tot
          })
        }.toMap
      }
      v("START")
    }
    def removed(x: String): Map[(String, String), Long] =
      counts.toSeq.filter(_._1._1 != x)
        .map { case ((s, t), n) => (s, if (t == x) "NULL" else t) -> n }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val vb = startValue(counts)
    val rows = touchTypes.sorted.map { ch =>
      val vx = startValue(removed(ch))
      val ppm = if (vb == 0L) 0L else math.max(vb - vx, 0L) * 1000000L / vb
      (ch, ppm)
    }
    val sumPpm = rows.map(_._2).sum
    import spark.implicits._
    rows.map { case (ch, ppm) =>
      (ch, ppm,
        if (sumPpm == 0L) Option.empty[Double]
        else Some(ppm.toDouble / sumPpm.toDouble))
    }.toDF("channel", "removal_ppm", "share")
  }

  /** Multi-touch attribution: every in-window touch of a conversion gets
    * fractional credit under TWO standard models at once —
    *
    *   - U-shaped (position-based): 1 touch → 1.0; 2 → 0.5 each; n ≥ 3 →
    *     0.4 first, 0.4 last, 0.2/(n−2) per middle touch;
    *   - time-decay: weight 2^(−Δt/halfLife) normalized within the
    *     conversion's window.
    *
    * The last-touch model ([[lastTouchAttribution]]) answers "what
    * closed?"; these answer "what contributed?" — the models a marketing
    * warehouse reports side by side.
    *
    * Determinism/portability: positions order by (touch_ts, touch_type,
    * touch id) so same-timestamp bursts are stable; decay weights floor
    * to the 1e-9 grid BEFORE the per-conversion normalization, which then
    * runs as an exact integer sum — the published credits are
    * engine-portable despite pow() (the [[graft.llm.Dsir]] λ discipline).
    *
    * Scale shape: one user-keyed equi-join (conversions × touches) with
    * the window predicate applied in the join — per-user fan-out is
    * bounded by touches-per-window, the standard interval-join shape (at
    * heavy per-user skew, compose with the [[rangeJoin]] bucketing). The
    * position/count/sum windows all ride ONE (conversion) partitioning. */
  def multiTouchAttribution(events: DataFrame,
      touchTypes: Seq[String] = Seq("view", "click"),
      convType: String = "purchase",
      windowMs: Long = 86400000L,
      halfLifeMs: Long = 21600000L): DataFrame = {
    val conv = events.filter(col("event_type") === convType)
      .select(col("event_id"), col("user_id"), col("ts"))
    val touches = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts").as("touch_ts"), col("event_type").as("touch_type"))
    val joined = conv.join(touches, Seq("user_id"))
      .filter(col("touch_ts") <= col("ts") &&
        unix_millis(col("ts")) - unix_millis(col("touch_ts")) <= windowMs)
    val byConv = Window.partitionBy(col("event_id"))
    val ordered = Window.partitionBy(col("event_id"))
      .orderBy(col("touch_ts"), col("touch_type"), col("touch_id"))
    val scored = joined
      .withColumn("position", row_number().over(ordered))
      .withColumn("n_touches", count(lit(1)).over(byConv))
      .withColumn("credit_u",
        when(col("n_touches") === 1, lit(1.0))
          .when(col("n_touches") === 2, lit(0.5))
          .when(col("position") === 1 || col("position") === col("n_touches"),
            lit(0.4))
          .otherwise(lit(0.2) / (col("n_touches") - 2).cast("double")))
      .withColumn("w_nano",
        floor(pow(lit(2.0),
          -(unix_millis(col("ts")) - unix_millis(col("touch_ts")))
            .cast("double") / lit(halfLifeMs.toDouble)) * lit(1e9))
          .cast("long"))
      .withColumn("credit_decay",
        col("w_nano").cast("double") / sum(col("w_nano")).over(byConv).cast("double"))
    scored.select(col("event_id"), col("user_id"), col("ts"),
      col("touch_id"), col("touch_type"), col("touch_ts"),
      col("n_touches"), col("position"), col("credit_u"), col("credit_decay"))
  }

  /** Two-sample z-test on a CONTINUOUS metric (mean revenue per user,
    * tokens per doc) — the companion to [[abTest]]'s proportions: Welch
    * form, se = sqrt(varA/nA + varB/nB) from exact cents-grid moment
    * sums, every published double a pinned-order expression over their
    * casts (cross-moments in double space — the [[cupedReport]]
    * overflow rationale). Degenerate arms (n < 2) publish NULL z. */
  def meanTest(df: DataFrame, armCol: Column, armA: String, armB: String,
      valueCol: Column): DataFrame = {
    val cents = floor(valueCol * 100 + 0.5).cast("long")
    def side(arm: String, tag: String) = Seq(
      sum(when(armCol === arm, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(armCol === arm, cents).otherwise(0L)).as(s"s_$tag"),
      sum(when(armCol === arm, cents * cents).otherwise(0L)).as(s"s2_$tag"))
    val aggs = side(armA, "a") ++ side(armB, "b")
    val m = df.agg(aggs.head, aggs.tail: _*)
    def nD(t: String) = col(s"n_$t").cast("double")
    def mean(t: String) = col(s"s_$t").cast("double") / nD(t)
    def variance(t: String) =
      (nD(t) * col(s"s2_$t").cast("double")
        - col(s"s_$t").cast("double") * col(s"s_$t").cast("double")) /
        (nD(t) * (nD(t) - lit(1.0)))
    m.select(col("n_a"), col("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        variance("a").as("var_a"), variance("b").as("var_b"))
      .withColumn("z",
        when(col("n_a") > 1 && col("n_b") > 1 &&
            (col("var_a") / col("n_a").cast("double")
              + col("var_b") / col("n_b").cast("double")) > 0.0,
          (col("mean_b") - col("mean_a")) /
            sqrt(col("var_a") / col("n_a").cast("double")
              + col("var_b") / col("n_b").cast("double")))
          .otherwise(lit(null).cast("double")))
  }

  /** Delta-method standard error for a RATIO metric (CTR, revenue per
    * session, tokens per doc): R = Σx/Σy over per-unit sums, where the
    * naive row-level binomial SE is wrong because x and y are correlated
    * within a unit (the Deng et al. 2017 "ratio metrics" correction —
    * the standard companion to [[abTest]]/[[cupedReport]]).
    *
    * Var(R) ≈ (σx² + R²σy² − 2Rσxy) / (n·ȳ²), published as
    * `se = sqrt(...)` from EXACT per-unit integer moment sums folded in
    * one (unit) aggregation + one global aggregation; every derived
    * double is a pinned-order IEEE expression over the sums' casts
    * (cross-moments in double space, the [[cupedReport]] overflow
    * rationale). Per-row values land on the CENTS GRID
    * (floor(v·100 + 0.5), the [[meanTest]]/[[cupedReport]] convention)
    * before summation, so fractional metrics like revenue keep their
    * fractional mass instead of truncating toward zero — ratio and se
    * are scale-invariant under the common ×100, so integer metrics
    * (clicks/views) are unchanged. Degenerate inputs (n < 2 or Σy = 0)
    * publish NULL se. */
  def ratioMetricCi(df: DataFrame, unit: Column, numCol: Column,
      denCol: Column): DataFrame = {
    def cents(v: Column): Column = floor(v * 100 + 0.5).cast("long")
    val per = df.groupBy(unit.as("u"))
      .agg(sum(cents(numCol)).as("x"), sum(cents(denCol)).as("y"))
    val m = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
    val nD = col("n").cast("double")
    def cm(sab: Column, sa: Column, sb: Column): Column =
      (nD * sab.cast("double") - sa.cast("double") * sb.cast("double")) /
        (nD * (nD - lit(1.0)))
    m.select(col("n"),
        (col("sx").cast("double") / col("sy").cast("double")).as("ratio"),
        cm(col("sxy"), col("sx"), col("sy")).as("cov"),
        cm(col("sx2"), col("sx"), col("sx")).as("varx"),
        cm(col("sy2"), col("sy"), col("sy")).as("vary"),
        (col("sy").cast("double") / nD).as("my"))
      .select(col("n"), col("ratio"),
        when(col("n") > 1 && col("my") =!= 0.0,
          sqrt((col("varx") + col("ratio") * col("ratio") * col("vary")
              - lit(2.0) * col("ratio") * col("cov"))
            / (col("n").cast("double") * (col("my") * col("my")))))
          .otherwise(lit(null).cast("double")).as("se"))
  }

  /** Per-GROUP discrete order statistics on the cents grid — the
    * "median by segment" warehouse ask, via [[robustStats]]' self-computed
    * selection rule (min value whose per-group running count reaches the
    * rank threshold; no percentile-function tie conventions trusted).
    * One (grp, cents) aggregation, one per-group cumulative window over
    * the distinct-value frame (bounded by the value grid, not rows),
    * one final per-group fold. Published values stay on the integer
    * grid — fully engine-portable. */
  def groupedQuantiles(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val agg = df.select(groupCol.as("grp"),
        floor(valueCol * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("grp"), col("c")).agg(count(lit(1)).as("k"))
    val w = Window.partitionBy(col("grp")).orderBy(col("c"))
    val cum = agg.withColumn("cum", sum(col("k")).over(w))
    val tot = agg.groupBy(col("grp")).agg(sum(col("k")).as("n"))
    cum.join(tot, Seq("grp"))
      .groupBy(col("grp"))
      .agg(min(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("c"))).as("med_c"),
        min(when(col("cum") >= expr("(n + 9) div 10"), col("c"))).as("p10_c"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("c")))
          .as("p90_c"))
  }

  /** Per-group median absolute deviation on the cents grid — the robust
    * dispersion next to [[groupedQuantiles]]' location: the same
    * self-computed selection rule, run twice (median, then the median of
    * |value − median| over the deviation grid). Both passes work on the
    * per-group distinct-value frames, never re-scan rows. */
  def groupedMad(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val agg = df.select(groupCol.as("grp"),
        floor(valueCol * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("grp"), col("c")).agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false) // both passes read it
    val w = Window.partitionBy(col("grp")).orderBy(col("c"))
    val tot = agg.groupBy(col("grp")).agg(sum(col("k")).as("n"))
    val med = agg.withColumn("cum", sum(col("k")).over(w))
      .join(tot, Seq("grp"))
      .groupBy(col("grp"))
      .agg(min(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("c"))).as("med_c"))
    val devs = agg.join(med, Seq("grp"))
      .select(col("grp"), col("n"), col("med_c"),
        abs(col("c") - col("med_c")).as("d"), col("k"))
      .groupBy(col("grp"), col("n"), col("med_c"), col("d"))
      .agg(sum(col("k")).as("k"))
    val wd = Window.partitionBy(col("grp")).orderBy(col("d"))
    devs.withColumn("cum", sum(col("k")).over(wd))
      .groupBy(col("grp"))
      .agg(min(col("n")).as("n"), min(col("med_c")).as("med_c"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("d"))).as("mad_c"))
  }

  /** Sample-ratio-mismatch check — the experimentation gate that runs
    * BEFORE any metric is read: a chi-square goodness-of-fit of observed
    * arm counts against the configured allocation. A failed SRM means
    * the assignment or logging pipeline is biased and every downstream
    * metric is garbage (the standard trust check next to [[abTest]]).
    *
    * Portability/scale shape: all arm counts fuse into ONE conditional
    * aggregate over one scan; χ² is a LITERAL-unrolled pinned-order sum
    * of the per-arm ((n−e)²/e) terms (no float aggregation order to
    * trust — `expected` is bounded config). `critValue` is the caller's
    * χ²(dof = arms−1) critical value, passed as a literal. Rows whose
    * arm is NOT in `expected` still count toward n_total, so junk
    * assignments make every configured arm look under-allocated and the
    * check flags — the conservative reading (junk IS an SRM). */
  def srmCheck(df: DataFrame, armCol: Column,
      expected: Seq[(String, Double)], critValue: Double): DataFrame = {
    require(expected.nonEmpty, "no arms")
    require(math.abs(expected.map(_._2).sum - 1.0) < 1e-9,
      "allocation must sum to 1")
    val counts = df.agg(
      count(lit(1)).as("n_total"),
      expected.map { case (arm, _) =>
        sum(when(armCol === arm, 1L).otherwise(0L)).as(s"n_$arm") }: _*)
    val nD = col("n_total").cast("double")
    // backticked re-resolution: an arm named "v1.0" must resolve as the
    // literal column n_v1.0, not a nested-field path (the Expect.scanChecks
    // bug class)
    val chi2 = expected.map { case (arm, frac) =>
      val e = nD * lit(frac)
      val d = col(s"`n_$arm`").cast("double") - e
      d * d / e
    }.reduce(_ + _)
    counts.select(
      (col("n_total") +: expected.map { case (a, _) => col(s"`n_$a`") }): _*)
      .withColumn("chi2", chi2)
      .withColumn("srm_detected", col("chi2") > lit(critValue))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments by Utilizing
    * Pre-Experiment Data" — the standard variance-reduction step in
    * large-scale experimentation): per-user pre-period covariate
    * X = Σ value before `cutoff` adjusts the experiment metric
    * Y = Σ value after, via Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X).
    * Var(Y') = Var(Y)(1 − ρ²), so a sticky per-user covariate shrinks
    * the A/B test's required sample.
    *
    * Portability/scale shape: one scan splits pre/post sums per user on
    * the cents grid (exact longs), one user-keyed aggregation; the five
    * moment sums are EXACT integers and every published double (theta,
    * variances, reduction) is a short pinned-order IEEE expression over
    * their casts — cross-moment products are computed in double space
    * because n·Σy² overflows long at population scale. Zero pre-period
    * variance (no covariate signal) publishes θ = 0 ⇒ reduction 0. */
  def cupedReport(events: DataFrame, cutoff: Column,
      valueCol: Column = col("value")): DataFrame = {
    val cents = floor(valueCol * 100 + 0.5).cast("long")
    val per = events
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cutoff, cents).otherwise(0L)).as("x"),
        sum(when(col("ts") >= cutoff, cents).otherwise(0L)).as("y"))
    val m = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
    val nD = col("n").cast("double")
    def cm(sab: Column, sa: Column, sb: Column): Column =
      nD * sab.cast("double") - sa.cast("double") * sb.cast("double")
    m.select(col("n"),
        cm(col("sxy"), col("sx"), col("sy")).as("cov_n2"),
        cm(col("sx2"), col("sx"), col("sx")).as("varx_n2"),
        cm(col("sy2"), col("sy"), col("sy")).as("vary_n2"))
      .select(col("n"),
        when(col("varx_n2") > 0.0, col("cov_n2") / col("varx_n2"))
          .otherwise(lit(0.0)).as("theta"),
        col("cov_n2"), col("varx_n2"), col("vary_n2"))
      // Var(Y−θX) = VarY + θ²VarX − 2θCov, all on the shared n² scale
      .select(col("n"), col("theta"),
        col("vary_n2").as("vary_scaled"),
        (col("vary_n2") + col("theta") * col("theta") * col("varx_n2")
          - lit(2.0) * col("theta") * col("cov_n2")).as("varyadj_scaled"))
      .select(col("n"), col("theta"), col("vary_scaled"),
        col("varyadj_scaled"),
        when(col("vary_scaled") > 0.0,
          lit(1.0) - col("varyadj_scaled") / col("vary_scaled"))
          .otherwise(lit(0.0)).as("var_reduction"))
  }

  /** Poisson(1) inverse-CDF cutoffs as decimal LITERALS (both engines
    * compare against the same constants — no runtime exp() whose last
    * ulp could differ): P(X ≤ k) for k = 0..6; u above the last cutoff
    * draws 7. */
  private val PoissonCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119)

  /** Poisson bootstrap replicate statistics in ONE pass (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams" — the standard
    * way to bootstrap without materializing B resampled copies): each row
    * contributes to replicate b with a deterministic Poisson(1) weight
    * drawn from the md5-uniform of (key, b), so all B replicates ride a
    * single scan + one (rep) aggregation of B × row partial weights.
    * Returns (rep, n_eff, mean) with mean = ONE IEEE division over exact
    * integer sums (`valueCol` must be integral — cents/micros grid);
    * the caller folds the B means into a standard error ([[bootstrapSe]])
    * or a percentile CI. Deterministic end-to-end: md5 uniforms, literal
    * inverse-CDF cutoffs. */
  def bootstrapReplicates(df: DataFrame, key: Column, valueCol: Column,
      b: Int = 32): DataFrame = {
    require(b > 0, s"replicates must be positive: $b")
    def u(i: Int): Column =
      graft.expr.Md5Prefix(
        concat(key.cast("string"), lit(s":rep$i")), 14).cast("double") /
        lit(math.pow(2, 56))
    // the uniform materializes ONCE per (row, rep) via the explode
    // projection; the cutoff ladder then reads the plain column (an
    // inline ladder would re-evaluate the md5 in every branch —
    // measured 3× the row's cost)
    val w = PoissonCdf.zipWithIndex
      .foldRight(lit(PoissonCdf.size): Column) {
        case ((cut, k), rest) => when(col("r.u") < cut, lit(k)).otherwise(rest)
      }.cast("long")
    df.select(valueCol.cast("long").as("v"),
        explode(array((0 until b).map(i =>
          struct(lit(i).as("rep"), u(i).as("u"))): _*)).as("r"))
      .select(col("r.rep").as("rep"), w.as("w"), col("v"))
      .groupBy(col("rep"))
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("v")).as("s"))
      .select(col("rep"), col("n_eff"),
        // an all-zero-weight replicate (probability e^-n per rep on tiny
        // inputs) publishes NULL, not 0/0 = NaN — NaN would silently
        // poison the downstream SE fold
        when(col("n_eff") > 0,
          col("s").cast("double") / col("n_eff").cast("double"))
          .otherwise(lit(null).cast("double")).as("mean"))
  }

  /** Standard error over the replicate means: collected (B ≤ a few
    * hundred — bounded driver state) and folded in rep order, so the
    * float op sequence is pinned. */
  def bootstrapSe(replicates: DataFrame): Double = {
    // degenerate all-zero-weight replicates publish NULL means — skip
    // them here rather than fold NaN into the variance
    val means = replicates.orderBy(col("rep"))
      .select(col("mean")).collect()
      .collect { case r if !r.isNullAt(0) => r.getDouble(0) }
    require(means.length > 1, "need at least 2 replicates")
    val mbar = means.sum / means.length
    math.sqrt(means.map(m => (m - mbar) * (m - mbar)).sum / (means.length - 1))
  }
}
