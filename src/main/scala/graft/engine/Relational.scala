package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational inventory over the TPC-H-ish test tables
  * (SURVEY.md §2.3–§2.7): joins (inner / semi / anti / outer /
  * broadcast), aggregations (incl. distinct, rollup, cube, having),
  * window functions (ranking, frames, lag/lead), sorts / top-k, and
  * set operations. The reference has none of these (SURVEY.md §0) —
  * this is the gap-filling batch surface the north star mandates.
  *
  * Determinism rules (oracle parity with DuckDB):
  *  - every query ends with a total ORDER BY on a unique key set;
  *  - every floating-point aggregate goes through DECIMAL(18,2) so
  *    the sum is exact (addition order cannot change the result),
  *    then back to DOUBLE for a type both engines print identically;
  *  - every computed column is aliased identically here and in the
  *    oracle SQL (the driver compares columns by sorted name).
  *
  * Scale notes: all fact-side plans keep filters/projections adjacent
  * to the scan (parquet pushdown), dimension joins broadcast (see
  * Tables.tune), and aggregations are partial-final hash aggs — the
  * shapes that survive a 1000-executor 100 TB run.
  */
object Relational {

  /** Exact decimal sum of a double expression, returned as double.
    * Scale 4: raw money columns are exact 2-decimal values and
    * price×(1−discount) products are exact 4-decimal values, so
    * casting to scale 4 never rounds — the sum is order-independent
    * and bit-identical across engines. (Scale 2 would round products
    * at .xx5 boundaries where Spark's HALF_UP-on-shortest-repr and
    * DuckDB's binary-value rounding can disagree.) */
  private[engine] def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact decimal mean: decimal sum / count, computed in double. */
  private[engine] def davg(c: Column): Column =
    (sum(c.cast("decimal(18,4)")).cast("double") / count(lit(1)))

  // ---------------------------------------------------------------- aggs

  /** TPC-H Q1-style pricing summary: filter + 2-key hash agg.
    * Partial aggregation (map-side combine) makes the shuffle carry
    * only |groups| rows per task regardless of input size. */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Filter + narrow projection — exists to prove scan-level predicate
    * pushdown and column pruning (PushedFilters + 4-col ReadSchema). */
  def q2FilterPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.filter(
        col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp"))
          && col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** GROUP BY ... HAVING via post-agg filter. */
  def qHaving(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_partkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .filter(col("total_qty") > 1000)
      .orderBy(col("l_partkey"))
  }

  /** Exact multi-column COUNT(DISTINCT) per group (expand + 2-phase). */
  def qCountDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** approx_count_distinct (HLL++) — the sketch path for 100 TB where
    * exact distinct would shuffle every key. ORACLE-ARBITRATED since
    * r18 via the [[qApproxErr]]/`q_cms_err` bound-query pattern (the
    * last no_oracle registry row): the raw estimate is
    * implementation-defined and never leaves the query; what ships is
    * the exact count plus the sketch's 5% bound AS A BOOLEAN the
    * oracle asserts from the exact side — a sketch regression (wrong
    * merge, busted relative error) flips the boolean and breaks the
    * hash. Distinct from [[qApproxErr]] on both axes: the
    * high-cardinality key (orders, ~n/4 distinct per group, where the
    * dense HLL path actually engages) and the tightened rsd = 0.02
    * (the bound is then 2.5σ — deterministic for a given input, no
    * flake: HLL++ has no randomness). */
  def qApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("nd_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("apx"))
      .select(col("l_returnflag"), col("nd_orders"),
        (abs(col("apx") - col("nd_orders")) <=
          col("nd_orders") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** ROLLUP over (returnflag, linestatus); null grouping keys coalesced
    * to 'ALL' so the oracle hash is null-representation-proof. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls"))
  }

  /** CUBE over (mktsegment, orderstatus) on the customer⋈orders join. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        col("n"), col("sum_price"))
      .orderBy(col("seg"), col("st"))
  }

  // --------------------------------------------------------------- joins

  /** TPC-H Q3-style 3-way join + agg + top-k. customer is broadcast
    * (small dim); orders⋈lineitem shuffles on the order key. */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    val li = Tables(spark, sfDir, "lineitem")
    val cut = lit("1998-01-01").cast("timestamp")
    li.filter(col("l_shipdate") > cut)
      .join(o.filter(col("o_orderdate") < cut),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** 5-way dim-chain join (TPC-H Q5 shape): revenue per nation within
    * one region. Only the genuinely bounded dims (nation: ≤25 rows,
    * region: 5 rows) carry an explicit broadcast hint; customer is
    * left to the 64 MB autoBroadcastJoinThreshold / AQE so the plan
    * degrades gracefully to shuffle join when customer is huge at
    * 100 TB instead of OOMing the driver on a forced broadcast. */
  def q5LocalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    val li = Tables(spark, sfDir, "lineitem")
    val n = Tables(spark, sfDir, "nation")
    val r = Tables(spark, sfDir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left-semi join (EXISTS): order priorities of orders that have at
    * least one heavy line. Semi join ships only the key column and
    * short-circuits on first match. */
  def qSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val li = Tables(spark, sfDir, "lineitem")
    o.join(li.filter(col("l_quantity") >= 48).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Left-anti join (NOT EXISTS): customers with no 'P'-status order. */
  def qAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    c.join(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join preserving customers with zero orders; COUNT of a
    * nullable column counts only matches — the classic outer-join agg. */
  def qOuterCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  /** Broadcast-hash join fact⋈dim + agg by brand. No explicit hint:
    * part fits the 64 MB autoBroadcastJoinThreshold at bench scale
    * (so the plan IS a broadcast join there), but at 100 TB part is
    * multi-GB and a forced broadcast() would OOM — size-based
    * selection picks the right physical join at each scale. */
  def qBroadcastDim(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val p = Tables(spark, sfDir, "part")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))
  }

  /** Scalar subquery: parts priced above 1.05 × the exact global mean.
    * The mean is decimal-exact so the comparison boundary is identical
    * in both engines. */
  def qScalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables(spark, sfDir, "part")
    val bar = p.agg(davg(col("p_retailprice")).as("m"))
    p.join(broadcast(bar), col("p_retailprice") > col("m") * 1.05)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  // ------------------------------------------------------------- windows

  /** Ranking window: top-3 orders per customer by price. */
  def qWindowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Frame window: per-customer running order total (ROWS UNBOUNDED
    * PRECEDING → CURRENT ROW), decimal-exact. */
  def qWindowRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("running_total"))
      .orderBy(col("o_custkey"), col("orderdate"), col("o_orderkey"))
  }

  /** Analytic functions: lag / lead / ntile over per-customer order
    * history. */
  def qWindowLagLead(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** percent_rank / cume_dist distribution windows — the rank-family
    * functions not already covered (rank/dense_rank in qWindowRank,
    * ntile in qWindowLagLead). Both are exact integer ratios
    * ((rank−1)/(n−1), peers≤rank / n), and the window order carries
    * the unique o_orderkey tiebreak → hash-exact across engines.
    * Priorities are a 5-value domain, so this flat window's per-group
    * task grows with the corpus — [[qWindowPctSharded]] (r18) is the
    * row-identical 100 TB form; both ride the same oracle. */
  def qWindowPct(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.select(col("o_orderpriority"), col("o_orderkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  /** Calendar-function parity sweep (§2.7 scalar surface): the date
    * derivations every partition/reporting layer leans on —
    * year/quarter/month/day extraction, month bucketing (`date_trunc`
    * + `last_day`), day arithmetic (`datediff`, `date_add`). All pure
    * calendar math with identical semantics in DuckDB → hash-exact.
    * One narrow projection; at scale these are the expressions that
    * must stay inside whole-stage codegen rather than become UDFs. */
  def qDateFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val d = col("o_orderdate").cast("date")
    o.select(col("o_orderkey"),
        year(d).as("y"), quarter(d).as("qtr"), month(d).as("mo"),
        dayofmonth(d).as("dom"),
        // date-typed outputs go out as ISO strings: the oracle
        // compare stringifies rows, and date32 vs timestamp pandas
        // boxing would diverge on identical calendar values
        date_trunc("month", d).cast("date").cast("string").as("month_start"),
        last_day(d).cast("string").as("month_end"),
        datediff(d, to_date(lit("1995-01-01"))).as("days_since"),
        date_add(d, 30).cast("string").as("due_date"))
      .orderBy(col("o_orderkey"))
  }

  /** String-function parity sweep (§2.7): case mapping, padding,
    * substring windows, search, replace, reverse — restricted to
    * functions whose semantics match DuckDB's exactly (instr↔strpos,
    * substring, lpad on ASCII keys). Narrow projection, codegen'd. */
  def qStringFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val n = col("c_name")
    c.select(col("c_custkey"),
        upper(n).as("up"), length(n).as("len"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
        substring(n, 1, 8).as("prefix"),
        instr(n, "#").as("hash_at"),
        regexp_replace(n, "[0-9]", "").as("no_digits"),
        reverse(n).as("rev"),
        concat_ws("|", col("c_mktsegment"), n).as("tagged"))
      .orderBy(col("c_custkey"))
  }

  /** JSON-path extraction sweep (§2.7): the semi-structured access
    * pattern at the heart of the reference's own domain (its entire
    * input is JSON ad events, `Kafka2S3Hive.scala:60-69`) —
    * `get_json_object` path extraction from a JSON string column,
    * typed via cast, then aggregated per event class. Extraction is a
    * codegen'd projection; the agg is the usual partial/final hash
    * agg — no UDF JSON parsing anywhere. */
  def qJsonFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "events")
    // try_cast: a malformed props value degrades to null (lenient-
    // decode convention) instead of erroring the query under ANSI —
    // the oracle mirrors this with TRY_CAST
    e.select(col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------- sort / limit / sets

  /** Global top-k by sort: ORDER BY ... LIMIT (Spark plans TakeOrdered
    * — no full sort materialization). */
  def qTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** DISTINCT projection. */
  def qDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.select(col("l_returnflag"), col("l_linestatus")).distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Set ops: (O ∩ F) ∖ P over per-status customer-key sets. */
  def qSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    def keys(st: String) =
      o.filter(col("o_orderstatus") === st).select(col("o_custkey"))
    keys("O").intersect(keys("F")).except(keys("P"))
      .orderBy(col("o_custkey"))
  }

  /** UNION (distinct) of two branch projections over different tables. */
  def qUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val s = Tables(spark, sfDir, "supplier")
    c.select(col("c_nationkey").cast("int").as("nationkey"),
        lit("customer").as("side"))
      .union(s.select(col("s_nationkey").cast("int").as("nationkey"),
        lit("supplier").as("side")))
      .distinct()
      .orderBy(col("nationkey"), col("side"))
  }

  /** Exact interpolated percentiles per group (percentile_cont) —
    * both engines sort and linearly interpolate over doubles with the
    * same arithmetic, so values are bit-identical. At scale this is a
    * per-group sort; for sketch-sized answers use approx_percentile
    * instead (same trade-off as q_approx_distinct). */
  def qPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("p50"),
        expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("p95"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Batch sessionization over the events stream table: gap > 30 min
    * starts a new session (lag + running-sum window composition —
    * the standard SQL sessionization), then per-session aggregates.
    * One shuffle on user_id serves both windows and the final agg. */
  def qSessionizeBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val secs = ev.select(col("user_id"), col("event_id"),
      col("ts").cast("long").as("s"))
    val marked = secs.withColumn("ns",
      when(lag(col("s"), 1).over(w).isNull
        || col("s") - lag(col("s"), 1).over(w) > 1800, 1).otherwise(0))
    val numbered = marked.withColumn("sess",
      sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
    numbered.groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_events"),
        min(col("s")).as("start_s"),
        (max(col("s")) - min(col("s"))).as("dur_s"))
      .orderBy(col("user_id"), col("sess"))
  }

  /** Ordered-step funnel over the event stream: users who VIEWED,
    * then CLICKED strictly after their first view, then PURCHASED
    * strictly after that first qualifying click — the standard
    * product-analytics conversion funnel, where naive per-stage
    * counts overstate conversion because they ignore event ORDER.
    *
    * Shape for scale: each stage shuffles only its own event-type
    * slice (the type filter is pushed to the scan), every join and
    * aggregation is keyed by user_id, and the groupBy AFTER each
    * join reuses the join's user_id partitioning — the physical plan
    * shows partial+final HashAggregate with no extra Exchange there.
    * At small SF AQE broadcasts the (tiny) per-stage aggregates
    * instead. No windows, no per-user sort — min-reductions only. */
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    def stage(tpe: String): DataFrame =
      ev.filter(col("event_type") === tpe)
        .select(col("user_id"), col("ts"))
    val v = stage("view").groupBy(col("user_id"))
      .agg(min(col("ts")).as("t_view"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.select(lit("l1_view").as("stage"), col("user_id"))
      .union(c.select(lit("l2_click"), col("user_id")))
      .union(p.select(lit("l3_purchase"), col("user_id")))
      .groupBy(col("stage")).agg(count(lit(1)).as("users"))
      .orderBy(col("stage"))
  }

  /** Batch tumbling-window aggregation over the event stream — the
    * batch twin of [[StreamingOps.windowedCounts]] (§2.5): `window()`
    * works identically on a bounded frame, bucketing events into
    * 1-hour tumbles. The DuckDB oracle rebuilds the buckets with
    * `time_bucket`; bucket starts go out as strings (whole-second
    * values render identically) and the double sum rides the
    * decimal(18,4) path ([[dsum]]) so the hash is order-independent. */
  def qTimeBucket(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Batch HOPPING-window aggregation — the sliding twin of
    * [[qTimeBucket]]'s tumble: 1-hour windows advancing every
    * 15 minutes, so each event lands in FOUR overlapping windows.
    * `window(ts, "1 hour", "15 minutes")` plans an `Expand` (×4 row
    * replication BEFORE the partial agg — the shuffle still carries
    * only \|windows × types\| combined rows, 4× the tumble's groups,
    * never 4× the events); the oracle rebuilds the replication with
    * a 4-offset cross join over 15-minute buckets. Same decimal-sum
    * and string-bucket conventions as the tumble. */
  def qHopWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Exponentially time-decayed trending score — the "what's hot
    * right now" ranking signal: every event in the trailing 24 h
    * contributes value · 2^(23 − age_hours), so the newest hour
    * weighs 2²³ and each older hour half that. Computed as ONE plain
    * hash aggregation — no window, no recursion, no per-key ordering:
    * the decay weight is a per-row function of (ts, corpus max ts),
    * which is what makes the score a commutative-monoid sum and
    * therefore distributable with map-side partials at any scale
    * (the per-key recursive EWMA formulation would serialize each
    * key's history; anchoring the decay to a fixed reference time
    * removes the recursion entirely).
    *
    * Exactness discipline: values are exact centi-units
    * (round(value·100), the q_pagerank integer-unit convention),
    * weights are exact BIGINT powers of two (shiftleft), ages come
    * from BIGINT microsecond floor-division — so the per-type score
    * is an order-independent BIGINT sum, hash-stable across engines
    * and partitionings (max |score| here ≈ 2.9e11; headroom to long
    * overflow is ~7 orders of magnitude, bounded by
    * 49102·2²³·n_recent). The corpus max ts rides in as a broadcast
    * 1-row cross join ([[qScalarSubquery]]'s shape). */
  def qDecayTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val tmax = ev.agg(max(unix_micros(col("ts"))).as("tu"))
    ev.crossJoin(broadcast(tmax))
      // integer `div`, not floor(double /): past ~1e16 µs deltas the
      // double's rounding error crosses integer boundaries and would
      // diverge from the oracle's BIGINT floor-division
      .withColumn("age_h",
        expr("(tu - unix_micros(ts)) div 3600000000"))
      .filter(col("age_h") < 24)
      .withColumn("wt",
        expr("shiftleft(cast(1 as bigint), cast(23 - age_h as int))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_recent"),
        sum(round(col("value") * 100).cast("long") * col("wt"))
          .as("score"))
      .orderBy(col("event_type"))
  }

  /** Incremental aggregation maintenance (materialized-view merge):
    * update an hourly rollup with a NEW event interval by combining
    * the STORED partial aggregates with the batch's partials —
    * counts and exact-decimal sums form a commutative monoid, so
    * agg(history) ⊎ agg(batch) ≡ agg(history ∪ batch), and the
    * 100 TB history is never rescanned: in production the stored
    * side IS the materialized rollup table (here it is derived by
    * aggregating the md5-bucket history split of the same fixture,
    * the [[qMergeUpsert]] derivation convention, so the oracle can
    * rebuild it); the batch side is one narrow pass over the new
    * interval, and the merge agg touches only O(groups) rows. The
    * oracle is the FULL single-pass aggregation — equality with it
    * is exactly the view-maintenance correctness claim. Decimal
    * partials are what make the merge EXACT: double partial sums
    * would make the combined result depend on the history/batch cut
    * point. */
  def qAggIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val bucket = Tables.md5Bucket(col("event_id"))
    def partials(df: DataFrame): DataFrame = df
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,4)")).as("psum"))
    val stored = partials(ev.filter(bucket < 90)) // the MV, in reality on disk
    val arriving = partials(ev.filter(bucket >= 90))
    stored.unionByName(arriving)
      .groupBy(col("w"), col("event_type"))
      .agg(sum(col("pn")).cast("long").as("n"),
        sum(col("psum")).cast("double").as("sum_value"))
      .select(col("w.start").cast("string").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Mergeable histogram-quantile MV — the quantile member of the
    * MV-merge family ([[qAggIncremental]] sums, [[qDistinctIncremental]]
    * sketches, [[qTopkIncremental]] leaderboards, [[qChecksumIncremental]]
    * verification): exact quantiles do NOT merge (a median of medians
    * is not the median), so the maintainable form is a fixed-grid
    * HISTOGRAM — per-(type, bucket) counts are a commutative monoid,
    * merged here from the stored-vs-arriving md5 split (the family's
    * arrival-cut convention) and emitted with the cumulative rank
    * walk and the median-bucket flag (prev cum < ⌈n/2⌉ ≤ cum): the
    * ⌈n/2⌉-th order statistic provably lies in the flagged bucket,
    * so the estimate's error is bounded by the grid width (10 value
    * units at the centi-scale ÷1000 grid) — by RANK, not by a
    * value-distance claim an adversarial gap distribution would
    * break. Values are positive (integer `div` = floor); all
    * arithmetic integer ⇒ hash-exact.
    *
    * Scale shape: two map-side-combined histogram aggs (each shuffle
    * carries ≤ \|types×buckets\| partials regardless of event
    * volume), a bucket-grain merge agg, and the cum walk on the
    * \|types×buckets\|-row frame — at 100 TB the stored term is the
    * MV table and maintenance cost is the delta scan only. */
  def qHistQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
    val bucket = Tables.md5Bucket(col("event_id"))
    def hist(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"), expr("v div 1000").as("bkt"))
      .agg(count(lit(1)).as("pc"))
    val stored = hist(ev.filter(bucket < 90)) // the MV, on disk in prod
    val arriving = hist(ev.filter(bucket >= 90))
    val merged = stored.unionByName(arriving)
      .groupBy(col("event_type"), col("bkt"))
      .agg(sum(col("pc")).cast("long").as("cnt"))
    histQuantileOf(merged)
  }

  /** The cumulative-rank walk over a (event_type, bkt, cnt) histogram
    * frame — [[qHistQuantile]]'s readout, factored so the streaming
    * maintainer ([[StreamingOps.applyHistBatch]]) loads its MV through
    * the identical tail. */
  private[graft] def histQuantileOf(hist: DataFrame): DataFrame = {
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(totW))
      .select(col("event_type"), col("bkt"), col("cnt"), col("cum"),
        (col("cum") - col("cnt") < expr("(n + 1) div 2")
          && col("cum") >= expr("(n + 1) div 2")).as("is_median_bucket"))
      .orderBy(col("event_type"), col("bkt"))
  }

  /** The per-batch histogram projection shared by [[qHistQuantile]]
    * and the streaming maintainer: centi-quantized value, ÷1000 grid. */
  private[graft] def histOf(events: DataFrame): DataFrame = events
    .select(col("event_type"),
      round(col("value") * 100).cast("long").as("v"))
    .groupBy(col("event_type"), expr("v div 1000").as("bkt"))
    .agg(count(lit(1)).as("cnt"))

  /** Incremental DISTINCT-count maintenance — the sketch member of
    * the MV-merge family: exact counts and sums merge as a monoid
    * ([[qAggIncremental]]), but COUNT(DISTINCT) does NOT — the only
    * way to update a distinct-count rollup without rescanning the
    * 100 TB history is to store a MERGEABLE sketch per group
    * (Datasketches HLL: register-wise max is associative,
    * commutative, idempotent, so union-of-sketches ≡
    * sketch-of-union) and union the new interval in. Output per
    * event_type: the exact distinct user count and whether the
    * history⊎batch merged-sketch estimate lands within 3% — the
    * `q_approx_err` bound pattern (sketch bytes are implementation-
    * defined; the published error bound is the portable contract,
    * and the split-point independence is spec'd exactly). */
  def qDistinctIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val bucket = Tables.md5Bucket(col("event_id"))
    def sketch(df: DataFrame): DataFrame = df.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val stored = sketch(ev.filter(bucket < 90)) // the MV sketch column
    val arriving = sketch(ev.filter(bucket >= 90))
    val merged = stored.unionByName(arriving)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd_users"))
      .join(merged, Seq("event_type"))
      .select(col("event_type"), col("nd_users"),
        (abs(col("est") - col("nd_users")) <= col("nd_users") * 0.03)
          .as("within_3pct"))
      .orderBy(col("event_type"))
  }

  /** Incremental TOP-K maintenance — the leaderboard member of the
    * MV-merge family ([[qAggIncremental]] counts/sums,
    * [[qDistinctIncremental]] sketches, [[qChecksumIncremental]]
    * verification): for a ROW-LEVEL metric, top-k is a mergeable
    * bounded summary — topk(A ∪ B) = topk(topk(A) ∪ topk(B)) — so a
    * per-group leaderboard over 100 TB of history is maintained by
    * re-ranking the stored k rows against the batch's k rows, never
    * rescanning history; the merge input is O(groups·k).
    *
    * The boundary, stated honestly: this identity holds because the
    * rank metric is a per-ROW value (each row's own `value`; max-like
    * semantics). A top-k by an ADDITIVE per-key metric (e.g. each
    * user's SUM) is NOT maintainable from the k stored rows — a key
    * outside both stored top-ks can enter the merged top-k — and
    * needs the [[qAggIncremental]] full-partials route with a final
    * re-rank. Ties break on event_id; the oracle is the full-pass
    * window over history ∪ batch — equality IS the maintenance
    * claim. */
  def qTopkIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val bucket = Tables.md5Bucket(col("event_id"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    def top3(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("event_type"), col("event_id"), col("value"))
    val stored = top3(ev.filter(bucket < 90)) // the MV, on disk in prod
    val arriving = top3(ev.filter(bucket >= 90))
    stored.unionByName(arriving)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("event_type"), col("rank"), col("event_id"),
        col("value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Join-key skew report — the diagnostic behind the salting /
    * AQE-skew-join decisions ([[Scale.saltedJoin]], SURVEY §8.2):
    * for each candidate join key of the fact table, the row count,
    * distinct-key count, the heaviest key and its frequency, and the
    * skew ratio max_freq·distinct/total (1.0 = perfectly uniform; a
    * ratio of k means the hottest reducer gets ~k× the average — the
    * number that says whether a plain hash join partitions evenly).
    * Exact integer counts + one final IEEE division per row.
    *
    * Scale shape: one hash-agg per key column (partial/final; the
    * per-key frequency table is the shuffle, exactly the join's own
    * distribution) + a 1-row reduction each — never a sort. The
    * hottest key rides an integer-PACKED argmax (f·10¹⁰ − key:
    * max frequency wins, ties to the smallest key) because neither
    * engine's native arg_max pins its tie-break. */
  def qSkewReport(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val pack = 10000000000L // > any key; f·pack − key is injective
    val keys = Seq("l_orderkey", "l_partkey", "l_suppkey")
    keys.map { k =>
      li.groupBy(col(k).as("key")).agg(count(lit(1)).as("f"))
        .agg(lit(k).as("key_col"),
          sum(col("f")).cast("long").as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("f")).cast("long").as("max_freq"),
          max(col("f") * pack - col("key")).as("pk"))
    }.reduce(_.unionByName(_))
      .select(col("key_col"), col("n_rows"), col("n_keys"),
        (col("max_freq") * pack - col("pk")).as("hottest_key"),
        col("max_freq"),
        (col("max_freq").cast("double") * col("n_keys") / col("n_rows"))
          .as("skew_ratio"))
      .orderBy(col("key_col"))
  }

  /** One-pass column profile (ANALYZE-style data quality report): per
    * column — row count, null count, exact distinct count, min/max —
    * the pre-training profiling pass every pipeline runs before
    * trusting a source. ONE scan computes every column's aggregates
    * side by side (wide agg, partial/final), then the wide row is
    * unpivoted driver-side via stack(); numeric extremes travel as
    * canonical strings so one output schema fits all column types.
    * At 100 TB this is the shape that matters: N columns profiled for
    * the price of one pass, never N scans. */
  def qProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    // (column, isNumeric) — numeric extremes render via decimal(18,4)
    // (a FIXED "1.0000" format both engines agree on); raw double→
    // string would race the engines' shortest-round-trip printers
    val spec = Seq("l_quantity" -> true, "l_extendedprice" -> true,
      "l_discount" -> true, "l_returnflag" -> false, "l_linestatus" -> false)
    val cols = spec.map(_._1)
    val aggs = spec.flatMap { case (c, numeric) =>
      def render(x: Column) =
        if (numeric) x.cast("decimal(18,4)").cast("string")
        else x.cast("string")
      Seq(count(lit(1)).as(s"${c}__rows"),
        count(when(col(c).isNull, lit(1))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        render(min(col(c))).as(s"${c}__min"),
        render(max(col(c))).as(s"${c}__max"))
    }
    val wide = li.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__rows, ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max"
    ).mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column, n_rows, n_nulls, n_distinct, min_value, max_value)"))
      .orderBy(col("column"))
  }

  /** As-of join — for each event, the most recent order of the same
    * customer at or before the event time. Spark has no ASOF JOIN
    * operator; the scalable formulation is the union trick: tag both
    * sides, sort per key by (time, side) and carry the last order id
    * forward with an ignore-nulls window — ONE shuffle on the key and
    * a single ordered pass, instead of the O(|events|·|orders per
    * key|) range join. The right side is pre-aggregated to unique
    * (key, time) so tie-breaking is deterministic (max order id),
    * matching DuckDB's native ASOF JOIN oracle. */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey").as("k"),
        // NTZ → TZ (session is UTC) → epoch seconds; NTZ has no
        // direct long cast
        col("o_orderdate").cast("timestamp").cast("long").as("t"))
      .agg(max(col("o_orderkey")).as("oid"))
    val e = Tables(spark, sfDir, "events")
      .select(col("user_id").as("k"), col("ts").cast("long").as("t"),
        col("event_id"))
    val tagged = o
      .select(col("k"), col("t"), col("oid"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"))
      .unionByName(e.select(col("k"), col("t"),
        lit(null).cast("long").as("oid"), lit(1).as("side"),
        col("event_id")))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_oid", last(col("oid"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("k"), col("last_oid").as("oid"))
      .orderBy(col("event_id"))
  }

  /** Nearest-within-tolerance as-of join — the two-sided sibling of
    * [[qAsofJoin]]'s backward carry (pandas merge_asof
    * direction='nearest'): each purchase takes the CLOSER of the
    * user's last at-or-prior and first strictly-following CLICK,
    * prior winning exact-distance ties, NULL when neither falls
    * within the 4 h tolerance — the feature-store lookup where a
    * reading slightly AFTER the label time beats one a week before.
    * Same union-tag-window shape, ONE key-ordered sort pass feeding
    * BOTH directions: the backward carry is last(ignoreNulls) over
    * (unbounded, current) — same-timestamp clicks sort before
    * purchases (side tag) so dt = 0 lands here — and the forward
    * carry is first(ignoreNulls) over (current, unbounded); each
    * direction's (t, id) pair rides one struct, so a carried id can
    * never pair with the other candidate's distance. No range join,
    * no O(clicks×purchases) fan, integer epoch-seconds arithmetic
    * throughout. The oracle is an INDEPENDENT formulation — two
    * native DuckDB ASOF joins.
    *
    * Scale shape: one shuffle on the key, one WindowExec evaluating
    * both frames over the same sort — the [[qAsofJoin]] cost with a
    * second carried column. */
  def qAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val tol = 14400L // 4 h: prior, following AND null branches all live
    val ev = Tables(spark, sfDir, "events")
      .select(col("user_id").as("k"), col("ts").cast("long").as("t"),
        col("event_id"), col("event_type"))
    val o = ev.filter(col("event_type") === "click")
      .groupBy(col("k"), col("t"))
      .agg(max(col("event_id")).as("oid"))
    val e = ev.filter(col("event_type") === "purchase")
      .select(col("k"), col("t"), col("event_id"))
    val tagged = o
      .select(col("k"), col("t"),
        struct(col("t").as("ot"), col("oid").as("oid")).as("ocand"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"))
      .unionByName(e.select(col("k"), col("t"),
        lit(null).cast("struct<ot:bigint,oid:bigint>").as("ocand"),
        lit(1).as("side"), col("event_id")))
    val ord = Window.partitionBy(col("k")).orderBy(col("t"), col("side"))
    val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tagged
      .withColumn("prev", last(col("ocand"), ignoreNulls = true).over(wB))
      .withColumn("next", first(col("ocand"), ignoreNulls = true).over(wF))
      .filter(col("side") === 1)
      .withColumn("dt_prev",
        when(col("prev").isNotNull, col("t") - col("prev.ot")))
      .withColumn("dt_next",
        when(col("next").isNotNull, col("next.ot") - col("t")))
      .withColumn("pick_prev",
        col("dt_prev").isNotNull && col("dt_prev") <= tol &&
          (col("dt_next").isNull || col("dt_prev") <= col("dt_next") ||
            col("dt_next") > tol))
      .withColumn("pick_next",
        !col("pick_prev") && col("dt_next").isNotNull &&
          col("dt_next") <= tol)
      .select(col("event_id"), col("k"),
        when(col("pick_prev"), col("prev.oid"))
          .when(col("pick_next"), col("next.oid")).as("oid"),
        when(col("pick_prev"), -col("dt_prev"))
          .when(col("pick_next"), col("dt_next")).as("dt_sec"))
      .orderBy(col("event_id"))
  }

  /** Strict as-of join (pandas merge_asof allow_exact_matches=False):
    * for each purchase, the user's most recent click STRICTLY BEFORE
    * the purchase's 10-minute bucket — the leakage-safe feature
    * lookup, where a feature stamped in the SAME window as the label
    * must not be visible. Same union-tag one-pass shape as
    * [[qAsofJoin]], with the SIDE TAGS SWAPPED: purchases (side 0)
    * sort before same-bucket clicks (side 1), so the backward
    * ignore-nulls carry can only see clicks from strictly earlier
    * buckets — the inclusive/strict distinction is one integer in the
    * sort key, not a different plan. The 10-minute bucketing is what
    * makes the boundary branch LIVE in every fixture (same-bucket
    * click+purchase collisions exist at sf0.001/0.01/0.1: 2/7/66);
    * the oracle is DuckDB's native ASOF LEFT JOIN with the strict
    * `>` comparator — an independent formulation.
    *
    * Scale shape: identical to [[qAsofJoin]] — one shuffle on the
    * key, one ordered pass, no range join. */
  def qAsofStrict(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("user_id").as("k"),
        expr("unix_micros(ts) div 600000000").as("t"),
        col("event_id"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .groupBy(col("k"), col("t"))
      .agg(max(col("event_id")).as("oid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("k"), col("t"), col("event_id"))
    val tagged = p
      .select(col("k"), col("t"), lit(null).cast("long").as("oid"),
        lit(0).as("side"), col("event_id"))
      .unionByName(c.select(col("k"), col("t"), col("oid"),
        lit(1).as("side"), lit(null).cast("long").as("event_id")))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_oid", last(col("oid"), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .select(col("event_id"), col("k"), col("last_oid").as("oid"))
      .orderBy(col("event_id"))
  }

  /** Last-touch attribution lookback window (seconds). Sized so the
    * fixture exercises BOTH branches — attributed conversions and
    * organic ones whose latest touch is stale. */
  val attributionWindowSec = 259200L // 72 h

  /** Last-touch conversion attribution — the marketing-analytics
    * application of the [[qAsofJoin]] carry: each purchase is
    * attributed to the user's most recent STRICTLY-PRIOR touch event
    * (click or view) within [[attributionWindowSec]]; a conversion
    * with no fresh touch stays a row with NULL attribution (organic).
    * One user-keyed sort pass computes all three carried touch fields
    * (id, type, epoch-micros time) in a single WindowExec — the
    * ignore-nulls last() over ROWS … 1 PRECEDING is the as-of
    * semantics without a range join, and the (ts, event_id) ordering
    * makes simultaneous-timestamp ties deterministic. Times emit as
    * epoch micros (the no-raw-TIMESTAMP oracle convention); the
    * staleness cut nulls all three touch columns together so the
    * output never shows a half-attributed row.
    *
    * Scale shape: ONE shuffle on user_id and one ordered pass over
    * each user's events — O(events log events/user) with no
    * O(touches×conversions) blowup however bursty the touch stream;
    * the filter to conversions happens after the carry, so nothing
    * downstream carries event volume beyond the conversion rows. */
  def qAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type") === "click" || col("event_type") === "view"
    def carry(c: Column, name: String): Column =
      last(when(isTouch, c), ignoreNulls = true).over(w).as(name)
    val withTouch = ev
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("t_us"), col("value"),
        carry(col("event_id"), "touch_id"),
        carry(col("event_type"), "touch_type"),
        carry(col("t_us"), "touch_t_us"))
      .filter(col("event_type") === "purchase")
    val fresh = col("touch_id").isNotNull &&
      (col("t_us") - col("touch_t_us")) <= attributionWindowSec * 1000000L
    withTouch.select(col("event_id").as("purchase_id"), col("user_id"),
        col("t_us").as("purchase_t_us"), col("value"),
        when(fresh, col("touch_id")).as("touch_id"),
        when(fresh, col("touch_type")).as("touch_type"),
        // integer div, never `/`: Spark's `/` is double division and
        // a double-rounded quotient can truncate across an integer
        // boundary differently than exact integer division
        when(fresh, expr("(t_us - touch_t_us) div 1000000")).as("gap_s"))
      .orderBy(col("purchase_id"))
  }

  /** Generic MERGE application — the engine primitive under
    * [[qMergeUpsert]] and the streaming upsert sink
    * ([[StreamingOps.upsertSink]]). Contract: `base` and `changes`
    * share a schema (`keyCol` + value columns); a matched base row is
    * REPLACED by its change row (whole-row upsert, the common CDC
    * contract — a change row's null is a real null, not "keep old"),
    * unmatched change rows insert, untouched base rows keep; `op`
    * tags every output row update/insert/keep.
    *
    * PRECONDITION: at most ONE change row per key. SQL MERGE raises
    * on multiple source matches; this primitive does not check (a
    * check costs an extra aggregate per batch) — duplicate keys
    * would fan matched base rows out like any join and insert
    * unmatched duplicates twice. [[StreamingOps.applyUpsertBatch]]
    * establishes the precondition with its max_by(seq) last-wins
    * dedup; direct callers own it the same way.
    *
    * Scale shape (the Delta/Iceberg MERGE decomposition): matched/
    * kept = base LEFT JOIN broadcast(changes) — the base never
    * shuffles, the bounded change batch broadcasts; not-matched =
    * changes ANTI JOIN base projected to its key column — the
    * minimal consultation of the base (8 bytes/row at the scan), and
    * a key-bucketed base makes even that co-located. */
  def mergeApply(base: DataFrame, changes: DataFrame,
      keyCol: String): DataFrame = {
    val valCols = base.columns.filter(_ != keyCol).toSeq
    // presence marker instead of testing a value column: a change row
    // may legitimately carry nulls
    val c = valCols.foldLeft(
        changes.withColumn("__c_present", lit(true)))(
      (d, n) => d.withColumnRenamed(n, s"__c_$n"))
    val matchedOrKept = base.join(broadcast(c), Seq(keyCol), "left")
      .select(col(keyCol) +:
        valCols.map(n =>
          when(col("__c_present").isNotNull, col(s"__c_$n"))
            .otherwise(col(n)).as(n)) :+
        when(col("__c_present").isNotNull, "update")
          .otherwise("keep").as("op"): _*)
    val notMatched = c
      .join(base.select(col(keyCol)), Seq(keyCol), "left_anti")
      .select(col(keyCol) +: valCols.map(n => col(s"__c_$n").as(n)) :+
        lit("insert").as("op"): _*)
    matchedOrKept.unionByName(notMatched)
  }

  /** CDC MERGE (upsert): apply a change batch to a base table with
    * MERGE semantics — WHEN MATCHED update, WHEN NOT MATCHED insert,
    * untouched rows kept — without a table format's transaction log.
    * The change batch is derived deterministically from the base
    * (md5-bucket < 10 → price/status updates; bucket ≥ 95 → new rows
    * under negated keys) so the oracle can rebuild it; `op` tags each
    * output row update/insert/keep.
    *
    * Scale shape — the Delta/Iceberg MERGE decomposition, not a
    * full-outer join: a full-outer on the key shuffles the ENTIRE
    * 100 TB base; instead (a) matched-or-kept rows come from base
    * LEFT JOIN broadcast(changes) — the base never shuffles, the
    * change batch (bounded: one CDC interval) broadcasts; (b) the
    * NOT-MATCHED set is changes ANTI JOIN base's key column — the
    * base side is pruned to its 8-byte key at the scan
    * (`ReadSchema`-guarded), the minimal possible consultation of the
    * base, and a key-bucketed base table makes even that co-located.
    * The union of (a) and (b) is the merged table. */
  def qMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    def base(s: SparkSession) = Tables(s, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val bucket = Tables.md5Bucket(col("o_orderkey"))
    val src = base(spark).withColumn("bucket", bucket)
    // matched updates: reprice + flag
    val updates = src.filter(col("bucket") < 10)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 1.1).as("o_totalprice"))
    // unmatched inserts: negated keys are disjoint from the base by
    // construction, but the merge does NOT rely on that — membership
    // is decided by the joins inside mergeApply, as MERGE semantics
    // demand
    val inserts = src.filter(col("bucket") >= 95)
      .select((-col("o_orderkey")).as("o_orderkey"),
        col("o_custkey"),
        lit("N").as("o_orderstatus"),
        (col("o_totalprice") * 0.5).as("o_totalprice"))
    mergeApply(base(spark), updates.unionByName(inserts), "o_orderkey")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"), col("op"))
      .orderBy(col("o_orderkey"))
  }

  /** CASE WHEN bucketing + conditional aggregation. */
  def qCaseBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val bucket = when(col("o_totalprice") < 50000, "small")
      .when(col("o_totalprice") < 200000, "medium")
      .otherwise("large")
    o.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_open"))
      .orderBy(col("bucket"))
  }

  /** Pivot (wide conditional aggregation): order counts per priority,
    * one column per order status. Explicit pivot values keep the
    * schema static — at scale an unpinned pivot needs an extra pass
    * just to discover column names. */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))
  }

  /** Explicit GROUPING SETS — the general form behind rollup/cube:
    * per-returnflag, per-linestatus, and grand-total rows in one
    * pass (Spark expands to a single Expand + one hash agg, not
    * three scans). */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls"))
  }

  /** Range (interval) join WITHOUT the nested-loop trap: orders from
    * 1995-01 joined to lineitems shipped within the following 7 days.
    * A naive `l_shipdate BETWEEN o_orderdate AND o_orderdate+7` is a
    * broadcast-nested-loop at scale; instead both sides are mapped to
    * 7-day-wide time buckets (the probe side to the ≤ 2 buckets its
    * window overlaps), equi-joined on the bucket — a plain shuffled
    * hash join — and the exact range predicate applied as a residual
    * filter. Cost scales with rows-per-bucket, not |A|×|B|. The
    * build side's date window is a STATIC constant, so the probe
    * side carries the derived bound [window start, window end +
    * width) as a pushed parquet filter — without it the whole fact
    * table shuffles just to die on the residual (at 100 TB: the
    * entire table vs five weeks of it). */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val width = 7L // days, = the window length
    val winStart = "1995-01-01"
    val winEnd = "1995-02-01"
    // probe bound DERIVED from the shared constants (od ≤ ld <
    // od + width with od < winEnd ⇒ ld < winEnd + width) — never a
    // hand-computed date a window change could silently orphan
    val probeEnd = java.time.LocalDate.parse(winEnd)
      .plusDays(width).toString
    val oday = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val lday = datediff(col("l_shipdate"), lit("1970-01-01").cast("date"))
    val o = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit(winStart).cast("timestamp") &&
        col("o_orderdate") < lit(winEnd).cast("timestamp"))
      .select(col("o_orderkey"), oday.as("od"))
      .withColumn("bucket", explode(array_distinct(array(
        floor(col("od") / width), floor((col("od") + width - 1) / width)))))
    // spread the filtered probe side before the bucket join: the
    // pushed date filter keeps ~1.5% of lineitem, so the surviving
    // rows sit in the scan's 3 fixture splits while the join fan
    // (|o_bucket| × |l_bucket| candidate pairs per bucket, ~70× the
    // probe rows) is pure CPU — measured as a 1.9 s three-task stage
    // with 29 cores idle (StageProbe r22). No-op on a multi-split
    // lake (Tables.spread contract).
    val l = Tables.spread(Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit(winStart).cast("timestamp") &&
        col("l_shipdate") < lit(probeEnd).cast("timestamp"))
      .select(col("l_quantity"), lday.as("ld")))
      .withColumn("bucket", floor(col("ld") / width))
    o.join(l, "bucket")
      .filter(col("ld") >= col("od") && col("ld") < col("od") + width)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipped"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** RANGE-frame window: per customer, revenue in the trailing 30-day
    * window of each order — frame membership by VALUE distance
    * (RANGE), not row count (the complement of qWindowRunning's ROWS
    * frame). One shuffle on the partition key; the frame scan is a
    * sliding pointer over each sorted partition. */
  def qWindowRange(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val day = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("od"))
      .rangeBetween(-29, org.apache.spark.sql.expressions.Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        day.cast("long").as("od"))
      .withColumn("rev_30d",
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("od"),
        col("rev_30d"))
      .orderBy(col("o_custkey"), col("od"), col("o_orderkey"))
  }

  /** The SQL entry path end-to-end: temp views + `spark.sql` with a
    * CORRELATED scalar subquery (parts priced ≥ 1.05× their brand's
    * mean). Catalyst decorrelates this into the aggregate+join the
    * DataFrame API would write by hand — registering it proves the
    * library's tables work from plain SQL, the surface the
    * reference's Flink-SQL job exposes (`Kafka2S3Hive.scala:62-129`). */
  def qSqlCorrelated(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "part").createOrReplaceTempView("graft_part")
    spark.sql(
      """SELECT p_partkey, p_brand, p_retailprice
        |FROM graft_part p
        |WHERE p_retailprice >=
        |  (SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
        |          / COUNT(*) * 1.05
        |   FROM graft_part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)
  }

  /** Cohort retention — with [[qFunnel]] and [[qSessionizeBatch]]
    * the third classic behavioral-analytics shape: users grouped by
    * the month of their FIRST event (the cohort), then for every
    * (cohort, months-since) cell the count of distinct users still
    * active. Month arithmetic is integer (year·12 + month), never
    * fractional months_between, so the cell keys are engine-exact.
    *
    * Scale shape: the first-event pass is one user-keyed hash agg;
    * the cohort join back to events shuffles on user_id (both sides
    * user-sized/fact-sized — deliberately unhinted, a 100 TB user
    * dimension must not pin broadcast); the retention agg is
    * distinct-counting, the exact path here and the
    * [[qDistinctIncremental]] HLL path when cells are maintained
    * incrementally. */
  def qCohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    def monthIdx(t: Column): Column = year(t) * 12 + month(t)
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        date_format(date_trunc("month", col("first_ts")), "yyyy-MM")
          .as("cohort"),
        monthIdx(col("first_ts")).as("m0"))
    ev.select(col("user_id"), monthIdx(col("ts")).as("m"))
      .join(first, Seq("user_id"))
      .groupBy(col("cohort"), (col("m") - col("m0")).as("age"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("age"))
  }

  /** RECURSIVE CTE (SQL surface, Spark 4's `WITH RECURSIVE`) put to
    * its canonical analytics use: a calendar spine — generate every
    * month between the first and last order date by recursion, then
    * LEFT JOIN the monthly rollup so months with no orders still
    * appear as zeros (time-series gap filling; a plain GROUP BY
    * silently drops empty buckets). Spark's recursion is UNION
    * ALL-only, so the spine is the right showcase: an acyclic,
    * bounded recursion (cyclic transitive closure needs UNION
    * semantics — that operator ships as the union-find /
    * star-contraction pass in [[Dedup.qDedupClusters]]).
    *
    * Scale shape: the recursion materializes |months| rows on the
    * driver-side plan — trivial; the rollup is the usual
    * partial/final hash agg, and the spine join broadcasts. */
  def qMonthSpine(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(monthSpineSql)
  }

  /** The spine statement, shared with the spec: the fixture has no
    * empty months (every month carries orders), so the zero-filling
    * LEFT JOIN branch is exercised by the spec over a crafted
    * gap-bearing view — the oracle covers the fixture semantics,
    * the spec covers the path the fixture can't reach. */
  private[graft] val monthSpineSql: String =
      """WITH RECURSIVE bounds AS (
        |  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
        |         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
        |  FROM graft_orders),
        |spine(m) AS (
        |  SELECT lo FROM bounds
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE)
        |  FROM spine, bounds WHERE m < hi),
        |agg AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |         COUNT(*) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |           AS sum_price
        |  FROM graft_orders GROUP BY 1)
        |SELECT CAST(spine.m AS STRING) AS month,
        |  COALESCE(agg.n, 0) AS n,
        |  COALESCE(agg.sum_price, 0.0) AS sum_price
        |FROM spine LEFT JOIN agg ON spine.m = agg.m
        |ORDER BY month""".stripMargin


  /** LATERAL correlated subquery (SQL surface): per order priority,
    * the top-2 orders by price — the "for each row of the left,
    * run this parameterized subquery" form that windowing cannot
    * always replace (a LATERAL body may join, limit, or aggregate
    * arbitrarily per outer row). Spark decorrelates it into a
    * ranked join, so the plan stays shuffle-based — no per-row
    * re-execution at scale. */
  def qLateralTopN(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
        |FROM (SELECT DISTINCT o_orderpriority FROM graft_orders) p,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_orders o
        |         WHERE o.o_orderpriority = p.o_orderpriority
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |ORDER BY p.o_orderpriority, l.o_totalprice DESC, l.o_orderkey"""
        .stripMargin)
  }

  /** UNPIVOT (SQL surface) — the inverse of [[qPivot]]: the wide
    * per-returnflag rollup melted into (rf, measure, value) long
    * form, the shape BI layers and metric stores expect. One hash
    * agg then a zero-shuffle Expand. */
  def qUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "lineitem").createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT rf, m AS measure, v AS value FROM (
        |  SELECT l_returnflag AS rf,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS price,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS disc
        |  FROM graft_lineitem GROUP BY l_returnflag)
        |UNPIVOT (v FOR m IN (qty, price, disc))
        |ORDER BY rf, measure""".stripMargin)
  }

  /** Per-group top-k via the custom typed [[graft.functions.TopKAgg]]
    * Aggregator (the UDAF surface): top-3 orders by price per
    * priority. Unlike the `row_number().over(...)  <= k` formulation
    * (qWindowRank), the aggregator's partial buffers cap at k
    * elements per group per map task — shuffle volume O(groups × k)
    * instead of every row, the right top-k at 100 TB. */
  def qTopKGrouped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables(spark, sfDir, "orders")
    o.select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(3).toColumn.name("top"))
      .toDF("o_orderpriority", "top")
      .select(col("o_orderpriority"),
        posexplode(col("top")).as(Seq("i", "p")))
      .select(col("o_orderpriority"),
        (col("i") + 1).cast("long").as("rank"),
        col("p._1").as("o_totalprice"),
        col("p._2").as("o_orderkey"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  /** Property-check for the HLL++ sketch: the approx distinct count
    * must land within 5% of the exact count per group. The sketch
    * estimate itself is implementation-defined (q_approx_distinct is
    * rows-only-checked), but this bound IS cross-engine-checkable —
    * the oracle asserts `true` from the exact side. */
  def qApproxErr(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd_parts"),
        approx_count_distinct(col("l_partkey")).as("appx"))
      .select(col("l_returnflag"), col("nd_parts"),
        (abs(col("appx") - col("nd_parts")) <=
          col("nd_parts") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** Approximate percentile (§2.4, the other approximate aggregate
    * next to HLL) with its rank-error guarantee hash-checked — the
    * same bound-query pattern as [[qApproxErr]]: the sketch VALUE is
    * merge-order-dependent and never leaves the query, but the GK
    * guarantee (rank within n/accuracy of the target) is not, so the
    * output asserts the approx median lies between the exact
    * percentiles at 0.5 ∓ 2/accuracy (double cushion absorbs the
    * interpolation wiggle at the window edges). The oracle expects
    * `true` per group — a sketch regression breaks the hash. */
  def qApproxPct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.498)").as("lo"),
        expr("percentile(l_extendedprice, 0.502)").as("hi"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("appx"))
      .select(col("l_returnflag"),
        (col("appx") >= col("lo") && col("appx") <= col("hi"))
          .as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** 2-D skyline (Pareto frontier): parts not dominated on
    * (minimize p_retailprice, maximize p_size) — a dominates b iff
    * price ≤ ∧ size ≥ with one strict. The sort-based reduction:
    * collapse to per-price max size (ties: only the max survives the
    * same-price comparison; equal (price, size) duplicates all
    * survive), then a row is frontier iff its msize exceeds the
    * running max over all STRICTLY cheaper prices.
    *
    * The running max is a distributed two-level prefix scan, not a
    * single-task global window: prices shard into order-preserving
    * $100 buckets, each shard computes its local running max in
    * parallel, and the cross-shard carry-in is a window over the
    * per-shard maxima — a table of \|shards\| rows (the price DOMAIN,
    * not the data volume; the one place a global window is bounded
    * by construction). The final join back to the fact keeps rows
    * matching their price's surviving size. Oracle is the
    * independent NOT EXISTS domination formulation — it rebuilds
    * none of this machinery. */
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    // shard balance argument (the [[graft.engine.Scale.balancedShards]]
    // audit): the sharded frame is DISTINCT price points, and TPC-H
    // retailprice is 9xx–21xx with near-uniform distinct-value density
    // (price = f(partkey) mod bounded terms), so fixed 100-unit bins
    // hold ≈equal numbers of distinct prices at every SF — a
    // domain-bounded argument, unlike the heavy-tailed revenue case
    // that forced qGiniConcentration onto histogram-derived cuts
    val g = p.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("msize"))
      .withColumn("shard", floor(col("p_retailprice") / 100).cast("long"))
    val wLocal = Window.partitionBy(col("shard"))
      .orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = g.withColumn("lmax", max(col("msize")).over(wLocal))
    // KNOWN-BOUNDED global window over the |shards|-row carry table
    // (price-domain-sized, not data-sized); its WindowExec WARN is
    // expected — see Scale.shardedPrefixSum
    val wShard = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = g.groupBy(col("shard")).agg(max(col("msize")).as("smax"))
      .withColumn("pmax", max(col("smax")).over(wShard))
      .select(col("shard"), col("pmax"))
    val frontier = local.join(broadcast(carry), Seq("shard"))
      .filter(col("msize") > greatest(
        coalesce(col("lmax"), lit(Int.MinValue)),
        coalesce(col("pmax"), lit(Int.MinValue))))
      .select(col("p_retailprice"), col("msize"))
    p.join(broadcast(frontier), Seq("p_retailprice"))
      .filter(col("p_size") === col("msize"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** Interval sweep (temporal concurrency): how many orders are OPEN
    * on each change day, where an order spans [o_orderdate,
    * max l_shipdate of its items]. The sweep-line classic: every
    * interval contributes +1 at its start day and −1 the day after
    * its end; the open count is the running sum of per-day deltas —
    * emitted at change days (the step function's knots; between
    * knots the count is constant by construction).
    *
    * The running sum is the [[qSkyline]] two-level prefix scan:
    * per-day deltas aggregate map-side-combined, month shards
    * compute local prefix sums in parallel, and the cross-shard
    * carry rides a window over the \|months\|-row per-shard totals
    * (bounded by the calendar, not the data). Integer deltas ⇒
    * hash-exact. The oracle recomputes the same step function with
    * a flat global window — machinery this plan deliberately does
    * not share. */
  def qIntervalSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables(spark, sfDir, "orders")
    val li = Tables(spark, sfDir, "lineitem")
    val span = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("s"))
      .agg(to_date(max(col("l_shipdate"))).as("e"))
    val deltas = span.select(explode(array(
        struct(col("s").as("day"), lit(1L).as("delta")),
        struct(date_add(col("e"), 1).as("day"), lit(-1L).as("delta"))))
        .as("x"))
      .select(col("x.day").as("day"), col("x.delta").as("delta"))
    val g = deltas.groupBy(col("day")).agg(sum(col("delta")).as("delta"))
    // shard balance argument (the balancedShards audit): the sharded
    // frame is one row per DISTINCT change day, so a month shard holds
    // ≤ 31 rows by the calendar — balanced regardless of how skewed
    // the underlying order volume is
    Scale.shardedPrefixSum(g, trunc(col("day"), "month"),
        Seq(col("day")), col("delta"), "n_open")
      .select(col("day").cast("string").as("day"), col("n_open"))
      .orderBy(col("day"))
  }

  /** User-journey transition matrix (first-order Markov view of the
    * event stream — the aggregate next to [[qFunnel]]'s fixed path
    * and [[qSessionizeBatch]]'s gap cuts): for each (prev event type
    * → next event type) step taken by any user, the transition count
    * and its row-normalized probability. Counts are exact integers;
    * `p` is one final IEEE division per row (the hash-exactness
    * convention).
    *
    * Scale shape: ONE user-keyed window shuffle (the lag), then a
    * partial/final hash agg of \|types\|² rows and a broadcast of
    * the \|types\|-row totals — nothing after the window carries the
    * event volume. */
  /** SCD Type-2 history build — the warehouse-ETL operator that turns
    * a change stream into validity intervals: per user, consecutive
    * same-state events collapse (a record is emitted only when the
    * state CHANGES), each surviving change opens an interval
    * [valid_from, valid_to) closed by the next change (NULL = the
    * current row). The reference's jobs land raw change streams into
    * partitioned tables (`Kafka2S3Hive.scala:71-80`); SCD2 is the
    * standard next step a consumer builds on that landing zone.
    *
    * Interval bounds emit as epoch MICROSECONDS (BIGINT) — the repo
    * convention that no oracle-compared column is a raw TIMESTAMP
    * (engine string renderings of fractional seconds differ; integer
    * micros are exact in both). Two windows over the SAME
    * (user_id × (ts, event_id)) sort — Spark executes them in one
    * partition-sort pass, no extra exchange; ties inside a user
    * break on event_id, the batch-pass order every journey query
    * uses. Scale: one user-keyed shuffle, output ≤ input rows. */
  def qScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = ev
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        lag(col("event_type"), 1).over(w).as("prev_state"))
      .filter(col("prev_state").isNull
        || col("event_type") =!= col("prev_state"))
    changes
      .select(col("user_id"), col("event_type").as("state"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(lead(col("ts"), 1).over(w)).as("valid_to_us"))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** Point-in-time snapshot over the [[qScd2]] history — the consumer
    * query SCD2 exists for: every user's state AS OF a fixed instant
    * T (2024-01-15T00:00:00Z, mid-fixture), i.e. the interval with
    * valid_from ≤ T < valid_to (NULL = still open). Pure integer
    * micros comparisons — no timestamp rendering crosses the oracle
    * boundary. Same one-exchange plan as the history build plus a
    * filter. */
  def qScd2Snapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val tUs = 1705276800000000L // 2024-01-15T00:00:00Z
    qScd2(spark, sfDir)
      .filter(col("valid_from_us") <= tUs
        && (col("valid_to_us").isNull || col("valid_to_us") > tUs))
      .select(col("user_id"), col("state"), col("valid_from_us"))
      .orderBy(col("user_id"))
  }

  /** Order-independent table checksums — the replication-verification
    * operator a 100 TB deployment runs after every cross-cluster
    * copy, backfill or engine migration: per table, a 48-bit
    * md5-derived hash of each row's canonical projection, SUMMED
    * (commutative — partitioning/order free) mod 2⁶¹ next to the row
    * count. Columns are formatted EXPLICITLY (dates via a fixed
    * pattern, integer/string columns raw) so the canonical string is
    * engine-unambiguous; the DuckDB oracle recomputing the same
    * checksum IS a cross-engine replication check of the fixture —
    * the operator demonstrating itself. One map-side-combined scan
    * per table; the shuffle carries one partial sum per partition. */
  def qTableChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    def h(cols: Column*): Column =
      conv(substring(md5(concat_ws("|", cols: _*)), 1, 12), 16, 10)
        .cast("long")
    val m = 2305843009213693952L // 2^61
    // `raw` narrows the scan BEFORE the spread exchange; the md5 +
    // date_format per-row work then runs AFTER it — the fixture's
    // single-row-group files otherwise hash 600k rows in ONE task
    // (see qMahalanobis; spread is a no-op on a multi-split lake).
    // The hash-sum is commutative by design, so the reorder is free.
    def row(name: String, df: DataFrame, raw: Seq[String],
        cols: Seq[Column]): DataFrame =
      Tables.spread(df.select(raw.map(col): _*))
        .select(h(cols: _*).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast("decimal(38,0)")) % lit(m)).cast("long")
            .as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    row("customer", Tables(spark, sfDir, "customer"),
        Seq("c_custkey", "c_name"),
        Seq(col("c_custkey"), col("c_name")))
      .unionByName(row("lineitem", Tables(spark, sfDir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd"))))
      .unionByName(row("orders", Tables(spark, sfDir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"))))
      .orderBy(col("table_name"))
  }

  /** Incremental CHECKSUM maintenance — the verification member of
    * the MV-merge family ([[qAggIncremental]] counts/sums,
    * [[qDistinctIncremental]] sketches): the [[qTableChecksum]]
    * hash-sum is a commutative monoid, so a stored (n_rows, hashsum)
    * pair updates from a delta's partials alone — replication stays
    * verifiable under continuous append WITHOUT rescanning the
    * 100 TB history. Stored = the md5-bucket < 90 arrival cut of
    * lineitem, delta = the rest; the merged output is asserted (by
    * the oracle being the FULL single-pass recompute, the
    * `q_agg_incremental` convention) equal to recomputing from
    * scratch. The raw hash-sums merge UNREDUCED (mod is NOT
    * distributive over partial sums unless applied after the merge —
    * folding early on one side only would break the identity). */
  def qChecksumIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val bucket = Tables.md5Bucket(
      concat_ws("#", col("l_orderkey"), col("l_linenumber")))
    val m = 2305843009213693952L // 2^61
    def partials(df: DataFrame): DataFrame = df
      .select(conv(substring(md5(concat_ws("|", col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd"))), 1, 12), 16, 10)
        .cast("long").as("h"))
      .agg(count(lit(1)).as("pn"),
        sum(col("h").cast("decimal(38,0)")).as("psum"))
    partials(li.filter(bucket < 90)) // the stored verification state
      .unionByName(partials(li.filter(bucket >= 90)))
      .agg(sum(col("pn")).cast("long").as("n_rows"),
        (sum(col("psum")) % lit(m)).cast("long").as("checksum"))
      .select(lit("lineitem").as("table_name"), col("n_rows"),
        col("checksum"))
  }

  def qTransitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = ev
      .select(col("user_id"), col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
    val counts = tr.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    counts.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("tot")).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Seasonal time-series anomaly detection over event VOLUME — the
    * traffic-monitoring op ([[qOutliers]]/[[qOutliersRobust]] flag
    * anomalous VALUES; this flags anomalous HOURS): hourly event
    * counts per type, zero-filled over an hour spine (the classic
    * trap — a dead hour emits no rows, and an outage is exactly a
    * dead hour, so the un-filled series can never see the most
    * important anomaly), compared to an hour-of-day seasonal
    * baseline: per (type, hod) median + MAD, flag hours beyond
    * 3·1.4826·MAD. Medians over integer counts interpolate to exact
    * .5 multiples, so every comparison is exact in both engines (the
    * [[qOutliersRobust]] determinism contract).
    *
    * Scale shape: one scan into the (type, hour) agg (map-side
    * combined — the shuffle carries one row per non-empty bucket);
    * the spine is \|types\| rows exploding a domain-bounded hour
    * array (years of hours ≈ 10⁴ entries — bounded by the calendar,
    * not the data); baselines are \|types×24\|-row broadcasts. At
    * 100 TB nothing after the first agg carries event volume. */
  def qAnomalySeries(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
    anomalySeries(ev)
      .orderBy(col("event_type"), col("h"))
  }

  /** The detector core over an (event_type, h: long) frame, factored
    * so the spec can plant outages and spikes. */
  private[graft] def anomalySeries(ev: DataFrame): DataFrame = {
    val rng = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(rng))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val series = spine.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("c"), lit(0L)).as("c"),
        pmod(col("h"), lit(24L)).as("hod"))
    val med = series.groupBy(col("event_type"), col("hod"))
      .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY c)")
        .as("med"))
    val mad = series.join(broadcast(med), Seq("event_type", "hod"))
      .groupBy(col("event_type"), col("hod"), col("med"))
      .agg(expr(
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(c - med))")
        .as("mad"))
    series.join(broadcast(mad), Seq("event_type", "hod"))
      .select(col("event_type"), col("h"), col("c"), col("med"),
        col("mad"),
        (abs(col("c") - col("med")) >
          lit(3.0) * lit(1.4826) * col("mad")).as("is_anom"))
  }

  /** MAD-based robust outlier report — the resistant sibling of the
    * moment-based [[qOutliers]] (a single 1e9 glitch shifts μ and
    * explodes σ, silently masking every other anomaly; the median
    * and the median absolute deviation shrug it off — 50% breakdown
    * point). Per event type: median, MAD, and the count beyond
    * 3 · 1.4826·MAD (1.4826 ≈ 1/Φ⁻¹(3/4) rescales MAD to σ under
    * normality). Two percentile_cont aggregates (bit-identical
    * interpolation in both engines — the [[qPercentiles]] contract)
    * with the \|types\|-row median table broadcast between them. */
  def qOutliersRobust(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)")
        .as("median"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("median"))
      .agg(expr(
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(value - median))")
        .as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("median"), col("mad"))
      .agg(sum(when(abs(col("value") - col("median")) >
        lit(3) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
        .as("n_out"))
      .orderBy(col("event_type"))
  }

  /** Data-quality check suite (the dbt-test / Deequ-style operational
    * surface): one row per declared constraint with its violation
    * count — primary-key uniqueness, referential integrity, null
    * rate, and two value-range assertions. Each check is a narrow
    * aggregate or key-pruned anti-join over one scan; the union is
    * five 1-row frames. At 100 TB each check keeps the usual shapes
    * (map-side-combined count-distinct for the PK check, the
    * broadcast-able key anti-join for the FK check) — the point of
    * expressing QA as plans rather than driver loops. */
  def qDqChecks(spark: SparkSession, sfDir: String): DataFrame =
    dqChecks(Tables(spark, sfDir, "orders"), Tables(spark, sfDir, "lineitem"))

  /** The check suite over explicit (orders, lineitem) frames —
    * factored so the spec can plant violations (the fixture is
    * clean, so every n_bad is 0 there; the violation branches are
    * exercised on crafted dirty data). */
  private[graft] def dqChecks(ord: DataFrame, li: DataFrame): DataFrame = {
    def row(name: String, bad: DataFrame): DataFrame =
      bad.select(lit(name).as("check"), col("n_bad"),
        (col("n_bad") === 0).as("passed"))
    val pk = ord.agg((count(lit(1)) -
      countDistinct(col("o_orderkey"))).as("n_bad"))
    val fk = li.join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
    // count over a filter (never sum-of-when): sum() of an empty
    // frame is NULL, which would report neither pass nor fail and
    // diverge from the oracle's count(*)-based 0/true
    val nn = ord.agg(count(when(col("o_custkey").isNull, 1))
      .as("n_bad"))
    val rq = li.agg(count(when(col("l_quantity") <= 0
      || col("l_quantity") > 100, 1)).as("n_bad"))
    val rd = li.agg(count(when(col("l_discount") < 0
      || col("l_discount") >= 1, 1)).as("n_bad"))
    row("fk_lineitem_orders", fk)
      .unionByName(row("not_null_custkey", nn))
      .unionByName(row("pk_orders_unique", pk))
      .unionByName(row("range_discount", rd))
      .unionByName(row("range_quantity", rq))
      .orderBy(col("check"))
  }

  /** Pearson correlation from exact INTEGER moments — the bivariate
    * member of the stats family ([[qOutliers]] univariate,
    * [[qSkewReport]] distributional, [[qJoinCard]] cross-table): per
    * return flag, r = (nΣXY − ΣXΣY) / √((nΣX²−(ΣX)²)(nΣY²−(ΣY)²))
    * over (quantity, line revenue). The built-in `corr` accumulates
    * co-moments in floats (aggregation-order-dependent — unhashable,
    * the `stddev` problem); and a per-row double→DECIMAL(38,8) cast
    * of the ~1e10-magnitude squares needs ~19 significant digits —
    * more than a double carries, so Spark's shortest-repr rounding
    * and DuckDB's binary-value rounding genuinely disagree (measured:
    * 4756/6000 rows at sf0.001). So the variables are QUANTIZED to
    * exact integers first — X = round(100·x), Y = round(10⁴·y), a
    * half-cent quantization (relative ~1e−9) that r's scale
    * invariance makes immaterial — and every moment accumulates in
    * DECIMAL(38,0) integer arithmetic with no rounding anywhere.
    * The final sums convert to double (correctly-rounded in both
    * engines) and r is one fixed IEEE expression; the discriminants
    * clamp at zero (double rounding of the exact sums can push a
    * near-constant group a hair negative — the [[qOutliers]] sqrt
    * hazard) and a zero denominator yields NULL in both engines.
    * One narrow map-side-combined scan. */
  def qCorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("x"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long").as("y"))
    def isum(c: Column): Column = sum(c.cast("decimal(38,0)")).cast("double")
    // Per-row products widen to decimal BEFORE multiplying (the
    // [[qOutliers]] discipline): y ≈ 1e9 at TPC-H puts y·y within ~8×
    // of Long.MaxValue, where a long·long product would silently wrap
    // in Spark (and the HUGEINT oracle would diverge). decimal(19,0)
    // × decimal(19,0) → decimal(38,0), exact for any long inputs.
    def iprod(a: Column, b: Column): Column =
      sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast("double")
    val m = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), isum(col("x")).as("sx"),
        isum(col("y")).as("sy"), iprod(col("x"), col("x")).as("sxx"),
        iprod(col("y"), col("y")).as("syy"),
        iprod(col("x"), col("y")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(0d))
          * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(0d)))
          .as("den"))
    m.select(col("l_returnflag"), col("n"),
        when(col("den") === 0, lit(null)).otherwise(col("num") / col("den"))
          .as("r"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-type OLS trend line — the regression member of the
    * exact-moment stats family ([[qCorrelation]] association,
    * [[qOutliers]] dispersion): value regressed on event time, slope
    * β = (nΣXY − ΣXΣY)/(nΣX² − (ΣX)²) and intercept α = (ΣY − βΣX)/n
    * per event type. Same integer-quantization discipline: X = epoch
    * seconds since 2024-01-01 (the corpus origin — keeps X ≈ 10⁷, so
    * the decimal products stay far from any width cliff), Y =
    * round(10⁴·value); every moment accumulates in DECIMAL(38,0) via
    * decimal(19,0) per-row widening (a long·long X·X would be safe at
    * this magnitude but the discipline is uniform — magnitude
    * reasoning doesn't survive schema drift). The final α/β/r² are
    * fixed IEEE expressions over correctly-rounded double conversions
    * of the exact sums — bit-identical in any engine — with β and r²
    * NULL for degenerate (constant-X or constant-Y) groups in both
    * engines. β is reported per DAY (86400·slope/10⁴ value-units/day)
    * so the number means something at a glance; α in value units.
    *
    * Scale shape: one narrow map-side-combined scan into a
    * \|types\|-row agg — nothing after the scan carries event volume;
    * the moments are additive monoids, so the production form
    * maintains them incrementally (the [[qAggIncremental]] merge). */
  def qOlsTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val t0 = 1704067200L // 2024-01-01T00:00:00Z, the corpus origin
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"),
        (col("ts").cast("long") - t0).as("x"),
        round(col("value") * 10000).cast("long").as("y"))
    def isum(c: Column): Column = sum(c.cast("decimal(38,0)")).cast("double")
    def iprod(a: Column, b: Column): Column =
      sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast("double")
    val m = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), isum(col("x")).as("sx"),
        isum(col("y")).as("sy"), iprod(col("x"), col("x")).as("sxx"),
        iprod(col("y"), col("y")).as("syy"),
        iprod(col("x"), col("y")).as("sxy"))
      .select(col("event_type"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("denx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("deny"),
        col("sx"), col("sy"))
    m.select(col("event_type"), col("n"),
        when(col("denx") <= 0, lit(null))
          .otherwise(col("num") / col("denx") * lit(86400d) / lit(10000d))
          .as("slope_per_day"),
        when(col("denx") <= 0, lit(null))
          .otherwise((col("sy") - col("num") / col("denx") * col("sx"))
            / col("n") / lit(10000d))
          .as("intercept"),
        when(col("denx") <= 0 || col("deny") <= 0, lit(null))
          .otherwise(col("num") * col("num") / (col("denx") * col("deny")))
          .as("r2"))
      .orderBy(col("event_type"))
  }

  /** Welch two-sample t-test per event type — the experiment-readout
    * member of the exact-moment stats family ([[qCorrelation]],
    * [[qOlsTrend]]): arms assigned by the hash-bucket convention
    * (user_id parity — in production a salted hash of the unit id,
    * the same determinism), t = (m̄₀−m̄₁)/√(s₀²/n₀+s₁²/n₁) with
    * Welch–Satterthwaite dof. Both arms' moments come out of ONE
    * conditional aggregation pass (no self-join, no second scan);
    * the integer quantization Y = round(10⁴·value) cancels in t (it
    * is scale-invariant) and divides back out of the reported means.
    * Sample variances, t and df are fixed IEEE expressions over
    * correctly-rounded double conversions of the exact decimal sums
    * — hash-identical in any engine; degenerate arms (n ≤ 1) or a
    * zero standard error yield NULL t/df in both.
    *
    * Scale shape: one narrow map-side-combined scan into a
    * \|types\|-row agg, additive-monoid moments (incrementally
    * maintainable, the [[qAggIncremental]] merge) — the readout is
    * O(types) however many trillion exposure rows the experiment
    * logs. */
  def qAbTest(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("arm"),
        round(col("value") * 10000).cast("long").as("y"))
    def arm(a: Int): Column = col("arm") === a
    def n(a: Int): Column = count(when(arm(a), 1))
    def s(a: Int): Column =
      sum(when(arm(a), col("y")).otherwise(lit(0L)).cast("decimal(38,0)"))
        .cast("double")
    def ss(a: Int): Column = {
      val y = when(arm(a), col("y")).otherwise(lit(0L)).cast("decimal(19,0)")
      sum(y * y).cast("double")
    }
    val m = ev.groupBy(col("event_type"))
      .agg(n(0).as("n0"), s(0).as("s0"), ss(0).as("ss0"),
        n(1).as("n1"), s(1).as("s1"), ss(1).as("ss1"))
      .select(col("event_type"), col("n0"), col("n1"),
        (col("s0") / col("n0")).as("m0"), (col("s1") / col("n1")).as("m1"),
        ((col("ss0") - col("s0") * col("s0") / col("n0"))
          / (col("n0") - 1)).as("v0"),
        ((col("ss1") - col("s1") * col("s1") / col("n1"))
          / (col("n1") - 1)).as("v1"))
      .select(col("event_type"), col("n0"), col("n1"),
        col("m0"), col("m1"), col("v0"), col("v1"),
        (col("v0") / col("n0") + col("v1") / col("n1")).as("se2"))
    m.select(col("event_type"), col("n0"), col("n1"),
        // empty-arm guard: IEEE x/0 and SQL-NULL division semantics
        // differ across engines, so the branch is explicit
        when(col("n0") === 0, lit(null)).otherwise(col("m0") / 10000d)
          .as("mean_a"),
        when(col("n1") === 0, lit(null)).otherwise(col("m1") / 10000d)
          .as("mean_b"),
        when(col("n0") <= 1 || col("n1") <= 1 || col("se2") <= 0, lit(null))
          .otherwise((col("m0") - col("m1")) / sqrt(col("se2")))
          .as("t_welch"),
        when(col("n0") <= 1 || col("n1") <= 1 || col("se2") <= 0, lit(null))
          .otherwise(col("se2") * col("se2")
            / (col("v0") / col("n0") * (col("v0") / col("n0"))
                / (col("n0") - 1)
              + col("v1") / col("n1") * (col("v1") / col("n1"))
                / (col("n1") - 1)))
          .as("df_welch"))
      .orderBy(col("event_type"))
  }

  /** CMS depth/width for [[qJoinCard]] — width sized so ε = 1/w keeps
    * the inner-product bound tight at fixture scale while the sketch
    * (d·w rows) stays broadcast-small. */
  private val cmsDepth = 5
  private val cmsWidth = 8192

  /** Join-cardinality estimation WITHOUT executing the join — the
    * optimizer-statistics companion to [[qSkewReport]]: |A ⋈_k B| =
    * Σ_k f_A(k)·f_B(k) is estimated by the Count-Min inner product
    * (Cormode & Muthukrishnan §4.2): build a d×w CMS over each
    * side's key column, est = min_d Σ_b cmsA[d][b]·cmsB[d][b].
    * Estimates NEVER undercount (collisions only add mass), and
    * overshoot by ~N_A·N_B/w per row (min over d rows) — both
    * asserted as TRUE rows next to the exact join count, the
    * `q_cms_err` bound-query pattern, except here the sketch itself
    * is RELATIONAL (md5-derived bucket hashes, rows (d, bucket,
    * count)) so the full estimate — not just its guarantee — is
    * reproduced by the oracle, hash-exact.
    *
    * Scale shape: one scan per side exploded ×d into the hash agg
    * (map-side combined — the shuffle carries ≤ d·w rows per side,
    * whatever the data volume), a d·w-row sketch join, and a d-row
    * min. The exact count exists here only as the in-query
    * yardstick; the production use is estimating a join you have
    * NOT run, from sketches maintained incrementally (additive
    * counters — the `qAggIncremental` monoid). */
  def qJoinCard(spark: SparkSession, sfDir: String): DataFrame = {
    val evk = Tables(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("k"))
    val ordk = Tables(spark, sfDir, "orders")
      .select(col("o_custkey").cast("long").as("k"))
    def sketch(df: DataFrame): DataFrame = df
      .select(explode(array((0 until cmsDepth).map(r =>
        struct(lit(r).as("r"),
          pmod(conv(substring(md5(concat_ws("|", lit(r), col("k"))),
            1, 8), 16, 10).cast("long"), lit(cmsWidth)).as("b"))): _*))
        .as("x"))
      .groupBy(col("x.r").as("r"), col("x.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val prods = sketch(evk)
      .join(sketch(ordk).withColumnRenamed("c", "c2"), Seq("r", "b"))
      .groupBy(col("r")).agg(sum(col("c") * col("c2")).as("ip"))
    val est = prods.agg(min(col("ip")).as("est"))
    val exact = evk.join(ordk, Seq("k")).agg(count(lit(1)).as("exact"))
    val sizes = evk.agg(count(lit(1)).as("na"))
      .crossJoin(ordk.agg(count(lit(1)).as("nb")))
    est.crossJoin(exact).crossJoin(sizes)
      .select(col("est"), col("exact"),
        (col("est") >= col("exact")).as("never_under"),
        // bound arithmetic in DOUBLE: 8·na·nb wraps 64-bit longs at
        // ~1e9-row sides (and DuckDB's BIGINT overflow raises)
        (col("est") <= col("exact")
          + lit(8d) * col("na") * col("nb") / lit(cmsWidth))
          .as("within_bound"))
  }

  /** Top user journeys: the most common ordered event-type paths
    * (first 8 steps per user), counted across users — the aggregate
    * the per-step [[qTransitionMatrix]] marginalizes away. Steps are
    * rank-limited BEFORE the collect (`row_number ≤ 8` triggers
    * `WindowGroupLimit`, so map tasks pre-prune to 8 rows/user and
    * the shuffle never carries a user's full history — the
    * [[TextOps.qSampleStratified]] shape); the per-user sort uses
    * `sort_array` over (ts, event_id, type) structs, deterministic
    * at any partitioning. One user-keyed exchange serves BOTH the
    * window and the collect (same key); the journey count is a
    * \|distinct journeys\| agg and the top-50 is per-partition
    * heaps. */
  def qTopJourneys(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val first8 = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
    val journeys = first8.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("t"), col("event_id").as("i"),
        col("event_type").as("e")))).as("s"))
      .select(concat_ws(">", expr("transform(s, x -> x.e)")).as("journey"))
    journeys.groupBy(col("journey"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
      .limit(50)
  }

  /** Moment-based outlier report: per event type, the row count,
    * mean, population standard deviation, and how many values sit
    * outside μ ± 3σ. The built-in one-pass `stddev` aggregate sums
    * squares in FLOATING POINT, whose value depends on aggregation
    * order and would break the cross-engine hash — here both moments
    * accumulate through decimal (v through the usual DECIMAL(18,4),
    * v² through DECIMAL(38,8) — 30 integer digits absorb any corpus),
    * so μ and σ are single IEEE operations on exact sums,
    * partitioning-independent by construction. The values QUANTIZE
    * to integers first (V = round(10⁴·v), the qCorrelation
    * discipline — a per-row double→DECIMAL cast of v² would need
    * more significant digits than a double carries once values grow,
    * where the engines' rounding disagrees), the squares multiply in
    * decimal (never a long overflow), and μ/σ are single IEEE ops on
    * exact sums, reported back in original units. Two narrow scans:
    * the moments agg, then the outlier count with the \|types\|-row
    * moment table broadcast back. (σ² = E[V²] − μ² loses precision
    * when σ ≪ μ, and double rounding of the exact sums can push a
    * near-constant group's variance a hair NEGATIVE — clamped to 0
    * before the sqrt, because engines disagree on sqrt(−ε): Spark
    * returns NaN where DuckDB raises; a precision-critical
    * deployment swaps in the two-pass Σ(V−μ)² under the same
    * integer discipline.) */
  def qOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"),
        round(col("value") * 10000).cast("long").as("v"))
    val mom = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).cast("double").as("sv"),
        sum(col("v").cast("decimal(19,0)") * col("v").cast("decimal(19,0)"))
          .cast("double").as("svv"))
      .select(col("event_type"), col("n"), (col("sv") / col("n")).as("muv"),
        col("svv"))
      .select(col("event_type"), col("n"), col("muv"),
        sqrt(greatest(col("svv") / col("n") - col("muv") * col("muv"),
          lit(0d))).as("sigv"))
    ev.join(broadcast(mom), Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("muv"), col("sigv"))
      .agg(count(when(abs(col("v") - col("muv")) >
        lit(3) * col("sigv"), 1)).as("n_out"))
      .select(col("event_type"), col("n"), (col("muv") / 10000.0).as("mu"),
        (col("sigv") / 10000.0).as("sigma"), col("n_out"))
      .orderBy(col("event_type"))
  }

  /** Co-purchase pair mining (market-basket co-occurrence): for every
    * unordered pair of parts appearing in the same order, the number
    * of orders containing both — the input to "frequently bought
    * together" / association-rule mining. Top-100 by support under a
    * total order, so the cut is deterministic.
    *
    * Scale shape: ONE scan of the fact table, zero self-joins (plan-
    * guarded) — the naive formulation self-joins lineitem on
    * l_orderkey, re-shuffling the 100 TB fact twice and fanning hot
    * orders quadratically in the JOIN; here baskets are grouped once
    * (map-side-combined collect_set) and pairs are generated IN-ROW
    * from each order's sorted part set (the [[Dedup.qCrossSourceOverlap]]
    * pattern), so the pair fan is bounded by the per-order basket
    * size m (≤ C(m,2) rows/order; TPC-H-ish orders hold ≤7 items) and
    * never materializes through an exchange. The pair count is the
    * usual partial/final hash agg; the global top-100 is
    * `TakeOrderedAndProject` (per-partition heaps, k rows to the
    * driver). Production baskets with unbounded m get a per-basket
    * item cap (support for a pair inside one giant basket is still 1)
    * — the standard market-basket guard, documented not needed for
    * the bounded fixture. */
  def qCopurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val baskets = li
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 2)
    // unordered pairs from the sorted set: element i pairs with every
    // later element, so (part_a < part_b) by construction.
    // Imperative per-partition fan (r22 — the qItemsets3 r21
    // discipline applied here too): the nested-transform HOF form is
    // interpreted per array element; StageProbe measured this fan
    // stage at 1.7 s of task time for a 5 MB basket frame, and the
    // r21 A/B that widened the same exchange without de-interpreting
    // the fan moved nothing (Tables.tune notes). Enumeration is
    // identical: ps is sorted ascending, emit (ps(i), ps(j)) ∀ i < j.
    val pairs = {
      import spark.implicits._
      baskets.select(col("ps")).as[Array[Long]]
        .mapPartitions(_.flatMap { ps =>
          new Iterator[(Long, Long)] {
            private var i = 0
            private var j = 1
            def hasNext: Boolean = i < ps.length - 1
            def next(): (Long, Long) = {
              val out = (ps(i), ps(j))
              j += 1
              if (j >= ps.length) { i += 1; j = i + 1 }
              out
            }
          }
        })
        .toDF("part_a", "part_b")
    }
    pairs
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** RFM customer segmentation — the classic lifecycle-marketing
    * readout: per customer, Recency (last order epoch-sec), Frequency
    * (order count) and Monetary (exact-decimal revenue sum), each cut
    * into quintiles WITHIN the customer's nation (ntile(5), ties
    * broken by custkey so the rank — and therefore the hash — is
    * total-order deterministic), packed into the familiar 3-digit
    * segment code (555 = best across all three axes). Monetary sums
    * ride the [[dsum]] decimal(18,4) discipline, so the doubles the
    * quintile sort orders are bit-identical across engines.
    *
    * Scale shape: one map-side-combined scan of orders into a
    * \|customers\|-row frame, the nation dim broadcast; the three
    * ntiles share ONE nation-keyed exchange (same partition key,
    * three in-partition sorts). Nations are a bounded domain but
    * customers-per-nation is not — the 100 TB form is the
    * row-identical sharded-rank twin [[qRfmSharded]] (r18); the
    * fixture exercises the exact window here and the oracle
    * arbitrates both. */
  def qRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val per = Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("timestamp").cast("long")).as("r_s"),
        count(lit(1)).as("f"), dsum(col("o_totalprice")).as("m"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
    def quintile(m: Column, n: String): Column =
      ntile(5).over(Window.partitionBy(col("c_nationkey"))
        .orderBy(m, col("o_custkey"))).as(n)
    per.select(col("o_custkey").as("custkey"),
        col("c_nationkey").as("nationkey"),
        col("r_s"), col("f"), col("m"),
        quintile(col("r_s"), "r_q"), quintile(col("f"), "f_q"),
        quintile(col("m"), "m_q"))
      .withColumn("segment",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .orderBy(col("custkey"))
  }

  /** `ntile(k)` recomputed from an exact 1-based rank `r` over `n`
    * rows — the SQL semantics both engines implement: bucket sizes
    * differ by at most one, the first n mod k buckets take the extra
    * row. Pure BIGINT arithmetic (`div`/`%`); the CASE guards the
    * sz = 0 branch (n < k ⇒ every row its own bucket) so the ELSE's
    * division never sees a zero. */
  private def ntileFromRank(r: String, n: String, k: Int): Column =
    expr(s"""CASE WHEN $r <= ($n % $k) * (($n div $k) + 1)
             THEN ($r + ($n div $k)) div (($n div $k) + 1)
             ELSE ($n % $k)
                  + ($r - ($n % $k) * (($n div $k) + 1) + ($n div $k) - 1)
                    div ($n div $k) END""").cast("int")

  /** [[qRfm]]'s 100 TB twin: the same three quintiles and segment
    * codes WITHOUT a per-nation window — nations are a bounded
    * domain, so customers-per-nation grows with the corpus and each
    * flat `ntile` window funnels a nation through ONE task AQE cannot
    * split. Instead each axis takes an exact sharded rank
    * ([[Scale.shardedPrefixSumBy]] of 1s over 16
    * [[Scale.balancedShards]] value ranges — monotone cuts keep the
    * decomposition order-preserving) and [[ntileFromRank]] recomputes
    * the bucket from (rank, n). Output is row-identical to [[qRfm]],
    * so the SAME oracle arbitrates both. The per-customer frame is
    * session-memoized, the three axes' cuts come from ONE fused
    * histogram derivation and the three ranks from ONE posexplode-
    * tagged sharded scan whose pivot carries the axis values back out
    * (r20 — the r18 per-axis form paid ~9 eager passes over the frame
    * plus three join-backs; r19 fused the cuts but still scanned the
    * frame once per axis and joined the ranks back). */
  def qRfmSharded(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val per = Dedup.memoizedPersisted(spark,
      s"rfmper|${Tables.fileId(spark, sfDir)}", eager = true,
      compactRows = Tables.memoizedCount(spark, sfDir, "customer"))(
      Tables(spark, sfDir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("timestamp").cast("long"))
          .as("r_s"),
          count(lit(1)).as("f"), dsum(col("o_totalprice")).as("m"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_custkey").as("custkey"),
          col("c_nationkey").as("nationkey"),
          col("r_s"), col("f"), col("m")))
    val nPer = per.groupBy(col("nationkey"))
      .agg(count(lit(1)).as("__n"))
    // ONE fused histogram derivation for all three axes' shard cuts
    // (r19, [[Scale.balancedCutsMulti]] — was three independent
    // balancedShards at 2+ eager passes each), and ONE posexplode-
    // tagged sharded scan ranking all three axes in a single
    // prefix-sum pipeline (r20 — the r19 union-tag form scanned the
    // memoized frame once PER AXIS and joined the ranks back; the
    // generator emits all three (axis, value) rows from one scan,
    // and the rank pivot carries the axis values themselves so the
    // join-back is gone too). The monetary axis rides ×10⁴ exact
    // integral units so the three axes share one long-typed __val
    // column — decimal(18,4) scaled by its own exponent is exact,
    // and any monotone bijection preserves the (value, custkey) rank.
    val axisVals = Seq(col("r_s"), col("f"),
      (col("m") * 10000).cast("long"))
    val cuts = Scale.memoizedCutsMulti(spark,
      s"rfm3|${Tables.fileId(spark, sfDir)}", 16,
      axisVals)(Scale.balancedCutsMulti(per, axisVals, 16))
    // m (double) rides along the exploded rows and pivots back out —
    // reconstructing it from the ×10⁴ long would be a double→long→
    // double round-trip with no exactness guarantee past 2⁵³
    val tagged = per.join(broadcast(nPer), "nationkey")
      .select(col("custkey"), col("nationkey"), col("__n"), col("m"),
        posexplode(array(axisVals.map(_.cast("long")): _*))
          .as(Seq("__ax", "__val")))
    val shard = when(col("__ax") === 0,
        Scale.shardOfCuts(col("__val"), cuts(0)))
      .when(col("__ax") === 1, Scale.shardOfCuts(col("__val"), cuts(1)))
      .otherwise(Scale.shardOfCuts(col("__val"), cuts(2)))
    def axisMax(i: Int, c: Column): Column = max(when(col("__ax") === i, c))
    Scale.shardedPrefixSumBy(tagged,
        Seq("__ax", "nationkey"), shard,
        Seq(col("__val"), col("custkey")), lit(1L), "__r")
      .groupBy(col("custkey"))
      .agg(
        max(col("nationkey")).as("nationkey"),
        axisMax(0, col("__val")).as("r_s"),
        axisMax(1, col("__val")).as("f"),
        max(col("m")).as("m"),
        axisMax(0, ntileFromRank("__r", "__n", 5)).as("r_q"),
        axisMax(1, ntileFromRank("__r", "__n", 5)).as("f_q"),
        axisMax(2, ntileFromRank("__r", "__n", 5)).as("m_q"))
      .withColumn("segment",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .select(col("custkey"), col("nationkey"), col("r_s"), col("f"),
        col("m"), col("r_q"), col("f_q"), col("m_q"), col("segment"))
      .orderBy(col("custkey"))
  }

  /** [[qWindowPct]]'s 100 TB twin: percent_rank/cume_dist recomputed
    * from the sharded exact rank — order priorities are FIVE values,
    * so the flat window puts a fifth of all orders in one task. The
    * rank is a sharded prefix count of 1s over balanced
    * o_totalprice ranges; pct_rank = (r−1)/(n−1) is the same single
    * IEEE division the builtin evaluates. cume_dist needs no peer
    * pass at all here: peers are rows equal on the FULL order-by
    * list, and the o_orderkey tiebreak makes that list unique, so
    * every peer group is a single row and cume_dist = r/n exactly
    * (the first cut of this twin grouped peers by price alone —
    * ignoring the tiebreak — and passed sf0.001 only because that
    * fixture has no within-priority price ties; sf0.01 caught it).
    * Row-identical to [[qWindowPct]]; the SAME oracle arbitrates. */
  def qWindowPctSharded(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"))
    val shard = Scale.memoizedShards(spark,
      s"pct|${Tables.fileId(spark, sfDir)}", 16, col("o_totalprice"))(
      Scale.balancedShards(o, col("o_totalprice"), 16))
    val nPer = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("__n"))
    Scale.shardedPrefixSumBy(o, Seq("o_orderpriority"), shard,
        Seq(col("o_totalprice"), col("o_orderkey")), lit(1L), "__r")
      .join(broadcast(nPer), "o_orderpriority")
      .select(col("o_orderpriority"), col("o_orderkey"),
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("__r") - 1).cast("double") /
            (col("__n") - 1).cast("double")).as("pct_rank"),
        (col("__r").cast("double") / col("__n").cast("double"))
          .as("cdist"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  /** Benford first-digit drift check — the forensic member of the DQ
    * family ([[qDqChecks]] declared constraints, [[qSkewReport]]
    * distribution shape, [[graft.engine.TextOps.qChi2Divergence]]
    * categorical drift): the leading digit of order totals in cents
    * against Benford's law, with the expectation computed EXACTLY in
    * fixed point — p_d = log10(1+1/d) is libm in any naive
    * formulation, but log10(1+1/d) = log2((d+1)/d)/log2(10), and
    * both logs come off the [[graft.functions.FixLog2]] ladder as
    * integers, so e_d = n·L(d+1, d) div L(10, 1) and the per-digit
    * χ² term 100·(n_d−e_d)² div e_d are pure BIGINT arithmetic —
    * hash-exact, no transcendental anywhere. First digit via the
    * exact integer→string cast (both engines format integers
    * identically; a double format would NOT be portable). Long
    * products bound the op at n ≈ 3·10⁸ rows (dev²·100 < 2⁶³);
    * past that the χ² term prescales by a common shift — the
    * [[qCorrelation]] quantization move.
    *
    * Scale shape: one narrow scan into a 9-row digit agg; the two
    * log ladders and the χ² arithmetic run on 9 rows. (Real invoice
    * fraud screens run exactly this query per vendor/month — the
    * GROUP BY extension is one added key.) */
  def qBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables(spark, sfDir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("v"))
      .filter(col("v") >= 1)
    val obs = v
      .select(substring(col("v").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_d"))
    val tot = obs.agg(sum(col("n_d")).cast("long").as("n"))
    val base = obs.crossJoin(broadcast(tot))
    val withLd = graft.functions.FixLog2
      .withFixLog2(base, col("d") + 1, col("d"), "l_d")
    // l_10 = L(10,1) has literal inputs — fold it on the driver via the
    // bit-identical ref twin instead of stacking a SECOND 16-step ladder:
    // two chained ladders (~100 multiply-referencing Projects) push Spark
    // 4's CollapseProject traversal into combinatorial planning time.
    val withL10 = withLd
      .withColumn("l_10", lit(graft.functions.FixLog2.ref(10L, 1L)))
    withL10
      .withColumn("exp_d", expr("n * l_d div l_10"))
      .select(col("d"), col("n_d"), col("exp_d"),
        expr("100 * ((n_d - exp_d) * (n_d - exp_d)) div exp_d")
          .as("chi2_centi"))
      .orderBy(col("d"))
  }

  /** Per-group Benford screen — [[qBenford]] with the one added key
    * its scaladoc promises, making the forensic check a real DQ
    * operator: first-digit χ² per ORDER YEAR, ranked worst-first, so
    * a single drifting slice (one booking period with fabricated
    * totals) surfaces instead of averaging away in the corpus-wide
    * statistic. Exactness is inherited: one [[graft.functions
    * .FixLog2]] ladder for L(d+1, d), the constant L(10, 1) folded
    * on the driver, all-BIGINT χ². Two deltas vs the global screen:
    * (a) the digit domain is completed per group (groups × digits
    * 1–9 via a broadcast 9-row cross join) so MISSING digits
    * contribute their full expected count — per-slice frames are
    * small enough that a digit can genuinely be absent, and skipping
    * it would understate the divergence; (b) groups below n = 50
    * are dropped (HAVING on the group total) — the χ² approximation
    * needs expected counts ≥ ~5 and e₉ = ⌊n·L(10/9)/L(10)⌋ hits 0
    * below n ≈ 22, where the per-digit integer division (and the
    * oracle's `//`) would divide by zero; a forensic screen has no
    * business scoring 20-row slices anyway.
    *
    * Scale shape: one narrow scan into a (groups × 9)-digit agg —
    * both keys map-side combined — then ladder + χ² on the
    * group-domain-sized frame; output is |groups| rows. The group
    * key generalizes to clerk/vendor/month at identical shape. */
  def qBenfordBy(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables(spark, sfDir, "orders")
      .select(year(col("o_orderdate")).as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .filter(col("v") >= 1)
    val obs = v
      .select(col("yr"),
        substring(col("v").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("yr"), col("d")).agg(count(lit(1)).as("n_d"))
    val tot = obs.groupBy(col("yr"))
      .agg(sum(col("n_d")).cast("long").as("n"))
      .filter(col("n") >= 50)
    val digits = spark.range(1, 10)
      .select(col("id").cast("int").as("d"))
    val base = tot.crossJoin(broadcast(digits))
      .join(obs, Seq("yr", "d"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
    val withLd = graft.functions.FixLog2
      .withFixLog2(base, col("d") + 1, col("d"), "l_d")
    withLd
      .withColumn("l_10", lit(graft.functions.FixLog2.ref(10L, 1L)))
      .withColumn("exp_d", expr("n * l_d div l_10"))
      .withColumn("chi2_d",
        expr("100 * ((n_d - exp_d) * (n_d - exp_d)) div exp_d"))
      .groupBy(col("yr"))
      .agg(max(col("n")).as("n_orders"),
        sum(col("chi2_d")).cast("long").as("chi2_centi"))
      .orderBy(col("chi2_centi").desc, col("yr"))
  }

  /** Anti-entropy snapshot diff — the WHICH-rows companion to
    * [[qTableChecksum]]'s WHETHER: given a base table and a drifted
    * replica, emit every added / removed / changed key (equal rows
    * drop out). The replica is derived deterministically from the
    * base (md5-bucket drift model: buckets 0–3 get a price bump,
    * 4–7 are deleted, ≥96 fabricate inserts under shifted keys), so
    * the oracle re-derives the whole scenario — the corruption-model
    * convention of the fuzzy-join family. Comparison is null-safe
    * per column; the 'changed' branch requires both sides present.
    *
    * Scale shape: ONE key-co-partitioned full-outer join — a
    * key-bucketed layout makes it co-located ([[graft.engine.Scale]]),
    * and the production form projects each side to (key, row-digest)
    * first so the join carries 16-byte hashes instead of full rows
    * (the [[qTableChecksum]] canonical-format machinery); the fixture
    * compares columns directly so the oracle stays transparent.
    * Output is diff-sized (the drift fraction), never table-sized. */
  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        col("o_totalprice").as("p"))
    def b: Column = Tables.md5Bucket(col("k"))
    val snap = o.filter(b < 4)
      .select(col("k"), col("ck"), (col("p") + 1.0d).as("p"))
      .unionByName(o.filter(b >= 8))
      .unionByName(o.filter(b >= 96)
        .select((col("k") + 1000000000L).as("k"), col("ck"), col("p")))
    val d = o.select(col("k"), col("ck").as("ck_old"), col("p").as("p_old"))
      .join(snap.select(col("k"), col("ck").as("ck_new"),
        col("p").as("p_new")), Seq("k"), "full_outer")
    d.filter(col("p_old").isNull || col("p_new").isNull
        || col("p_old") =!= col("p_new") || col("ck_old") =!= col("ck_new"))
      .select(col("k"),
        when(col("p_old").isNull, "added")
          .when(col("p_new").isNull, "removed")
          .otherwise("changed").as("op"),
        col("p_old"), col("p_new"))
      .orderBy(col("k"))
  }

  /** Frequent-itemset min support — 2 keeps every fixture SF
    * non-degenerate (94 triples at sf0.001, 12 at sf0.01) while the
    * A-priori level-1 prune still bites. */
  private[graft] val itemsetMinSupport = 2L

  /** Frequent TRIPLE mining (A-priori level 3) — the association-rule
    * step past [[qCopurchase]]'s pair support: every unordered part
    * triple appearing in ≥ [[itemsetMinSupport]] orders. A-priori
    * monotonicity drives the cost, at TWO levels. L1: baskets are
    * first restricted to FREQUENT ITEMS (any triple containing an
    * infrequent item cannot be frequent), collapsing the raw C(m,3)
    * fan to C(m',3). L2: triples are then generated ONLY from each
    * basket's L2-FREQUENT PAIR GRAPH — the basket's pairs that are
    * globally frequent — as a basket-local triangle enumeration:
    * wedge (a,b),(a,c) at the minimum vertex, closed iff (b,c) is
    * also a surviving edge. This turns the in-row fan from C(m',3)
    * into Σ_a C(deg(a),2) wedge checks over the PRUNED edge set —
    * on skewed baskets (hot items co-bought with everything, few
    * pairs actually frequent) the cubic term collapses to the
    * triangle count of a sparse graph. Output-invariance of both
    * prunes is monotonicity: sup(abc) ≤ sup of every sub-pair, and
    * every basket holding a triple has ≥ 3 items, so even the
    * ≥3-item-basket-restricted pair support used here upper-bounds
    * any triple's support (a STRONGER-yet-still-invariant prune than
    * all-basket pair support). Measured on the sf0.01 fixture the
    * edge prune cuts the in-row work from 157,356 C(m',3) candidate
    * triples to 558 wedge checks emitting 61 candidates (282× less
    * in-row work, 2,580× fewer agg input rows) at identical output. No self-join of the fact
    * table ever happens (plan-guarded: every join is a semi-join of
    * an agg, the naive 3-way self-join re-shuffles the 100 TB fact
    * three times and fans hot orders cubically). Integer supports ⇒
    * hash-exact.
    *
    * Scale shape: one distinct pass (item-in-basket), a map-side-
    * combined L1 agg broadcast back, one regroup shuffle into the
    * bounded in-row PAIR fan, a pair-keyed support agg (map-side
    * combined) whose frequent survivors semi-join the basket pairs
    * back (pair-keyed shuffle — L2 is data-derived and unbounded, so
    * never a pinned broadcast), one regroup into per-basket edge
    * lists, then the wedge fan into the final partial/final support
    * agg. Unbounded production baskets get the per-basket item cap
    * ([[qCopurchase]]'s guard, not needed at the fixture's ≤7-item
    * orders). */
  def qItemsets3(spark: SparkSession, sfDir: String): DataFrame = {
    // NEGATIVE RESULT (r22): memoizing this distinct frame for its
    // two consumers DOUBLED the query's summed task time (16 → 32 s,
    // StageProbe) — the parquet scan + partial distinct is cheaper to
    // recompute than the cache is to write and re-read, and the
    // planner already shares the distinct exchange across the
    // consumers (ReuseExchange). Left un-memoized.
    val e = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    val l1 = e.groupBy(col("item")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= itemsetMinSupport).select(col("item"))
    // NEGATIVE RESULT (r22): forcing the distinct to be SHARED by
    // both join sides (collect_list over the distinct, which keeps
    // the duplicate-sensitive agg from absorbing it, so ReuseExchange
    // serves one (ok, item) exchange to l1 AND the basket branch) was
    // paired-A/B'd at 1.11× and reverted. The optimizer's shape —
    // dropping the distinct under collect_set and re-scanning
    // lineitem raw on the basket side — looks like a redundant second
    // scan (2 × ~0.4 s three-task stages in StageProbe), but the raw
    // path dedups MAP-SIDE inside the partial collect_set and ships
    // only the 12 MB collect buffers, while the shared-exchange form
    // re-reads the full 14 MB distinct exchange, runs the final
    // distinct agg, and THEN builds and ships the same collect
    // buffers — one extra full pass through the wide exchange on the
    // critical path. collect_set stays.
    val baskets = e.join(broadcast(l1), Seq("item"), "left_semi")
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("item"))).as("ps"))
      .filter(size(col("ps")) >= 3)
    // in-row pair fan (the qCopurchase shape) → global L2 support.
    // Memoized+eager: the fan is consumed TWICE (the L2 support agg
    // and the per-basket edge regroup) and exchange reuse only shares
    // the upstream basket exchange, so the collect_set + explode
    // subtree re-ran per consumer (measured in the stage table).
    val pairs = Dedup.memoizedPersisted(spark,
      s"itemsets-pairs|${Tables.fileId(spark, sfDir)}", eager = true)({
      // imperative per-partition fan (the shingleHashSets discipline):
      // the nested-transform HOF form is interpreted — the fan's two
      // stages measured ~7.5 s of summed task CPU at sf0.1 building
      // structs per candidate pair (StageProbe r21). Enumeration is
      // identical: ps is sorted ascending, emit (ps(i), ps(j)) ∀ i<j.
      //
      // The fan input is WIDENED to the row-derived task target
      // first: AQE sizes the basket agg's output by BYTES (~6 MB →
      // 3 partitions at sf0.1), but the fan is CPU-bound per row
      // (~44 µs/basket, StageProbe r22 — a 0.75 s three-task stage
      // with 29 cores idle). Guarded exactly like Tables.spread: at
      // corpus scale the row target reaches the core count and the
      // exchange is skipped, so a lake-sized basket frame is never
      // shrunk to |cores| partitions.
      import spark.implicits._
      val p = spark.sparkContext.defaultParallelism
      val fanTarget = Tables.spreadTarget(p,
        Tables.memoizedCount(spark, sfDir, "orders"), 512)
      val fanIn0 = baskets.select(col("ok"), col("ps"))
      val fanIn = if (fanTarget < p)
        fanIn0.repartition(fanTarget, xxhash64(col("ok"))) else fanIn0
      fanIn.as[(Long, Array[Long])]
        .mapPartitions(_.flatMap { case (ok, ps) =>
          new Iterator[(Long, Long, Long)] {
            private var i = 0
            private var j = 1
            def hasNext: Boolean = i < ps.length - 1
            def next(): (Long, Long, Long) = {
              val out = (ok, ps(i), ps(j))
              j += 1
              if (j >= ps.length) { i += 1; j = i + 1 }
              out
            }
          }
        })
        .toDF("ok", "pa", "pb")
    })
    val l2 = pairs.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= itemsetMinSupport)
      .select(col("pa"), col("pb"))
    // per-basket L2-frequent edge lists, sorted (pa, pb) so wedges at
    // the minimum vertex generate each triangle exactly once
    val pe = pairs.join(l2, Seq("pa", "pb"), "left_semi")
      .groupBy(col("ok"))
      .agg(sort_array(collect_list(struct(col("pa"), col("pb"))))
        .as("pe"))
      .filter(size(col("pe")) >= 3)
    // the wedge-closure fan, imperative for the same reason as the
    // pair fan above (the HOF form re-walked pe per candidate via an
    // interpreted array_contains): pe is sorted by (pa, pb), so for
    // each wedge (pa,pb),(pa,qb) with pb < qb the triple closes iff
    // (pb, qb) ∈ pe — identical enumeration, set-membership closure.
    val triples = {
      import spark.implicits._
      pe.select(col("ok"), col("pe")).as[(Long, Array[(Long, Long)])]
        .mapPartitions(_.flatMap { case (_, pe0) =>
          val set = new scala.collection.mutable.HashSet[(Long, Long)]
          set.sizeHint(pe0.length)
          pe0.foreach(set += _)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long)]
          var i = 0
          while (i < pe0.length - 1) {
            val (pa, pb) = pe0(i)
            var j = i + 1
            while (j < pe0.length && pe0(j)._1 == pa) {
              val qb = pe0(j)._2
              if (set.contains((pb, qb))) out += ((pa, pb, qb))
              j += 1
            }
            i += 1
          }
          out.iterator
        })
        .toDF("part_a", "part_b", "part_c")
    }
    triples
      .groupBy(col("part_a"), col("part_b"), col("part_c"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= itemsetMinSupport)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"),
        col("part_c"))
  }

  /** Association rules from the frequent triples — the readout
    * [[qItemsets3]] exists for: every (x, y) → z rule per frequent
    * triple (antecedents are sorted sub-pairs of a < b < c, so all
    * three rules per triple come out of one in-row explode), with
    * confidence = sup(xyz)/sup(xy) and lift = conf·N/sup(z). Supports
    * are exact integers; conf/lift are fixed IEEE divisions over
    * their exact double conversions — hash-identical in any engine.
    *
    * Scale shape: the rule frame is \|frequent triples\|×3 rows —
    * BROADCAST onto the pair-support and item-support aggs (each a
    * map-side-combined scan; the pair agg reuses [[qCopurchase]]'s
    * in-row fan, never a self-join), so nothing rule-sized ever
    * shuffles the fact; the basket count rides the 1-row broadcast
    * cross join (the [[qJoinCard]] count-frame pattern). */
  def qAssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    val nb = e.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemSup = e.groupBy(col("item").as("cons"))
      .agg(count(lit(1)).as("s_cons"))
    val baskets = e.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("item"))).as("ps"))
      .filter(size(col("ps")) >= 2)
    val bpairs = baskets.select(col("ok"),
        explode(flatten(transform(col("ps"),
          (a, i) => transform(slice(col("ps"), i + 2, size(col("ps"))),
            b => struct(a.as("pa"), b.as("pb")))))).as("p"))
      .select(col("ok"), col("p.pa").as("pa"), col("p.pb").as("pb"))
    val pairSup = bpairs
      .groupBy(col("pa").as("ant_a"), col("pb").as("ant_b"))
      .agg(count(lit(1)).as("s_ant"))
    // frequent triples from the SAME basket-pair fan that feeds the
    // rule antecedents (one distinct pass, one basket agg, one pair
    // explode — measured 6.2 s → 2.2 s vs re-running qItemsets3's
    // build), with [[qItemsets3]]'s L2 edge prune reusing pairSup as
    // the edge support: triples generate only from each basket's
    // L2-frequent pair graph (wedge at the minimum vertex, closed iff
    // the third edge survives). Output-invariant by A-priori
    // monotonicity — pairSup here counts all ≥2-item baskets, a
    // superset of any triple's baskets, so it upper-bounds triple
    // support (the sf0.01 fan measurement lives at [[qItemsets3]]).
    val l2 = pairSup.filter(col("s_ant") >= itemsetMinSupport)
      .select(col("ant_a").as("pa"), col("ant_b").as("pb"))
    val pe = bpairs.join(l2, Seq("pa", "pb"), "left_semi")
      .groupBy(col("ok"))
      .agg(sort_array(collect_list(struct(col("pa"), col("pb"))))
        .as("pe"))
      .filter(size(col("pe")) >= 3)
    val tri = pe.select(explode(flatten(
        transform(col("pe"), (p, i) =>
          transform(
            filter(slice(col("pe"), i + 2, size(col("pe"))),
              q => q.getField("pa") === p.getField("pa")
                && array_contains(col("pe"),
                  struct(p.getField("pb").as("pa"),
                    q.getField("pb").as("pb")))),
            q => struct(p.getField("pa").as("part_a"),
              p.getField("pb").as("part_b"),
              q.getField("pb").as("part_c")))))).as("t"))
      .select(col("t.part_a").as("part_a"),
        col("t.part_b").as("part_b"), col("t.part_c").as("part_c"))
      .groupBy(col("part_a"), col("part_b"), col("part_c"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= itemsetMinSupport)
    val rules = tri
      .select(explode(array(
        struct(col("part_a").as("ant_a"), col("part_b").as("ant_b"),
          col("part_c").as("cons"), col("n_orders").as("s3")),
        struct(col("part_a").as("ant_a"), col("part_c").as("ant_b"),
          col("part_b").as("cons"), col("n_orders").as("s3")),
        struct(col("part_b").as("ant_a"), col("part_c").as("ant_b"),
          col("part_a").as("cons"), col("n_orders").as("s3")))).as("r"))
      .select(col("r.ant_a").as("ant_a"), col("r.ant_b").as("ant_b"),
        col("r.cons").as("cons"), col("r.s3").as("s3"))
    pairSup.join(broadcast(rules), Seq("ant_a", "ant_b"))
      .join(broadcast(itemSup), Seq("cons"))
      .crossJoin(broadcast(nb))
      .select(col("ant_a"), col("ant_b"), col("cons"), col("s3"),
        col("s_ant"), col("s_cons"),
        (col("s3").cast("double") / col("s_ant")).as("confidence"),
        (col("s3").cast("double") / col("s_ant") * col("n_baskets")
          / col("s_cons")).as("lift"))
      .orderBy(col("confidence").desc, col("lift").desc,
        col("ant_a"), col("ant_b"), col("cons"))
  }

  /** Incremental JOIN-view maintenance — the join member of the MV
    * family ([[qAggIncremental]] counts/sums, [[qDistinctIncremental]]
    * sketches): a materialized revenue-per-(month, priority) rollup
    * over lineitem ⋈ orders, updated when BOTH sides receive new rows
    * without rescanning the joined history. Classic delta-join
    * decomposition: with independent arrival cuts L = L₀ ∪ ΔL,
    * O = O₀ ∪ ΔO,
    *
    *   L ⋈ O = (L₀ ⋈ O₀)  ∪  (ΔL ⋈ O)  ∪  (L₀ ⋈ ΔO)
    *
    * — disjoint by construction (every joined row pairs a lineitem
    * arrival class with an order arrival class; ΔL⋈O covers both
    * ΔL quadrants, L₀⋈ΔO the remaining one). The stored term is the
    * MV's partial aggregates (on disk in production — never
    * recomputed; materialized here from the same split so the oracle
    * can be the FULL one-pass join-agg — equality with it IS the
    * maintenance claim). Decimal partials make the merge independent
    * of where the arrival cut falls; the arrival classes are
    * md5-derived so the oracle reproduces them.
    *
    * Scale shape: the delta terms join O(|Δ|) rows against a
    * key-pruned base side (broadcast when the delta is small — the
    * [[mergeApply]] posture); the merge agg touches O(groups), never
    * the history. The fixture materializes the stored term with one
    * extra join; production reads it as a table scan. */
  def qJoinIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val ord = Tables(spark, sfDir, "orders")
    // independent arrival cuts: lineitems split by (orderkey, line),
    // orders by orderkey — so old orders receive new lineitems and
    // new orders attach to old lineitems' keys, exercising every term
    val lNew = Tables.md5Bucket(
      concat_ws("-", col("l_orderkey"), col("l_linenumber"))) >= 90
    val oNew = Tables.md5Bucket(col("o_orderkey")) >= 90
    val lOld = li.filter(!lNew); val lDelta = li.filter(lNew)
    val oOld = ord.filter(!oNew); val oDelta = ord.filter(oNew)
    def partials(l: DataFrame, o: DataFrame): DataFrame = l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("pn"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("psum"))
    val stored = partials(lOld, oOld) // the MV, on disk in production
    val deltas = partials(lDelta, ord).unionByName(partials(lOld, oDelta))
    stored.unionByName(deltas)
      .groupBy(col("month"), col("o_orderpriority"))
      .agg(sum(col("pn")).cast("long").as("n"),
        sum(col("psum")).cast("double").as("revenue"))
      .orderBy(col("month"), col("o_orderpriority"))
  }

  /** Gini concentration of per-user revenue — the whale-dependence
    * KPI (how unequal is spend across users?), distinct from the
    * Gini–SIMPSON mix diversity in [[graft.engine.TextOps
    * .qDiversity]]: the Lorenz-curve coefficient
    * G = (2·Σ i·s₍ᵢ₎ − (n+1)·Σs) / (n·Σs) over ascending-sorted user
    * totals, emitted as an exact integer in micro units — the whole
    * derivation is integer sums plus ONE integral division (Spark
    * DECIMAL(38,0) `div` ≡ DuckDB HUGEINT `//`).
    *
    * Scale shape: the global rank i is the classic single-partition
    * window trap ([[graft.engine.Scale.shardedPrefixSum]] scaladoc);
    * here it rides that sharded prefix scan instead — shards from
    * [[graft.engine.Scale.balancedShards]] (histogram-derived
    * QUANTILE-balanced cut points, ≈ n/16 users per shard), per-shard
    * parallel cumulative COUNT, and the |shards|-row carry broadcast
    * — so the ranking never funnels the user table through one task.
    * The first cut of this query used uniform VALUE-range bins
    * (`s div (max/16+1)`) — exactly wrong for the heavy-tailed spend
    * this query exists to measure (on Zipf revenue ~all users land in
    * bin 0 and the scan degenerates to one near-corpus partition at
    * 100×; `ScaleSpec` plants that distribution and pins the
    * balance). The user agg map-combines event volume away, and the
    * per-user frame is session-persisted so the boundary passes and
    * the ranked scan share one materialization. Empty/all-null input
    * degrades to the constant shard instead of NPE'ing (r16
    * advisory). */
  def qGiniConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Dedup.memoizedPersisted(spark,
      s"gini-users|${Tables.fileId(spark, sfDir)}")(
      Tables(spark, sfDir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 1000).cast("long")).as("s")))
    val ranked = Scale.shardedPrefixSum(s,
      shard = Scale.balancedShards(s, col("s"), shards = 16),
      order = Seq(col("s"), col("user_id")),
      value = lit(1L), cumName = "i")
    def d19(c: Column) = c.cast("decimal(19,0)")
    ranked
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d19(col("s"))).cast("decimal(38,0)").as("ssum"),
        sum(d19(col("i")) * d19(col("s"))).cast("decimal(38,0)").as("sis"))
      .select(col("n").cast("long").as("n_users"),
        col("ssum").cast("long").as("total_milli"),
        expr("CAST((1000000 * (2 * sis - (n + 1) * ssum)) div (n * ssum)" +
          " AS BIGINT)").as("gini_micro"))
  }

  /** Time-weighted average — the metric every sampled gauge needs
    * (billing meters, queue depths, sensor reads): the plain mean
    * over-weights bursts of dense samples, TWA holds each reading
    * for exactly the interval it was current:
    * Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_n − t₀) per user. Exactness discipline:
    * MILLI-quantized values × MILLIsecond holds keep the numerator
    * below 2⁵³ (a year of holds × 10³-magnitude values ≈ 3·10¹³),
    * where a LONG is exactly representable as a double in BOTH
    * engines — the first cut of this query accumulated micro×micro
    * into DECIMAL(38,0)/HUGEINT and hash-diverged by 1 ulp on 8/150
    * rows: DuckDB's HUGEINT→double conversion is NOT correctly
    * rounded past 2⁵³ (upper·2⁶⁴ + lower in double arithmetic),
    * while Spark's Decimal→double is. Below 2⁵³ both conversions
    * are the identity, so the single IEEE division at the end is
    * bit-identical. Single-event users have no holding interval and
    * are dropped in both engines.
    *
    * Scale shape: one user-keyed window Exchange (the lead) feeding
    * a map-combined per-user agg on the same partitioning — Catalyst
    * reuses the exchange, nothing shuffles twice. */
  def qTwa(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 1000").as("t"),
        round(col("value") * 1000).cast("long").as("vq"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    ev.withColumn("t_next", lead(col("t"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum((col("t_next") - col("t")) * col("vq")).as("num"),
        sum(col("t_next") - col("t")).as("den"))
      .select(col("user_id"), col("den").as("span_millis"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("twa_milli"))
      .orderBy(col("user_id"))
  }

  /** 2-D Mahalanobis outlier screen — the CORRELATION-AWARE member
    * of the outlier family ([[qOutliers]] per-axis σ, [[qOutliersRobust]]
    * MAD): a point can sit within 3σ on both axes yet be wildly
    * improbable for the JOINT distribution (high quantity at a low
    * price when the two run together). For 2×2 the inverse needs no
    * linear algebra — the adjugate makes D² a ratio of integers:
    * with scatter moments Mxx = nΣx²−(Σx)², Myy, Mxy and
    * u = n·x−Σx, v = n·y−Σy, D² = n²·(z−μ)ᵀΣ⁻¹(z−μ) · … reduces to
    *   Q / det,  Q = Myy·u² − 2·Mxy·u·v + Mxx·v²,  det = MxxMyy−Mxy²,
    * so the screen Q > 9·det (χ²₂ ≈ 98.9th pct) and the top-20
    * ranking (det is row-constant ⇒ order by Q) are EXACT integer
    * comparisons in DECIMAL(38,0) — no division, no sqrt, no libm.
    * Fixture magnitudes bound every product below 10³⁷ (y in whole
    * dollars keeps v² ≤ 4·10²¹); at 10¹² rows the moments prescale
    * by a common shift first, the [[qCorrelation]] family convention.
    *
    * Scale shape: one map-combined moment agg (1 row), broadcast
    * back over the narrow scan; the per-row quadratic form is pure
    * codegen'd decimal arithmetic; TakeOrdered keeps the global
    * top-20 at per-partition-heap cost. */
  def qMahalanobis(spark: SparkSession, sfDir: String): DataFrame = {
    // spread BEFORE the decimal(38,0) quadratic form: the fixture ships
    // one row group per table, so without it the whole per-row
    // BigDecimal pipeline (both the moment agg's partial and the
    // broadcast-joined quadratic) runs inside ONE scan task — measured
    // single-task-bound at sf0.1. On a multi-split lake spread is a
    // no-op (Tables.spread contract); the local exchange carries only
    // the 4 narrow columns. Both aggs are exact decimal — order-free.
    val li = Tables.spread(Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y")))
    def d19(c: Column) = c.cast("decimal(19,0)")
    val m = li.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d19(col("x"))).cast("decimal(38,0)").as("sx"),
        sum(d19(col("y"))).cast("decimal(38,0)").as("sy"),
        sum(d19(col("x")) * d19(col("x"))).cast("decimal(38,0)").as("sxx0"),
        sum(d19(col("y")) * d19(col("y"))).cast("decimal(38,0)").as("syy0"),
        sum(d19(col("x")) * d19(col("y"))).cast("decimal(38,0)").as("sxy0"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxx0") - col("sx") * col("sx")).as("mxx"),
        (col("n") * col("syy0") - col("sy") * col("sy")).as("myy"),
        (col("n") * col("sxy0") - col("sx") * col("sy")).as("mxy"))
    li.crossJoin(broadcast(m))
      .withColumn("u", col("n") * d19(col("x")) - col("sx"))
      .withColumn("v", col("n") * d19(col("y")) - col("sy"))
      .withColumn("qq", col("myy") * col("u") * col("u")
        - lit(2) * col("mxy") * col("u") * col("v")
        + col("mxx") * col("v") * col("v"))
      .withColumn("dd", col("mxx") * col("myy") - col("mxy") * col("mxy"))
      .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        (col("qq") > lit(9) * col("dd")).as("flagged"),
        col("qq"))
      .orderBy(col("qq").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)
      .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        col("flagged"))
  }

  /** Population stability index — the score-drift screen the model-
    * monitoring world runs on every feature ([[qCusum]] watches
    * volume in time, PSI watches a VALUE DISTRIBUTION between a
    * reference and a current window): 10 fixed-width bins over the
    * micro-quantized value, reference = first half of the hour
    * range, current = second, PSI = Σ (p−q)·log2(p/q). Exact fixed
    * point: with add-1-smoothed bin counts a, b and totals A, B the
    * per-bin term scales to (a·B − b·A)·L(a·B, b·A) — integer, sign-
    * safe (both factors flip together, so every term ≥ 0 like the
    * real PSI), in units of 2⁻¹⁶ bits · A·B (the caller divides by
    * A·B once, outside the hash). One [[graft.functions.FixLog2]]
    * ladder on the 10-row bin frame. Exact while A·B < 2·10¹²; past
    * that the raise_error guard fires loudly (the [[graft.engine
    * .TextOps.qMutualInfo]] convention).
    *
    * Scale shape: one narrow scan into a (bin, side) map-combined
    * agg — nothing after it carries event volume; bounds/mid-hour
    * from a broadcast 1-row agg; bin domain completed from a
    * broadcast 10-row range so empty bins still contribute their
    * smoothed mass. */
  def qPsi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("h"),
        round(col("value") * 1e6).cast("long").as("vq"))
    psiOf(ev)
  }

  /** The PSI core over an (h: long, vq: long) frame, factored so the
    * spec can plant distribution shifts. */
  private[graft] def psiOf(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    val bounds = ev.agg(min(col("vq")).as("lo"), max(col("vq")).as("hi"),
      min(col("h")).as("h0"), max(col("h")).as("h1"))
    val binned = ev.crossJoin(broadcast(bounds))
      .select(
        expr("least(9, ((vq - lo) * 10) div (hi - lo + 1))").as("bin"),
        expr("h < (h0 + h1 + 1) div 2").as("is_ref"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val dom = spark.range(0, 10).select(col("id").as("bin"))
      .join(binned, Seq("bin"), "left")
      .select(col("bin"),
        (coalesce(col("n_ref"), lit(0L)) + 1L).as("a"),
        (coalesce(col("n_cur"), lit(0L)) + 1L).as("b"))
    val tot = dom.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    // overflow-safe guard: the A·B product itself is what can exceed
    // 2⁶³ in the regime this guard exists for (~3·10⁹ events per half
    // at 100 TB), and a wrapped LONG product could slip back under the
    // bound — compare in DECIMAL(38,0), where 2⁶³·2⁶³ < 10³⁸ cannot wrap
    val base = dom.crossJoin(broadcast(tot))
      .withColumn("ta", when(
        col("ta").cast("decimal(38,0)") * col("tb").cast("decimal(38,0)")
          < lit(2000000000000L).cast("decimal(38,0)"),
        col("ta")).otherwise(raise_error(lit(
          "q_psi: A*B exceeds the 2e12 exactness bound — prescale the bins"))))
    graft.functions.FixLog2
      .withFixLog2(base, col("a") * col("tb"), col("b") * col("ta"), "l_q")
      .select(col("bin"), col("a") - 1L as "n_ref", col("b") - 1L as "n_cur",
        ((col("a") * col("tb") - col("b") * col("ta")) * col("l_q"))
          .as("psi_term_scaled"))
      .orderBy(col("bin"))
  }

  /** CUSUM change-point screen — the sequential drift detector next
    * to the per-hour [[qAnomalySeries]] MAD screen: a level SHIFT
    * that never trips the per-point 3σ bar (say +20% volume
    * sustained for days) accumulates in the one-sided CUSUM
    * s_i = max(0, s_{i-1} + (x_i − k)) and alarms. The recursion is
    * not a SQL window, but its closed form is:
    * s_i = p_i − min(0, min_{j≤i} p_j) with p the running sum of
    * deviations — so two stacked same-key ordered windows (running
    * sum, then running min) compute it exactly. Everything stays
    * INTEGER by scaling: deviations d = N·c − T (N spine hours, T
    * total events per type) sum to zero by construction, making k
    * the exact mean rate with no division anywhere; the alarm bar
    * 3·T in scaled units = three average-hours of cumulative excess.
    * Exact while T·N < 2⁶³ (10¹² events over 10⁵ hours clears it).
    *
    * Scale shape: the [[qAnomalySeries]] spine discipline (zero-
    * filled hour domain — a missing hour is a deviation, not a
    * missing row); one (type, hour) map-combined agg, a broadcast
    * |types|-row totals join, ONE type-keyed window Exchange for
    * both window passes; nothing after the agg carries event
    * volume. */
  def qCusum(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
    cusumSeries(ev).orderBy(col("event_type"), col("h"))
  }

  /** The detector core over an (event_type, h: long) frame, factored
    * so the spec can plant level shifts (the [[anomalySeries]]
    * convention). */
  private[graft] def cusumSeries(ev: DataFrame): DataFrame = {
    val rng = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(rng))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    val counts = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val series = spine.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("c"), lit(0L)).as("c"))
    val tot = series.groupBy(col("event_type"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("nh"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    series.join(broadcast(tot), Seq("event_type"))
      .withColumn("p", sum(col("c") * col("nh") - col("t")).over(w))
      .withColumn("cusum_scaled",
        col("p") - least(lit(0L), min(col("p")).over(w)))
      .select(col("event_type"), col("h"), col("c"), col("cusum_scaled"),
        (col("cusum_scaled") > lit(3L) * col("t")).as("alarm"))
  }

  /** Skew-proof salted fact⋈dim join, registered end-to-end — the
    * query face of [[Scale.saltedJoin]] (until now spec-only): the
    * big side takes a uniform salt in [0, 8), the small side is
    * replicated once per salt value, and the join key becomes
    * (key, salt), so one hot orderkey spreads over 8 reducers
    * instead of stalling a single task. Row-level output is
    * IDENTICAL to the unsalted join by construction (the salt only
    * moves shuffle placement, never matches), which is exactly what
    * the oracle arbitrates: the DuckDB side is the PLAIN join — any
    * lost or duplicated row under salting breaks the hash.
    *
    * Scale shape: when AQE's skew splitting can't see the skew (a
    * single hot key inside one partition of a non-AQE stage, or a
    * downstream agg pinned to the join partitioning), this is the
    * manual fallback; the 8× small-side replication is the entire
    * overhead. Quantities ride as exact integers (round→long). */
  def qSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("okey"),
        round(col("l_quantity")).cast("long").as("qty"))
    val ord = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    Scale.saltedJoin(li, ord, "okey", buckets = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Z-order (Morton) clustering key + 2-D box probe — the query
    * face of [[Scale.zorderValue]]/[[Scale.writeZordered]]: each
    * dimension is affinely mapped onto [0, 2¹⁶) from its table-stat
    * bounds (stand-in here: a 1-row min/max agg, the one bounded
    * driver collect) and bit-interleaved; sorting files by `z`
    * gives row-group min/max stats tight in BOTH dimensions, so a
    * box predicate prunes ~sel₁·sel₂ of the table instead of the
    * single-column sort's ~sel₁ ([[graft.tools.ZorderScale]]
    * measures the gap). The registered query emits the z-value for
    * every row in the lower-left quarter box — the probe whose scan
    * the layout accelerates — and the oracle recomputes the full
    * interleave in BIGINT.
    *
    * Exactness envelope: the normalizer computes (c−lo)·65535 in
    * LONG then divides through DOUBLE; the product stays < 2⁵³ and
    * 1/(hi−lo) dwarfs the quotient's half-ulp while hi−lo < ~2³⁰,
    * so truncation lands on the oracle's integer `//` everywhere in
    * (and far beyond) the fixture key ranges — a 100 TB writer with
    * wider domains prescales, exactly like the table-stats bounds
    * it would already read. */
  def qZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    val r = li.agg(
      min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
      min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long"))
      .head()
    val (pLo, pHi, sLo, sHi) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    li.filter(col("l_partkey") <= lit(pLo + (pHi - pLo) / 4) &&
        col("l_suppkey") <= lit(sLo + (sHi - sLo) / 4))
      .withColumn("z", Scale.zorderValue(col("l_partkey"), col("l_suppkey"),
        pLo, pHi, sLo, sHi))
      .select(col("l_orderkey"), col("l_linenumber"), col("z"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Exact weighted median per group — the order statistic the
    * mean-based outlier family ([[qOutliers]]) can't give: per
    * return flag, the smallest price (cents) whose cumulative
    * quantity weight reaches half the group total. Ties collapse
    * FIRST (groupBy (flag, price) with map-side combine), so the
    * cumulative window runs over the distinct-value domain — a
    * rows-frame over collapsed values equals the range-frame over
    * raw rows, without per-row tie-order sensitivity — and the
    * group total rides the same single flag-keyed Exchange as a
    * whole-partition frame.
    *
    * Scale shape: one map-combined agg shrinks the corpus to
    * |flags × distinct prices|, then one window Exchange over that
    * reduced frame; nothing after the first agg carries row volume.
    * All arithmetic is BIGINT (cents / integral quantities). */
  /** Weighted quartile bands — [[qWeightedMedian]] generalized to
    * p25/p50/p75 in the SAME single window pass: the three order
    * statistics are conditional mins over the one cumulative-weight
    * column (4·cum ≥ k·tot, k = 1,2,3), so equal-frequency banding
    * costs exactly what the median alone costs — one map-combined
    * tie-collapse agg plus one group-keyed window Exchange. The
    * integer cross-multiplied thresholds keep every comparison in
    * BIGINT (no fractional ranks anywhere). */
  def qWeightedQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("v"),
        round(col("l_quantity")).cast("long").as("w"))
    val g = li.groupBy(col("l_returnflag"), col("v"))
      .agg(sum(col("w")).as("vw"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(col("l_returnflag"))
    g.withColumn("cum", sum(col("vw")).over(wCum))
      .withColumn("tot", sum(col("vw")).over(wTot))
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cum") * 4 >= col("tot"), col("v"))).as("p25_cents"),
        min(when(col("cum") * 2 >= col("tot"), col("v"))).as("p50_cents"),
        min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).as("p75_cents"),
        min(col("tot")).as("total_w"))
      .orderBy(col("l_returnflag"))
  }

  def qWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    // spread before the (flag, v) partial agg — single-row-group
    // fixture scans otherwise hash-aggregate all 600k rows in ONE
    // task (see qMahalanobis; no-op on a multi-split lake). The agg
    // is an exact long sum — order-free.
    val li = Tables.spread(Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("v"),
        round(col("l_quantity")).cast("long").as("w")))
    // The running weight rides the SHARDED prefix sum instead of a
    // flat per-flag window: return flags are THREE values, so each
    // window partition held a third of the frame in ONE task AQE
    // cannot split (r21 — the qRfmSharded convention; measured
    // single-task-bound at sf0.1). No (flag, v) pre-aggregation: v
    // (price cents) is near-unique per flag, so the grouped form's
    // partial agg reduced ~600k rows to ~450k — 7 s of summed hash-agg
    // CPU for no shuffle saving (StageProbe r21) — and the kept
    // min-v is TIE-ORDER-INVARIANT without it: rows of a tie class v
    // colocate in one shard (the shard key is a pure function of v),
    // their running cums c_1 < … < c_k = classCum are one valid tie
    // order, and since every c_i <= classCum, some row of the class
    // passes cum·2 >= tot iff classCum·2 >= tot — exactly the grouped
    // predicate, so min(v) over kept rows is unchanged and the SAME
    // oracle arbitrates. The per-(flag, shard) carry agg DOES
    // map-side-reduce (48 cells), unlike the dropped (flag, v) one.
    val shard = Scale.memoizedShards(spark,
      s"wmed|${Tables.fileId(spark, sfDir)}", 16, col("v"))(
      Scale.balancedShards(li, col("v"), 16))
    // Distributed quickselect step (r22): only the CROSSING shard's
    // rows ever decide the median, so the corpus-sized prefix-sum
    // window shrinks 16× and the separate per-flag total agg
    // disappears (guide §2.3 — shuffle/sort only the bytes that can
    // matter). From one per-(flag, shard) agg derive, per flag: the
    // total weight (tot = Σ ssum), the carry before each shard
    // (csum), and the first shard whose through-sum crosses tot/2.
    // EXACT equivalence with the old full prefix sum + filter + min:
    // shards are monotone cuts over v, so rows in shards BEFORE the
    // crossing have cum ≤ csum(s*) < tot/2 (never kept) and rows in
    // shards AFTER it have v ≥ every kept v in s* (never the min);
    // within s* the running sum csum + local-cum reproduces the flat
    // window's cum bit-exactly (same (v) order, ties colocated —
    // the shard key is a pure function of v). The same DuckDB oracle
    // arbitrates, unchanged.
    val byShard = li.withColumn("__shard", shard)
    val cells = byShard.groupBy(col("l_returnflag"), col("__shard"))
      .agg(sum(col("w")).as("ssum"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
    val wpre = wf.orderBy(col("__shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    // ≤ |flags|·|shards| rows — KNOWN-BOUNDED window, broadcast back:
    // per flag, the first crossing shard with its carry and total
    val selC = cells
      .withColumn("csum", coalesce(sum(col("ssum")).over(wpre), lit(0L)))
      .withColumn("tot", sum(col("ssum")).over(wf))
      .filter((col("csum") + col("ssum")) * 2 >= col("tot"))
      .withColumn("__rk", row_number().over(wf.orderBy(col("__shard"))))
      .filter(col("__rk") === 1)
      .select(col("l_returnflag"), col("__shard"), col("csum"), col("tot"))
    val wloc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    byShard.join(broadcast(selC), Seq("l_returnflag", "__shard"))
      .withColumn("cum", col("csum") + sum(col("w")).over(wloc))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("v")).as("median_cents"), min(col("tot")).as("total_w"))
      .orderBy(col("l_returnflag"))
  }
}
