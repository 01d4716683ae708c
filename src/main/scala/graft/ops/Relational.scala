package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import Staged.StagedWriter

/** Relational operator catalog over the driver's TPC-H-ish tables — one
  * query per SURVEY.md §2 inventory row the reference lacks (ABSENT rows)
  * plus DataFrame re-expressions of the REF join/agg shapes. Every query
  * has a DuckDB oracle twin in [[Relational.oracles]]; names and aliases
  * match column-for-column, every output ends in a deterministic total
  * order, and doubles go through [[Tables.dsum]] for cross-engine
  * bit-equality.
  *
  * Scale notes are inline per query: the small dimensions (region,
  * nation, supplier, bands) broadcast; the big fact joins
  * (orders⋈lineitem) shuffle on their keys and survive 1000× because
  * both sides partition by the join key and aggregation is
  * partial-then-final.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1 shape: scan-filter-aggregate with partial map-side combine;
    * the canonical "one shuffle, tiny result" plan (SURVEY §2.4 A-hash).
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").where(col("l_shipdate") <= lit("1998-09-02"))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Filter + narrow projection: predicate pushdown and column pruning
    * must reach the parquet scan (SURVEY §2.2 P7, §4.2).
    */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate").between(lit("1997-01-01"), lit("1997-03-31"))
        && col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** TPC-H Q3 shape: 3-way join + agg + top-k. customer is the small
    * side (broadcast); orders⋈lineitem shuffles on orderkey; top-10 runs
    * as TakeOrderedAndProject (no global sort materialization).
    */
  def q03SegmentRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").where(col("o_orderdate") < lit("1997-06-01"))
    val l = t(s, dir, "lineitem").where(col("l_shipdate") > lit("1997-06-01"))
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** EXISTS as a left-semi join (SURVEY §2.3 J4/J5). */
  def q04SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem").where(col("l_discount") > 0.05)
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5 shape: 6-way star join; region/nation/supplier broadcast,
    * the fact chain shuffles once per key change; AQE reorders.
    */
  def q05LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").where(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_orderdate") >= lit("1996-01-01")
      && col("o_orderdate") < lit("1998-01-01"))
    val l = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6 shape: pure scan-filter-fold to one row. */
  def q06RevenueForecast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01")
        && col("l_discount").between(0.02, 0.06)
        && col("l_quantity") < 25)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** Left-anti join: customers that never ordered (SURVEY §2.3 J5). */
  def q07AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Left-outer join preserving customers with zero orders. */
  def q08OuterCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("order_count"),
        dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spend"))
      .orderBy(col("c_custkey"))

  /** Full-outer join of two aggregates (nations seen by customers vs by
    * suppliers) — exercises the outer-join null sides.
    */
  def q09FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("customer_count"))
    val sup = t(s, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("supplier_count"))
    c.join(sup, col("c_nationkey") === col("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("customer_count"), lit(0L)).as("customer_count"),
        coalesce(col("supplier_count"), lit(0L)).as("supplier_count"))
      .orderBy(col("nationkey"))
  }

  /** Non-equi (range) join against a generated band dimension — the tiny
    * side broadcasts so this plans as BroadcastNestedLoopJoin, the right
    * physical choice for band lookup (SURVEY §2.3 J5).
    */
  def q10RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(0, 11).select(
      col("id").as("band"), (col("id") * 5).cast("double").as("lo"),
      ((col("id") + 1) * 5).cast("double").as("hi"))
    val l = t(s, dir, "lineitem")
    l.join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("band"))
  }

  /** Theta self-join (inequality condition) over a tiny table. */
  def q11ThetaSelfJoin(s: SparkSession, dir: String): DataFrame = {
    val r1 = t(s, dir, "region").select(col("r_name").as("r1_name"))
    val r2 = t(s, dir, "region").select(col("r_name").as("r2_name"))
    r1.join(r2, col("r1_name") < col("r2_name"))
      .orderBy(col("r1_name"), col("r2_name"))
  }

  /** Ranking windows: row_number / rank / dense_rank, top-3 per nation
    * (SURVEY §2.5 W1/W2 — the windowed alternate plan of the reference's
    * argmax).
    */
  def q12WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .where(col("rn") <= 3)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** Analytic windows with explicit frames: running total (decimal-exact)
    * + lag/lead over each customer's order history.
    */
  def q13WindowFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .where(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(28,6)")).over(frame)
          .cast("double").as("running_spend"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Global top-k: plans as TakeOrderedAndProject, not a full sort. */
  def q14TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(10)

  /** DISTINCT (SURVEY §2.4 A7). */
  def q15Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** ROLLUP hierarchy totals (SURVEY §2.4 A7). */
  def q16Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** CUBE over two order dimensions. */
  def q17Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** GROUPING SETS with grouping_id — via SQL (the DataFrame API exposes
    * only cube/rollup).
    */
  def q18GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "nation").createOrReplaceTempView("nation")
    t(s, dir, "region").createOrReplaceTempView("region")
    s.sql("""
      SELECT r_name, n_name, count(1) AS n_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name), (r_name, n_name))
      ORDER BY r_name, n_name
    """)
  }

  /** union ∘ intersect ∘ except chain with set semantics (SURVEY §2.7). */
  def q19SetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val auto = c.where(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
    val withOrders = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    val negative = c.where(col("c_acctbal") < 0).select(col("c_custkey"))
    building.union(auto).distinct()
      .intersect(withOrders)
      .except(negative)
      .orderBy(col("c_custkey"))
  }

  /** String function battery (SURVEY §2.8 F1-F4): substring/concat/
    * repeat/length/upper/replace/lpad — all codegen'd built-ins.
    */
  def q20StringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 4).as("pfx"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("snake"),
        lpad(col("p_size").cast("string"), 4, "0").as("size4"),
        repeat(lit("*"), col("p_size")).as("stars"))
      .orderBy(col("p_partkey"))

  /** Date/timestamp functions (SURVEY §2.8 F7): year/month extraction +
    * month truncation, monthly order volumes.
    */
  def q21DateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("y"), col("m"))

  /** JSON extraction from the events.props column (SURVEY §2.8 F7). */
  def q22Json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Conditional aggregation + exact count-distinct. */
  def q23ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("n_negative"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        davg(col("c_acctbal")).as("avg_bal"))
      .orderBy(col("c_nationkey"))

  /** As-of join: each purchase event paired with the user's most recent
    * click at-or-before it (SURVEY §2.3 J5). Implemented the scalable
    * way: union both sides, one window pass carrying the last click
    * forward — a single shuffle on user_id, no O(n²) inequality join.
    * Same-timestamp ties order clicks before purchases in both engines.
    *
    * `ts` rides as epoch-micros BIGINT via the schema-adaptive
    * [[Tables.eventsTsUs]] (BIGINT-nanos and TIMESTAMP_NTZ testdata both
    * land on the same `ts_us`; `epoch_us(ts)` in the DuckDB oracle
    * matches either way). Ordering by (ts_us, kind)
    * is outcome-deterministic: clicks tied on ts_us carry the same
    * click_us value, and purchases tied on ts_us see the same click
    * frame.
    */
  def q24AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(0).as("kind"),
        lit(null).cast("long").as("event_id"), col("ts_us").as("click_us"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("kind"),
        col("event_id"), lit(null).cast("long").as("click_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .select(col("user_id"), col("ts_us"), col("kind"), col("event_id"),
        last(col("click_us"), ignoreNulls = true).over(w).as("last_click_us"))
      .where(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_click_us"))
      .orderBy(col("event_id"))
  }

  /** Array explode / lateral view: word frequencies over p_name
    * (SURVEY §2.8 F7 array ops — generator + re-aggregation).
    */
  def q25ExplodeWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))

  /** Pivot (orders status × priority counts) — DataFrame pivot with an
    * explicit value list so the output schema is static; the oracle
    * spells the same thing as conditional aggregation.
    */
  def q27Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("o_orderpriority"))

  /** MapType surface (SURVEY §2.8 F7): props parsed into a
    * `map<string,int>`, then size / key-set / lookup — grouped so the
    * output stays tiny at any scale.
    */
  def q29MapJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), lit("map<string,int>")).as("m"))
      .select(col("event_type"), size(col("m")).as("n_keys"),
        array_join(map_keys(col("m")), ",").as("keys"),
        element_at(col("m"), "k").as("k"))
      .groupBy(col("event_type"), col("n_keys"), col("keys"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"), col("n_keys"), col("keys"))

  /** Sketch aggregation internals: approx_count_distinct (HLL++) next to
    * the exact distinct in one plan. DuckDB's HLL differs bit-for-bit, so
    * the raw sketch value itself can never hash-match an oracle; PlanSpec
    * asserts the ±5% envelope on this form directly.
    */
  def q28ApproxDistinctRaw(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"))

  /** Hash-checkable envelope form of the HLL sketch: emits the exact
    * distinct counts plus `within_envelope` booleans computed INSIDE the
    * Spark plan (`|approx − exact| ≤ 5% · exact`). The DuckDB oracle
    * computes the exact aggregates and literal `true` — a hash match
    * therefore certifies both the exact computation and the sketch's
    * error envelope, strictly stronger than a spec-only assertion.
    */
  def q28ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    q28ApproxDistinctRaw(s, dir)
      .select(
        col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * lit(0.05)).as("parts_within_5pct"),
        col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * lit(0.05)).as("orders_within_5pct"))

  /** Global range-partitioned sort (SURVEY §2.6 O2). */
  def q26GlobalSort(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_quantity"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))

  /** Salted distinct aggregation — the skew-safe spelling of
    * `groupBy(key).agg(countDistinct(value))` (SURVEY §4.1). The plain
    * form shuffles EVERY (key, value) row of a hot key to one task; the
    * salted form derives a salt from the VALUE (each distinct user lands
    * in exactly one salt bucket, so per-bucket distinct counts add up
    * exactly), partial-aggregates per (key, salt), and sums the 16
    * partials. On a 1000-executor cluster this turns the hottest key's
    * single straggler task into 16 even ones. Identical answer by
    * construction; the oracle is the plain distinct.
    */
  def q38SaltedDistinct(s: SparkSession, dir: String): DataFrame = {
    val salts = 16
    t(s, dir, "events")
      .withColumn("_salt", pmod(xxhash64(col("user_id")), lit(salts)))
      .groupBy(col("event_type"), col("_salt"))
      .agg(countDistinct(col("user_id")).as("pd"), count(lit(1)).as("pn"))
      .groupBy(col("event_type"))
      .agg(sum(col("pd")).as("n_users"), sum(col("pn")).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** Bucketed co-located fact⋈fact join — the zero-shuffle join pattern
    * for 100 TB (SURVEY §4.1): both tables are bucketed+sorted on the
    * join key (written once per session/sf into the warehouse), so the
    * SortMergeJoin consumes bucket-partitioning directly and NEITHER
    * side shuffles — at cluster scale the difference between a
    * network-bound and a node-local join. The merge hint keeps the
    * demonstration honest: without it the small sf lets Spark broadcast
    * the orders side, which is also shuffle-free but proves nothing
    * about bucketing. Plan pinned in PlanSpec (no exchange on either
    * join key, bucketed scans).
    */
  def q39BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // identifier-safe tag: dots/dashes would break the parsed table name
    val tag = dir.replaceAll("[^A-Za-z0-9_]", "_")
    val (ob, lb) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
    // write once per session; a PREVIOUS session's managed-table
    // directory can survive in the warehouse while the fresh in-memory
    // catalog knows nothing of it, and saveAsTable then refuses the
    // location — clear the stale path before writing
    def ensureBucketed(name: String, src: String, key: String): Unit =
      if (!s.catalog.tableExists(name)) {
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        t(s, dir, src).write.mode("overwrite")
          .bucketBy(16, key).sortBy(key).saveAsTable(name)
      }
    ensureBucketed(ob, "orders", "o_orderkey")
    ensureBucketed(lb, "lineitem", "l_orderkey")
    s.table(ob).hint("merge")
      .join(s.table(lb), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Unpivot (wide→long reshaping, the inverse of q27's pivot): a
    * per-nation metrics table melts into (nation, metric, value) rows.
    * Spark's `unpivot` is a zero-shuffle generator over the already-
    * aggregated frame; the oracle spells the same reshape as UNION ALL
    * arms (the portable form). Metrics are cast to a uniform double
    * before melting — `unpivot` requires one common value type.
    */
  def q43Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("c_acctbal")).as("sum_acctbal"),
        count(lit(1)).cast("double").as("n_customers"))
    wide.unpivot(
        Array(col("n_name")),
        Array(col("sum_acctbal"), col("n_customers")),
        "metric", "value")
      .orderBy(col("n_name"), col("metric"))
  }

  /** Exact grouped percentiles (continuous interpolation): p25/p50/p75
    * of l_quantity plus the median. Spark `percentile` and DuckDB
    * `quantile_cont` share the lo + (hi−lo)·frac interpolation; on
    * whole-number quantities the arithmetic is bit-identical. Exact
    * percentile shuffles the full value multiset per group — the
    * sketch alternative at 100 TB is approx_percentile (same shape as
    * q28's HLL trade-off).
    */
  def q44Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25_qty"),
        percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
        percentile(col("l_quantity"), lit(0.75)).as("p75_qty"),
        median(col("l_quantity")).as("med_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Distribution window functions (the W1 family beyond q12's ranks):
    * ntile quartiles, percent_rank, cume_dist over each nation's
    * customers by account balance. All three are rank-derived — the
    * doubles are (rank−1)/(n−1) and peers/n, identical integer→double
    * divisions in both engines. One shuffle on the partition key.
    */
  def q45DistWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .where(col("c_custkey") <= 300)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("c_nationkey"), col("c_custkey"))
  }

  /** Approximate grouped percentiles (KLL-style sketch) riding next to
    * the exact values — q44's sketch twin, same pairing as q28's HLL vs
    * exact distinct. DuckDB's approx sketch differs bit-for-bit, so this
    * raw form has no SQL oracle; the ±1% envelope is asserted in
    * PlanSpec on this form. At 100 TB the sketch is the only affordable
    * form: constant memory per group and mergeable partials vs the
    * exact form's full value-multiset shuffle.
    */
  def q46ApproxPercentilesRaw(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_p50"),
        percentile(col("l_extendedprice"), lit(0.5)).as("exact_p50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("approx_p90"),
        percentile(col("l_extendedprice"), lit(0.9)).as("exact_p90"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Hash-checkable envelope form of the percentile sketch (q28's
    * pattern): exact per-group percentiles plus `within_envelope`
    * booleans computed inside the plan (`|approx − exact| ≤ 1% ·
    * exact`). Oracle: DuckDB `quantile_cont` + literal `true` — the
    * exact interpolation bit-matches (q44 proves it), so a hash match
    * certifies the exact values AND the sketch envelope.
    */
  def q46ApproxPercentiles(s: SparkSession, dir: String): DataFrame =
    q46ApproxPercentilesRaw(s, dir)
      .select(
        col("l_returnflag"),
        col("exact_p50"),
        (abs(col("approx_p50") - col("exact_p50")) <=
          col("exact_p50") * lit(0.01)).as("p50_within_1pct"),
        col("exact_p90"),
        (abs(col("approx_p90") - col("exact_p90")) <=
          col("exact_p90") * lit(0.01)).as("p90_within_1pct"),
        col("n"))
      .orderBy(col("l_returnflag"))

  /** SQL front door + correlated LATERAL subquery: top-2 orders per
    * customer via `spark.sql` over temp views — the decorrelation
    * path (Catalyst rewrites the per-row subquery into a ranked join,
    * not a nested loop; the same query through the DataFrame API is
    * q12's window form). ORDER BY + LIMIT inside a correlated lateral
    * exercises DecorrelateInnerQuery end-to-end.
    */
  def q49SqlLateral(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_custkey <= 200
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""")
  }

  /** RANGE interval frame — value-based framing over event time
    * (q13's ROWS twin with genuinely different semantics: the frame is
    * "orders in the last 30 days", peers included, not "last N rows").
    * Both engines run the identical SQL text. One shuffle on the
    * partition key; the frame scan is a per-partition sliding sum.
    */
  def q64RangeFrame(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(sqlRangeFrame)
  }

  private val sqlRangeFrame = """
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
      FROM orders WHERE o_custkey <= 100
      ORDER BY o_custkey, o_orderdate, o_orderkey"""

  /** Global-ratio aggregation, spelled for scale: per-group revenue
    * share of the corpus total. The naive `sum() OVER ()` empty-frame
    * window funnels EVERY row through one partition (the classic
    * single-reducer cliff); this form partial-aggregates both sides
    * and broadcasts the one-row total — two scan-bound aggregations,
    * zero wide shuffles beyond the groupBy.
    */
  def q65GlobalRatio(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val tot = li.agg(dsum(col("l_extendedprice")).as("tot"))
    li.groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice")).as("flag_rev"))
      .crossJoin(broadcast(tot))
      .select(col("l_returnflag"), col("flag_rev"),
        (col("flag_rev") / col("tot")).as("rev_share"))
      .orderBy(col("l_returnflag"))
  }

  /** Time-series gap fill (resample): a calendar spine per entity
    * (generated, not stored — `sequence` over a broadcast 1-row
    * min/max) left-joins the actual daily counts, zero-filling silent
    * days. The standard shape for "orders per customer per day
    * including days with none"; spine generation is a generator stage
    * linear in OUTPUT rows, and the join shuffles on the (entity, day)
    * key the aggregation already produced.
    */
  def q66GapFill(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").where(col("o_custkey") <= 5)
      .select(col("o_custkey"),
        to_date(date_trunc("day", col("o_orderdate"))).as("day"))
    val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = o.select(col("o_custkey")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("o_custkey"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val actual = o.groupBy(col("o_custkey"), col("day"))
      .agg(count(lit(1)).as("n"))
    spine.join(actual, Seq("o_custkey", "day"), "left")
      .select(col("o_custkey"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy(col("o_custkey"), col("day"))
  }

  /** Equi-width histogram — the profiling primitive behind every data
    * summary pane: 20 buckets of `l_extendedprice` between the global
    * min and max, with per-bucket count and exact (decimal-routed)
    * revenue. The [min, max] pair is a scalar aggregate that rides a
    * broadcast cross join (q65's global-ratio pattern — never a
    * partition-less window over the fact table); bucket assignment is
    * then a pure map expression and the histogram itself ONE
    * partial-aggregated groupBy on ≤ 20 keys. The bucket index and
    * the bucket bounds are each a single fixed IEEE expression tree
    * spelled identically in DuckDB (`width_bucket` is avoided — it
    * doesn't exist there), with the top edge closed by `least(19, ·)`
    * so x = max lands in the last bucket in both engines.
    */
  def q103Histogram(s: SparkSession, dir: String): DataFrame = {
    val nb = 20
    val li = t(s, dir, "lineitem")
    val bounds = li.agg(min(col("l_extendedprice")).as("mn"),
      max(col("l_extendedprice")).as("mx"))
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket", least(lit(19L),
        floor(((col("l_extendedprice") - col("mn")) * lit(nb.toDouble)) /
          (col("mx") - col("mn")))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("sum_price"),
        min(col("mn")).as("mn"), min(col("mx")).as("mx"))
      .select(col("bucket"),
        (col("mn") + (col("bucket").cast("double") * (col("mx") - col("mn")))
          / lit(nb.toDouble)).as("lo"),
        (col("mn") + ((col("bucket") + 1).cast("double") *
          (col("mx") - col("mn"))) / lit(nb.toDouble)).as("hi"),
        col("n"), col("sum_price"))
      .orderBy(col("bucket"))
  }

  /** Data-quality constraint report — the validation gate a pipeline
    * runs before anything consumes a table (the deequ/Great-
    * Expectations shape): null keys, value-range violations,
    * duplicate primary keys, and orphan foreign keys, one row per
    * check with its violation count. The driver tables are clean, so
    * the query PLANTS two bad lineitem rows in-plan (an orphan order
    * key and a negative price — q88's twin construction, both engines
    * build them identically) and the checks must find exactly those.
    *
    * Scale shape: the null/range checks are conditional sums fused
    * into ONE scan aggregate; duplicates are a partial-agg groupBy on
    * the key; orphans are a left-anti join against the (broadcast-
    * able) key set — each the canonical spelling of its constraint,
    * and the report is a union of one-row aggregates, so nothing
    * widens the fact scan.
    */
  def q110DqReport(s: SparkSession, dir: String): DataFrame = {
    val planted = Seq(
      (-1L, -5.0), // orphan l_orderkey
      (1L, -42.0)) // negative price on a real order
    val bad = s.createDataFrame(planted)
      .toDF("l_orderkey", "l_extendedprice")
      .select(col("l_orderkey"), lit(null).cast("double").as("l_discount"),
        col("l_extendedprice"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_discount"), col("l_extendedprice"))
      .unionByName(bad)
    val orders = t(s, dir, "orders").select(col("o_orderkey"))
    val scanChecks = li.agg(
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_key"),
      sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L)).as("neg_price"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("bad_discount"))
    val dupKeys = t(s, dir, "orders").groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0L)).as("v"))
    val orphans = li.join(orders,
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    scanChecks.select(lit("lineitem").as("table_name"),
        lit("null_order_key").as("check"), col("null_key").as("violations"))
      .unionByName(scanChecks.select(lit("lineitem").as("table_name"),
        lit("negative_price").as("check"), col("neg_price").as("violations")))
      .unionByName(scanChecks.select(lit("lineitem").as("table_name"),
        lit("discount_in_[0,1]").as("check"),
        col("bad_discount").as("violations")))
      .unionByName(dupKeys.select(lit("orders").as("table_name"),
        lit("unique_order_key").as("check"), col("v").as("violations")))
      .unionByName(orphans.select(lit("lineitem").as("table_name"),
        lit("orphan_order_key").as("check"), col("v").as("violations")))
      .withColumn("passed", col("violations") === 0)
      .orderBy(col("table_name"), col("check"))
  }

  /** Incremental aggregate maintenance — the materialized-view delta
    * merge every warehouse runs nightly, and the relational twin of
    * the q48/q81/q93 incremental-index family: the pricing summary's
    * MERGEABLE partials (count, decimal Σqty, decimal Σprice per
    * group) are staged to parquet over the corpus split
    * (`l_orderkey % 10 ≠ 9`, the q81 split convention), the new batch
    * contributes delta partials, and the refreshed view is
    * partials ∪ delta → one more partial-agg merge — the new batch is
    * scanned ONCE and the corpus is never rescanned. Decimal addition
    * is exact and associative, so the merged view equals a full
    * recompute bit-for-bit: the DuckDB oracle IS the full recompute
    * over the whole table, and the hash match is the proof the
    * incremental path loses nothing.
    */
  def q112IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val work = graft.ops.Dedup.stageRoot(dir)
    val dec = "decimal(28,6)"
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"), col("l_orderkey"))
    val isNew = col("l_orderkey") % 10 === 9
    def partials(rows: org.apache.spark.sql.DataFrame) =
      rows.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).as("sq"),
          sum(col("l_extendedprice").cast(dec)).as("sp"))
    partials(li.where(!isNew))
      .stagePublish(work, "agg_state")
    Staged.read(s, work, "agg_state")
      .unionByName(partials(li.where(isNew)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n")).as("n_rows"), sum(col("sq")).as("sq"),
        sum(col("sp")).as("sp"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        col("sq").cast("double").as("sum_qty"),
        col("sp").cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val defs: Map[String, Q] = Map(
    "q112_incremental_agg" -> (q112IncrementalAgg _),
    "q110_dq_report" -> (q110DqReport _),
    "q103_histogram" -> (q103Histogram _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_segment_revenue" -> (q03SegmentRevenue _),
    "q04_semi_join" -> (q04SemiJoin _),
    "q05_local_supplier" -> (q05LocalSupplier _),
    "q06_revenue_forecast" -> (q06RevenueForecast _),
    "q07_anti_join" -> (q07AntiJoin _),
    "q08_outer_counts" -> (q08OuterCounts _),
    "q09_full_outer" -> (q09FullOuter _),
    "q10_range_join" -> (q10RangeJoin _),
    "q11_theta_self_join" -> (q11ThetaSelfJoin _),
    "q12_window_rank" -> (q12WindowRank _),
    "q13_window_frame" -> (q13WindowFrame _),
    "q14_top_k" -> (q14TopK _),
    "q15_distinct" -> (q15Distinct _),
    "q16_rollup" -> (q16Rollup _),
    "q17_cube" -> (q17Cube _),
    "q18_grouping_sets" -> (q18GroupingSets _),
    "q19_set_ops" -> (q19SetOps _),
    "q20_string_funcs" -> (q20StringFuncs _),
    "q21_date_funcs" -> (q21DateFuncs _),
    "q22_json" -> (q22Json _),
    "q23_conditional_agg" -> (q23ConditionalAgg _),
    "q24_asof_join" -> (q24AsOfJoin _),
    "q25_explode_words" -> (q25ExplodeWords _),
    "q26_global_sort" -> (q26GlobalSort _),
    "q27_pivot" -> (q27Pivot _),
    "q28_approx_distinct" -> (q28ApproxDistinct _),
    "q29_map_json" -> (q29MapJson _),
    "q38_salted_distinct" -> (q38SaltedDistinct _),
    "q39_bucketed_join" -> (q39BucketedJoin _),
    "q43_unpivot" -> (q43Unpivot _),
    "q44_percentiles" -> (q44Percentiles _),
    "q45_dist_windows" -> (q45DistWindows _),
    "q46_approx_percentiles" -> (q46ApproxPercentiles _),
    "q49_sql_lateral" -> (q49SqlLateral _),
    "q64_range_frame" -> (q64RangeFrame _),
    "q65_global_ratio" -> (q65GlobalRatio _),
    "q66_gap_fill" -> (q66GapFill _),
  )

  val oracles: Map[String, String] = Map(
    // the oracle is the FULL recompute — a hash match proves the
    // staged-partials + delta merge is lossless
    "q112_incremental_agg" -> """
      SELECT l_returnflag, l_linestatus, COUNT(1) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
          AS sum_price
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q110_dq_report" -> """
      WITH li AS (SELECT l_orderkey, l_discount, l_extendedprice FROM lineitem
                  UNION ALL SELECT -1, NULL, -5.0
                  UNION ALL SELECT 1, NULL, -42.0),
      scan AS (SELECT
          CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS null_key,
          CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS neg_price,
          CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS bad_discount
        FROM li),
      dup AS (SELECT COALESCE(CAST(SUM(n - 1) AS BIGINT), 0) AS v FROM
                (SELECT o_orderkey, COUNT(1) AS n FROM orders
                 GROUP BY o_orderkey HAVING COUNT(1) > 1)),
      orph AS (SELECT COUNT(1) AS v FROM li
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = li.l_orderkey)),
      rep AS (
        SELECT 'lineitem' AS table_name, 'null_order_key' AS "check",
          null_key AS violations FROM scan
        UNION ALL SELECT 'lineitem', 'negative_price', neg_price FROM scan
        UNION ALL SELECT 'lineitem', 'discount_in_[0,1]', bad_discount
          FROM scan
        UNION ALL SELECT 'orders', 'unique_order_key', v FROM dup
        UNION ALL SELECT 'lineitem', 'orphan_order_key', v FROM orph)
      SELECT table_name, "check", violations, violations = 0 AS passed
      FROM rep ORDER BY table_name, "check"""",
    "q103_histogram" -> """
      WITH b AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
                 FROM lineitem),
      x AS (SELECT l_extendedprice AS x, mn, mx,
              least(19, CAST(floor(((l_extendedprice - mn) * 20.0)
                / (mx - mn)) AS BIGINT)) AS bucket
            FROM lineitem CROSS JOIN b),
      g AS (SELECT bucket, COUNT(1) AS n,
              CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
              MIN(mn) AS mn, MIN(mx) AS mx
            FROM x GROUP BY bucket)
      SELECT bucket,
        mn + (CAST(bucket AS DOUBLE) * (mx - mn)) / 20.0 AS lo,
        mn + (CAST(bucket + 1 AS DOUBLE) * (mx - mn)) / 20.0 AS hi,
        n, sum_price
      FROM g ORDER BY bucket""",
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(1) AS avg_qty,
        COUNT(1) AS count_order
      FROM lineitem WHERE l_shipdate <= '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-03-31' AND l_quantity > 45
      ORDER BY l_orderkey, l_linenumber""",
    "q03_segment_revenue" -> """
      SELECT o_orderkey, o_orderpriority,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1997-06-01'
        AND l_shipdate > '1997-06-01'
      GROUP BY o_orderkey, o_orderpriority
      ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q04_semi_join" -> """
      SELECT o_orderpriority, COUNT(1) AS order_count
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q05_local_supplier" -> """
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01'
        AND o_orderdate < '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q06_revenue_forecast" -> """
      SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 25""",
    "q07_anti_join" -> """
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "q08_outer_counts" -> """
      SELECT c_custkey, COUNT(o_orderkey) AS order_count,
        CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(28,6))) AS DOUBLE) AS total_spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""",
    "q09_full_outer" -> """
      SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
        COALESCE(c.customer_count, 0) AS customer_count,
        COALESCE(s.supplier_count, 0) AS supplier_count
      FROM (SELECT c_nationkey, COUNT(1) AS customer_count FROM customer GROUP BY c_nationkey) c
      FULL OUTER JOIN (SELECT s_nationkey, COUNT(1) AS supplier_count FROM supplier GROUP BY s_nationkey) s
        ON c.c_nationkey = s.s_nationkey
      ORDER BY nationkey""",
    "q10_range_join" -> """
      SELECT b.band, COUNT(1) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      FROM lineitem
      JOIN (SELECT k AS band, CAST(k*5 AS DOUBLE) AS lo, CAST((k+1)*5 AS DOUBLE) AS hi
            FROM range(0, 11) t(k)) b
        ON l_quantity >= b.lo AND l_quantity < b.hi
      GROUP BY b.band ORDER BY b.band""",
    "q11_theta_self_join" -> """
      SELECT r1.r_name AS r1_name, r2.r_name AS r2_name
      FROM region r1 JOIN region r2 ON r1.r_name < r2.r_name
      ORDER BY r1_name, r2_name""",
    "q12_window_rank" -> """
      SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
          ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
      WHERE rn <= 3 ORDER BY c_nationkey, rn""",
    "q13_window_frame" -> """
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
      FROM orders WHERE o_custkey < 200
      ORDER BY o_custkey, o_orderkey""",
    "q14_top_k" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      ORDER BY c_acctbal DESC, c_custkey LIMIT 10""",
    "q15_distinct" -> """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus""",
    "q16_rollup" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        COUNT(1) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q17_cube" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q18_grouping_sets" -> """
      SELECT r_name, n_name, COUNT(1) AS n_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name), (r_name, n_name))
      ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",
    "q19_set_ops" -> """
      SELECT c_custkey FROM (
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      ORDER BY c_custkey""",
    "q20_string_funcs" -> """
      SELECT p_partkey, UPPER(p_name) AS up_name, SUBSTR(p_name, 1, 4) AS pfx,
        LENGTH(p_name) AS name_len,
        p_brand || ':' || p_type AS brand_type,
        REPLACE(p_name, ' ', '_') AS snake,
        LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size4,
        REPEAT('*', p_size) AS stars
      FROM part ORDER BY p_partkey""",
    "q21_date_funcs" -> """
      SELECT CAST(YEAR(o_orderdate) AS INT) AS y, CAST(MONTH(o_orderdate) AS INT) AS m,
        COUNT(1) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY 1, 2 ORDER BY y, m""",
    "q22_json" -> """
      SELECT event_type, COUNT(1) AS n,
        CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
        MIN(CAST(props->>'k' AS INT)) AS min_k,
        MAX(CAST(props->>'k' AS INT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q23_conditional_agg" -> """
      SELECT c_nationkey, COUNT(1) AS n_customers,
        CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        COUNT(DISTINCT c_mktsegment) AS n_segments,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(1) AS avg_bal
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q24_asof_join" -> """
      SELECT event_id, user_id, ts_us, last_click_us
      FROM (
        SELECT user_id, ts_us, kind, event_id,
          LAST_VALUE(click_us IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, kind ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
        FROM (
          SELECT user_id, epoch_us(ts) AS ts_us, 0 AS kind, CAST(NULL AS BIGINT) AS event_id, epoch_us(ts) AS click_us
          FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, epoch_us(ts) AS ts_us, 1 AS kind, event_id, CAST(NULL AS BIGINT) AS click_us
          FROM events WHERE event_type = 'purchase'))
      WHERE kind = 1 ORDER BY event_id""",
    "q25_explode_words" -> """
      SELECT word, COUNT(1) AS n
      FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      GROUP BY word ORDER BY n DESC, word""",
    "q26_global_sort" -> """
      SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
      FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber""",
    "q27_pivot" -> """
      SELECT o_orderpriority,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // q28/q46: the approx sketches are engine-specific and can never
    // hash-match, so the catalog forms emit (exact, within_envelope)
    // computed inside the Spark plan; the oracle computes the exact
    // aggregate and literal true. A hash match certifies both the exact
    // computation and the sketch's error envelope. The raw sketch
    // envelopes are additionally spec-asserted in PlanSpec.
    "q28_approx_distinct" -> """
      SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
        true AS parts_within_5pct,
        COUNT(DISTINCT l_orderkey) AS exact_orders,
        true AS orders_within_5pct
      FROM lineitem""",
    "q46_approx_percentiles" -> """
      SELECT l_returnflag,
        quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        true AS p50_within_1pct,
        quantile_cont(l_extendedprice, 0.9) AS exact_p90,
        true AS p90_within_1pct,
        COUNT(1) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q29_map_json" -> """
      SELECT event_type, n_keys, keys, COUNT(1) AS n,
        MIN(k) AS min_k, MAX(k) AS max_k
      FROM (
        SELECT event_type,
          CAST(len(json_keys(props)) AS INT) AS n_keys,
          array_to_string(json_keys(props), ',') AS keys,
          CAST(props->>'k' AS INT) AS k
        FROM events)
      GROUP BY event_type, n_keys, keys
      ORDER BY event_type, n_keys, keys""",
    // salting changes the physical plan, never the answer — the oracle
    // is the plain distinct aggregation
    "q38_salted_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        COUNT(1) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""",
    // bucketing changes the physical plan, never the answer — the
    // oracle is the plain join
    "q39_bucketed_join" -> """
      SELECT o_orderpriority, COUNT(1) AS n_items,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the UNION ALL spelling is the portable twin of DataFrame.unpivot
    "q43_unpivot" -> """
      WITH wide AS (
        SELECT n_name,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_acctbal,
          CAST(COUNT(1) AS DOUBLE) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name)
      SELECT n_name, metric, value FROM (
        SELECT n_name, 'sum_acctbal' AS metric, sum_acctbal AS value FROM wide
        UNION ALL
        SELECT n_name, 'n_customers' AS metric, n_customers AS value FROM wide)
      ORDER BY n_name, metric""",
    "q44_percentiles" -> """
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25_qty,
        quantile_cont(l_quantity, 0.5) AS p50_qty,
        quantile_cont(l_quantity, 0.75) AS p75_qty,
        quantile_cont(l_quantity, 0.5) AS med_qty,
        COUNT(1) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q45_dist_windows" -> """
      SELECT c_nationkey, c_custkey, c_acctbal,
        NTILE(4) OVER w AS quartile,
        PERCENT_RANK() OVER w AS pct_rank,
        CUME_DIST() OVER w AS cume
      FROM customer WHERE c_custkey <= 300
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_nationkey, c_custkey""",
    "q49_sql_lateral" -> """
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_custkey <= 200
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",
    // identical SQL text runs on both engines
    "q64_range_frame" -> sqlRangeFrame,
    // the broadcast-total spelling is answer-identical to sum() OVER ()
    "q65_global_ratio" -> """
      WITH tot AS (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS tot
                   FROM lineitem),
      grp AS (SELECT l_returnflag,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS flag_rev
              FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, flag_rev, flag_rev / tot AS rev_share
      FROM grp CROSS JOIN tot ORDER BY l_returnflag""",
    "q66_gap_fill" -> """
      WITH o AS (SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS day
                 FROM orders WHERE o_custkey <= 5),
      bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o),
      spine AS (SELECT c.o_custkey, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
                FROM (SELECT DISTINCT o_custkey FROM o) c, bounds b),
      actual AS (SELECT o_custkey, day, COUNT(1) AS n FROM o GROUP BY o_custkey, day)
      SELECT s.o_custkey, s.day, COALESCE(a.n, 0) AS n_orders
      FROM spine s LEFT JOIN actual a ON s.o_custkey = a.o_custkey AND s.day = a.day
      ORDER BY s.o_custkey, s.day""",
  )
}
