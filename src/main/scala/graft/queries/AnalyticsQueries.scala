package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables

/** The analytics query surface (SURVEY §7.1 step 7): the Grafana-facing
  * aggregations the reference delegates to ClickHouse, re-stated natively over
  * the harness tables, plus the classic join/agg shapes a 100 TB engine must
  * plan well.
  *
  * Float determinism: cross-engine (Spark vs DuckDB oracle) sums of doubles
  * are order-sensitive, so money aggregates are computed in DECIMAL (exact,
  * order-insensitive) and cast to double at the end. Both engines produce
  * bit-identical results that way.
  */
object AnalyticsQueries {

  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)

  /** TPC-H Q1 shape: big scan + group-by aggregation. At scale: partial
    * (map-side) aggregation on 4 groups makes the shuffle ~constant-size per
    * partition regardless of input rows — the canonical 100 TB-safe agg.
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(D) - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: selective filters + 3-way join + agg + top-k.
    * At scale: customer filter first (pushed to scan), customer side broadcast
    * if small enough, orders⋈lineitem shuffle on the shared orderkey; final
    * TakeOrderedAndProject avoids a global sort.
    */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1995-03-15"))
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1995-03-15"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(D) - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }
  val q3ShippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: 6-way snowflake join. At scale: region/nation/supplier
    * are dimension tables → broadcast; only orders⋈lineitem shuffles.
    */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1998-01-01") && col("o_orderdate") < lit("2000-01-01"))
    val l = Tables.lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(c),
        o("o_custkey") === c("c_custkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)).cast(D) - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }
  val q5LocalSupplierSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Window — running per-key cumulative sum (the per-user "account balance
    * over time" Grafana shape). At scale: one shuffle on user_id; within each
    * partition the running frame is streaming (no buffering beyond the frame).
    */
  def wRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("running_value", sum(dec(col("value"))).over(w).cast(DoubleType))
      .select("event_id", "user_id", "running_value")
      .orderBy("event_id")
  }
  val wRunningSumSql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events)
      |SELECT event_id, user_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM ev ORDER BY event_id""".stripMargin

  /** Window — rank within group (top event per type by value). */
  def wRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("event_type", "rnk", "event_id", "value")
      .orderBy("event_type", "rnk")
  }
  val wRankSql: String =
    """SELECT event_type, rnk, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
      |  FROM events) WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin

  /** Time-bucketed OHLC — the flagship Grafana/ClickHouse query shape over the
    * event stream (SURVEY §7.1 step 7: `window($"transactionTime", ...)`
    * analog). Hourly open/high/low/close/volume per event_type. At scale:
    * map-side combinable agg (min_by/max_by/min/max/count), one shuffle on
    * (bucket, type) — safe at any row count; bucket count bounds state.
    */
  def wTimeBucketOhlc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"))
      .orderBy("bucket", "event_type")
  val wTimeBucketOhlcSql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |w AS (SELECT date_trunc('hour', ts) AS bucket, event_type, value,
      |  first_value(value) OVER (PARTITION BY date_trunc('hour', ts), event_type
      |    ORDER BY ts, event_id) AS o,
      |  last_value(value) OVER (PARTITION BY date_trunc('hour', ts), event_type
      |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
      |  FROM ev)
      |SELECT bucket, event_type, min(o) AS open, max(value) AS high,
      |  min(value) AS low, min(c) AS close, count(*) AS volume
      |FROM w GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Incremental aggregate maintenance: OHLC partial states computed over
    * an "already ingested" 80% slice and a "new batch" 20% slice are MERGED
    * — min_by/max_by re-keyed on the carried (ts, event_id) extremum keys,
    * sums added — and the merge provably equals the full recompute (the
    * oracle IS the full-recompute query). This is the materialized-view
    * maintenance shape: at 100 TB the old state is a stored table of
    * per-(bucket, type) states (constant size per bucket), and each ingest
    * batch costs one partial agg over the BATCH plus a merge on state keys
    * — never a rescan of history. Every aggregate here is algebraic
    * (mergeable partials); that property is what the query certifies.
    */
  def wOhlcMerge(s: SparkSession, d: String): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          min(struct(col("ts"), col("event_id"))).as("open_key"),
          max("value").as("high"),
          min("value").as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          max(struct(col("ts"), col("event_id"))).as("close_key"),
          count(lit(1)).as("volume"))
    val ev = Tables.events(s, d)
    val history = partial(ev.filter(col("event_id") % 10 < 8))
    val batch = partial(ev.filter(col("event_id") % 10 >= 8))
    history.union(batch)
      .groupBy("bucket", "event_type")
      .agg(
        min_by(col("open"), col("open_key")).as("open"),
        max("high").as("high"),
        min("low").as("low"),
        max_by(col("close"), col("close_key")).as("close"),
        sum("volume").as("volume"))
      .orderBy("bucket", "event_type")
  }
  // the oracle is the FULL RECOMPUTE — that equality is the point
  val wOhlcMergeSql: String = wTimeBucketOhlcSql

  /** Incremental view maintenance for a JOIN view — the algebra
    * [[wOhlcMerge]] certifies for aggregates, extended to the two-sided
    * case: with base/delta splits of both inputs,
    * `(A ∪ ΔA) ⋈ (B ∪ ΔB) = A⋈B ∪ A⋈ΔB ∪ ΔA⋈B ∪ ΔA⋈ΔB`, so a stored
    * aggregated view advances by computing only the three delta terms and
    * re-merging algebraic partials — never rejoining the full base sides.
    * The oracle IS the full recompute; their equality is the operator's
    * contract.
    *
    * Scale shape: every delta term has a delta-sized side, so at 100 TB
    * the maintenance joins broadcast the delta (base-side scan, zero
    * shuffle of the big side) while the stored `A⋈B` partials are read,
    * not recomputed — here all four terms run fresh because the point is
    * the equality proof. Partials are per-nation (group-count-sized);
    * the merge is a union + re-aggregation of algebraic sums.
    */
  def ivmJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val (oBase, oDelta) = (o.filter(col("o_orderkey") % 10 < 8),
      o.filter(col("o_orderkey") % 10 >= 8))
    val (cBase, cDelta) = (c.filter(col("c_custkey") % 7 =!= 0),
      c.filter(col("c_custkey") % 7 === 0))
    def term(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("cents").as("rev"))
    term(oBase, cBase).unionByName(term(oBase, cDelta))
      .unionByName(term(oDelta, cBase)).unionByName(term(oDelta, cDelta))
      .groupBy("c_nationkey")
      .agg(sum("n").as("n_orders"), sum("rev").as("revenue_cents"))
      .orderBy("c_nationkey")
  }
  val ivmJoinSql: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Incremental view maintenance for an AGGREGATE view under CDC-style
    * RETRACTIONS — [[ivmJoin]]'s one-sided sibling with deletes: the delta
    * stream carries signed multiplicities (+1 insert, −1 delete), the
    * stored per-group partials advance by summing SIGNED delta partials,
    * and groups whose maintained count reaches 0 vanish from the view.
    * Count/sum are self-maintainable under deletion (no rescan — unlike
    * MIN/MAX, which need auxiliary state; that asymmetry is the textbook
    * IVM result). The oracle is the full recompute over
    * (base ∖ deletes) ∪ inserts — the equality IS the contract.
    *
    * Scale shape: the base partials are stored state (group-count-sized,
    * read not recomputed at 100 TB); maintenance aggregates only the
    * delta, and the final merge is group-count-sized.
    */
  def ivmAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderstatus").as("g"),
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val base = o.filter(col("o_orderkey") % 10 < 8)
    val inserts = o.filter(col("o_orderkey") % 10 === 8).withColumn("sgn", lit(1L))
    val deletes = base.filter(col("o_custkey") % 5 === 0).withColumn("sgn", lit(-1L))
    val basePart = base.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("rev"))
    val deltaPart = inserts.unionByName(deletes).groupBy("g")
      .agg(sum("sgn").as("n"), sum(col("cents") * col("sgn")).as("rev"))
    basePart.unionByName(deltaPart).groupBy("g")
      .agg(sum("n").as("n_orders"), sum("rev").as("revenue_cents"))
      .filter(col("n_orders") > 0)
      .select(col("g").as("o_orderstatus"), col("n_orders"), col("revenue_cents"))
      .orderBy("o_orderstatus")
  }
  val ivmAggSql: String =
    """WITH eff AS (
      |  SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 10 < 8 AND o_custkey % 5 <> 0
      |  UNION ALL
      |  SELECT o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 10 = 8)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents
      |FROM eff GROUP BY o_orderstatus
      |HAVING count(*) > 0
      |ORDER BY o_orderstatus""".stripMargin

  /** Grouping sets / rollup — subtotal lattice over orders (SURVEY §2.3 notes
    * the reference lacks these; a complete engine surface includes them).
    */
  def gRollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"),
           count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  val gRollupSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  count(*) AS n
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** The materialized-rollup SERVE path as a board query — the aggregate
    * navigator ([[graft.plans.RollupRewrite]]) answering a COUNT(*) /
    * COUNT(col) / SUM / AVG / MIN / MAX group-by from a pre-built rollup
    * instead of the base scan, hash-checked against DuckDB running the
    * same aggregate over the raw table. The base is a scratch COPY of
    * lineitem's three needed columns (registering the shared sfDir table
    * itself would couple every other lineitem query to the rewrite),
    * keyed by the source file's (path, len, mtime) so a regenerated
    * testdata set rebuilds rather than serving stale. The `require` makes
    * this a real end-to-end pin: if the rewrite ever stops firing, the
    * query errors in the correctness gate instead of silently passing on
    * a base scan. AVG is hash-safe here because l_quantity is integral —
    * the sums are exact in double, so SUM(sums)/SUM(counts) is the same
    * IEEE division DuckDB performs.
    *
    * 100 TB: this is the pattern a dashboard runs — the scan is
    * group-NDV-sized (6 rows) regardless of base size, and the freshness
    * probe is one listing.
    */
  /** (base, rollup) scratch paths for the rollup board queries, keyed by
    * the source file's (path, len, mtime) so a regenerated testdata set
    * rebuilds rather than serving stale.
    */
  private def rollupScratch(d: String): (String, String) = {
    val src = new java.io.File(s"$d/lineitem.parquet")
    val key = math.abs(scala.util.hashing.MurmurHash3.stringHash(
      s"${src.getAbsolutePath}:${src.length}:${src.lastModified}"))
    val scratch = s"${System.getProperty("java.io.tmpdir")}/graft_rollup_$key"
    (s"$scratch/base", s"$scratch/rollup/r")
  }

  def gRollupServe(s: SparkSession, d: String): DataFrame = {
    // idempotent: the query must serve from the rewrite in ANY session
    // (the driver's Verify/Bench register too, but the plan-audit suites
    // iterate the whole board on a bare SparkSpec session)
    graft.catalyst.GraftExtensions.register(s)
    val (base, roll) = rollupScratch(d)
    if (!new java.io.File(base).isDirectory) {
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .write.mode("overwrite").parquet(base)
      graft.plans.MaterializedRollup.build(s, base, roll,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
    } else if (!graft.plans.MaterializedRollup.registered(s, base))
      graft.plans.MaterializedRollup.recover(s, roll) // the restart path
    val q = s.read.parquet(base).groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        count(col("l_quantity")).as("n_qty"),
        sum("l_quantity").as("sum_qty"),
        avg("l_quantity").as("avg_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      .orderBy("l_returnflag", "l_linestatus")
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains(roll) && !plan.contains(base),
      s"rollup rewrite must serve this query; got plan:\n$plan")
    q
  }
  /** The FILTERED serve path — `WHERE group_key ... GROUP BY group_key`,
    * the single most common dashboard shape: the predicate re-anchors onto
    * the rollup (a group-key filter partitions base rows exactly along
    * rollup rows), so the whole query is answered from the NDV-sized
    * table under the filter. Shares [[gRollupServe]]'s scratch + registry.
    */
  def gRollupFiltered(s: SparkSession, d: String): DataFrame = {
    gRollupServe(s, d) // ensures the scratch copy + registration exist
    val (base, roll) = rollupScratch(d)
    val q = s.read.parquet(base)
      .filter(col("l_returnflag") =!= "N" && col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum("l_quantity").as("sum_qty"),
        avg("l_quantity").as("avg_qty"))
      .orderBy("l_returnflag")
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains(roll) && !plan.contains(base),
      s"filtered rollup rewrite must serve this query; got plan:\n$plan")
    q
  }
  val gRollupFilteredSql: String =
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  sum(l_quantity) AS sum_qty,
      |  avg(l_quantity) AS avg_qty
      |FROM lineitem WHERE l_returnflag <> 'N' AND l_linestatus = 'F'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val gRollupServeSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(l_quantity) AS BIGINT) AS n_qty,
      |  sum(l_quantity) AS sum_qty,
      |  avg(l_quantity) AS avg_qty,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Unpivot (melt) — the inverse of [[gPivot]]'s wide shape: per-flag
    * measure columns stacked into (measure, value) rows via the `stack`
    * generator. Runs AFTER the aggregation, so the generator fans out over
    * group-count rows, never data-scale ones; the long shape is what
    * metric stores and plotting layers ingest.
    */
  def gUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("price"),
        sum(dec(col("l_tax"))).cast(DoubleType).as("tax"))
      .selectExpr("l_returnflag",
        "stack(3, 'qty', qty, 'price', price, 'tax', tax) AS (measure, value)")
      .orderBy("l_returnflag", "measure")
  val gUnpivotSql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
      |    CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, measure, value FROM (
      |  SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'price' AS measure, price AS value FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'tax' AS measure, tax AS value FROM w)
      |ORDER BY l_returnflag, measure""".stripMargin

  /** Distinct + approximate distinct. The exact count is the oracle-checked
    * column; HLL (`approx_count_distinct`) is exercised in tests (not
    * cross-engine hash-stable by construction).
    */
  def gDistinctAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  val gDistinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** CUBE — the full subtotal lattice (rollup's sibling). */
  def gCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  val gCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** PIVOT — status columns per priority (oracle as portable CASE sums,
    * which is exactly what Catalyst lowers pivot to).
    */
  def gPivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")
  val gPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Column profiling — the data-quality summary every training pipeline
    * runs before ingest: per-column counts, null counts, min/max, exact
    * decimal means. One map-side-combinable aggregation pass over the table.
    */
  def gProfile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("qty_nulls"),
        min("l_quantity").as("qty_min"),
        max("l_quantity").as("qty_max"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(col("l_quantity"))).as("qty_mean"),
        min("l_shipdate").as("ship_min"),
        max("l_shipdate").as("ship_max"),
        countDistinct(col("l_returnflag")).as("flag_distinct"))
  val gProfileSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
      |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS qty_mean,
      |  min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max,
      |  count(DISTINCT l_returnflag) AS flag_distinct
      |FROM lineitem""".stripMargin

  /** Equi-width histogram in exact long-cents: bucket = cents div width.
    * All-integer (bucket keys, counts, cent sums), fully partial-aggregable
    * — one hash aggregation whose key count is bounded by the value range,
    * not the row count.
    */
  val HistWidthCents = 2500000L // $25k buckets

  def gHistogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("c"))
      .select(expr(s"c div $HistWidthCents").as("bucket"), col("c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), sum("c").as("sum_cents"))
      .select(col("bucket"), (col("bucket") * (HistWidthCents / 100L)).as("lo_usd"),
        col("cnt"), col("sum_cents"))
      .orderBy("bucket")
  val gHistogramSql: String =
    s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
       |SELECT c // $HistWidthCents AS bucket,
       |  (c // $HistWidthCents) * ${HistWidthCents / 100L} AS lo_usd,
       |  CAST(count(*) AS BIGINT) AS cnt, CAST(sum(c) AS BIGINT) AS sum_cents
       |FROM c GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Robust per-group outlier counts via median absolute deviation, kept
    * EXACT across engines by working in doubled/quadrupled cent units:
    * `m2 = 2·median(cents)` and `d4 = 4·MAD` are integers even when the
    * even-count median interpolates at .5, so the outlier fence
    * `|cents−median| > 1.5·MAD` becomes the integer test `4·dev2 > 3·d4`
    * (dev2 = |2c − m2|). The 1.5 multiplier is a dial; it is kept rational
    * so any choice stays integer-exact. Two grouped-median passes + one
    * counting pass; medians are per-group exact percentiles.
    */
  /** Exact 2×median per group from a value-count histogram — the
    * scale-safe exact-median construction [[PipelineQueries.exactMedian]]
    * pioneered, factored for reuse: a `percentile()` aggregate buffers
    * every group value in one task (the 100 TB OOM), while the histogram
    * shuffles only (group, value, count) rows and runs its windows over
    * NDV-sized partitions. `x_k1 + x_k2` (the two middle order statistics)
    * is the integer-exact form of `round(2·interpolated_median)`.
    */
  /** Shared scaffolding for every histogram order statistic: per (group,
    * value) counts with the rank interval [lo, hi] each value covers and
    * the group total `n`. Both [[medianX2]] and [[gExactPcts]] select
    * their order statistics from this one construction.
    */
  /** Bucket width for the two-level cumulative sum below (2¹⁶ integer
    * units per bucket — cents values up to ~10⁹ yield ≤ ~16k buckets).
    */
  private val HistBucketWidth = 1L << 16

  /** Two-level construction (the [[PipelineQueries.sequencePack]] prefix-sum
    * discipline): the data-sized window partitions by (group, VALUE BUCKET)
    * — each partition holds one bucket's distinct values, never a whole
    * group's NDV — and a second, bucket-count-sized window over per-bucket
    * totals supplies each bucket's offset. A single group-partitioned
    * running sum would funnel every distinct value of a group into one
    * task: fine when NDV is small, a straggler when a near-unique measure
    * (price cents) meets a 3-value group key. `v` must be integral.
    */
  private[graft] def cumulatedHistogram(vals: DataFrame, grp: String, v: String): DataFrame =
    cumulatedHistogramOf(
      vals.groupBy(col(grp), col(v)).agg(count(lit(1)).as("cnt")), grp, v)

  /** [[cumulatedHistogram]] over a PRE-COUNTED `(grp, v, cnt)` frame — for
    * callers whose multiplicities are already aggregated (e.g. the
    * [[spearman]] pair table, where each value's count is a SUM of joint
    * cell counts, not a row count).
    */
  private[graft] def cumulatedHistogramOf(counted: DataFrame, grp: String,
      v: String): DataFrame = {
    // Materialize the NDV-sized histogram ONCE: `h` feeds both the
    // in-bucket window (hh) and the bucket-offset aggregation (off), and
    // without a checkpoint Spark re-executes the whole upstream counted
    // frame — including its data-scale groupBy and everything below it —
    // once per consumer (guide §3.3 plan truncation: ts_theil_sen's plan
    // carried FOUR copies of its O(D²) pair generation, 18 parquet scans
    // in g_mad_outliers / t_quantile_norm). Measured at sf0.1 (full-board
    // medians): ts_theil_sen 3.84→1.34 s, g_mad_outliers 2.63→1.61 s,
    // g_spearman 5.24→2.59 s, g_exact_pcts 2.31→1.18 s, g_trimmed_mean
    // 2.07→1.40 s. The checkpoint is value-NDV-sized (the
    // helper's defining bound), the same in-run materialization discipline
    // every iterative operator here already uses.
    // CLUSTER CAVEAT (guide §5): localCheckpoint stores blocks on
    // executors and is NON-RECOVERABLE under executor loss or dynamic
    // allocation — on a real cluster this shared helper should persist
    // the histogram to reliable storage (checkpoint dir / a table)
    // instead; every histogram consumer inherits that swap from here.
    val h = counted
      .withColumn("_b", expr(s"`$v` div $HistBucketWidth"))
      .localCheckpoint(true)
    val inBucket = Window.partitionBy(grp, "_b").orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hh = h.withColumn("_hi_in", sum("cnt").over(inBucket))
    val priorBuckets = Window.partitionBy(grp).orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wholeGroup = Window.partitionBy(grp)
    val off = h.groupBy(col(grp), col("_b")).agg(sum("cnt").as("_bcnt"))
      .withColumn("_off", coalesce(sum("_bcnt").over(priorBuckets), lit(0L)))
      .withColumn("n", sum("_bcnt").over(wholeGroup))
      .select(col(grp), col("_b"), col("_off"), col("n"))
    hh.join(off, Seq(grp, "_b"))
      .withColumn("hi", col("_off") + col("_hi_in"))
      .withColumn("lo", col("hi") - col("cnt") + 1)
      .drop("_b", "_hi_in", "_off")
  }

  /** Single-group variant of [[cumulatedHistogram]] (no group column;
    * returns `v, cnt, lo, hi, n`). With a constant group key the optimizer
    * folds the partition spec away and the per-group offset windows would
    * surface as partition-less Window operators — flagged by
    * [[graft.tools.PlanAudit]] even though their frame is bucket-count
    * sized. This variant computes the bucket offsets with an inequality
    * SELF-JOIN over the bucket totals instead: O(B²) work on a frame
    * bounded by valueRange/2¹⁶ + 1 rows (single digits for LM-score
    * domains), planned as a broadcast nested loop over a bounded side —
    * the audit's accepted warn-level shape. The data-scale window stays
    * partitioned by value bucket, exactly as in the grouped form.
    */
  private[graft] def globalCumHistogram(vals: DataFrame, v: String): DataFrame = {
    // Same single-materialization rationale as [[cumulatedHistogramOf]]:
    // `h` is consumed by hh AND bt (and bt three more times via off/tot),
    // so an unmaterialized h re-runs the data-scale `vals` aggregation per
    // consumer. NDV-sized checkpoint, one job, upstream runs once.
    val h = vals.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
      .withColumn("_b", expr(s"`$v` div $HistBucketWidth"))
      .localCheckpoint(true)
    val inBucket = Window.partitionBy("_b").orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hh = h.withColumn("_hi_in", sum("cnt").over(inBucket))
    val bt = h.groupBy("_b").agg(sum("cnt").as("_bcnt"))
    val off = bt
      .join(bt.select(col("_b").as("_b2"), col("_bcnt").as("_c2")),
        col("_b2") < col("_b"), "left")
      .groupBy("_b")
      .agg(coalesce(sum("_c2"), lit(0L)).as("_off"))
    val tot = bt.agg(sum("_bcnt").cast("long").as("n"))
    hh.join(broadcast(off), Seq("_b")).crossJoin(broadcast(tot))
      .withColumn("hi", col("_off") + col("_hi_in"))
      .withColumn("lo", col("hi") - col("cnt") + 1)
      .drop("_b", "_hi_in", "_off")
  }

  private def medianX2(vals: DataFrame, grp: String, v: String, out: String): DataFrame =
    cumulatedHistogram(vals, grp, v)
      .withColumn("k1", expr("(n + 1) div 2"))
      .withColumn("k2", expr("(n + 2) div 2"))
      .withColumn("cov",
        when(col("k1").between(col("lo"), col("hi")), 1L).otherwise(0L) +
          when(col("k2").between(col("lo"), col("hi")), 1L).otherwise(0L))
      .filter(col("cov") > 0)
      .groupBy(grp).agg(sum(col(v) * col("cov")).as(out))

  def gMadOutliers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.orders(s, d).select(col("o_orderstatus").as("st"),
      round(col("o_totalprice") * 100).cast("long").as("c"))
    val m = medianX2(c, "st", "c", "m2")
    val dvt = c.join(broadcast(m), "st").withColumn("dev2", abs(col("c") * 2 - col("m2")))
    val mad = medianX2(dvt.select(col("st"), col("dev2")), "st", "dev2", "d4")
    dvt.join(broadcast(mad), "st")
      .groupBy("st").agg(
        count(lit(1)).as("n"),
        first("m2").as("median_x2_cents"),
        first("d4").as("mad_x4_cents"),
        sum(when(col("dev2") * 4 > col("d4") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .select(col("st").as("o_orderstatus"), col("n"),
        col("median_x2_cents"), col("mad_x4_cents"), col("n_outliers"))
      .orderBy("o_orderstatus")
  }
  val gMadOutliersSql: String =
    """WITH c AS (SELECT o_orderstatus AS st,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
      |m AS (SELECT st, CAST(round(quantile_cont(c, 0.5) * 2) AS BIGINT) AS m2
      |      FROM c GROUP BY 1),
      |d AS (SELECT c.st, abs(c.c * 2 - m.m2) AS dev2, m.m2 FROM c JOIN m USING (st)),
      |md AS (SELECT st, CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS d4
      |       FROM d GROUP BY 1)
      |SELECT d.st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(d.m2) AS BIGINT) AS median_x2_cents,
      |  CAST(min(md.d4) AS BIGINT) AS mad_x4_cents,
      |  CAST(sum(CASE WHEN dev2 * 4 > md.d4 * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN md USING (st) GROUP BY 1 ORDER BY 1""".stripMargin

  /** ClickHouse-`argMax`/`argMin` per group, made deterministic under value
    * ties by folding the tie-break INTO the comparison: `max(struct(value,
    * key))` is a lexicographic max, so equal values resolve by key instead
    * of by partition arrival order (`max_by` alone is nondeterministic on
    * ties). One partial-aggregable pass.
    */
  /** Exact DISCRETE percentiles (p50/p95/p99) per group from ONE value-
    * count histogram — the ops-metric staple (p95 latency boards) built on
    * the same scale-safe construction as [[medianX2]]: order statistic `k`
    * is the smallest value whose cumulative count reaches `k`, and all
    * three ks read off the same cumulated histogram with conditional sums.
    * `k_p = ceil(p·n)` in exact integer arithmetic — no interpolation, no
    * floats, so the oracle's `row_number` replay matches bit for bit.
    */
  def gExactPcts(s: SparkSession, d: String): DataFrame = {
    val c = Tables.lineitem(s, d).select(col("l_returnflag").as("g"),
      round(col("l_extendedprice") * 100).cast("long").as("v"))
    cumulatedHistogram(c, "g", "v")
      .withColumn("k50", expr("(n + 1) div 2"))
      .withColumn("k95", expr("(19 * n + 19) div 20"))
      .withColumn("k99", expr("(99 * n + 99) div 100"))
      .groupBy("g")
      .agg(
        first("n").as("n"),
        sum(when(col("k50").between(col("lo"), col("hi")), col("v"))).as("p50_cents"),
        sum(when(col("k95").between(col("lo"), col("hi")), col("v"))).as("p95_cents"),
        sum(when(col("k99").between(col("lo"), col("hi")), col("v"))).as("p99_cents"))
      .select(col("g").as("l_returnflag"), col("n"),
        col("p50_cents"), col("p95_cents"), col("p99_cents"))
      .orderBy("l_returnflag")
  }
  val gExactPctsSql: String =
    """WITH o AS (SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT)) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT g AS l_returnflag, CAST(min(n) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT) AS p50_cents,
      |  CAST(min(CASE WHEN rn = (19 * n + 19) // 20 THEN v END) AS BIGINT) AS p95_cents,
      |  CAST(min(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS BIGINT) AS p99_cents
      |FROM o GROUP BY g ORDER BY g""".stripMargin

  /** Tie-stable grouped MODE: most frequent quantity per return flag,
    * equal frequencies resolved to the SMALLEST value (a total order, so
    * every engine agrees). Ranking runs over the NDV-sized histogram, not
    * the data.
    */
  def gMode(s: SparkSession, d: String): DataFrame = {
    val h = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val best = Window.partitionBy("g").orderBy(col("cnt").desc, col("v"))
    h.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("g").as("l_returnflag"), col("v").as("mode_qty"),
        col("cnt").as("mode_count"))
      .orderBy("l_returnflag")
  }
  val gModeSql: String =
    """WITH h AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
      |             count(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT g, v, cnt,
      |        row_number() OVER (PARTITION BY g ORDER BY cnt DESC, v) AS rn FROM h)
      |SELECT g AS l_returnflag, v AS mode_qty, CAST(cnt AS BIGINT) AS mode_count
      |FROM r WHERE rn = 1 ORDER BY g""".stripMargin

  /** Market-basket association: top co-purchased part pairs by support,
    * with exact-integer lift `n·c_xy / (c_x·c_y)` (one IEEE division of
    * exactly-representable longs — deterministic cross-engine). Pair
    * generation is per-order (bounded by line count); per-part frequencies
    * broadcast into the pair table.
    */
  def gPairLift(s: SparkSession, d: String): DataFrame = {
    // ONE lineitem scan + one shuffle feed everything: the per-order
    // part-set frame is materialized once, and the order count (distinct
    // orderkeys), per-part frequencies (distinct (ok, part) counts — the
    // sets are per-order distinct by construction) and the pair counts
    // all derive from it. The previous form scanned lineitem 4x (its own
    // (ok, part) distinct twice, plus orderPartPairs' separate scan; 8
    // parquet scans in the r18 before-plan).
    val byOrder = graft.operators.GraphOps.partSets(s, d).localCheckpoint(true)
    val n = byOrder.agg(count(lit(1)).as("n_orders"))
    val pairs = graft.operators.GraphOps.pairsOf(byOrder)
      .groupBy("u", "v").agg(count(lit(1)).as("c_xy"))
    val freq = byOrder.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))
    pairs
      .join(broadcast(freq.select(col("p").as("u"), col("c").as("c_u"))), Seq("u"))
      .join(broadcast(freq.select(col("p").as("v"), col("c").as("c_v"))), Seq("v"))
      .crossJoin(broadcast(n))
      .withColumn("lift",
        (col("n_orders") * col("c_xy")).cast("double") /
          (col("c_u") * col("c_v")).cast("double"))
      .select("u", "v", "c_xy", "c_u", "c_v", "lift")
      .orderBy(col("c_xy").desc, col("u"), col("v")).limit(20)
  }
  val gPairLiftSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      |pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
      |            CAST(count(*) AS BIGINT) AS c_xy
      |          FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
      |          GROUP BY 1, 2),
      |freq AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1)
      |SELECT u, v, c_xy, fu.c AS c_u, fv.c AS c_v,
      |  CAST(n.n_orders * c_xy AS DOUBLE) / CAST(fu.c * fv.c AS DOUBLE) AS lift
      |FROM pairs JOIN freq fu ON u = fu.p JOIN freq fv ON v = fv.p CROSS JOIN n
      |ORDER BY c_xy DESC, u, v LIMIT 20""".stripMargin

  /** Revenue concentration per nation: the share held by the top decile
    * of customers (the 80/20 report — [[graft.operators.SkewOps.giniSkew]]
    * gives the full-curve summary, this gives the board number). Built on
    * [[cumulatedHistogram]] over per-customer revenue: the top
    * `k = ceil(n/10)` customers are the rank interval `(n−k, n]`, and each
    * histogram row contributes `value · |[lo, hi] ∩ (n−k, n]|` — exact
    * integer arithmetic end to end, one IEEE division for the share.
    */
  def gParetoShare(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("g"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v"))
      .select("g", "v")
    cumulatedHistogram(rev, "g", "v")
      .withColumn("k", expr("(n + 9) div 10"))
      .withColumn("cut", col("n") - col("k")) // top-k ranks are (cut, n]
      .withColumn("overlap",
        greatest(lit(0L), col("hi") - greatest(col("lo") - 1, col("cut"))))
      .groupBy("g")
      .agg(
        first("n").as("n_customers"),
        sum(col("v") * col("cnt")).as("total_cents"),
        sum(col("v") * col("overlap")).as("top_decile_cents"))
      .withColumn("share",
        // an all-zero-revenue group (every total rounds to 0 cents —
        // schema-valid degenerate) has no shares to apportion: NULL via
        // the NumOps.safeDiv contract, never an ANSI DIVIDE_BY_ZERO
        graft.functions.NumOps.safeDiv(col("top_decile_cents").cast("double"),
          col("total_cents").cast("double")))
      .select(col("g").as("c_nationkey"), col("n_customers"),
        col("total_cents"), col("top_decile_cents"), col("share"))
      .orderBy("c_nationkey")
  }
  val gParetoShareSql: String =
    """WITH rev AS (SELECT c_nationkey AS g, o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
      |r AS (SELECT g, v,
      |    row_number() OVER (PARTITION BY g ORDER BY v, o_custkey) AS rn,
      |    count(*) OVER (PARTITION BY g) AS n
      |  FROM rev)
      |SELECT g AS c_nationkey, CAST(min(n) AS BIGINT) AS n_customers,
      |  CAST(sum(v) AS BIGINT) AS total_cents,
      |  CAST(sum(CASE WHEN rn > n - (n + 9) // 10 THEN v ELSE 0 END) AS BIGINT)
      |    AS top_decile_cents,
      |  CAST(sum(CASE WHEN rn > n - (n + 9) // 10 THEN v ELSE 0 END) AS DOUBLE) /
      |    CAST(sum(v) AS DOUBLE) AS share
      |FROM r GROUP BY g ORDER BY g""".stripMargin

  /** Herfindahl–Hirschman concentration index per nation: Σ share² of
    * suppliers in the nation's lineitem volume — the antitrust-style
    * concentration number next to [[gParetoShare]]'s top-decile share and
    * the Gini's full curve. HHI = Σ cᵢ² / N² needs NO per-row share: both
    * the numerator (Σ cᵢ², one partial-aggregable fold over the
    * (nation, supplier) count table) and N² are exact integers, so the
    * single IEEE division at the end is the entire float surface.
    */
  def gHhi(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("c"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("c").as("n_lines"),
        sum(col("c") * col("c")).as("sc2"))
      .select(col("s_nationkey"), col("n_suppliers"), col("n_lines"),
        round(col("sc2").cast("double") / (col("n_lines") * col("n_lines")), 6)
          .as("hhi"))
      .orderBy("s_nationkey")
  }
  val gHhiSql: String =
    """WITH c AS (SELECT s_nationkey, l_suppkey, CAST(count(*) AS BIGINT) AS c
      |           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |           GROUP BY 1, 2)
      |SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |       CAST(sum(c) AS BIGINT) AS n_lines,
      |       round(CAST(sum(c * c) AS DOUBLE) /
      |             (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)), 6) AS hhi
      |FROM c GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Benjamini–Hochberg FDR correction (1995) over a FAMILY of tests —
    * the multiple-testing control an experimentation platform applies
    * before reading a dashboard of per-segment p-values. The family here:
    * per order priority, a 3-cell goodness-of-fit chi-square of order
    * counts across date-mod-3 buckets (df = 2), chosen because the df-2
    * survival function is ELEMENTARY — p = exp(−χ²/2) — so no incomplete-
    * gamma approximation enters the cross-engine surface. χ² reduces to
    * (3·Σo² − n²)/n with exact integer numerator (uniform-expected closed
    * form; absent cells contribute 0 to Σo² exactly as the formula needs).
    *
    * Determinism: one division and one exp per group, p rounded to integer
    * micro-units; the BH step-up condition `p_(k) ≤ k·α/m` is evaluated as
    * the all-integer comparison `p_u·m ≤ k·α_µ`; ranks come from a bounded
    * self-join over the |family| rows (never a partition-less window).
    *
    * FAMILY-SIZE BOUND: the rank self-join is O(m²) in the family size m —
    * correct and cheap ONLY because m is tiny and statically known (here
    * m = 5 order priorities; sound up to m ≈ 10⁴, where 10⁸ comparisons
    * still beat a single-partition sort's straggler). Pointing this at a
    * LARGE family (per-feature tests, m ≈ 10⁶) gets an all-pairs join —
    * at that scale switch the rank step to the cumulated-histogram
    * discipline the rest of the board uses (bucket p_u, one partial-agg
    * histogram, broadcast the cumulated counts back as the rank), which is
    * one data-scale shuffle of m rows instead of m².
    */
  val BhAlphaMicro = 50000L // α = 0.05 in micro-units
  def bhFdr(s: SparkSession, d: String): DataFrame = {
    val st = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        pmod(datediff(col("o_orderdate"), lit("1970-01-01")), lit(3)).as("b"))
      .groupBy("grp", "b").agg(count(lit(1)).as("o"))
      .groupBy("grp")
      .agg(sum("o").as("n"), sum(col("o") * col("o")).as("so2"))
      .withColumn("x",
        (lit(3) * col("so2") - col("n") * col("n")).cast("double") / col("n"))
      .select(col("grp"), col("n"), round(col("x"), 4).as("chi2"),
        round(lit(1e6) * exp(negate(col("x")) / lit(2.0))).cast("long").as("p_u"))
      .localCheckpoint(true) // |family| rows; rank join + m + kstar read it
    val m = st.agg(count(lit(1)).as("m"))
    val rk = st.select(col("grp"), col("p_u"))
      .join(st.select(col("grp").as("g2"), col("p_u").as("p2")),
        col("p2") < col("p_u") ||
          (col("p2") === col("p_u") && col("g2") < col("grp")), "left")
      .groupBy("grp").agg((count(col("g2")) + 1).as("rk"))
    val ranked = st.join(rk, Seq("grp")).crossJoin(broadcast(m))
      .localCheckpoint(true) // kstar scan + final projection
    val kstar = ranked
      .agg(max(when(col("p_u") * col("m") <= col("rk") * lit(BhAlphaMicro),
        col("rk"))).as("kstar"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("grp"), col("n"), col("chi2"), col("p_u"), col("rk"),
        (col("kstar").isNotNull && col("rk") <= col("kstar")).as("rejected"))
      .orderBy("grp")
  }
  val bhFdrSql: String =
    s"""WITH cells AS (SELECT o_orderpriority AS grp,
       |        datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 3 AS b,
       |        CAST(count(*) AS BIGINT) AS o
       |      FROM orders GROUP BY 1, 2),
       |st AS (SELECT grp, CAST(sum(o) AS BIGINT) AS n,
       |         CAST(sum(o * o) AS BIGINT) AS so2 FROM cells GROUP BY 1),
       |pv AS (SELECT grp, n,
       |         round(CAST(3 * so2 - n * n AS DOUBLE) / n, 4) AS chi2,
       |         CAST(round(1000000.0 *
       |           exp(-(CAST(3 * so2 - n * n AS DOUBLE) / n) / 2.0)) AS BIGINT) AS p_u
       |       FROM st),
       |mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
       |rkt AS (SELECT a.grp, CAST(1 + count(b.grp) AS BIGINT) AS rk
       |        FROM pv a LEFT JOIN pv b
       |          ON b.p_u < a.p_u OR (b.p_u = a.p_u AND b.grp < a.grp)
       |        GROUP BY a.grp),
       |ks AS (SELECT max(CASE WHEN pv.p_u * mt.m <= rkt.rk * $BhAlphaMicro
       |                       THEN rkt.rk END) AS kstar
       |       FROM pv JOIN rkt USING (grp) CROSS JOIN mt)
       |SELECT pv.grp, pv.n, pv.chi2, pv.p_u, rkt.rk,
       |       (ks.kstar IS NOT NULL AND rkt.rk <= ks.kstar) AS rejected
       |FROM pv JOIN rkt USING (grp) CROSS JOIN ks
       |ORDER BY pv.grp""".stripMargin

  /** Maximum drawdown per event type — the classic risk statistic: the
    * deepest fall from a running peak, over the (ts, event_id)-ordered
    * value series in integer cents. Two stacked frames on ONE
    * type-partitioned window sort (running max, then max gap) — the same
    * reuse [[graft.operators.IntervalOps.mergeIntervals]] leans on.
    */
  def tsDrawdown(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .withColumn("peak", max("c").over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("peak").as("peak_cents"),
        max(col("peak") - col("c")).as("max_drawdown_cents"))
      .orderBy("event_type")
  }
  val tsDrawdownSql: String =
    """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |p AS (SELECT event_type, c,
      |    max(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM e)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(peak) AS BIGINT) AS peak_cents,
      |  CAST(max(peak - c) AS BIGINT) AS max_drawdown_cents
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  def gArgMinMax(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("c"),
        col("o_orderkey").as("k"))
      .groupBy("pri")
      .agg(max(struct(col("c"), col("k"))).as("mx"),
        min(struct(col("c"), col("k"))).as("mn"))
      .select(col("pri").as("o_orderpriority"),
        col("mx.k").as("top_order"), col("mx.c").as("top_cents"),
        col("mn.k").as("bottom_order"), col("mn.c").as("bottom_cents"))
      .orderBy("o_orderpriority")
  val gArgMinMaxSql: String =
    """WITH c AS (SELECT o_orderpriority AS pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS c, o_orderkey AS k FROM orders),
      |r AS (SELECT pri, c, k,
      |    row_number() OVER (PARTITION BY pri ORDER BY c DESC, k DESC) AS rx,
      |    row_number() OVER (PARTITION BY pri ORDER BY c ASC, k ASC) AS rn FROM c)
      |SELECT pri AS o_orderpriority,
      |  max(CASE WHEN rx = 1 THEN k END) AS top_order,
      |  max(CASE WHEN rx = 1 THEN c END) AS top_cents,
      |  max(CASE WHEN rn = 1 THEN k END) AS bottom_order,
      |  max(CASE WHEN rn = 1 THEN c END) AS bottom_cents
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** 10 %-trimmed mean per group — the robust-stats family's last classic
    * next to [[gMadOutliers]] and [[gExactPcts]]: drop the lowest and
    * highest ⌊n/10⌋ ranks, average the rest. Exact and histogram-shaped:
    * each (value, count) row of the cumulated histogram covers the rank
    * interval [lo, hi], so its contribution to the kept sum is
    * `v · |[lo,hi] ∩ [k_lo,k_hi]|` — pure integer arithmetic over
    * NDV-sized data, never a sort or buffer of the group's values. One
    * double division + round at the end.
    */
  def gTrimmedMean(s: SparkSession, d: String): DataFrame = {
    val c = Tables.lineitem(s, d).select(col("l_returnflag").as("g"),
      round(col("l_extendedprice") * 100).cast("long").as("v"))
    cumulatedHistogram(c, "g", "v")
      .withColumn("klo", expr("n div 10 + 1"))
      .withColumn("khi", expr("n - n div 10"))
      .withColumn("ov", greatest(lit(0L),
        least(col("hi"), col("khi")) - greatest(col("lo"), col("klo")) + 1))
      .groupBy("g")
      .agg(first("n").as("n"), sum("ov").as("n_kept"),
        sum(col("v") * col("ov")).as("tsum"))
      .select(col("g").as("l_returnflag"), col("n"), col("n_kept"),
        round(col("tsum").cast("double") / col("n_kept"), 4).as("trimmed_mean_cents"))
      .orderBy("l_returnflag")
  }
  val gTrimmedMeanSql: String =
    """WITH o AS (SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT)) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT g AS l_returnflag, CAST(min(n) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  round(CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN v ELSE 0 END) AS DOUBLE)
      |        / sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN 1 ELSE 0 END), 4)
      |    AS trimmed_mean_cents
      |FROM o GROUP BY g ORDER BY g""".stripMargin

  /** Benford first-digit audit of order totals — the forensic-accounting
    * screen: naturally-occurring amounts follow P(d) = log₁₀(1 + 1/d),
    * and a ledger that deviates hard was fabricated or truncated. The
    * leading digit comes from the INTEGER cents rendered as a string
    * (exact and identical in both engines — no float log10 of the value
    * itself anywhere), counts are one partial-aggregable pass, and the
    * expected shares are nine constants. Output: digit, count, observed
    * and expected shares, deviation.
    */
  def benford(s: SparkSession, d: String): DataFrame = {
    // abs + digit > 0: a zero-cents total would put digit 0 into 1/digit
    // (ANSI DIVIDE_BY_ZERO) and a negative one would lead with '-' (ANSI
    // cast failure) — in BOTH engines; Benford's law is only defined on
    // leading digits 1-9, so non-positive amounts are excluded, mirrored
    // in the oracle SQL. No-op on real ledgers (positive totals).
    val c = Tables.orders(s, d)
      .select(substring(abs(round(col("o_totalprice") * 100).cast("long"))
        .cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") > 0)
      .groupBy("digit").agg(count(lit(1)).as("n_orders"))
    c.crossJoin(broadcast(c.agg(sum("n_orders").as("t"))))
      .withColumn("share", round(col("n_orders").cast("double") / col("t"), 4))
      .withColumn("benford_p", expr("round(log10(1.0 + 1.0 / digit), 4)"))
      .select(col("digit"), col("n_orders"), col("share"), col("benford_p"),
        round(col("share") - col("benford_p"), 4).as("dev"))
      .orderBy("digit")
  }
  val benfordSql: String =
    """WITH c0 AS (SELECT CAST(substr(CAST(abs(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
      |  FROM c0 WHERE digit > 0 GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM c)
      |SELECT digit, n_orders,
      |  round(n_orders::DOUBLE / t, 4) AS share,
      |  round(log10(1.0 + 1.0 / digit), 4) AS benford_p,
      |  round(round(n_orders::DOUBLE / t, 4) - round(log10(1.0 + 1.0 / digit), 4), 4) + 0.0 AS dev
      |FROM c CROSS JOIN t ORDER BY digit""".stripMargin

  /** Conversion LATENCY for the [[graft.operators.FunnelOps]] funnel — the
    * duration metric next to its counts: how long from a user's first
    * `view` to their first subsequent `purchase`? Latencies are exact
    * integer seconds (timestamp truncation, identical in both engines),
    * and the p50/p90 read off [[globalCumHistogram]]'s exact order
    * statistics — never a percentile buffer over the user population. One
    * output row (n_converted, p50_sec, p90_sec).
    */
  def funnelLatency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val lat = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts") >= col("t1"))
      .groupBy("user_id", "t1").agg(min("ts").as("t2"))
      .select((col("t2").cast("long") - col("t1").cast("long")).as("sec"))
    globalCumHistogram(lat, "sec")
      .withColumn("k50", expr("(n + 1) div 2"))
      .withColumn("k90", expr("(9 * n + 9) div 10"))
      .agg(
        max("n").as("n_converted"),
        sum(when(col("k50").between(col("lo"), col("hi")), col("sec"))).as("p50_sec"),
        sum(when(col("k90").between(col("lo"), col("hi")), col("sec"))).as("p90_sec"))
  }
  val funnelLatencySql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, v.t1, min(e.ts) AS t2
      |      FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts >= v.t1
      |      GROUP BY 1, 2),
      |l AS (SELECT CAST(floor(epoch(t2)) - floor(epoch(t1)) AS BIGINT) AS sec FROM c),
      |r AS (SELECT sec, row_number() OVER (ORDER BY sec) AS rn, count(*) OVER () AS n FROM l)
      |SELECT CAST(min(n) AS BIGINT) AS n_converted,
      |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN sec END) AS BIGINT) AS p50_sec,
      |  CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN sec END) AS BIGINT) AS p90_sec
      |FROM r""".stripMargin

  /** Lag-1 autocorrelation of the daily order-count series — the
    * diagnostic read next to the [[wCusum]] board: high ACF says the
    * series trends/cycles (CUSUM alarms cluster), near-zero says shocks
    * are independent. Pairs are (day t, previous OBSERVED day) via a lag
    * window over the daily aggregate (calendar-sized), and every Pearson
    * moment (Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer sum of counts —
    * no float accumulates anywhere; the statistic is one double chain on
    * those longs, rounded once. One output row (n_pairs, acf1).
    */
  def acf1(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("yr", year(col("dt")))
    // lag over the calendar frame; cross-year boundary pairs ride a
    // year-count-sized stitch: the first day of each year pairs with the
    // previous year's LAST day (bounded self-join, the wCusum discipline)
    val w = Window.partitionBy("yr").orderBy("dt")
    val inYr = daily.withColumn("prev", lag("n", 1).over(w))
    val yrLast = daily.groupBy("yr")
      .agg(max(struct(col("dt"), col("n"))).as("m"))
      .select((col("yr") + 1).as("yr"), col("m.n").as("prev_year_last"))
    val pairs = inYr.join(broadcast(yrLast), Seq("yr"), "left")
      .withColumn("x", coalesce(col("prev"),
        when(row_number().over(w) === 1, col("prev_year_last"))))
      .filter(col("x").isNotNull)
      .select(col("x"), col("n").as("y"))
    val m = pairs.agg(
      count(lit(1)).as("k"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // a CONSTANT daily series (k = 1 does it too) zeroes a variance term:
    // ACF(1) is NULL (safeDiv contract, = DuckDB's x/0), never ANSI-fatal
    m.select(col("k").as("n_pairs"),
      round(graft.functions.NumOps.safeDiv(
        (col("k") * col("sxy") - col("sx") * col("sy")).cast("double"),
        sqrt((col("k") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("k") * col("syy") - col("sy") * col("sy")).cast("double"))), 4)
        .as("acf1"))
  }
  val acf1Sql: String =
    """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS dt, CAST(count(*) AS BIGINT) AS n
      |             FROM orders GROUP BY 1),
      |p AS (SELECT n AS y, lag(n) OVER (ORDER BY dt) AS x FROM dly),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx,
      |        CAST(sum(y * y) AS BIGINT) AS syy
      |      FROM p WHERE x IS NOT NULL)
      |SELECT k AS n_pairs,
      |  round((k * sxy - sx * sy)::DOUBLE /
      |    sqrt((k * sxx - sx * sx)::DOUBLE * (k * syy - sy * sy)::DOUBLE), 4) + 0.0 AS acf1
      |FROM m""".stripMargin

  /** Day-of-week seasonality profile of order volume: per weekday, the
    * order count, its share, and the seasonality index vs a uniform week
    * (100 = flat). Counts are exact; share/index are single rounded
    * divisions. One partial-aggregable pass + a 7-row broadcast total.
    */
  def dowProfile(s: SparkSession, d: String): DataFrame = {
    val c = Tables.orders(s, d)
      .groupBy(dayofweek(col("o_orderdate").cast("date")).as("dow"))
      .agg(count(lit(1)).as("n_orders"))
    c.crossJoin(broadcast(c.agg(sum("n_orders").as("t"))))
      .select(col("dow"), col("n_orders"),
        round(col("n_orders").cast("double") / col("t"), 4).as("share"),
        round(col("n_orders").cast("double") * 7 * 100 / col("t"), 2).as("idx"))
      .orderBy("dow")
  }
  val dowProfileSql: String =
    """WITH c AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM c)
      |SELECT dow, n_orders,
      |  round(n_orders::DOUBLE / t, 4) AS share,
      |  round(n_orders::DOUBLE * 7 * 100 / t, 2) AS idx
      |FROM c CROSS JOIN t ORDER BY dow""".stripMargin

  /** Two-proportion z-test — the experiment-analysis staple: is cohort A's
    * click-through rate different from cohort B's? Cohorts are the
    * even/odd user_id halves (the deterministic assignment an A/B bucketer
    * produces), the metric is clicks / events, and the statistic is the
    * pooled-variance z with the 1.96 two-sided 5 % cut. All inputs are
    * exact integer counts; z is a fixed chain of double ops on them
    * (identical cross-engine), rounded once at the end. One
    * partial-aggregable pass over events, one output row.
    */
  def abTest(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.events(s, d)
      .select((pmod(col("user_id"), lit(2)) === 0).as("a"),
        (col("event_type") === "click").as("x"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("a") && col("x"), 1L).otherwise(0L)).as("x1"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("a") && col("x"), 1L).otherwise(0L)).as("x2"))
    // degenerate-capable denominators guarded (safeDiv contract): an empty
    // cohort (n1/n2 = 0) or a zero/saturated pooled rate (pp(1-pp) = 0 —
    // a window with no clicks at all is REALISTIC data) yields z = NULL
    // instead of an ANSI DIVIDE_BY_ZERO job failure; NULL propagates to
    // `significant` identically in DuckDB, whose x/0 is NULL natively
    import graft.functions.NumOps.safeDiv
    val p1 = safeDiv(col("x1").cast("double"), col("n1"))
    val p2 = safeDiv(col("x2").cast("double"), col("n2"))
    val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))
    val z = safeDiv(p1 - p2,
      sqrt(pp * (lit(1.0) - pp) *
        (safeDiv(lit(1.0), col("n1")) + safeDiv(lit(1.0), col("n2")))))
    agg.select(col("n1"), col("x1"), col("n2"), col("x2"),
      round(z, 4).as("z"),
      (abs(round(z, 4)) > 1.96).as("significant"))
  }
  val abTestSql: String =
    """WITH c AS (SELECT
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x2
      |  FROM events),
      |z AS (SELECT *,
      |    round((x1::DOUBLE / n1 - x2::DOUBLE / n2) /
      |      sqrt(((x1 + x2)::DOUBLE / (n1 + n2)) * (1.0 - (x1 + x2)::DOUBLE / (n1 + n2))
      |           * (1.0 / n1 + 1.0 / n2)), 4) AS zv
      |  FROM c)
      |SELECT n1, x1, n2, x2, zv + 0.0 AS z, abs(zv) > 1.96 AS significant FROM z""".stripMargin

  /** Chi-square test of independence + Cramér's V effect size between a
    * document's language and source — the contingency-table twin of
    * [[mutualInfo]] (same joint NDV table, the frequentist reading):
    * χ² = Σ_cells (O − E)²/E with E = nx·ny/n, V = sqrt(χ²/(n·(min(r,c)−1))).
    *
    * Determinism discipline: each cell's (O−E)²/E is one fixed double
    * chain rounded to 6 dp and carried as DECIMAL, so the sum is exact and
    * partition-order-independent; r, c, n are exact integers; V is one
    * final double chain over the already-rounded χ².
    */
  def cramersV(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D = DecimalType(18, 6)
    val joint = graft.Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("nxy"))
      .localCheckpoint(true)
    val nx = joint.groupBy("lang").agg(sum("nxy").as("nx"))
    val ny = joint.groupBy("source").agg(sum("nxy").as("ny"))
    val tot = joint.agg(sum("nxy").as("n"),
      count_distinct(col("lang")).as("r"),
      count_distinct(col("source")).as("c"))
    val e = (col("nx") * col("ny")).cast("double") / col("n").cast("double")
    val chi2 = joint.join(nx, "lang").join(ny, "source")
      .crossJoin(broadcast(tot))
      .select(round((col("nxy").cast("double") - e) *
          (col("nxy").cast("double") - e) / e, 6).cast(D).as("t"),
        col("n"), col("r"), col("c"))
      .groupBy("n", "r", "c").agg(sum("t").as("chi2d"))
    chi2.select(col("n"), col("r"), col("c"),
        roundz(col("chi2d").cast("double"), 6).as("chi2"))
      .withColumn("cramers_v",
        // a single-category variable (min(r,c) = 1 — e.g. every doc the
        // same language) makes V undefined: NULL via the NumOps.safeDiv
        // contract (= DuckDB's x/0), never an ANSI DIVIDE_BY_ZERO
        roundz(sqrt(graft.functions.NumOps.safeDiv(col("chi2"),
          (col("n") * (least(col("r"), col("c")) - 1)).cast("double"))), 6))
  }
  val cramersVSql: String =
    """WITH joint AS MATERIALIZED (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS nxy
      |  FROM documents GROUP BY lang, source),
      |nx AS (SELECT lang, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY lang),
      |ny AS (SELECT source, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY source),
      |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n,
      |          CAST(count(DISTINCT lang) AS BIGINT) AS r,
      |          CAST(count(DISTINCT source) AS BIGINT) AS c FROM joint),
      |cells AS (SELECT t.n, t.r, t.c,
      |            CAST(round((CAST(j.nxy AS DOUBLE) - CAST(nx.nx * ny.ny AS DOUBLE) / t.n)
      |              * (CAST(j.nxy AS DOUBLE) - CAST(nx.nx * ny.ny AS DOUBLE) / t.n)
      |              / (CAST(nx.nx * ny.ny AS DOUBLE) / t.n), 6) AS DECIMAL(18,6)) AS t2
      |          FROM joint j JOIN nx USING (lang) JOIN ny USING (source)
      |          CROSS JOIN tot t),
      |agg AS (SELECT n, r, c, round(CAST(sum(t2) AS DOUBLE), 6) + 0.0 AS chi2
      |        FROM cells GROUP BY n, r, c)
      |SELECT n, r, c, chi2,
      |  round(sqrt(chi2 / CAST(n * (least(r, c) - 1) AS DOUBLE)), 6) + 0.0 AS cramers_v
      |FROM agg""".stripMargin

  /** Best binary split of a numeric feature by Gini gain — the inner
    * primitive of every distributed decision-tree/GBDT learner (per-node
    * split finding over feature histograms; cf. XGBoost/LightGBM's
    * histogram method): which `n_chars` threshold best separates English
    * from non-English documents. Every candidate threshold's left/right
    * class counts come from prefix sums over the (value, count, positive
    * count) histogram — one partial-aggregable pass over the data, then
    * everything is value-NDV-sized.
    *
    * Determinism: the gain is one fixed double chain per candidate,
    * rounded to micro units (LONG), and the argmax runs in the integer
    * domain via `max(struct(gain_e6, −threshold))` — ties resolve to the
    * smallest threshold, a total order both engines replay. The prefix
    * sums use the [[globalCumHistogram]] bucket discipline (bucket-
    * partitioned windows + a bounded bucket-offset self-join — no
    * partition-less window anywhere).
    */
  def bestSplit(s: SparkSession, d: String): DataFrame = {
    val rows = graft.Tables.documents(s, d).select(
      col("n_chars").cast("long").as("x"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val h = rows.groupBy("x").agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
      .withColumn("_b", expr("x div 65536"))
      // NDV-sized, materialized once (hh/bt/tot consumers; same rationale
      // as globalCumHistogram)
      .localCheckpoint(true)
    val inBucket = Window.partitionBy("_b").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hh = h
      .withColumn("_ct_in", sum("cnt").over(inBucket))
      .withColumn("_ps_in", sum("pos").over(inBucket))
    val bt = h.groupBy("_b").agg(sum("cnt").as("_bc"), sum("pos").as("_bp"))
    val off = bt
      .join(bt.select(col("_b").as("_b2"), col("_bc").as("_c2"), col("_bp").as("_p2")),
        col("_b2") < col("_b"), "left")
      .groupBy("_b")
      .agg(coalesce(sum("_c2"), lit(0L)).as("_coff"),
        coalesce(sum("_p2"), lit(0L)).as("_poff"))
    val tot = bt.agg(sum("_bc").cast("long").as("n"), sum("_bp").cast("long").as("p"))
    val cum = hh.join(broadcast(off), Seq("_b")).crossJoin(broadcast(tot))
      .select(col("x"),
        (col("_coff") + col("_ct_in")).as("nl"),
        (col("_poff") + col("_ps_in")).as("pl"),
        col("n"), col("p"))
      .filter(col("nl") < col("n")) // the right side must be non-empty
    def gini(pos: Column, cnt: Column): Column = {
      val q = pos.cast("double") / cnt.cast("double")
      lit(1.0) - q * q - (lit(1.0) - q) * (lit(1.0) - q)
    }
    val parent = gini(col("p"), col("n"))
    val weighted =
      col("nl").cast("double") / col("n").cast("double") * gini(col("pl"), col("nl")) +
      (col("n") - col("nl")).cast("double") / col("n").cast("double") *
        gini(col("p") - col("pl"), col("n") - col("nl"))
    val scored = cum.withColumn("gain_e6",
      round((parent - weighted) * 1000000).cast("long"))
    scored
      .groupBy("n", "p")
      .agg(max(struct(col("gain_e6"), (-col("x")).as("nx"))).as("m"))
      .select(col("n").as("n_docs"), col("p").as("n_pos"),
        (-col("m.nx")).as("threshold"), col("m.gain_e6").as("gain_e6"))
  }
  val bestSplitSql: String =
    """WITH rows_t AS (SELECT CAST(n_chars AS BIGINT) AS x,
      |                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |               FROM documents),
      |h AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
      |      FROM rows_t GROUP BY x),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p FROM h),
      |cum AS (SELECT x,
      |          sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS nl,
      |          sum(pos) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS pl
      |        FROM h),
      |scored AS (SELECT c.x, t.n, t.p,
      |    CAST(round(((1.0 - (CAST(t.p AS DOUBLE)/t.n)*(CAST(t.p AS DOUBLE)/t.n)
      |                     - (1.0 - CAST(t.p AS DOUBLE)/t.n)*(1.0 - CAST(t.p AS DOUBLE)/t.n))
      |      - (CAST(c.nl AS DOUBLE)/t.n
      |          * (1.0 - (CAST(c.pl AS DOUBLE)/c.nl)*(CAST(c.pl AS DOUBLE)/c.nl)
      |                 - (1.0 - CAST(c.pl AS DOUBLE)/c.nl)*(1.0 - CAST(c.pl AS DOUBLE)/c.nl))
      |       + CAST(t.n - c.nl AS DOUBLE)/t.n
      |          * (1.0 - (CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl))*(CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl))
      |                 - (1.0 - CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl))*(1.0 - CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl)))))
      |      * 1000000) AS BIGINT) AS gain_e6
      |  FROM cum c CROSS JOIN tot t WHERE c.nl < t.n)
      |SELECT n AS n_docs, p AS n_pos, x AS threshold, gain_e6
      |FROM scored ORDER BY gain_e6 DESC, x ASC LIMIT 1""".stripMargin

  /** Feature ranking by best-split Gini gain — [[bestSplit]] swept over
    * three document features at once (chars, tokens, distinct tokens; the
    * feature-importance scan a tree learner runs per node): every
    * (feature, threshold) candidate's gain from grouped prefix sums over
    * the per-feature value histograms. One partial-aggregable pass builds
    * all histograms (the features ride in a `stack`), windows are
    * (feature, bucket)-partitioned, the bucket-offset window is
    * bucket-count-sized per feature, and each feature's argmax runs in
    * the integer domain with the smallest-threshold tiebreak.
    */
  def featureRank(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.fanOut(graft.Tables.documents(s, d)).select(
      col("n_chars").cast("long").as("f_chars"),
      size(graft.functions.TextOps.tokens(col("text"))).cast("long").as("f_tokens"),
      size(array_distinct(graft.functions.TextOps.tokens(col("text"))))
        .cast("long").as("f_uniq"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val long = docs.selectExpr(
      "stack(3, 'chars', f_chars, 'tokens', f_tokens, 'uniq', f_uniq) AS (feature, x)",
      "y")
    val h = long.groupBy("feature", "x")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
      .withColumn("_b", expr("x div 65536"))
      // NDV-sized, materialized once: hh/off/tot each re-ran the
      // tokenize-heavy projection otherwise (cumulatedHistogramOf lesson)
      .localCheckpoint(true)
    val inBucket = Window.partitionBy("feature", "_b").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hh = h
      .withColumn("_ct_in", sum("cnt").over(inBucket))
      .withColumn("_ps_in", sum("pos").over(inBucket))
    val priorBuckets = Window.partitionBy("feature").orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = h.groupBy("feature", "_b")
      .agg(sum("cnt").as("_bc"), sum("pos").as("_bp"))
      .withColumn("_coff", coalesce(sum("_bc").over(priorBuckets), lit(0L)))
      .withColumn("_poff", coalesce(sum("_bp").over(priorBuckets), lit(0L)))
      .select("feature", "_b", "_coff", "_poff")
    val tot = h.groupBy("feature")
      .agg(sum("cnt").as("n"), sum("pos").as("p"))
    val cum = hh.join(off, Seq("feature", "_b"))
      .join(broadcast(tot), Seq("feature"))
      .select(col("feature"), col("x"),
        (col("_coff") + col("_ct_in")).as("nl"),
        (col("_poff") + col("_ps_in")).as("pl"),
        col("n"), col("p"))
      .filter(col("nl") < col("n"))
    def gini(pos: Column, cnt: Column): Column = {
      val q = pos.cast("double") / cnt.cast("double")
      lit(1.0) - q * q - (lit(1.0) - q) * (lit(1.0) - q)
    }
    val parent = gini(col("p"), col("n"))
    val weighted =
      col("nl").cast("double") / col("n").cast("double") * gini(col("pl"), col("nl")) +
      (col("n") - col("nl")).cast("double") / col("n").cast("double") *
        gini(col("p") - col("pl"), col("n") - col("nl"))
    cum.withColumn("gain_e6", round((parent - weighted) * 1000000).cast("long"))
      .groupBy("feature")
      .agg(max(struct(col("gain_e6"), (-col("x")).as("nx"))).as("m"))
      .select(col("feature"), (-col("m.nx")).as("threshold"),
        col("m.gain_e6").as("gain_e6"))
      .orderBy(col("gain_e6").desc, col("feature"))
  }
  val featureRankSql: String =
    """WITH docs AS (
      |  SELECT CAST(n_chars AS BIGINT) AS f_chars,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS f_tokens,
      |         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS f_uniq,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |long_t AS (
      |  SELECT 'chars' AS feature, f_chars AS x, y FROM docs
      |  UNION ALL SELECT 'tokens', f_tokens, y FROM docs
      |  UNION ALL SELECT 'uniq', f_uniq, y FROM docs),
      |h AS (SELECT feature, x, CAST(count(*) AS BIGINT) AS cnt,
      |        CAST(sum(y) AS BIGINT) AS pos
      |      FROM long_t GROUP BY feature, x),
      |tot AS (SELECT feature, CAST(sum(cnt) AS BIGINT) AS n,
      |          CAST(sum(pos) AS BIGINT) AS p FROM h GROUP BY feature),
      |cum AS (SELECT feature, x,
      |          sum(cnt) OVER (PARTITION BY feature ORDER BY x ROWS UNBOUNDED PRECEDING) AS nl,
      |          sum(pos) OVER (PARTITION BY feature ORDER BY x ROWS UNBOUNDED PRECEDING) AS pl
      |        FROM h),
      |scored AS (SELECT c.feature, c.x, t.n, t.p, c.nl, c.pl,
      |    CAST(round(((1.0 - (CAST(t.p AS DOUBLE)/t.n)*(CAST(t.p AS DOUBLE)/t.n)
      |                     - (1.0 - CAST(t.p AS DOUBLE)/t.n)*(1.0 - CAST(t.p AS DOUBLE)/t.n))
      |      - (CAST(c.nl AS DOUBLE)/t.n
      |          * (1.0 - (CAST(c.pl AS DOUBLE)/c.nl)*(CAST(c.pl AS DOUBLE)/c.nl)
      |                 - (1.0 - CAST(c.pl AS DOUBLE)/c.nl)*(1.0 - CAST(c.pl AS DOUBLE)/c.nl))
      |       + CAST(t.n - c.nl AS DOUBLE)/t.n
      |          * (1.0 - (CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl))*(CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl))
      |                 - (1.0 - CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl))*(1.0 - CAST(t.p - c.pl AS DOUBLE)/(t.n - c.nl)))))
      |      * 1000000) AS BIGINT) AS gain_e6
      |  FROM cum c JOIN tot t USING (feature) WHERE c.nl < t.n),
      |best AS (SELECT feature, x AS threshold, gain_e6,
      |           row_number() OVER (PARTITION BY feature
      |             ORDER BY gain_e6 DESC, x ASC) AS rn
      |         FROM scored)
      |SELECT feature, CAST(threshold AS BIGINT) AS threshold, gain_e6
      |FROM best WHERE rn = 1 ORDER BY gain_e6 DESC, feature""".stripMargin

  /** Sample-ratio-mismatch check — the experimentation-platform health
    * gate that runs BEFORE any effect readout (Fabijan et al. 2019,
    * "Diagnosing sample ratio mismatch in online controlled experiments"):
    * a chi-square test that the deterministic 50/50 user assignment
    * actually produced a 50/50 user split. Counts are DISTINCT USERS per
    * arm (SRM is about assignment, not traffic); expected counts follow
    * from the design ratio; chi2 = Σ (O−E)²/E against the 3.841 critical
    * value (df = 1, α = 0.05). An SRM-flagged experiment invalidates
    * `x_ab_test`'s readout — which is why both live on the same board.
    *
    * Scale shape: one partial-aggregable distinct-user pass, then a
    * four-long one-row frame; the only float math is one chi2 chain,
    * round(6), identical in both engines.
    */
  def srmCheck(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).select("user_id").distinct()
    val agg = users.agg(
      count(lit(1)).as("n_users"),
      sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"))
      .withColumn("n_b", col("n_users") - col("n_a"))
    val e = col("n_users").cast("double") / 2
    val chi2 = (col("n_a") - e) * (col("n_a") - e) / e +
      (col("n_b") - e) * (col("n_b") - e) / e
    agg.select(col("n_users"), col("n_a"), col("n_b"),
      graft.functions.NumOps.roundz(chi2, 6).as("chi2"))
      .withColumn("srm_detected", col("chi2") > 3.841)
  }
  val srmCheckSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |c AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a
      |      FROM u),
      |x AS (SELECT n_users, n_a, n_users - n_a AS n_b,
      |        round((n_a - n_users / 2.0) * (n_a - n_users / 2.0) / (n_users / 2.0)
      |            + ((n_users - n_a) - n_users / 2.0) * ((n_users - n_a) - n_users / 2.0)
      |              / (n_users / 2.0), 6) + 0.0 AS chi2
      |      FROM c)
      |SELECT n_users, n_a, n_b, chi2, chi2 > 3.841 AS srm_detected FROM x""".stripMargin

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 — the
    * published experimentation-platform technique): adjust each user's
    * post-period metric by their PRE-period covariate before differencing
    * the A/B arms, cutting variance by the squared X–Y correlation without
    * biasing the treatment effect. Pairs with [[abTest]] (same even/odd
    * user_id bucketer).
    *
    * Closed form used here: with θ = Cov(X,Y)/Var(X) fit on the pooled
    * users, mean_arm(Y − θ(X − x̄)) differences reduce to
    * `diff_raw − θ·diff_x` — so no per-user adjusted pass is needed, just
    * arm-conditional moment sums. Every moment (Σx, Σy, Σxy, Σx², Σy²,
    * arm-conditional Σ) is an exact integer (cents products summed as
    * DECIMAL(38,0) / HUGEINT); θ, the diffs, and the realized variance-
    * reduction ρ² are fixed double chains over those integers. One
    * per-user groupBy (partial-aggregable) + one global fold — the same
    * 100 TB shape as [[abTest]] with one extra shuffle on user_id.
    */
  def cuped(s: SparkSession, d: String): DataFrame = {
    val D38 = DecimalType(38, 0)
    val per = Tables.events(s, d)
      .select(col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"),
        (col("ts") < lit("2024-01-16")).as("pre"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("c")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("c")).otherwise(0L)).as("y"))
      .withColumn("arm_a", pmod(col("user_id"), lit(2)) === 0)
    val m = per.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(D38)).as("sx"),
      sum(col("y").cast(D38)).as("sy"),
      sum(col("x").cast(D38) * col("y").cast(D38)).as("sxy"),
      sum(col("x").cast(D38) * col("x").cast(D38)).as("sxx"),
      sum(col("y").cast(D38) * col("y").cast(D38)).as("syy"),
      sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("arm_a"), col("x")).otherwise(0L).cast(D38)).as("sxa"),
      sum(when(col("arm_a"), col("y")).otherwise(0L).cast(D38)).as("sya"))
    val covn = (col("n").cast(D38) * col("sxy") - col("sx") * col("sy")).cast("double")
    val varxn = (col("n").cast(D38) * col("sxx") - col("sx") * col("sx")).cast("double")
    val varyn = (col("n").cast(D38) * col("syy") - col("sy") * col("sy")).cast("double")
    // a constant pre-period covariate (Var(X) = 0 — e.g. every user new,
    // all x = 0) or an empty arm zeroes a denominator: θ/diffs/ρ² go NULL
    // (safeDiv contract) instead of ANSI-failing the job; DuckDB's x/0 is
    // NULL natively so the oracle agrees on the same degenerate corpus
    import graft.functions.NumOps.safeDiv
    val theta = safeDiv(covn, varxn)
    val nb = col("n") - col("na")
    val diffRaw = safeDiv(col("sya").cast("double"), col("na")) -
      safeDiv((col("sy") - col("sya")).cast("double"), nb)
    val diffX = safeDiv(col("sxa").cast("double"), col("na")) -
      safeDiv((col("sx") - col("sxa")).cast("double"), nb)
    m.select(
      col("na").as("n_a"), nb.as("n_b"),
      round(theta, 6).as("theta"),
      round(diffRaw, 4).as("diff_raw_cents"),
      round(diffRaw - theta * diffX, 4).as("diff_cuped_cents"),
      round(safeDiv(covn * covn, varxn * varyn), 6).as("rho2"))
  }
  val cupedSql: String =
    """WITH per AS (SELECT user_id,
      |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
      |             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00'
      |             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
      |    user_id % 2 = 0 AS arm_a
      |  FROM events GROUP BY user_id),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy,
      |    CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    sum(CASE WHEN arm_a THEN x ELSE 0 END) AS sxa,
      |    sum(CASE WHEN arm_a THEN y ELSE 0 END) AS sya
      |  FROM per),
      |f AS (SELECT n, na, n - na AS nb,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS varxn,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS varyn,
      |    CAST(sya AS DOUBLE) / na - CAST(sy - sya AS DOUBLE) / (n - na) AS diff_raw,
      |    CAST(sxa AS DOUBLE) / na - CAST(sx - sxa AS DOUBLE) / (n - na) AS diff_x
      |  FROM m)
      |SELECT na AS n_a, nb AS n_b,
      |  round(covn / varxn, 6) + 0.0 AS theta,
      |  round(diff_raw, 4) AS diff_raw_cents,
      |  round(diff_raw - covn / varxn * diff_x, 4) AS diff_cuped_cents,
      |  round(covn * covn / (varxn * varyn), 6) AS rho2
      |FROM f""".stripMargin

  /** Theil–Sen robust trend of the daily order-count series (Theil 1950 /
    * Sen 1968 — public-domain robust statistics): the median of all
    * pairwise slopes, immune to the outlier days that drag an OLS fit
    * (the [[graft.queries.PipelineQueries.zipfFit]] machinery's robust
    * sibling). Slopes are round-6 micro-units (one double division + one
    * round, identical cross-engine), and the MEDIAN is exact — the two
    * middle order statistics read off the scale-safe cumulated slope
    * histogram ([[globalCumHistogram]]), summed as `sen2_micro` so the
    * output stays integer until one final division.
    *
    * Scale: the pair frame is O(D²) of the DAY count — value-domain
    * bounded (a 7-year series is ~2.4k days → ~3M pairs regardless of row
    * count; the [[skyline]] bounded-frame discipline), planned as a
    * broadcast nested-loop over the NDV-sized daily aggregate. The
    * data-scale work is one partial-aggregable daily count.
    */
  def theilSen(s: SparkSession, d: String): DataFrame = {
    val dly = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg(count(lit(1)).as("nn"))
      .select(datediff(col("dt"), lit("1992-01-01")).cast("long").as("di"),
        col("nn"))
    val b = dly.select(col("di").as("dj"), col("nn").as("nj"))
    // the when() guard is semantically a no-op (the join admits only
    // dj > di) but keeps the ANSI-mode division from being evaluated
    // speculatively for non-matching pairs inside the join's codegen.
    // WIDEN the streaming side first (r19, tools/Probe): the day aggregate
    // lands in one AQE-coalesced partition, so the O(D²) pair expansion
    // ran as a single 1.2 s task (the broadcast side is unaffected) —
    // one CPU-dense expansion amortizes the extra tasks, same rationale
    // as ts_pair_corr's widen.
    val pairs = dly.repartition(s.sparkContext.defaultParallelism)
      .join(b, col("dj") > col("di"))
      .select(when(col("dj") =!= col("di"),
        round((col("nj") - col("nn")).cast("double") /
          (col("dj") - col("di")) * lit(1e6)).cast("long")).as("s6"))
    globalCumHistogram(pairs, "s6")
      .withColumn("k1", expr("(n + 1) div 2"))
      .withColumn("k2", expr("(n + 2) div 2"))
      .withColumn("cov",
        when(col("k1").between(col("lo"), col("hi")), 1L).otherwise(0L) +
          when(col("k2").between(col("lo"), col("hi")), 1L).otherwise(0L))
      .filter(col("cov") > 0)
      .agg(max("n").as("n_pairs"), sum(col("s6") * col("cov")).as("sen2_micro"))
      .crossJoin(broadcast(dly.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"), col("sen2_micro"),
        (col("sen2_micro").cast("double") / lit(2000000.0)).as("sen_slope"))
  }
  val theilSenSql: String =
    """WITH dly AS (SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS di,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM orders GROUP BY 1),
      |p AS (SELECT CAST(round(CAST(b.n - a.n AS DOUBLE) / (b.di - a.di) * 1000000.0) AS BIGINT) AS s6
      |      FROM dly a JOIN dly b ON b.di > a.di),
      |r AS (SELECT s6, row_number() OVER (ORDER BY s6) AS rn, count(*) OVER () AS np FROM p),
      |sel AS (SELECT CAST(max(np) AS BIGINT) AS n_pairs,
      |          CAST(sum(CASE WHEN rn = (np + 1) // 2 THEN s6 ELSE 0 END) +
      |               sum(CASE WHEN rn = (np + 2) // 2 THEN s6 ELSE 0 END) AS BIGINT) AS sen2_micro
      |        FROM r),
      |d AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly)
      |SELECT n_days, n_pairs, sen2_micro,
      |  CAST(sen2_micro AS DOUBLE) / 2000000.0 AS sen_slope
      |FROM sel CROSS JOIN d""".stripMargin

  /** Poisson-bootstrap 95% CI for the mean order value (the streaming/
    * sharded bootstrap of Chamandy, Muralidharan, Najmi & Naidu,
    * "Estimating Uncertainty for Massive Data Streams", Google TR 2012 —
    * public): the classic resample-n-of-n bootstrap cannot run on
    * distributed data (a resample needs global coordination), but drawing
    * each row's per-replicate multiplicity as an independent Poisson(1)
    * gives an asymptotically equivalent resample that is EMBARRASSINGLY
    * parallel — every (row, replicate) weight is a pure function of the
    * row key. Here even the Poisson draw is deterministic: a
    * [[graft.queries.PipelineQueries.trainSplit]]-convention md5 byte
    * v ∈ [0,256) maps through the fixed inverse-CDF ladder
    * 94/188/235/251/255 (the 256-scaled Poisson(1) CDF — a ≤2% tail
    * truncation at w=5, documented), so both engines draw the identical
    * resample and the whole CI is replayable.
    *
    * Scale shape: one explode ×B (map-side), one B-group partial-agg
    * groupBy, then all ranking happens on the B-row (bounded-constant)
    * replicate frame via an O(B²) broadcast self-join — the [[skyline]]
    * bounded-frame discipline. Replicate means are round-4 on exact
    * integer sums; CI bounds are the ceil(0.025·B)/ceil(0.975·B) order
    * statistics of those means.
    *
    * Intra-run jitter, adjudicated (r15's committed board showed the
    * board's largest med/min spread here, 2.53 vs 1.17 s): an ISOLATED
    * 7-repeat bench at sf0.1 reads median 1.17 / min 1.07 (1.09×), with
    * the min identical to the board's — the plan is stable and the warm
    * pass suffices; the board-context inflation is heap/GC debt landing
    * on the board's most allocation-heavy projection (the explode carries
    * the 32-char md5 through ~14M rows at sf0.1), not plan instability or
    * RNG warm-up. Kept as-is: hoisting the byte extraction before the
    * explode would need an interpreted `transform` lambda, breaking
    * whole-stage codegen — the documented worse trade.
    */
  val BootReps = 96  // 6 md5 draws x 16 bytes each
  private val BootLoRank = 3  // ceil(0.025 * BootReps)
  private val BootHiRank = 94 // ceil(0.975 * BootReps)
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    val D38 = DecimalType(38, 0)
    val x = Tables.fanOut(Tables.orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("c")))
    // one md5 yields 16 independent bytes = 16 replicates' weights, so the
    // hash work is B/16 digests per row, not B (the md5 IS the hot loop at
    // 19 s for the one-digest-per-replicate form; this form benches ~3 s)
    val rep = x
      .select(col("o_orderkey"), col("c"),
        explode(sequence(lit(0), lit(BootReps / 16 - 1))).as("hi"))
      .withColumn("m", md5(concat(col("hi").cast("string"), lit("|"),
        col("o_orderkey").cast("string"))))
      .select(col("c"), col("hi"), col("m"),
        explode(sequence(lit(0), lit(15))).as("j"))
      .withColumn("v",
        expr("(instr('0123456789abcdef', substring(m, j * 2 + 1, 1)) - 1) * 16 + " +
          "instr('0123456789abcdef', substring(m, j * 2 + 2, 1)) - 1"))
      .withColumn("b", col("hi") * 16 + col("j"))
      .withColumn("w",
        when(col("v") < 94, 0L).when(col("v") < 188, 1L)
          .when(col("v") < 235, 2L).when(col("v") < 251, 3L)
          .when(col("v") < 255, 4L).otherwise(5L))
    val means = rep.groupBy("b")
      .agg(sum("w").as("sw"), sum((col("w") * col("c")).cast(D38)).as("swx"))
      .filter(col("sw") > 0)
      .select(col("b"), round(col("swx").cast("double") / col("sw"), 4).as("mb"))
    // NO eager materialization of `means` (r19, driver ground truth): the
    // r18 localCheckpoint(true) here A/B'd ~flat on the build box but the
    // driver measured it 5-9x SLOWER in its environment (10.28 s med /
    // 8.94 min at 32c, 17.84/14.90 at 8c, vs ~1.1-2.1 s without — two
    // independent runs, min column agreeing). The rank self-join's two
    // sides are the same aggregation subtree, so runtime exchange reuse
    // already dedups the 14M-row explode+md5 pipeline; the extra eager
    // job bought nothing and behaved pathologically off-box. Duplicated
    // scans in explain() do NOT prove duplicated execution — measure.
    val o = means.select(col("b").as("b2"), col("mb").as("mb2"))
    val ci = means.join(broadcast(o),
        col("mb2") < col("mb") ||
          (col("mb2") === col("mb") && col("b2") <= col("b")))
      .groupBy("b", "mb").agg(count(lit(1)).as("rnk"))
      .agg(
        max(when(col("rnk") === BootLoRank, col("mb"))).as("lo95_cents"),
        max(when(col("rnk") === BootHiRank, col("mb"))).as("hi95_cents"))
    x.agg(count(lit(1)).as("n_orders"),
        round(sum(col("c").cast(D38)).cast("double") / count(lit(1)), 4)
          .as("mean_cents"))
      .crossJoin(broadcast(ci))
      .select(col("n_orders"), lit(BootReps.toLong).as("b_reps"),
        col("mean_cents"), col("lo95_cents"), col("hi95_cents"))
  }
  val bootstrapCiSql: String =
    s"""WITH x AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
       |hs AS (SELECT o_orderkey, c, hi,
       |    md5(CAST(hi AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)) AS m
       |  FROM x CROSS JOIN (SELECT unnest(generate_series(0, ${BootReps / 16 - 1})) AS hi)),
       |rep AS (SELECT c, hi * 16 + j AS b,
       |    (instr('0123456789abcdef', substring(m, j * 2 + 1, 1)) - 1) * 16 +
       |     instr('0123456789abcdef', substring(m, j * 2 + 2, 1)) - 1 AS v
       |  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)),
       |w AS (SELECT b, c, CASE WHEN v < 94 THEN 0 WHEN v < 188 THEN 1 WHEN v < 235 THEN 2
       |                        WHEN v < 251 THEN 3 WHEN v < 255 THEN 4 ELSE 5 END AS w
       |  FROM rep),
       |means AS (SELECT b, round(CAST(sum(w * c) AS DOUBLE) / sum(w), 4) AS mb
       |  FROM w GROUP BY b HAVING sum(w) > 0),
       |rk AS (SELECT a.b, a.mb, CAST(count(*) AS BIGINT) AS rnk
       |  FROM means a JOIN means o2
       |    ON o2.mb < a.mb OR (o2.mb = a.mb AND o2.b <= a.b)
       |  GROUP BY a.b, a.mb),
       |ci AS (SELECT max(CASE WHEN rnk = $BootLoRank THEN mb END) AS lo95_cents,
       |              max(CASE WHEN rnk = $BootHiRank THEN mb END) AS hi95_cents
       |  FROM rk),
       |tot95 AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
       |    round(CAST(sum(c) AS DOUBLE) / count(*), 4) AS mean_cents FROM x)
       |SELECT n_orders, CAST($BootReps AS BIGINT) AS b_reps, mean_cents, lo95_cents, hi95_cents
       |FROM tot95 CROSS JOIN ci""".stripMargin

  /** Quantile normalization of per-source length distributions onto the
    * pooled corpus (Bolstad et al. 2003's microarray normalization, the
    * batch-effect correction move, applied to the "source" batches a
    * mixed-crawl corpus has): each (source, value) cell maps to the pooled
    * corpus's order statistic at the cell's own within-source quantile, so
    * every source ends up with the same marginal distribution.
    *
    * Everything is rank arithmetic on the NDV-sized cumulated histograms
    * ([[cumulatedHistogram]] per source / [[globalCumHistogram]] pooled):
    * a cell's within-source midrank×2 is `lo+hi` (integral under ties),
    * its pooled target rank is `((lo+hi)·N) div (2·n_src)` clamped to ≥1
    * (exact integer; lift to DECIMAL(38,0)/HUGEINT when ranks approach
    * 2³¹·2³¹), and the mapped value is the pooled histogram row whose
    * [lo, hi] interval covers that rank. Output is (source × value)-cell
    * sized — never per-doc — and the only data-scale work is the two
    * histogram groupBys.
    */
  def quantileNorm(s: SparkSession, d: String): DataFrame = {
    val c = Tables.documents(s, d).select(col("source"), col("n_chars").as("v"))
    val perSrc = cumulatedHistogram(c, "source", "v")
      .withColumnRenamed("n", "ns")
    val g = globalCumHistogram(c.select("v"), "v")
      .select(col("v").as("gv"), col("lo").as("glo"), col("hi").as("ghi"),
        col("n").as("nn"))
    val withK = perSrc
      .crossJoin(broadcast(g.select(max("nn").as("nn")).limit(1)))
      .withColumn("k",
        greatest(expr("((lo + hi) * nn) div (2 * ns)"), lit(1L)))
    withK.join(broadcast(g.drop("nn")),
        col("k").between(col("glo"), col("ghi")))
      .select(col("source"), col("v"), col("cnt").cast("long").as("n_docs"),
        col("gv").as("mapped_v"))
      .orderBy("source", "v")
  }
  val quantileNormSql: String =
    """WITH c AS (SELECT source, n_chars AS v FROM documents),
      |s AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
      |sr AS (SELECT source, v, cnt,
      |        sum(cnt) OVER (PARTITION BY source ORDER BY v
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
      |        sum(cnt) OVER (PARTITION BY source) AS ns
      |       FROM s),
      |g AS (SELECT v AS gv, CAST(count(*) AS BIGINT) AS gcnt FROM c GROUP BY 1),
      |gr AS (SELECT gv, gcnt,
      |        sum(gcnt) OVER (ORDER BY gv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ghi
      |       FROM g),
      |gn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM c)
      |SELECT sr.source, sr.v, sr.cnt AS n_docs, gr.gv AS mapped_v
      |FROM sr CROSS JOIN gn JOIN gr
      |  ON greatest(((sr.hi - sr.cnt + 1 + sr.hi) * gn.nn) // (2 * sr.ns), 1)
      |     BETWEEN gr.ghi - gr.gcnt + 1 AND gr.ghi
      |ORDER BY sr.source, sr.v""".stripMargin

  /** Split-conformal quality threshold (Vovk's conformal prediction /
    * Papadopoulos et al. 2002 split variant — public): calibrate the
    * frozen quality score on the deterministic md5 "train" split
    * ([[graft.queries.PipelineQueries.trainSplit]]'s v < 205 rule), take
    * the finite-sample-adjusted order statistic k = ⌈0.9·(n_cal + 1)⌉ as
    * the threshold, and report the held-out split's empirical coverage —
    * which the exchangeability guarantee puts at ≥ 0.9 in expectation,
    * REGARDLESS of what the score measures. The threshold is an exact
    * micro-unit order statistic off [[globalCumHistogram]]; coverage is
    * one exact count ratio. This is the principled way to turn any score
    * the engine computes into a calibrated keep-gate.
    */
  def conformalThreshold(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val sc = graft.operators.QualityClassifier.frozenScores(docs)
      .withColumn("zc", round(col("zr") * lit(1e6)).cast("long"))
      .withColumn("m", md5(col("doc_id").cast("string")))
      .withColumn("v",
        expr("(instr('0123456789abcdef', substring(m, 31, 1)) - 1) * 16 + " +
          "instr('0123456789abcdef', substring(m, 32, 1)) - 1"))
      .withColumn("cal", col("v") < 205)
    val cum = globalCumHistogram(sc.filter(col("cal")).select("zc"), "zc")
    val thr = cum
      .withColumn("k", expr("(9 * (n + 1) + 9) div 10"))
      .filter(col("k").between(col("lo"), col("hi")))
      .select(col("n").as("n_cal"), col("k"), col("zc").as("thresh_micro"))
    val test = sc.filter(!col("cal"))
    test.crossJoin(broadcast(thr))
      .agg(
        max("n_cal").as("n_cal"), max("k").as("k"),
        max("thresh_micro").as("thresh_micro"),
        count(lit(1)).as("n_test"),
        (sum(when(col("zc") <= col("thresh_micro"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("test_coverage"))
  }
  val conformalThresholdSql: String = {
    val zr = graft.operators.QualityClassifier.zrSql("doc_id")
    s"""WITH z AS (
       |$zr),
       |sc AS (SELECT doc_id, CAST(round(zr * 1000000) AS BIGINT) AS zc,
       |         (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16 +
       |          instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 < 205 AS cal
       |       FROM z),
       |r AS (SELECT zc, row_number() OVER (ORDER BY zc) AS rn,
       |        count(*) OVER () AS n FROM sc WHERE cal),
       |thr AS (SELECT CAST(max(n) AS BIGINT) AS n_cal,
       |          CAST(max((9 * (n + 1) + 9) // 10) AS BIGINT) AS k,
       |          CAST(max(CASE WHEN rn = (9 * (n + 1) + 9) // 10 THEN zc END) AS BIGINT) AS thresh_micro
       |        FROM r)
       |SELECT thr.n_cal, thr.k, thr.thresh_micro,
       |  CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(sum(CASE WHEN sc.zc <= thr.thresh_micro THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS test_coverage
       |FROM sc CROSS JOIN thr WHERE NOT cal
       |GROUP BY thr.n_cal, thr.k, thr.thresh_micro""".stripMargin
  }

  /** Mann–Kendall trend test (Mann 1945 / Kendall 1975 — the standard
    * non-parametric "is there a monotone trend" test, [[theilSen]]'s
    * inferential companion; both run on the same bounded daily pair
    * frame). S = Σ_{i<j} sign(xⱼ − xᵢ) and the tie-corrected variance
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) stay exact integers; the
    * continuity-corrected z is one fixed double chain. |z| > 1.96 rejects
    * "no trend" at 5%.
    *
    * Scale: identical posture to [[theilSen]] — the data-scale work is one
    * partial-aggregable daily count; pairs and tie groups are
    * day-NDV-sized.
    */
  def mannKendall(s: SparkSession, d: String): DataFrame = {
    val dly = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg(count(lit(1)).as("nn"))
      .select(datediff(col("dt"), lit("1992-01-01")).cast("long").as("di"),
        col("nn"))
    val b = dly.select(col("di").as("dj"), col("nn").as("nj"))
    val sAgg = dly.join(b, col("dj") > col("di"))
      .agg(sum(signum(col("nj") - col("nn")).cast("long")).as("s_stat"))
    val nAgg = dly.agg(count(lit(1)).as("n_days"))
    val ties = dly.groupBy("nn").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)), lit(0L))
        .as("tie_term"))
    val j = sAgg.crossJoin(broadcast(nAgg)).crossJoin(broadcast(ties))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) -
          col("tie_term"))
    val zNum = when(col("s_stat") > 0, col("s_stat") - 1)
      .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(lit(0L))
    // Var(S) = 0 exactly when every daily count ties (or n_days = 1):
    // z is NULL (safeDiv contract), never an ANSI DIVIDE_BY_ZERO
    j.select(col("n_days"), col("s_stat"), col("var18"),
        round(graft.functions.NumOps.safeDiv(zNum.cast("double"),
          sqrt(col("var18").cast("double") / lit(18.0))), 4).as("z"))
      .withColumn("trend", abs(col("z")) > 1.96)
  }
  val mannKendallSql: String =
    """WITH dly AS (SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS di,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM orders GROUP BY 1),
      |sp AS (SELECT CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |       FROM dly a JOIN dly b ON b.di > a.di),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly),
      |tg AS (SELECT CAST(coalesce(sum(t * (t - 1) * (t * 2 + 5)), 0) AS BIGINT) AS tie_term
      |       FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM dly GROUP BY n)),
      |f AS (SELECT s_stat, n_days,
      |        n_days * (n_days - 1) * (n_days * 2 + 5) - tie_term AS var18,
      |        CASE WHEN s_stat > 0 THEN s_stat - 1
      |             WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS znum
      |      FROM sp CROSS JOIN nn CROSS JOIN tg)
      |SELECT n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
      |  round(CAST(znum AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4) + 0.0 AS z,
      |  abs(round(CAST(znum AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0), 4)) > 1.96 AS trend
      |FROM f""".stripMargin

  /** Rolling-window anomaly flags on the daily order series — the ops-
    * dashboard "3σ against the trailing week" alarm, kept ENTIRELY in
    * integers: with window sum S, window sum-of-squares Q and width w,
    * `|x − S/w| > 3σ` is equivalent to `(w·x − S)² > 9·(w·Q − S²)`
    * (multiply through by w²) — so the flag can never drift cross-engine.
    * The trailing window is a bounded range self-join over the NDV-sized
    * daily aggregate (`di−6 ≤ dk ≤ di`, the [[skyline]] discipline), never
    * a global Window operator; squares fit longs for daily counts (lift to
    * DECIMAL when daily volumes pass ~2³⁰). The day's own value is part of
    * its window (the standard control-chart convention for trailing-week
    * baselines).
    */
  def rollingAnomaly(s: SparkSession, d: String): DataFrame = {
    val dly = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg(count(lit(1)).as("nn"))
      .select(col("dt"),
        datediff(col("dt"), lit("1992-01-01")).cast("long").as("di"), col("nn"))
    val b = dly.select(col("di").as("dk"), col("nn").as("nk"))
    dly.join(b, col("dk").between(col("di") - 6, col("di")))
      .groupBy("dt", "di", "nn")
      .agg(count(lit(1)).as("w"), sum("nk").as("sw"),
        sum(col("nk") * col("nk")).as("qw"))
      .select(col("dt").as("order_date"), col("nn").as("n_orders"),
        col("w").as("w_days"),
        round(col("sw").cast("double") / col("w"), 4).as("roll_mean"),
        ((col("w") * col("nn") - col("sw")) * (col("w") * col("nn") - col("sw")) >
          (col("w") * col("qw") - col("sw") * col("sw")) * 9).as("flagged"))
      .orderBy("order_date")
  }
  val rollingAnomalySql: String =
    """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS dt,
      |               date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS di,
      |               CAST(count(*) AS BIGINT) AS n
      |             FROM orders GROUP BY 1, 2),
      |r AS (SELECT a.dt, a.di, a.n,
      |        CAST(count(*) AS BIGINT) AS w,
      |        CAST(sum(b.n) AS BIGINT) AS sw,
      |        CAST(sum(b.n * b.n) AS BIGINT) AS qw
      |      FROM dly a JOIN dly b ON b.di BETWEEN a.di - 6 AND a.di
      |      GROUP BY a.dt, a.di, a.n)
      |SELECT dt AS order_date, n AS n_orders, w AS w_days,
      |  round(CAST(sw AS DOUBLE) / w, 4) AS roll_mean,
      |  (w * n - sw) * (w * n - sw) > (w * qw - sw * sw) * 9 AS flagged
      |FROM r ORDER BY order_date""".stripMargin

  /** Isotonic (monotone) calibration of the reliability bins — PAVA's
    * closed minimax form (Ayer et al. 1955; Robertson–Wright–Dykstra 1988,
    * all public): the isotonic fit at bin i is
    * `max_{j≤i} min_{k≥i} weightedMean(y, j..k)`, evaluated over all
    * (j, i, k) triples of the B=10 reliability bins — a bounded B³ frame
    * (≤1000 rows), the [[skyline]] discipline, with interval means read
    * off bin-count prefix sums. This is the monotone recalibration step a
    * production scorer applies on top of [[graft.operators.EvalOps
    * .calibration]]'s raw bins (isotonic regression, the sklearn
    * `IsotonicRegression` move). Interval means are one double division of
    * exact integer sums; min/max over them are order-free.
    */
  def isotonicCalibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
    val sc = graft.operators.QualityClassifier.frozenScores(docs)
      .withColumn("p6", round(lit(1.0) / (lit(1.0) + exp(-col("zr"))), 6))
      .withColumn("bin", least(floor(col("p6") * 10).cast("long"), lit(9L)))
    val lab = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    // ≤10 rows, materialized once: pre/pj/pk/centers consume it through a
    // self-join fan-out, and unmaterialized the data-scale scoring
    // pipeline above re-ran per consumer (24 parquet scans in the r18
    // before-plan — the cumulatedHistogramOf lesson)
    val bins = sc.join(lab, "doc_id").groupBy("bin")
      .agg(count(lit(1)).as("w"), sum("y").as("sy"))
      .localCheckpoint(true)
    // prefix sums over ≤10 rows via bounded self-join (no Window operator)
    val b2 = bins.select(col("bin").as("b2"), col("w").as("w2"), col("sy").as("sy2"))
    val pre = bins.join(broadcast(b2), col("b2") <= col("bin"))
      .groupBy("bin", "w", "sy")
      .agg(sum("w2").as("cw"), sum("sy2").as("cs"))
    val pj = pre.select(col("bin").as("j"), (col("cw") - col("w")).as("cwj"),
      (col("cs") - col("sy")).as("csj"))
    val pk = pre.select(col("bin").as("k"), col("cw").as("cwk"), col("cs").as("csk"))
    val centers = pre.select(col("bin"), col("w"), col("sy"))
    // minimax: for each bin i, over j ≤ i ≤ k, the interval mean
    val tri = centers
      .join(broadcast(pj), col("j") <= col("bin"))
      .join(broadcast(pk), col("k") >= col("bin"))
      .withColumn("m",
        (col("csk") - col("csj")).cast("double") / (col("cwk") - col("cwj")))
    val innerMin = tri.groupBy("bin", "w", "sy", "j").agg(min("m").as("mm"))
    innerMin.groupBy("bin", "w", "sy").agg(max("mm").as("iso_rate"))
      .select(col("bin"), col("w").as("n_docs"),
        (col("sy").cast("double") / col("w")).as("raw_rate"),
        round(col("iso_rate"), 6).as("iso_rate"))
      .orderBy("bin")
  }
  val isotonicCalibrationSql: String = {
    val zr = graft.operators.QualityClassifier.zrSql("doc_id")
    s"""WITH z AS (
       |$zr),
       |sc AS (SELECT z.doc_id, least(CAST(floor(round(1.0 / (1.0 + exp(-zr)), 6) * 10) AS BIGINT), 9) AS bin,
       |             CASE WHEN dd.lang = 'en' THEN 1 ELSE 0 END AS y
       |      FROM z JOIN documents dd ON z.doc_id = dd.doc_id),
       |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS w, CAST(sum(y) AS BIGINT) AS sy
       |         FROM sc GROUP BY bin),
       |pre AS (SELECT a.bin, a.w, a.sy,
       |          CAST(sum(b.w) AS BIGINT) AS cw, CAST(sum(b.sy) AS BIGINT) AS cs
       |        FROM bins a JOIN bins b ON b.bin <= a.bin GROUP BY a.bin, a.w, a.sy),
       |tri AS (SELECT i.bin, i.w, i.sy,
       |          CAST(k.cs - (j.cs - j.sy) AS DOUBLE) / (k.cw - (j.cw - j.w)) AS m, j.bin AS jb
       |        FROM pre i
       |        JOIN pre j ON j.bin <= i.bin
       |        JOIN pre k ON k.bin >= i.bin),
       |im AS (SELECT bin, w, sy, jb, min(m) AS mm FROM tri GROUP BY bin, w, sy, jb)
       |SELECT bin, w AS n_docs,
       |  CAST(sy AS DOUBLE) / w AS raw_rate,
       |  round(max(mm), 6) AS iso_rate
       |FROM im GROUP BY bin, w, sy
       |ORDER BY bin""".stripMargin
  }

  /** Winsorized mean per group — [[gTrimmedMean]]'s sibling that CLAMPS the
    * tails to the p5/p95 order statistics instead of dropping them (Tukey's
    * robust location family). Entirely rank arithmetic on the cumulated
    * histogram: the winsorized sum replaces every value below the p5 value
    * with it (count from the rank interval), ditto above p95, all exact
    * integers until the final mean division.
    */
  def gWinsorMean(s: SparkSession, d: String): DataFrame = {
    val D38 = DecimalType(38, 0)
    val c = Tables.orders(s, d).select(col("o_orderstatus").as("g"),
      round(col("o_totalprice") * 100).cast("long").as("v"))
    val h = cumulatedHistogram(c, "g", "v")
    val ks = h
      .withColumn("k5", expr("(n + 19) div 20"))        // ceil(0.05 n)
      .withColumn("k95", expr("(19 * n + 19) div 20"))  // ceil(0.95 n)
    // the two clamp values: order statistics at k5 and k95
    val clamps = ks.filter(col("k5").between(col("lo"), col("hi")) ||
        col("k95").between(col("lo"), col("hi")))
      .groupBy("g").agg(
        max(when(col("k5").between(col("lo"), col("hi")), col("v"))).as("v5"),
        max(when(col("k95").between(col("lo"), col("hi")), col("v"))).as("v95"))
    ks.join(broadcast(clamps), "g")
      .withColumn("cv", when(col("v") < col("v5"), col("v5"))
        .when(col("v") > col("v95"), col("v95")).otherwise(col("v")))
      .groupBy("g").agg(
        max("n").as("n"),
        max("v5").as("p5_cents"), max("v95").as("p95_cents"),
        round(sum((col("cv") * col("cnt")).cast(D38)).cast("double") / max("n"), 4)
          .as("winsor_mean_cents"))
      .select(col("g").as("o_orderstatus"), col("n"), col("p5_cents"),
        col("p95_cents"), col("winsor_mean_cents"))
      .orderBy("o_orderstatus")
  }
  val gWinsorMeanSql: String =
    """WITH c AS (SELECT o_orderstatus AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |h AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
      |r AS (SELECT g, v, cnt,
      |        sum(cnt) OVER (PARTITION BY g ORDER BY v
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
      |        sum(cnt) OVER (PARTITION BY g) AS n
      |      FROM h),
      |k AS (SELECT g, v, cnt, hi, hi - cnt + 1 AS lo, n,
      |        (n + 19) // 20 AS k5, (19 * n + 19) // 20 AS k95 FROM r),
      |cl AS (SELECT g,
      |         CAST(max(CASE WHEN k5 BETWEEN lo AND hi THEN v END) AS BIGINT) AS v5,
      |         CAST(max(CASE WHEN k95 BETWEEN lo AND hi THEN v END) AS BIGINT) AS v95
      |       FROM k GROUP BY g)
      |SELECT k.g AS o_orderstatus, CAST(max(k.n) AS BIGINT) AS n,
      |  max(cl.v5) AS p5_cents, max(cl.v95) AS p95_cents,
      |  round(CAST(sum(CASE WHEN k.v < cl.v5 THEN cl.v5
      |                      WHEN k.v > cl.v95 THEN cl.v95
      |                      ELSE k.v END * k.cnt) AS DOUBLE) / max(k.n), 4) AS winsor_mean_cents
      |FROM k JOIN cl USING (g)
      |GROUP BY k.g ORDER BY k.g""".stripMargin

  /** Pareto frontier (SKYLINE) of parts on (cheap price, large size) — the
    * dominance query class (Börzsönyi et al. 2001) nothing else on the
    * board covers: a part survives iff no other part is at-least-as-cheap
    * AND at-least-as-large with one strict. Ties on both axes coexist on
    * the frontier (neither dominates).
    *
    * Scale shape — never the O(n²) NOT-EXISTS the oracle replays: skyline
    * membership is `size = max(size at my price)` AND `size > max(size at
    * any STRICTLY cheaper price)`, and that prefix maximum runs over the
    * NDV-sized per-price maxima with the [[wCusum]] discipline — windows
    * partitioned by price BUCKET, cross-bucket stitch via a bounded
    * inequality self-join. The prefix-MAX third sibling of the prefix
    * SUM/MIN constructions.
    */
  def skyline(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.part(s, d).select(col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("pc"),
      col("p_size").cast("long").as("sz"))
    val grp = pts.groupBy("pc").agg(max("sz").as("gmax"))
      .withColumn("_b", expr(s"pc div $HistBucketWidth"))
    val wIn = Window.partitionBy("_b").orderBy("pc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inB = grp.withColumn("inmax", max("gmax").over(wIn))
    val bt = grp.groupBy("_b").agg(max("gmax").as("bmax"))
    val prev = bt
      .join(bt.select(col("_b").as("_b2"), col("bmax").as("bmax2")),
        col("_b2") < col("_b"), "left")
      .groupBy("_b").agg(max("bmax2").as("prevmax"))
    val sky = inB.join(broadcast(prev), Seq("_b"))
      .withColumn("maxlt",
        greatest(coalesce(col("inmax"), lit(-1L)), coalesce(col("prevmax"), lit(-1L))))
      .filter(col("gmax") > col("maxlt"))
      .select(col("pc"), col("gmax"))
    pts.join(sky, Seq("pc")).filter(col("sz") === col("gmax"))
      .select(col("p_partkey"), col("pc"), col("sz").as("p_size"))
      .orderBy("pc", "p_partkey")
  }
  /** Oracle IS the dominance definition — quadratic, but definitional. */
  val skylineSql: String =
    """SELECT p1.p_partkey, CAST(round(p1.p_retailprice * 100) AS BIGINT) AS pc,
      |  CAST(p1.p_size AS BIGINT) AS p_size
      |FROM part p1
      |WHERE NOT EXISTS (SELECT 1 FROM part p2
      |  WHERE round(p2.p_retailprice * 100) <= round(p1.p_retailprice * 100)
      |    AND p2.p_size >= p1.p_size
      |    AND (round(p2.p_retailprice * 100) < round(p1.p_retailprice * 100)
      |         OR p2.p_size > p1.p_size))
      |ORDER BY pc, p1.p_partkey""".stripMargin

  /** CUSUM changepoint scan over the daily order-count series — the
    * monitoring classic (Page 1954): cumulative sum of deviations from the
    * series mean, reset at its running minimum, flags sustained level
    * shifts a single-day z-score misses. Deviations are exact integers
    * (each day's count is scaled by the day total so the mean subtracts
    * without fractions), so the whole scan is integer arithmetic and
    * engine-independent; `flagged` marks days whose accumulated excess
    * tops one full corpus-day of volume (a fixed, documented dial).
    *
    * Scale discipline — CUSUM looks sequential but is not:
    * `s_i = max(0, s_{i-1} + x_i)` has the closed form
    * `s_i = P_i − min_{0≤j≤i} P_j` (prefix sum minus prefix MIN — the
    * EMPTY prefix P₀ = 0 included), and both
    * prefixes compose blockwise. The day-level windows partition BY YEAR
    * (calendar-bounded frames), and the cross-year stitch — each year's
    * starting offset and the minimum prefix seen in earlier years — is a
    * bounded inequality self-join over the handful of year rows, the
    * [[globalCumHistogram]] shape. No partition-less window anywhere, and
    * the construction scales to any time span by adding a level (year →
    * decade), exactly like the prefix-SUM recursion in
    * [[PipelineQueries.sequencePack]]; this is its prefix-MIN sibling.
    */
  def wCusum(s: SparkSession, d: String): DataFrame =
    cusumOver(Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg(count(lit(1)).as("n")))

  /** The scan on ANY (dt, n) daily frame — public so specs pin the closed
    * form against the sequential recurrence on crafted series (including a
    * leading above-mean run, the case the empty-prefix term exists for).
    */
  def cusumOver(daily: DataFrame): DataFrame = {
    val tot = daily.agg(sum("n").as("t"), count(lit(1)).as("nd"))
    val x = daily.crossJoin(broadcast(tot))
      .withColumn("x", col("n") * col("nd") - col("t"))
      .withColumn("yr", year(col("dt")))
    val w = Window.partitionBy("yr").orderBy("dt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inYr = x
      .withColumn("pin", sum("x").over(w))
      .withColumn("minin", min("pin").over(w))
    // year frame: total deviation + in-year prefix minimum (bounded rows)
    val yr = inYr.groupBy("yr")
      .agg(sum("x").as("yt"), min("pin").as("ymin"))
    val yr2 = yr.select(col("yr").as("y2"), col("yt").as("yt2"), col("ymin").as("ymin2"))
    // offsets: Σ of earlier years' totals (inequality self-join, year-count sized)
    val yoff = yr.join(yr2, col("y2") < col("yr"), "left")
      .groupBy("yr").agg(coalesce(sum("yt2"), lit(0L)).as("yoff"))
    val yrOff = yr.join(broadcast(yoff), Seq("yr"))
      .select(col("yr"), col("yoff"), (col("yoff") + col("ymin")).as("ymin_abs"))
    val yrOff2 = yrOff.select(col("yr").as("y2"), col("ymin_abs").as("ymin_abs2"))
    // minimum absolute prefix over all EARLIER years
    val mprev = yrOff.join(yrOff2, col("y2") < col("yr"), "left")
      .groupBy("yr", "yoff").agg(min("ymin_abs2").as("mprev"))
    inYr.join(broadcast(mprev), Seq("yr"))
      .withColumn("p", col("yoff") + col("pin"))
      // the EMPTY prefix P₀ = 0 belongs in the minimum: without it the
      // first day's cusum is forced to 0 and a level shift at the very
      // start of the series is silently missed
      .withColumn("m",
        least(lit(0L),
          least(coalesce(col("mprev"), col("yoff") + col("minin")),
            col("yoff") + col("minin"))))
      .select(col("dt").as("order_date"), col("n").as("n_orders"),
        (col("p") - col("m")).as("cusum"),
        (col("p") - col("m") > col("t")).as("flagged"))
      .orderBy("order_date")
  }
  val wCusumSql: String =
    """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      |             FROM orders GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS nd FROM dly),
      |x AS (SELECT d, n, tot, n * nd - tot AS xx FROM dly CROSS JOIN t),
      |p AS (SELECT d, n, tot,
      |        sum(xx) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pp FROM x),
      |m AS (SELECT d, n, tot, pp,
      |        least(min(pp) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING), 0) AS mm FROM p)
      |SELECT d AS order_date, n AS n_orders, CAST(pp - mm AS BIGINT) AS cusum,
      |  pp - mm > tot AS flagged
      |FROM m ORDER BY d""".stripMargin

  /** Exact Spearman rank correlation per return flag: ρ between quantity
    * and extended price across line items — the tie-robust monotone-
    * association twin of the Pearson `g_corr_stats` (rank statistics are
    * the standard choice when the marginals are heavy-tailed, as prices
    * are). Midranks handle ties exactly.
    *
    * Scale shape — NO row-level rank join and NO global sort: the one
    * data-scale pass is a partial-aggregable groupBy((flag, qty, price))
    * → the joint value-NDV table; marginal midranks come from cumulated
    * counts over the per-flag value histograms (NDV-sized windows, the
    * [[globalCumHistogram]] discipline); every Σ then folds cnt × rank
    * products over the NDV table. Centered double-ranks
    * (2·cum_before + cnt − n) keep every sum an exact DECIMAL(38,0)
    * integer with zero mean — no catastrophic-cancellation subtraction —
    * so ρ is one double division + sqrt + round(6) at the very end,
    * identical in both engines.
    */
  def spearman(s: SparkSession, d: String): DataFrame = {
    val D38 = DecimalType(38, 0)
    val rows = graft.Tables.lineitem(s, d).select(
      col("l_returnflag").as("g"),
      col("l_quantity").cast("long").as("x"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("y"))
    // keyed repartition BEFORE the cell aggregation (r19, tools/Probe): the
    // joint (g, x, y) cells are near-unique (599,881 of 600,000 rows), so
    // map-side partial aggregation compressed nothing while the scan's 3
    // input splits ran the whole cell-build 3-wide (0.8 s single-stage).
    // Pre-partitioning on the group keys replaces the aggregate's own
    // exchange (same hash partitioning, guide §2.4), moves the work after
    // it to full width, and skips the useless partial-agg pass — the
    // 0.02% compression it bought is noise at any scale.
    val pairs = rows
      .repartition(s.sparkContext.defaultParallelism, col("g"), col("x"), col("y"))
      .groupBy("g", "x", "y").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds the x-marginal AND the y-fold
      // (measured: dropping this for ReuseExchange reads 4.44 s vs 3.60 s
      // at sf0.1 — the consumers do NOT share one exchange subtree)
    // bucketed two-level cumulated counts — no value-NDV-sized per-group
    // window (the group key has only a handful of values, so a plain
    // per-group window would put each group's whole value domain in ONE
    // task); the centered double-rank falls out as lo + hi - 1 - n
    // ASYMMETRIC marginals (r19): x (quantity) is bounded-NDV, so its
    // rank table broadcasts; y (price cents) is near-unique, so the old
    // ranks("y") join back onto the pair table was a DATA-scale
    // sort-merge join (guide §2.4). Instead, fold the x-moment partials
    // into the (g, y) histogram — Σ cnt·r2x·r2y factors as
    // Σ_y r2y·(Σ_x cnt·r2x) because r2y depends only on (g, y) — and
    // compute y-ranks ON that NDV(y)-sized frame (the extra partial
    // columns ride through cumulatedHistogramOf untouched). Same exact
    // integer sums, one partial-aggregable exchange instead of the join.
    val rx = cumulatedHistogramOf(
        pairs.groupBy("g", "x").agg(sum("cnt").as("cnt")), "g", "x")
      .select(col("g"), col("x"),
        (col("lo") + col("hi") - 1 - col("n")).as("r2x"))
    val hy = pairs.join(broadcast(rx), Seq("g", "x"))
      .groupBy("g", "y").agg(
        sum("cnt").as("cnt"),
        sum((col("cnt") * col("r2x")).cast(D38)).as("sxr"),
        sum((col("cnt") * col("r2x") * col("r2x")).cast(D38)).as("sxx"))
    cumulatedHistogramOf(hy, "g", "y")
      .withColumn("r2y", col("lo") + col("hi") - 1 - col("n"))
      .groupBy("g")
      .agg(
        sum("cnt").as("n"),
        sum(col("r2y").cast(D38) * col("sxr")).as("sxy"),
        sum("sxx").as("vx"),
        sum((col("cnt") * col("r2y") * col("r2y")).cast(D38)).as("vy"))
      .select(col("g").as("l_returnflag"), col("n"),
        // NULL — not a crash, not NaN — for a zero-variance group: the
        // safeDiv degenerate contract (DuckDB's x/0 is NULL; ANSI Spark
        // would otherwise throw DIVIDE_BY_ZERO and kill the query)
        graft.functions.NumOps.roundz(graft.functions.NumOps.safeDiv(
          col("sxy").cast("double"),
          sqrt(col("vx").cast("double") * col("vy").cast("double"))), 6)
          .as("rho"))
      .orderBy("l_returnflag")
  }
  val spearmanSql: String =
    """WITH rows_t AS (
      |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT g, x, y, CAST(count(*) AS BIGINT) AS cnt FROM rows_t GROUP BY g, x, y),
      |np AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM pairs GROUP BY g),
      |hx AS (SELECT g, x, CAST(sum(cnt) AS BIGINT) AS c FROM pairs GROUP BY g, x),
      |rx AS (SELECT g, x,
      |         2 * COALESCE(sum(c) OVER (PARTITION BY g ORDER BY x
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c - np.n AS r2x
      |       FROM hx JOIN np USING (g)),
      |hy AS (SELECT g, y, CAST(sum(cnt) AS BIGINT) AS c FROM pairs GROUP BY g, y),
      |ry AS (SELECT g, y,
      |         2 * COALESCE(sum(c) OVER (PARTITION BY g ORDER BY y
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c - np.n AS r2y
      |       FROM hy JOIN np USING (g)),
      |m AS (SELECT p.g, CAST(sum(cnt) AS BIGINT) AS n,
      |        CAST(sum(CAST(cnt * r2x * r2y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
      |        CAST(sum(CAST(cnt * r2x * r2x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vx,
      |        CAST(sum(CAST(cnt * r2y * r2y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vy
      |      FROM pairs p JOIN rx ON p.g = rx.g AND p.x = rx.x
      |                   JOIN ry ON p.g = ry.g AND p.y = ry.y
      |      GROUP BY p.g)
      |SELECT g AS l_returnflag, n,
      |  round(CAST(sxy AS DOUBLE) / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6)
      |    + 0.0 AS rho
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Mutual information (and its normalized form) between a document's
    * language and its source — the feature-selection / leakage-audit
    * staple next to [[graft.operators.FeatureOps]]' χ²: how many nats of
    * information one categorical column carries about another. NMI =
    * MI / sqrt(H(X)·H(Y)) rescales to [0, 1].
    *
    * Determinism discipline (the bigramLm rules): every ln() is rounded
    * to 6 dp and carried as DECIMAL multiplied by the exact integer cell
    * count — partition-order-independent exact sums — with ONE double
    * divide + round(6) per output. All frames after the first
    * partial-aggregable groupBy are category-NDV-sized; the marginals
    * re-aggregate the joint table (no second data pass); the total is a
    * one-row broadcast.
    */
  def mutualInfo(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D = DecimalType(18, 6)
    val joint = graft.Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("nxy"))
      .localCheckpoint(true) // feeds marginals, total, and the term fold
    val nx = joint.groupBy("lang").agg(sum("nxy").as("nx"))
    val ny = joint.groupBy("source").agg(sum("nxy").as("ny"))
    val tot = joint.agg(sum("nxy").as("n"))
    def ln6(c: Column): Column = round(log(c), 6).cast(D)
    val miSum = joint.join(nx, "lang").join(ny, "source")
      .crossJoin(broadcast(tot))
      .select((col("nxy").cast(DecimalType(18, 0)) *
        ln6(col("nxy").cast("double") * col("n").cast("double") /
          (col("nx") * col("ny")).cast("double"))).as("t"), col("n"))
      .groupBy("n").agg(sum("t").as("st"))
    def entropy(m: DataFrame, c: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .select((col(c).cast(DecimalType(18, 0)) *
          ln6(col(c).cast("double") / col("n").cast("double"))).as("t"))
        .agg((-sum(col("t"))).as(s"s$c"))
    miSum
      .crossJoin(broadcast(entropy(nx, "nx")))
      .crossJoin(broadcast(entropy(ny, "ny")))
      .select(
        col("n").as("n_docs"),
        roundz(col("st").cast("double") / col("n"), 6).as("mi"),
        roundz(col("snx").cast("double") / col("n"), 6).as("hx"),
        roundz(col("sny").cast("double") / col("n"), 6).as("hy"))
      .withColumn("nmi",
        when(col("hx") * col("hy") > 0,
          roundz(col("mi") / sqrt(col("hx") * col("hy")), 6)))
  }
  val mutualInfoSql: String =
    """WITH joint AS MATERIALIZED (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS nxy
      |  FROM documents GROUP BY lang, source),
      |nx AS (SELECT lang, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY lang),
      |ny AS (SELECT source, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY source),
      |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM joint),
      |mi AS (SELECT t.n, sum(CAST(j.nxy AS DECIMAL(18,0)) *
      |         CAST(round(ln(CAST(j.nxy AS DOUBLE) * CAST(t.n AS DOUBLE) /
      |           CAST(nx.nx * ny.ny AS DOUBLE)), 6) AS DECIMAL(18,6))) AS st
      |       FROM joint j JOIN nx USING (lang) JOIN ny USING (source)
      |       CROSS JOIN tot t GROUP BY t.n),
      |hx AS (SELECT -sum(CAST(nx AS DECIMAL(18,0)) *
      |         CAST(round(ln(CAST(nx AS DOUBLE) / CAST(t.n AS DOUBLE)), 6)
      |           AS DECIMAL(18,6))) AS snx
      |       FROM nx CROSS JOIN tot t),
      |hy AS (SELECT -sum(CAST(ny AS DECIMAL(18,0)) *
      |         CAST(round(ln(CAST(ny AS DOUBLE) / CAST(t.n AS DOUBLE)), 6)
      |           AS DECIMAL(18,6))) AS sny
      |       FROM ny CROSS JOIN tot t),
      |o AS (SELECT mi.n AS n_docs,
      |        round(CAST(mi.st AS DOUBLE) / mi.n, 6) + 0.0 AS mi,
      |        round(CAST(hx.snx AS DOUBLE) / mi.n, 6) + 0.0 AS hx,
      |        round(CAST(hy.sny AS DOUBLE) / mi.n, 6) + 0.0 AS hy
      |      FROM mi CROSS JOIN hx CROSS JOIN hy)
      |SELECT n_docs, mi, hx, hy,
      |  CASE WHEN hx * hy > 0 THEN round(mi / sqrt(hx * hy), 6) + 0.0 END AS nmi
      |FROM o""".stripMargin

  /** Welch's unequal-variance t-test on the same two event-value samples as
    * [[ksTest]]/[[mannWhitney]] — the parametric member of the two-sample
    * family: t = (m₁−m₂)/√(s₁²/n₁ + s₂²/n₂) with the Welch–Satterthwaite
    * effective degrees of freedom. Values land on the cents grid so the
    * per-group moment fold (n, Σv, Σv²) is DECIMAL(38,0)-exact and
    * partition-order-independent; means, variances, t and df are single
    * double expressions off the two-row moment frame, rounded via roundz.
    *
    * Scale shape: ONE partial-aggregable groupBy to a 2-row frame, then a
    * self-stitch (1-row broadcast each side) — no window, no data-scale
    * second pass.
    */
  def welchTTest(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D38 = DecimalType(38, 0)
    val m = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(D38)).as("sv"),
        sum((col("v") * col("v")).cast(D38)).as("svv"))
    def side(tag: String): DataFrame = m.filter(col("g") === tag).select(
      col("n").as(s"n_$tag"), col("sv").as(s"sv_$tag"), col("svv").as(s"svv_$tag"))
    def nd(c: String): Column = col(c).cast("double")
    import graft.functions.NumOps.safeDiv
    // mean and unbiased variance in CENTS off the exact moments; the
    // degenerate-capable denominators (n = 1 singleton samples, both
    // samples CONSTANT so se²a + se²b = 0) are safeDiv-guarded — t/df go
    // NULL on them, matching the oracle's native x/0 → NULL, instead of
    // ANSI-failing the job
    def mean(t: String): Column = nd(s"sv_$t") / nd(s"n_$t")
    def vr(t: String): Column =
      safeDiv(nd(s"svv_$t") - nd(s"sv_$t") * nd(s"sv_$t") / nd(s"n_$t"),
        nd(s"n_$t") - lit(1.0))
    val se2a = vr("purchase") / nd("n_purchase")
    val se2b = vr("view") / nd("n_view")
    val t = safeDiv(mean("purchase") - mean("view"), sqrt(se2a + se2b))
    val df = safeDiv((se2a + se2b) * (se2a + se2b),
      se2a * se2a / (nd("n_purchase") - lit(1.0)) +
        se2b * se2b / (nd("n_view") - lit(1.0)))
    broadcast(side("purchase")).crossJoin(broadcast(side("view")))
      .select(col("n_purchase").as("n1"), col("n_view").as("n2"),
        roundz(mean("purchase") / 100, 4).as("mean1"),
        roundz(mean("view") / 100, 4).as("mean2"),
        roundz(t, 6).as("t"), roundz(df, 2).as("df"))
      .withColumn("reject_05", abs(col("t")) > lit(1.96))
  }
  val welchTTestSql: String =
    """WITH m AS (
      |  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS sv,
      |         sum(CAST(CAST(round(value * 100) AS BIGINT)
      |           * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS svv
      |  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1),
      |w AS (SELECT
      |    a.n AS n1, b.n AS n2,
      |    CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE) AS m1,
      |    CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE) AS m2,
      |    (CAST(a.svv AS DOUBLE) - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE)
      |       / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0)
      |       / CAST(a.n AS DOUBLE) AS se2a,
      |    (CAST(b.svv AS DOUBLE) - CAST(b.sv AS DOUBLE) * CAST(b.sv AS DOUBLE)
      |       / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0)
      |       / CAST(b.n AS DOUBLE) AS se2b
      |  FROM (SELECT * FROM m WHERE g = 'purchase') a
      |  CROSS JOIN (SELECT * FROM m WHERE g = 'view') b),
      |o AS (SELECT n1, n2,
      |    round(m1 / 100, 4) + 0.0 AS mean1, round(m2 / 100, 4) + 0.0 AS mean2,
      |    round((m1 - m2) / sqrt(se2a + se2b), 6) + 0.0 AS t,
      |    round((se2a + se2b) * (se2a + se2b) /
      |      (se2a * se2a / (CAST(n1 AS DOUBLE) - 1.0)
      |       + se2b * se2b / (CAST(n2 AS DOUBLE) - 1.0)), 2) + 0.0 AS df
      |  FROM w)
      |SELECT n1, n2, mean1, mean2, t, df, abs(t) > 1.96 AS reject_05
      |FROM o""".stripMargin

  /** One-way ANOVA across ALL event types: does mean event value differ by
    * type? F = (SSB/(k−1))/(SSW/(N−k)) decomposed entirely from per-group
    * exact moments (n, Σv, Σv² on the cents grid, DECIMAL(38,0)), plus
    * η² = SSB/SST as the effect size. The k-group generalization of
    * [[welchTTest]] — one partial-aggregable pass to a k-row frame, the
    * grand totals re-aggregate that frame (no second data pass), and the F
    * assembly happens on one broadcast row.
    */
  def anovaF(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D38 = DecimalType(38, 0)
    val m = Tables.events(s, d)
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(D38)).as("sv"),
        sum((col("v") * col("v")).cast(D38)).as("svv"))
      .localCheckpoint(true) // k-row frame feeds both the totals and SSB
    val tot = m.agg(sum("n").cast("long").as("nn"),
      sum("sv").as("tsv"), sum("svv").as("tsvv"), count(lit(1)).as("k"))
    // SSB = sum_g sv_g^2/n_g - tsv^2/N ; SST = tsvv - tsv^2/N (cents^2)
    val ssbTerms = m.agg(
      sum(col("sv").cast("double") * col("sv").cast("double") /
        col("n").cast("double")).as("sq"))
    val nn = col("nn").cast("double")
    val gm2 = col("tsv").cast("double") * col("tsv").cast("double") / nn
    val sst = col("tsvv").cast("double") - gm2
    val ssb = col("sq") - gm2
    val ssw = sst - ssb
    val kd = col("k").cast("double")
    // degenerate designs guarded (safeDiv contract): k = 1 (single group),
    // n = k (all-singleton groups, SSW df = 0), SSW = 0 (perfect
    // separation), SST = 0 (all-tied values) each yield NULL F / η²
    // instead of an ANSI DIVIDE_BY_ZERO — DuckDB's x/0 is NULL natively
    import graft.functions.NumOps.safeDiv
    broadcast(tot).crossJoin(broadcast(ssbTerms))
      .select(col("nn").as("n"), col("k"),
        roundz(safeDiv(safeDiv(ssb, kd - lit(1.0)), safeDiv(ssw, nn - kd)), 6)
          .as("f"),
        roundz(safeDiv(ssb, sst), 6).as("eta_sq"))
  }
  val anovaFSql: String =
    """WITH m AS (
      |  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS sv,
      |         sum(CAST(CAST(round(value * 100) AS BIGINT)
      |           * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS svv
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sv) AS tsv,
      |          sum(svv) AS tsvv, CAST(count(*) AS BIGINT) AS k FROM m),
      |sq AS (SELECT sum(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |           / CAST(n AS DOUBLE)) AS sq FROM m),
      |o AS (SELECT t.nn AS n, t.k,
      |    (s.sq - CAST(t.tsv AS DOUBLE) * CAST(t.tsv AS DOUBLE)
      |       / CAST(t.nn AS DOUBLE)) AS ssb,
      |    (CAST(t.tsvv AS DOUBLE) - CAST(t.tsv AS DOUBLE) * CAST(t.tsv AS DOUBLE)
      |       / CAST(t.nn AS DOUBLE)) AS sst,
      |    CAST(t.nn AS DOUBLE) AS nd, CAST(t.k AS DOUBLE) AS kd
      |  FROM tot t CROSS JOIN sq s)
      |SELECT n, k,
      |  round(ssb / (kd - 1.0) / ((sst - ssb) / (nd - kd)), 6) + 0.0 AS f,
      |  round(ssb / sst, 6) + 0.0 AS eta_sq
      |FROM o""".stripMargin

  /** Cochran–Mantel–Haenszel stratified 2×2 association test: is document
    * length (≥200 chars) associated with being English AFTER controlling
    * for the source? The confounder-aware sibling of the marginal χ²
    * ([[cramersV]]) — Simpson's-paradox insurance for corpus audits. Per
    * stratum k: a_k = n₁₁, E_k = row₁·col₁/n, V_k = row₁row₀col₁col₀ /
    * (n²(n−1)); CMH = (|Σa−ΣE| − ½)² / ΣV with continuity correction,
    * plus the Mantel–Haenszel pooled odds ratio Σ(ad/n)/Σ(bc/n).
    *
    * Determinism: per-stratum E/V/ad/bc terms are single double
    * expressions rounded to 6 dp and summed as DECIMAL(18,6) — exact,
    * partition-order-independent — with one double assembly at the end.
    * Scale: one partial-aggregable groupBy to a strata-count-sized frame;
    * everything after is O(strata).
    */
  def cmhTest(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D6 = DecimalType(18, 6)
    val cells = Tables.documents(s, d)
      .select(col("source"),
        when(col("n_chars") >= 200, 1L).otherwise(0L).as("e"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("source")
      .agg(sum(col("e") * col("y")).as("n11"),
        sum(col("e") * (lit(1L) - col("y"))).as("n10"),
        sum((lit(1L) - col("e")) * col("y")).as("n01"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("y"))).as("n00"))
    val n = (col("n11") + col("n10") + col("n01") + col("n00")).cast("double")
    val r1 = (col("n11") + col("n10")).cast("double")
    val r0 = (col("n01") + col("n00")).cast("double")
    val c1 = (col("n11") + col("n01")).cast("double")
    val c0 = (col("n10") + col("n00")).cast("double")
    // degenerate strata guarded (safeDiv contract): a single-doc stratum
    // zeroes vk's n(n-1) factor (its NULL vk drops out of the sum — the
    // zero-information stratum — identically in DuckDB, whose x/0 is NULL
    // and whose sum() skips NULLs); all-concordant data zeroes sbc so the
    // MH odds ratio is NULL; all-degenerate marginals zero sv so χ² is NULL
    import graft.functions.NumOps.safeDiv
    val terms = cells.select(
      col("n11"),
      round(r1 * c1 / n, 6).cast(D6).as("ek"),
      round(safeDiv(r1 * r0 * c1 * c0, n * n * (n - lit(1.0))), 6)
        .cast(D6).as("vk"),
      round(col("n11").cast("double") * col("n00").cast("double") / n, 6)
        .cast(D6).as("adk"),
      round(col("n10").cast("double") * col("n01").cast("double") / n, 6)
        .cast(D6).as("bck"))
    val agg = terms.agg(count(lit(1)).as("n_strata"),
      sum("n11").cast("long").as("sa"), sum("ek").as("se"),
      sum("vk").as("sv"), sum("adk").as("sad"), sum("bck").as("sbc"))
    val num = abs(col("sa").cast("double") - col("se").cast("double")) - lit(0.5)
    agg.select(col("n_strata"),
        roundz(safeDiv(num * num, col("sv").cast("double")), 6).as("chi2_cmh"),
        roundz(safeDiv(col("sad").cast("double"), col("sbc").cast("double")), 6)
          .as("or_mh"))
      .withColumn("reject_05", col("chi2_cmh") > lit(3.841))
  }
  val cmhTestSql: String =
    """WITH cells AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN n_chars >= 200 AND lang = 'en' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n11,
      |    CAST(sum(CASE WHEN n_chars >= 200 AND lang <> 'en' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n10,
      |    CAST(sum(CASE WHEN n_chars < 200 AND lang = 'en' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n01,
      |    CAST(sum(CASE WHEN n_chars < 200 AND lang <> 'en' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n00
      |  FROM documents GROUP BY 1),
      |terms AS (SELECT n11,
      |    CAST(round(CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
      |      / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6) AS DECIMAL(18,6)) AS ek,
      |    CAST(round(CAST(n11 + n10 AS DOUBLE) * CAST(n01 + n00 AS DOUBLE)
      |        * CAST(n11 + n01 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)
      |      / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
      |         * CAST(n11 + n10 + n01 + n00 AS DOUBLE)
      |         * (CAST(n11 + n10 + n01 + n00 AS DOUBLE) - 1.0)), 6)
      |      AS DECIMAL(18,6)) AS vk,
      |    CAST(round(CAST(n11 AS DOUBLE) * CAST(n00 AS DOUBLE)
      |      / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6) AS DECIMAL(18,6)) AS adk,
      |    CAST(round(CAST(n10 AS DOUBLE) * CAST(n01 AS DOUBLE)
      |      / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6) AS DECIMAL(18,6)) AS bck
      |  FROM cells),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |    CAST(sum(n11) AS BIGINT) AS sa, sum(ek) AS se, sum(vk) AS sv,
      |    sum(adk) AS sad, sum(bck) AS sbc
      |  FROM terms),
      |o AS (SELECT n_strata,
      |    round((abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE)) - 0.5)
      |        * (abs(CAST(sa AS DOUBLE) - CAST(se AS DOUBLE)) - 0.5)
      |      / CAST(sv AS DOUBLE), 6) + 0.0 AS chi2_cmh,
      |    round(CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE), 6) + 0.0 AS or_mh
      |  FROM agg)
      |SELECT n_strata, chi2_cmh, or_mh, chi2_cmh > 3.841 AS reject_05
      |FROM o""".stripMargin

  /** Per-value cumulated counts of TWO samples over one pooled value domain
    * — the shared kernel of the two-sample tests ([[ksTest]],
    * [[mannWhitney]]). Input: one row per distinct value `v` with that
    * value's per-sample counts `c1`/`c2`. Output adds `hi1`/`hi2` (each
    * sample's cumulative count up to and including `v` in pooled order) and
    * the broadcast totals `n1`/`n2`. Same bucketed two-level shape as
    * [[cumulatedHistogramOf]]: the data-scale window is value-bucket-
    * partitioned; bucket offsets come from an inequality self-join over the
    * bucket totals (a valueRange/width-bounded frame, planned as a broadcast
    * nested loop over the bounded side), so no partition-less window exists
    * in the plan at any data scale.
    */
  private def twoSampleCum(h0: DataFrame, width: Long): DataFrame = {
    val h = h0.withColumn("_b", expr(s"v div $width"))
    val inBucket = Window.partitionBy("_b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hh = h
      .withColumn("_h1_in", sum("c1").over(inBucket))
      .withColumn("_h2_in", sum("c2").over(inBucket))
    val bt = h.groupBy("_b").agg(sum("c1").as("_bc1"), sum("c2").as("_bc2"))
    val off = bt
      .join(bt.select(col("_b").as("_bj"), col("_bc1").as("_j1"),
        col("_bc2").as("_j2")), col("_bj") < col("_b"), "left")
      .groupBy("_b")
      .agg(coalesce(sum("_j1"), lit(0L)).as("_o1"),
        coalesce(sum("_j2"), lit(0L)).as("_o2"))
    val tot = bt.agg(sum("_bc1").cast("long").as("n1"),
      sum("_bc2").cast("long").as("n2"))
    hh.join(broadcast(off), Seq("_b")).crossJoin(broadcast(tot))
      .withColumn("hi1", col("_o1") + col("_h1_in"))
      .withColumn("hi2", col("_o2") + col("_h2_in"))
      .drop("_b", "_h1_in", "_h2_in", "_o1", "_o2")
  }

  /** Two-sample Kolmogorov–Smirnov test: did the `purchase` and `view`
    * event-value populations come from the same distribution? The drift /
    * holdout-vs-treatment distribution gate next to PSI ([[graft.streaming
    * .StreamingDrift]]) — KS is the assumption-free one: D = sup |F₁ − F₂|
    * over the pooled empirical CDFs, compared against the large-sample 5%
    * critical value c(α)·√((n₁+n₂)/(n₁n₂)), c(0.05) = 1.358.
    *
    * Scale shape: values land on a cents grid (exact in both engines), the
    * CDF difference is evaluated only at observed values via the bucketed
    * [[twoSampleCum]] kernel (partial-aggregable histogram → value-bucket-
    * partitioned windows), and the sup is an integer-domain max of
    * |hi₁·n₂ − hi₂·n₁| carried in DECIMAL(38,0) so n₁n₂ can reach 10²⁴
    * before any double appears. One double divide + round(6) per output.
    */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D38 = DecimalType(38, 0)
    val rows = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 100).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("s1"))
    val h = rows.groupBy("v").agg(sum("s1").as("c1"),
      (count(lit(1)) - sum("s1")).as("c2"))
    val m = twoSampleCum(h, 4096L)
      .select(col("n1"), col("n2"),
        abs(col("hi1").cast(D38) * col("n2") -
          col("hi2").cast(D38) * col("n1")).as("dnum"))
      .groupBy("n1", "n2").agg(max("dnum").as("dnum"))
    // a ONE-CLASS pool (n1 or n2 = 0) zeroes both denominators: ks and
    // crit_05 go NULL (safeDiv contract — the raw division inside the
    // sqrt arg would ANSI-throw), and NULL > NULL keeps reject_05 NULL
    m.select(col("n1"), col("n2"),
        roundz(graft.functions.NumOps.safeDiv(col("dnum").cast("double"),
          col("n1").cast("double") * col("n2").cast("double")), 6).as("ks"),
        roundz(lit(1.358) * sqrt(graft.functions.NumOps.safeDiv(
          (col("n1") + col("n2")).cast("double"),
          col("n1").cast("double") * col("n2").cast("double"))), 6).as("crit_05"))
      .withColumn("reject_05", col("ks") > col("crit_05"))
  }
  val ksTestSql: String =
    """WITH rows_t AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |h AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1,
      |        CAST(count(*) - sum(s1) AS BIGINT) AS c2
      |      FROM rows_t GROUP BY v),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |          CAST(sum(c2) AS BIGINT) AS n2 FROM h),
      |cum AS (SELECT v,
      |          sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi1,
      |          sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi2
      |        FROM h),
      |m AS (SELECT t.n1, t.n2,
      |        max(abs(CAST(c.hi1 * t.n2 - c.hi2 * t.n1 AS DECIMAL(38,0)))) AS dnum
      |      FROM cum c CROSS JOIN tot t GROUP BY t.n1, t.n2),
      |o AS (SELECT n1, n2,
      |        round(CAST(dnum AS DOUBLE) /
      |          (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) + 0.0 AS ks,
      |        round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) /
      |          (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) + 0.0 AS crit_05
      |      FROM m)
      |SELECT n1, n2, ks, crit_05, ks > crit_05 AS reject_05 FROM o""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) with tie correction: the
    * nonparametric "is one population stochastically larger" companion to
    * [[ksTest]] over the same two event-value samples. Midranks come from
    * the pooled cumulated histogram (doubled as lo+hi so every rank term is
    * an exact integer); U₁ = R₁ − n₁(n₁+1)/2 is carried ×2 in
    * DECIMAL(38,0); the tie term Σ(t³−t) folds per distinct value. The
    * normal approximation z = (U₁ − n₁n₂/2)/σ_U uses the tie-corrected
    * σ²_U = n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))). One double expression per
    * output, rounded via roundz.
    *
    * Scale shape: identical to [[ksTest]] — partial-aggregable value
    * histogram, bucket-partitioned windows, decimal-exact integer moments,
    * O(1) output.
    */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D38 = DecimalType(38, 0)
    val rows = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 100).cast("long").as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("s1"))
    val h = rows.groupBy("v").agg(sum("s1").as("c1"),
      (count(lit(1)) - sum("s1")).as("c2"))
    val cum = twoSampleCum(h, 4096L)
    val t = col("c1") + col("c2")
    val hi = col("hi1") + col("hi2")
    val lo = hi - t + lit(1L)
    val m = cum
      .select(col("n1"), col("n2"),
        (col("c1").cast(D38) * (lo + hi)).as("r1x2"),
        (t.cast(D38) * t * t - t).as("tc"))
      .groupBy("n1", "n2")
      .agg(sum("r1x2").as("r1x2"), sum("tc").as("tc"))
    val nd1 = col("n1").cast("double")
    val nd2 = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    val u1x2 = col("r1x2") - col("n1").cast(D38) * (col("n1") + 1)
    // both degenerate-capable denominators guarded (safeDiv contract):
    // N = 1 zeroes the tie term's N(N−1); an ALL-TIED pool zeroes σ_U
    // exactly (Σ(t³−t) = N³−N ⇒ the correction equals N+1), so z is NULL
    // — undefined, matching DuckDB — while U stays exact
    val varU = nd1 * nd2 / lit(12.0) *
      ((nd + lit(1.0)) - graft.functions.NumOps.safeDiv(
        col("tc").cast("double"), nd * (nd - lit(1.0))))
    val z = graft.functions.NumOps.safeDiv(
      (u1x2 - col("n1").cast(D38) * col("n2")).cast("double"),
      lit(2.0) * sqrt(varU))
    m.select(col("n1"), col("n2"),
        roundz(u1x2.cast("double") / 2, 1).as("u"),
        roundz(z, 6).as("z"))
      .withColumn("reject_05", abs(col("z")) > lit(1.96))
  }
  val mannWhitneySql: String =
    """WITH rows_t AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |h AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1,
      |        CAST(count(*) - sum(s1) AS BIGINT) AS c2
      |      FROM rows_t GROUP BY v),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |          CAST(sum(c2) AS BIGINT) AS n2 FROM h),
      |cum AS (SELECT v, c1, c2,
      |          sum(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS hi
      |        FROM h),
      |m AS (SELECT t.n1, t.n2,
      |        sum(CAST(c.c1 *
      |          ((c.hi - (c.c1 + c.c2) + 1) + c.hi) AS DECIMAL(38,0))) AS r1x2,
      |        sum(CAST((c.c1 + c.c2) * (c.c1 + c.c2) * (c.c1 + c.c2)
      |          - (c.c1 + c.c2) AS DECIMAL(38,0))) AS tc
      |      FROM cum c CROSS JOIN tot t GROUP BY t.n1, t.n2),
      |o AS (SELECT n1, n2,
      |        r1x2 - CAST(n1 * (n1 + 1) AS DECIMAL(38,0)) AS u1x2, tc
      |      FROM m)
      |SELECT n1, n2,
      |  round(CAST(u1x2 AS DOUBLE) / 2, 1) + 0.0 AS u,
      |  round(CAST(u1x2 - CAST(n1 * n2 AS DECIMAL(38,0)) AS DOUBLE) /
      |    (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
      |      ((CAST(n1 + n2 AS DOUBLE) + 1.0) - CAST(tc AS DOUBLE) /
      |        (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0))))), 6)
      |    + 0.0 AS z,
      |  abs(round(CAST(u1x2 - CAST(n1 * n2 AS DECIMAL(38,0)) AS DOUBLE) /
      |    (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
      |      ((CAST(n1 + n2 AS DOUBLE) + 1.0) - CAST(tc AS DOUBLE) /
      |        (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0))))), 6)
      |    + 0.0) > 1.96 AS reject_05
      |FROM o""".stripMargin

  /** Weight of evidence + information value of a bucketed feature against a
    * binary target — the credit-scoring / feature-screening staple beside
    * [[mutualInfo]] and χ²: per n_chars bucket, WOE = ln(P_b/N_b) of the
    * +0.5-smoothed class distribution fractions, and IV = Σ(P_b − N_b)·WOE
    * says how separative the whole feature is (rule of thumb: <0.02 useless,
    * >0.3 strong).
    *
    * Determinism: WOE is rounded to 6 dp FIRST, each bucket's IV term is the
    * rounded-double product re-rounded and carried as DECIMAL(18,6), so the
    * cross-bucket IV sum is exact and partition-order-independent. Scale:
    * one partial-aggregable groupBy to a bucket-count-sized frame; totals
    * broadcast back; output is bucket-count rows.
    */
  def woeIv(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D6 = DecimalType(18, 6)
    val h = Tables.documents(s, d)
      .select(expr("n_chars div 100").as("bucket"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy("bucket")
      .agg(sum("y").as("pos"), (count(lit(1)) - sum("y")).as("neg"))
    val tot = h.agg(sum("pos").as("pt"), sum("neg").as("nt"))
    // a ONE-CLASS corpus (no positives at all, or no negatives) zeroes a
    // class total: WOE/IV go NULL (safeDiv contract) instead of an ANSI
    // DIVIDE_BY_ZERO — the +0.5 smoothing protects empty BUCKETS, not
    // empty CLASSES
    import graft.functions.NumOps.safeDiv
    val pb = safeDiv(col("pos").cast("double") + lit(0.5), col("pt").cast("double"))
    val nb = safeDiv(col("neg").cast("double") + lit(0.5), col("nt").cast("double"))
    val scored = h.crossJoin(broadcast(tot))
      .withColumn("woe", roundz(log(pb / nb), 6))
      .withColumn("iv_term", roundz((pb - nb) * col("woe"), 6))
    val ivTot = scored.agg(sum(col("iv_term").cast(D6)).as("ivt"))
    scored.crossJoin(broadcast(ivTot))
      .select(col("bucket"), col("pos"), col("neg"), col("woe"), col("iv_term"),
        roundz(col("ivt").cast("double"), 6).as("iv_total"))
      .orderBy("bucket")
  }
  val woeIvSql: String =
    """WITH h AS (
      |  SELECT n_chars // 100 AS bucket,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
      |         CAST(count(*) - sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS neg
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS pt,
      |          CAST(sum(neg) AS BIGINT) AS nt FROM h),
      |scored AS (SELECT h.bucket, h.pos, h.neg,
      |    round(ln(((CAST(h.pos AS DOUBLE) + 0.5) / CAST(t.pt AS DOUBLE)) /
      |             ((CAST(h.neg AS DOUBLE) + 0.5) / CAST(t.nt AS DOUBLE))), 6)
      |      + 0.0 AS woe,
      |    (CAST(h.pos AS DOUBLE) + 0.5) / CAST(t.pt AS DOUBLE) AS pb,
      |    (CAST(h.neg AS DOUBLE) + 0.5) / CAST(t.nt AS DOUBLE) AS nb
      |  FROM h CROSS JOIN tot t),
      |terms AS (SELECT bucket, pos, neg, woe,
      |    round((pb - nb) * woe, 6) + 0.0 AS iv_term FROM scored),
      |ivt AS (SELECT sum(CAST(iv_term AS DECIMAL(18,6))) AS ivt FROM terms)
      |SELECT t.bucket, t.pos, t.neg, t.woe, t.iv_term,
      |  round(CAST(i.ivt AS DOUBLE), 6) + 0.0 AS iv_total
      |FROM terms t CROSS JOIN ivt i ORDER BY t.bucket""".stripMargin

  /** Two-regressor OLS by exact normal equations: an order's summed line
    * revenue (cents) regressed on its line count and total quantity — the
    * closed-form distributed linear regression every feature-audit /
    * leakage-check pipeline wants before reaching for an iterative solver
    * ([[graft.operators.QualityClassifier]] is the iterative counterpart).
    * One partial-aggregable pass folds the nine Gram-matrix moments as
    * DECIMAL(38,0)-exact integer sums (products stay in the BIGINT domain
    * first — bounded by the value domains, not the row count); the 3×3
    * Cramer solve and R² happen on the one-row moment frame in doubles.
    *
    * Scale shape: one groupBy on the order key (AQE-planned data-scale
    * shuffle), then a single partial-agg fold to ONE row — no window, no
    * driver state beyond the moment row.
    */
  def linreg2f(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D38 = DecimalType(38, 0)
    val rows = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(count(lit(1)).as("x1"),
        sum(col("l_quantity").cast("long")).as("x2"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long")).as("y"))
    val mm = rows.agg(
      count(lit(1)).as("n"),
      sum(col("x1").cast(D38)).as("s1"),
      sum(col("x2").cast(D38)).as("s2"),
      sum((col("x1") * col("x1")).cast(D38)).as("s11"),
      sum((col("x1") * col("x2")).cast(D38)).as("s12"),
      sum((col("x2") * col("x2")).cast(D38)).as("s22"),
      sum(col("y").cast(D38)).as("sy"),
      sum((col("x1") * col("y")).cast(D38)).as("s1y"),
      sum((col("x2") * col("y")).cast(D38)).as("s2y"),
      sum((col("y").cast(D38) * col("y"))).as("syy"))
    def dd(c: String): Column = col(c).cast("double")
    val (n, s1, s2) = (col("n").cast("double"), dd("s1"), dd("s2"))
    val (s11, s12, s22) = (dd("s11"), dd("s12"), dd("s22"))
    val (sy, s1y, s2y, syy) = (dd("sy"), dd("s1y"), dd("s2y"), dd("syy"))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    // a COLLINEAR design (e.g. every order's quantity sum proportional to
    // its line count — all-constant quantities do exactly that) zeroes the
    // normal-equation determinant, and an all-tied response zeroes SST:
    // coefficients / R² go NULL (safeDiv contract), never an ANSI failure
    import graft.functions.NumOps.safeDiv
    val (b0, b1, b2) = (safeDiv(det0, det), safeDiv(det1, det), safeDiv(det2, det))
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / n
    mm.select(col("n"),
      roundz(b0, 2).as("b0"), roundz(b1, 4).as("b1"), roundz(b2, 4).as("b2"),
      roundz(lit(1.0) - safeDiv(sse, sst), 6).as("r2"))
  }
  val linreg2fSql: String =
    """WITH rows_t AS (
      |  SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS x1,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |           AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY 1),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x1 AS DECIMAL(38,0))) AS s1,
      |    sum(CAST(x2 AS DECIMAL(38,0))) AS s2,
      |    sum(CAST(x1 * x1 AS DECIMAL(38,0))) AS s11,
      |    sum(CAST(x1 * x2 AS DECIMAL(38,0))) AS s12,
      |    sum(CAST(x2 * x2 AS DECIMAL(38,0))) AS s22,
      |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |    sum(CAST(x1 * y AS DECIMAL(38,0))) AS s1y,
      |    sum(CAST(x2 * y AS DECIMAL(38,0))) AS s2y,
      |    sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
      |  FROM rows_t),
      |d AS (SELECT CAST(n AS BIGINT) AS n,
      |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
      |    CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
      |    CAST(s22 AS DOUBLE) AS s22, CAST(sy AS DOUBLE) AS sy,
      |    CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
      |    CAST(syy AS DOUBLE) AS syy
      |  FROM mm),
      |k AS (SELECT n, sy, s1y, s2y, syy, nd,
      |    nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s12 - s11 * s2) AS det,
      |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
      |    nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      |      + s2 * (s1 * s2y - s1y * s2) AS det1,
      |    nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      |      + sy * (s1 * s12 - s11 * s2) AS det2
      |  FROM d)
      |SELECT n,
      |  round(det0 / det, 2) + 0.0 AS b0,
      |  round(det1 / det, 4) + 0.0 AS b1,
      |  round(det2 / det, 4) + 0.0 AS b2,
      |  round(1.0 - (syy - (det0 / det) * sy - (det1 / det) * s1y
      |      - (det2 / det) * s2y) / (syy - sy * sy / nd), 6) + 0.0 AS r2
      |FROM k""".stripMargin
}
