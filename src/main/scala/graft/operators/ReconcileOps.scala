package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Warehouse operations primitives: snapshot reconciliation (what changed
  * between two versions of a table — the audit a pipeline runs after a
  * backfill, mirroring the journal's [[graft.journal.TickerFileJournal]]
  * `asOf` time travel) and ANALYZE-style per-column statistics (the
  * row-count / null / NDV / min-max profile a cost-based optimizer and a
  * data-quality monitor both feed on).
  */
object ReconcileOps {

  /** Integer-cents row fingerprint input: `floor(price·100)` is one IEEE
    * op from the stored double, deterministic on any engine — never a
    * locale/format-dependent double→string rendering.
    */
  private def cents(c: Column): Column = floor(c * 100).cast("long")

  /** The "v2" snapshot, derived deterministically from orders so the diff
    * is self-contained and oracle-replayable: keys ≡0 mod 97 deleted,
    * keys ≡0 mod 89 repriced (+1.00), keys ≡0 mod 101 cloned to a new key
    * range (inserted). The clone offset is `max(o_orderkey) + 1` — derived,
    * not a constant, so cloned keys can NEVER collide with live keys at
    * any scale factor (a fixed 10M offset lands inside the live range
    * once keys pass it, fanning out the diff join). */
  private def v2(orders: DataFrame): DataFrame = {
    val kept = orders.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    val offset = orders.agg((max("o_orderkey") + 1).as("off"))
    val added = orders.filter(col("o_orderkey") % 101 === 0)
      .crossJoin(broadcast(offset))
      .withColumn("o_orderkey", col("o_orderkey") + col("off"))
      .drop("off")
    kept.unionByName(added)
  }

  /** Merkle-style anti-entropy reconciliation between two replicas — the
    * DynamoDB/Cassandra repair pattern (DeCandia et al., SOSP 2007 —
    * public): instead of [[snapshotDiff]]'s full-table diff join, each
    * replica folds its rows into 256 SEGMENT fingerprints (md5-bucketed by
    * key; fingerprint = exact sum of 60-bit row-hash integers, summed as
    * DECIMAL/HUGEINT so no engine wraps), the two fingerprint sets are
    * compared (bucket-count-sized), and the expensive row-level diff join
    * runs ONLY over the dirty buckets. With drift touching d of 256
    * buckets, the repair scan reads ~d/256 of each replica — the whole
    * point at 100 TB, where the segment fold is one partial-aggregable
    * pass and the diff join is drift-sized. Additive fingerprints make
    * the fold order-free; a sum collision (different rows, equal sum of
    * 60-bit hashes) is the standard anti-entropy trade, vanishing at
    * crypto-hash width.
    *
    * Replica B is derived deterministically (keys ≡0 mod 101 missing,
    * ≡0 mod 103 corrupted by +1 cent) so the operator is self-contained
    * and the oracle replays the identical drift.
    */
  def merkleDiff(s: SparkSession, d: String): DataFrame = {
    // NO key-scale materialization (r19; guide §5): the r18 version
    // localCheckpointed `base` — one row per ORDER, fine at sf0.1 but
    // billions of rows of pinned executor cache at the 100 TB target.
    // Instead, exploit that replica B is a deterministic projection of A:
    // BOTH replicas' segment fingerprints fold in ONE scan+md5 pass
    // (conditional aggregates per bucket), so the fingerprint phase needs
    // no cached frame, no second scan, and no full_outer stitch join.
    // Result is identical to merkleDiffOver(base, b): B's keys are a
    // subset of A's, so a bucket with zero B rows reads (nb=0, fpb=NULL)
    // here vs (NULL, NULL) from the full_outer — the dirty verdict and
    // every reported count are unchanged.
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      cents(col("o_totalprice")).as("c"))
    def h(c: Column) =
      conv(substring(md5(concat(col("k").cast("string"), lit(":"),
        c.cast("string"))), 1, 15), 16, 10).cast("long")
    val inB = col("k") % 101 =!= 0
    val cb = when(col("k") % 103 === 0, col("c") + 1).otherwise(col("c"))
    val cmp = base
      .withColumn("bkt", substring(md5(col("k").cast("string")), 1, 2))
      .withColumn("ha", h(col("c")))
      // the second md5 is paid only on corrupted rows (c' <> c); clean
      // B rows reuse ha
      .withColumn("hb", when(!inB, lit(null).cast("long"))
        .when(col("k") % 103 === 0, h(cb)).otherwise(col("ha")))
      .groupBy("bkt").agg(
        count(lit(1)).as("na"), sum(col("ha").cast(D38)).as("fpa"),
        sum(when(inB, 1L).otherwise(0L)).as("nb"),
        sum(col("hb").cast(D38)).as("fpb"))
      .withColumn("dirty",
        !(col("fpa") <=> col("fpb")) || !(col("na") <=> col("nb")))
      .localCheckpoint(true) // ≤256 rows: dirty pick + final rollup
    val dirtyBuckets = cmp.filter(col("dirty")).select("bkt")
    // drill over LAZY replica scans, pruned to the dirty buckets — the
    // anti-entropy contract: repair reads ~d/256 of each replica, nothing
    // key-scale is cached
    val b = base.filter(inB).withColumn("c", cb)
    def withBucket(df: DataFrame) =
      df.withColumn("bkt", substring(md5(col("k").cast("string")), 1, 2))
    val aD = withBucket(base).join(broadcast(dirtyBuckets), "bkt")
      .select(col("k"), col("c").as("ca"))
    val bD = withBucket(b).join(broadcast(dirtyBuckets), "bkt")
      .select(col("k"), col("c").as("cb"))
    val rows = aD.join(bD, Seq("k"), "full_outer").agg(
      coalesce(sum(when(col("cb").isNull, 1L).otherwise(0L)), lit(0L)).as("n_missing"),
      coalesce(sum(when(col("ca").isNull, 1L).otherwise(0L)), lit(0L)).as("n_extra"),
      coalesce(sum(when(col("ca").isNotNull && col("cb").isNotNull &&
        col("ca") =!= col("cb"), 1L).otherwise(0L)), lit(0L)).as("n_corrupt"))
    cmp.agg(count(lit(1)).as("n_buckets"),
        sum(when(col("dirty"), 1L).otherwise(0L)).as("n_dirty"))
      .crossJoin(broadcast(rows))
  }

  /** [[merkleDiff]] over two explicit (`k`, `c`) replica frames. */
  def merkleDiffOver(a: DataFrame, b: DataFrame): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def withBucket(df: DataFrame) =
      df.withColumn("bkt", substring(md5(col("k").cast("string")), 1, 2))
    def segments(df: DataFrame) = withBucket(df)
      .withColumn("h",
        expr("cast(conv(substring(md5(concat(cast(k as string), ':', " +
          "cast(c as string))), 1, 15), 16, 10) as bigint)"))
      .groupBy("bkt").agg(count(lit(1)).as("n"), sum(col("h").cast(D38)).as("fp"))
    val cmp = segments(a)
      .select(col("bkt"), col("n").as("na"), col("fp").as("fpa"))
      .join(segments(b)
        .select(col("bkt"), col("n").as("nb"), col("fp").as("fpb")),
        Seq("bkt"), "full_outer")
      .withColumn("dirty",
        !(col("fpa") <=> col("fpb")) || !(col("na") <=> col("nb")))
      // ≤256 rows; consumed by the dirty-bucket pick AND the final bucket
      // rollup — materialized once so the two segment aggregations (each a
      // data-scale hash pass) run once, not twice
      .localCheckpoint(true)
    val dirtyBuckets = cmp.filter(col("dirty")).select("bkt")
      .localCheckpoint(true) // ≤256 rows; feeds both drill joins + the count
    val aD = withBucket(a).join(broadcast(dirtyBuckets), "bkt")
      .select(col("k"), col("c").as("ca"))
    val bD = withBucket(b).join(broadcast(dirtyBuckets), "bkt")
      .select(col("k"), col("c").as("cb"))
    // coalesce: with ZERO dirty buckets the drill frame is empty and the
    // sums would be NULL — a clean pair must report exact zeros
    val rows = aD.join(bD, Seq("k"), "full_outer").agg(
      coalesce(sum(when(col("cb").isNull, 1L).otherwise(0L)), lit(0L)).as("n_missing"),
      coalesce(sum(when(col("ca").isNull, 1L).otherwise(0L)), lit(0L)).as("n_extra"),
      coalesce(sum(when(col("ca").isNotNull && col("cb").isNotNull &&
        col("ca") =!= col("cb"), 1L).otherwise(0L)), lit(0L)).as("n_corrupt"))
    cmp.agg(count(lit(1)).as("n_buckets"),
        sum(when(col("dirty"), 1L).otherwise(0L)).as("n_dirty"))
      .crossJoin(broadcast(rows))
  }
  val merkleDiffSql: String =
    """WITH a AS (SELECT o_orderkey AS k,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders),
      |b AS (SELECT k, CASE WHEN k % 103 = 0 THEN c + 1 ELSE c END AS c
      |      FROM a WHERE k % 101 <> 0),
      |sa AS (SELECT substring(md5(CAST(k AS VARCHAR)), 1, 2) AS bkt,
      |         CAST(count(*) AS BIGINT) AS na,
      |         sum(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || CAST(c AS VARCHAR)), 1, 15))::BIGINT) AS fpa
      |       FROM a GROUP BY 1),
      |sb AS (SELECT substring(md5(CAST(k AS VARCHAR)), 1, 2) AS bkt,
      |         CAST(count(*) AS BIGINT) AS nb,
      |         sum(('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || CAST(c AS VARCHAR)), 1, 15))::BIGINT) AS fpb
      |       FROM b GROUP BY 1),
      |cmp AS (SELECT coalesce(sa.bkt, sb.bkt) AS bkt,
      |          (fpa IS DISTINCT FROM fpb) OR (na IS DISTINCT FROM nb) AS dirty
      |        FROM sa FULL OUTER JOIN sb ON sa.bkt = sb.bkt),
      |dirtyb AS (SELECT bkt FROM cmp WHERE dirty),
      |ad AS (SELECT k, c FROM a WHERE substring(md5(CAST(k AS VARCHAR)), 1, 2) IN (SELECT bkt FROM dirtyb)),
      |bd AS (SELECT k, c FROM b WHERE substring(md5(CAST(k AS VARCHAR)), 1, 2) IN (SELECT bkt FROM dirtyb)),
      |rows_ AS (SELECT
      |    CAST(coalesce(sum(CASE WHEN bd.k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_missing,
      |    CAST(coalesce(sum(CASE WHEN ad.k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extra,
      |    CAST(coalesce(sum(CASE WHEN ad.k IS NOT NULL AND bd.k IS NOT NULL AND ad.c <> bd.c
      |             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_corrupt
      |  FROM ad FULL OUTER JOIN bd ON ad.k = bd.k),
      |bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
      |    CAST(sum(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty
      |  FROM cmp)
      |SELECT n_buckets, n_dirty, n_missing, n_extra, n_corrupt
      |FROM bstats CROSS JOIN rows_""".stripMargin

  /** Snapshot diff: full-outer join the two versions on the key, compare
    * md5 row fingerprints, and report per-change-type totals with the key
    * range touched. ONE co-partitioned shuffle pair on the key (the shape
    * bucketing/SPJ removes entirely at scale — see
    * [[BucketingOps.bucketedJoin]]); the output is 3 rows however large
    * the table.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
    def fp(df: DataFrame, side: String): DataFrame = df.select(
      col("o_orderkey").as(s"key_$side"),
      md5(concat_ws("|",
        col("o_custkey").cast("string"), col("o_orderstatus"),
        col("o_orderpriority"), cents(col("o_totalprice")).cast("string")))
        .as(s"fp_$side"))
    val diff = fp(base, "a").join(fp(v2(base), "b"),
        col("key_a") === col("key_b"), "full_outer")
      .withColumn("change_type",
        when(col("key_a").isNull, "added")
          .when(col("key_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed"))
      .filter(col("change_type").isNotNull)
      .withColumn("key", coalesce(col("key_a"), col("key_b")))
    diff.groupBy("change_type")
      .agg(count(lit(1)).as("n"), min("key").as("min_key"), max("key").as("max_key"))
      .orderBy("change_type")
  }

  val snapshotDiffSql: String =
    """WITH fa AS (SELECT o_orderkey AS key,
      |    md5(o_custkey || '|' || o_orderstatus || '|' || o_orderpriority || '|' ||
      |        CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS fp
      |  FROM orders),
      |v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice
      |       FROM orders WHERE o_orderkey % 97 <> 0
      |       UNION ALL
      |       SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
      |              o_custkey, o_orderstatus, o_orderpriority, o_totalprice
      |       FROM orders WHERE o_orderkey % 101 = 0),
      |fb AS (SELECT o_orderkey AS key,
      |    md5(o_custkey || '|' || o_orderstatus || '|' || o_orderpriority || '|' ||
      |        CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS fp
      |  FROM v2),
      |d AS (SELECT COALESCE(fa.key, fb.key) AS key,
      |        CASE WHEN fa.key IS NULL THEN 'added'
      |             WHEN fb.key IS NULL THEN 'removed'
      |             WHEN fa.fp <> fb.fp THEN 'changed' END AS change_type
      |      FROM fa FULL OUTER JOIN fb ON fa.key = fb.key)
      |SELECT change_type, CAST(count(*) AS BIGINT) AS n,
      |       min(key) AS min_key, max(key) AS max_key
      |FROM d WHERE change_type IS NOT NULL
      |GROUP BY change_type ORDER BY change_type""".stripMargin

  /** ANALYZE-style column statistics for the lineitem table: per column
    * the row count, null count, exact NDV, and min/max (numeric columns
    * in the numeric slots, string/date columns in the string slots —
    * doubles never pass through a string rendering).
    *
    * Shape: ONE scan, melted — each row explodes into N (col_name, vn, vs)
    * triples (numeric values in vn, string/date in vs), then an explicit
    * two-stage distinct: dedup-count on (col_name, value) with map-side
    * combine, then an NDV-sized fold per column computing count/nulls/NDV/
    * min/max together. No Expand, no per-column rescan; shuffle volume is
    * Σ per-column NDV, the floor for exact NDV. Measured at sf0.1: 3.2 s
    * vs 5.4 s for one pruned scan per column unioned, vs 13.7 s for the
    * single-agg N-count-distinct form (Expand duplicates every row once
    * per distinct aggregate AND re-shuffles all copies together).
    * Numeric values ride in a double slot (exact for integers < 2⁵³; a
    * table with wider surrogate keys would melt those into the string
    * slot instead).
    */
  def colStats(s: SparkSession, d: String): DataFrame = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount")
    val strCols = Seq("l_returnflag" -> col("l_returnflag"),
      "l_linestatus" -> col("l_linestatus"),
      "l_shipdate" -> to_date(col("l_shipdate")).cast("string"))
    val triples =
      numCols.map(c => struct(lit(c).as("col_name"),
        col(c).cast("double").as("vn"), lit(null).cast("string").as("vs"))) ++
        strCols.map { case (c, v) => struct(lit(c).as("col_name"),
          lit(null).cast("double").as("vn"), v.as("vs")) }
    // fanOut before the 9x melt (r19, tools/Probe): the single-file scan
    // arrives as 3 input splits, so the explode + partial NDV aggregation
    // over 5.4M melted rows ran 3-wide (1.48 s of the query's 1.76 s
    // wall); the row-sized repartition is metadata next to that and a
    // no-op at scale (see Tables.fanOut)
    val melted = Tables.fanOut(Tables.lineitem(s, d))
      .select(explode(array(triples: _*)).as("t"))
      .select("t.col_name", "t.vn", "t.vs")
    val dedup = melted.groupBy("col_name", "vn", "vs").agg(count(lit(1)).as("cnt"))
    dedup.groupBy("col_name").agg(
      sum("cnt").as("n"),
      sum(when(col("vn").isNull && col("vs").isNull, col("cnt")).otherwise(0L)).as("n_null"),
      sum(when(col("vn").isNotNull || col("vs").isNotNull, 1L).otherwise(0L)).as("ndv"),
      min("vn").as("min_num"), max("vn").as("max_num"),
      min("vs").as("min_str"), max("vs").as("max_str"))
      .orderBy("col_name")
  }

  /** Data-quality contract report — the dbt-test/Great-Expectations shape:
    * each row is one declared expectation with its checked-row and
    * violation counts. FK coverage runs as broadcast anti-joins against
    * the key side (dim-sized build, fact-side stream); uniqueness is
    * `count − count(distinct)`; range/null checks are conditional sums.
    * Everything partial-aggregable; output is expectation-count-sized.
    */
  def dqReport(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val lineitem = Tables.lineitem(s, d)
    def check(name: String, checked: DataFrame, violation: Column): DataFrame =
      checked.agg(
        lit(name).as("check_name"), count(lit(1)).as("n_checked"),
        sum(when(violation, 1L).otherwise(0L)).as("n_violations"))
    def fkCheck(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame =
      fact.join(broadcast(dim.select(col(pk))), col(fk) === col(pk), "left")
        .agg(
          lit(name).as("check_name"), count(lit(1)).as("n_checked"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_violations"))
    def unique(name: String, df: DataFrame, key: String): DataFrame =
      df.agg(
        lit(name).as("check_name"), count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col(key))).as("n_violations"))
    Seq(
      fkCheck("orders_custkey_fk", orders, "o_custkey", customer, "c_custkey"),
      fkCheck("lineitem_orderkey_fk", lineitem, "l_orderkey", orders, "o_orderkey"),
      unique("orders_pk_unique", orders, "o_orderkey"),
      unique("customer_pk_unique", customer, "c_custkey"),
      check("lineitem_qty_range", lineitem,
        col("l_quantity") < 1 || col("l_quantity") > 50),
      check("orders_price_positive", orders, col("o_totalprice") <= 0),
      check("customer_segment_notnull", customer, col("c_mktsegment").isNull))
      .reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0)
      .orderBy("check_name")
  }

  val dqReportSql: String =
    """WITH checks AS (
      |  SELECT 'orders_custkey_fk' AS check_name,
      |    CAST(count(*) AS BIGINT) AS n_checked,
      |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |  UNION ALL
      |  SELECT 'orders_pk_unique', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'customer_pk_unique', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT 'lineitem_qty_range', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders_price_positive', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'customer_segment_notnull', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM customer)
      |SELECT check_name, n_checked, n_violations, n_violations = 0 AS passed
      |FROM checks ORDER BY check_name""".stripMargin

  val colStatsSql: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM lineitem""".stripMargin
    def str(c: String, v: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) - count($v) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $v) AS BIGINT) AS ndv,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  min($v) AS min_str, max($v) AS max_str
         |FROM lineitem""".stripMargin
    (Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount").map(num) ++
      Seq(str("l_returnflag", "l_returnflag"), str("l_linestatus", "l_linestatus"),
        str("l_shipdate", "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)")))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }
}
