package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Time-series operators beyond the reference's surface — the shapes a
  * ticker engine is actually queried with (SURVEY §2.3 notes the reference
  * has no as-of/range joins; a complete engine provides them).
  *
  * [[asofJoin]] uses the union-and-carry-forward plan: tag both sides, sort
  * within key by (time, side-order), carry the right side's last values
  * forward with a running window. ONE shuffle on the key — same cost as a
  * plain equi-join — versus the naive range-join + per-row top-1 which is
  * O(n·m) per key. This is the standard Spark-native as-of strategy; a
  * custom SparkPlan could fuse the sort, but the window formulation already
  * gets codegen + a single exchange, so it stays declarative.
  */
object TimeSeriesOps {

  /** Generic as-of join: for each left row, attach the most recent right row
    * with the same key and `rightTime <= leftTime`.
    *
    * @param left      probe side (e.g. trades)
    * @param right     reference side (e.g. quotes); columns other than
    *                  key/time are carried over (null when no match yet)
    * @param key       equi-join key column name (present on both sides)
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String): DataFrame = {
    val carried = right.columns.filter(c => c != key && c != rightTime)
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .withColumns(carried.map(c => s"_r_$c" -> lit(null).cast(right.schema(c).dataType)).toMap)
      .withColumn("_rt", lit(null).cast(right.schema(rightTime).dataType))
    val r = right
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(0))
      .withColumns(carried.map(c => s"_r_$c" -> col(c)).toMap)
      .withColumn("_rt", col(rightTime))
      .drop(right.columns.filter(_ != key).toIndexedSeq: _*)
    val unioned = l.select(
      (Seq(col(key), col("_t"), col("_side"), col("_rt")) ++
        left.columns.filterNot(_ == key).map(col) ++
        carried.map(c => col(s"_r_$c"))): _*)
      .unionByName(r.select(
        (Seq(col(key), col("_t"), col("_side"), col("_rt")) ++
          left.columns.filterNot(_ == key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          carried.map(c => col(s"_r_$c"))): _*))
    // right rows (side 0) sort before left rows at the same timestamp → a
    // quote at exactly the trade's time matches (<=, like DuckDB ASOF)
    val w = Window.partitionBy(key).orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCarry = carried.foldLeft(
      unioned.withColumn("_asof_t", last(when(col("_side") === 0, col("_rt")), ignoreNulls = true).over(w))
    ) { (df, c) =>
      df.withColumn(s"_r_$c", last(when(col("_side") === 0, col(s"_r_$c")), ignoreNulls = true).over(w))
    }
    withCarry.filter(col("_side") === 1)
      .select(
        (Seq(col(key)) ++
          left.columns.filterNot(_ == key).map(col) ++
          Seq(col("_asof_t").as(s"asof_$rightTime")) ++
          carried.map(c => col(s"_r_$c").as(s"asof_$c"))): _*)
  }

  /** Oracle-checked as-of query over `events`: for each 'purchase' event,
    * the user's most recent prior (or simultaneous) 'click' event. DuckDB
    * verifies with its native ASOF JOIN.
    */
  def asofQuery(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    asofJoin(purchases, clicks, "user_id", "ts", "click_ts")
      .select(col("user_id"), col("event_id"), col("value"),
        col("asof_click_id").as("click_id"))
      .orderBy("event_id")
  }
  /** The same as-of query through the NATIVE operator
    * ([[graft.plans.AsOfJoinExec]] — one merge pass, no union/window):
    * oracle-gated against the identical DuckDB ASOF JOIN SQL.
    */
  def asofQueryNative(s: SparkSession, d: String): DataFrame = {
    graft.catalyst.GraftExtensions.register(s)
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    graft.plans.NativeAsOf.asofJoin(purchases, clicks, "user_id", "ts", "click_ts")
      .select(col("user_id"), col("event_id"), col("value"),
        col("asof_click_id").as("click_id"))
      .orderBy("event_id")
  }

  val asofQuerySql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
      |p AS (SELECT user_id, event_id, ts, value FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM ev WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id, p.value, c.click_id
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
      |ORDER BY p.event_id""".stripMargin

  /** The native as-of with a pandas merge_asof-style TOLERANCE: the nearest
    * prior click attributes the purchase only if it is at most 1 hour old —
    * a staler nearest match is vetoed (nulled), not replaced by an even
    * older row. The oracle applies the same veto on top of DuckDB's ASOF.
    */
  def asofToleranceNative(s: SparkSession, d: String): DataFrame = {
    graft.catalyst.GraftExtensions.register(s)
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    graft.plans.NativeAsOf.asofJoin(purchases, clicks, "user_id", "ts", "click_ts",
        toleranceUnits = Some(3600L * 1000000L)) // 1 h in µs
      .select(col("user_id"), col("event_id"), col("value"),
        col("asof_click_id").as("click_id"))
      .orderBy("event_id")
  }
  val asofToleranceSql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
      |p AS (SELECT user_id, event_id, ts, value FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM ev WHERE event_type = 'click'),
      |j AS (SELECT p.user_id, p.event_id, p.value, p.ts, c.click_ts, c.click_id
      |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts)
      |SELECT user_id, event_id, value,
      |  CASE WHEN click_ts IS NOT NULL AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
      |       THEN click_id END AS click_id
      |FROM j ORDER BY event_id""".stripMargin

  /** Technical indicators over each user's value series — the reference's
    * ticker domain expressed as window aggregates: 20-row SMA, Bollinger
    * bands (±2σ), and simple 14-row RSI. Every accumulation is EXACT
    * integer arithmetic in CENTS (value is 2-decimal money): one decimal
    * HALF_UP rounding per row at ingestion, then every window sum is a
    * LONG sum — codegen'd primitive adds instead of the Decimal128/
    * BigDecimal window sums this used to run, which dominated the query
    * (6.4 s → long sums at sf0.1). Bit-for-bit parity with the DECIMAL
    * oracle holds because each derived double (cents/100, cents²-sum/10⁴)
    * is the correctly-rounded double of the same exact rational the
    * decimal-string path parses, and all downstream float ops are
    * identical. That argument needs every intermediate EXACT: the binding
    * constraint is the 20-row Σcents² staying under 2^53 (so its long→
    * double cast is lossless and the /10⁴ is the ONLY rounding, exactly
    * like the oracle's single decimal→double conversion), which requires
    * |cents| ≤ √(2^53/20) ≈ 2.12e7 — i.e. |value| ≤ ~$212k, comfortable
    * for per-event ticker magnitudes. The guard below turns a violation
    * into a loud error instead of a silent 1-ulp oracle divergence.
    * One shuffle on user_id; all three indicators share the window sort.
    */
  def indicators(s: SparkSession, d: String): DataFrame = {
    val w20 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-19, 0)
    val w14 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-13, 0)
    val lagW = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // HALF_UP to 2 decimals exactly like CAST(value AS DECIMAL(18,2)),
    // then exact integer cents; one comparison per row enforces the
    // exactness precondition above
    val MaxCents = 21000000L
    val rounded = (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long")
    val cents = when(abs(rounded) <= MaxCents, rounded)
      .otherwise(raise_error(concat(
        lit(s"indicators: |value| exceeds the exact-arithmetic bound ($MaxCents cents): "),
        col("value").cast("string"))))
    Tables.events(s, d)
      .withColumn("c", cents)
      .withColumn("delta", col("c") - lag(col("c"), 1).over(lagW))
      .withColumn("gain", when(col("delta") > 0, col("delta")).otherwise(lit(0L)))
      .withColumn("loss", when(col("delta") < 0, -col("delta")).otherwise(lit(0L)))
      .withColumn("n", count(lit(1)).over(w20))
      .withColumn("s1", sum(col("c")).over(w20).cast("double") / lit(100.0))
      .withColumn("s2", sum(col("c") * col("c")).over(w20).cast("double") / lit(10000.0))
      .withColumn("ag", sum(col("gain")).over(w14).cast("double") / lit(100.0))
      .withColumn("al", sum(col("loss")).over(w14).cast("double") / lit(100.0))
      .select(
        col("user_id"), col("event_id"),
        (col("s1") / col("n")).as("sma20"),
        // clamp at 0: s1*s1/n can round ABOVE s2 for a constant window
        // (catastrophic cancellation) — sqrt of the ~-1e-18 residue would be
        // NaN here and a hard error in the DuckDB oracle
        when(col("n") > 1,
          (col("s1") / col("n")) + lit(2) * sqrt(greatest(lit(0.0),
            (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))))
          .as("boll_up"),
        when(col("n") > 1,
          (col("s1") / col("n")) - lit(2) * sqrt(greatest(lit(0.0),
            (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))))
          .as("boll_dn"),
        when(coalesce(col("al"), lit(0.0)) === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("ag") / col("al")))
          .as("rsi14"))
      .orderBy("user_id", "event_id")
  }
  val indicatorsSql: String =
    """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CAST(value AS DECIMAL(18,2)) AS d FROM events),
      |x AS (SELECT user_id, event_id, ts, d,
      |  d - lag(d, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta FROM ev),
      |y AS (SELECT user_id, event_id, ts, d,
      |  CASE WHEN delta > 0 THEN delta ELSE CAST(0 AS DECIMAL(19,2)) END AS gain,
      |  CASE WHEN delta < 0 THEN -delta ELSE CAST(0 AS DECIMAL(19,2)) END AS loss
      |  FROM x),
      |z AS (SELECT user_id, event_id,
      |  count(*) OVER w20 AS n,
      |  CAST(CAST(sum(d) OVER w20 AS VARCHAR) AS DOUBLE) AS s1,
      |  CAST(CAST(sum(d * d) OVER w20 AS VARCHAR) AS DOUBLE) AS s2,
      |  CAST(CAST(sum(gain) OVER w14 AS VARCHAR) AS DOUBLE) AS ag,
      |  CAST(CAST(sum(loss) OVER w14 AS VARCHAR) AS DOUBLE) AS al
      |  FROM y
      |  WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
      |         w14 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id,
      |  s1 / n AS sma20,
      |  CASE WHEN n > 1 THEN s1 / n + 2 * sqrt(greatest(0.0, (s2 - s1 * s1 / n) / (n - 1))) END AS boll_up,
      |  CASE WHEN n > 1 THEN s1 / n - 2 * sqrt(greatest(0.0, (s2 - s1 * s1 / n) / (n - 1))) END AS boll_dn,
      |  CASE WHEN coalesce(al, 0) = 0 THEN 100.0
      |       ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi14
      |FROM z ORDER BY user_id, event_id""".stripMargin

  /** Hourly VWAP per instrument — THE derived metric of the reference's
    * domain (`README.md:7-8` loads tick prices; volume-weighted average
    * price is what a consumer computes from them first). Price rides in
    * exact cents (the [[indicators]] convention), volume is the integer
    * `k` field of the props JSON, so the Σ(price·vol) numerator and
    * Σ(vol) denominator are exact longs with one double division + round
    * at the end. One partial-aggregable groupBy (user, hour) — no window,
    * no shuffle beyond the aggregation's own.
    */
  def vwap(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("hour", col("ts")).as("bucket"),
        (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long").as("cents"),
        get_json_object(col("props"), "$.k").cast("long").as("vol"))
      .groupBy("user_id", "bucket")
      .agg(count(lit(1)).as("n_trades"), sum("vol").as("volume"),
        sum(col("cents") * col("vol")).as("pv"))
      .select(col("user_id"), col("bucket"), col("n_trades"), col("volume"),
        // integer-domain rounding (x*100 -> round -> /1e4), NOT round(x, 4):
        // measured at sf0.1 (4/95583 rows), a vwap sitting on the .00005
        // boundary flips between Spark's BigDecimal round and DuckDB's
        // multiply-first round; rounding pv/volume*100 to an integer is
        // the same IEEE multiply and the same away-from-zero tie rule in
        // both engines (the readability/varEs discipline)
        when(col("volume") > 0,
          round(col("pv").cast("double") / col("volume") * 100.0).cast("long") /
            lit(10000.0)).as("vwap"))
      .orderBy("user_id", "bucket")
  val vwapSql: String =
    """WITH e AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
      |  FROM events)
      |SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_trades,
      |  CAST(sum(vol) AS BIGINT) AS volume,
      |  CASE WHEN sum(vol) > 0
      |       THEN CAST(round(CAST(sum(cents * vol) AS DOUBLE) / sum(vol) * 100.0) AS BIGINT) / 10000.0 END AS vwap
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Amihud illiquidity per instrument (Amihud 2002 — the standard
    * price-impact proxy): the mean over days of |daily log return| /
    * dollar volume, scaled ×10⁹ for legibility. Days join their volume
    * from the same JSON `$.k` field [[vwap]] reads; zero-volume days are
    * excluded (undefined impact). Per-day terms are round-6 doubles
    * summed as DECIMAL; dollar volume is an exact integer. Two
    * partial-aggregable groupBys + one day-keyed join of day-count-sized
    * frames per instrument.
    */
  def amihud(s: SparkSession, d: String): DataFrame = {
    val D6 = DecimalType(18, 6)
    val r = dailyReturns(s, d)
    val vol = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"),
        (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long").as("cents"),
        get_json_object(col("props"), "$.k").cast("long").as("v"))
      .groupBy("user_id", "day")
      .agg(sum(col("cents") * col("v")).as("dollar_cents"))
    r.join(vol, Seq("user_id", "day"))
      .filter(col("dollar_cents") > 0)
      .withColumn("term",
        round(abs(col("r")) / col("dollar_cents") * lit(1e9), 6).cast(D6))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        round(sum("term").cast("double") / count(lit(1)), 4).as("amihud_x1e9"))
      .orderBy("user_id")
  }
  // lazy: declared above [[dailyReturnsSql]] in the file, so an eager val
  // would interpolate null at object init
  lazy val amihudSql: String =
    s"""WITH r AS ($dailyReturnsSql),
       |v AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |        CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) *
       |                 CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS dollar_cents
       |      FROM events GROUP BY 1, 2),
       |t AS (SELECT r.user_id,
       |        CAST(round(abs(r.r) / v.dollar_cents * 1e9, 6) AS DECIMAL(18,6)) AS term
       |      FROM r JOIN v USING (user_id, day) WHERE v.dollar_cents > 0)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
       |  round(CAST(sum(term) AS DOUBLE) / count(*), 4) AS amihud_x1e9
       |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Candlestick pattern flags per hourly candle: doji (body ≤ a tenth of
    * the range), hammer (long lower shadow, short upper), bullish engulf
    * (green body swallowing the previous red body). Open/close are the
    * first/last tick by (ts, event_id) — a total order, so both engines
    * pick the same tick — and every rule is an integer-cent comparison:
    * no floats anywhere. One aggregation + one lag window partitioned by
    * instrument (candle-count-sized frames).
    */
  def candles(s: SparkSession, d: String): DataFrame = {
    val c = Tables.events(s, d)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("bucket"),
        col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long").as("cents"))
      .groupBy("user_id", "bucket")
      .agg(
        min(struct(col("ts"), col("event_id"), col("cents"))).as("fo"),
        max(struct(col("ts"), col("event_id"), col("cents"))).as("lc"),
        max("cents").as("high"), min("cents").as("low"))
      .select(col("user_id"), col("bucket"),
        col("fo.cents").as("open"), col("lc.cents").as("close"),
        col("high"), col("low"))
    val w = Window.partitionBy("user_id").orderBy("bucket")
    c.withColumn("po", lag("open", 1).over(w))
      .withColumn("pc", lag("close", 1).over(w))
      .withColumn("body", abs(col("close") - col("open")))
      .select(col("user_id"), col("bucket"),
        col("open"), col("close"), col("high"), col("low"),
        (col("body") * 10 <= col("high") - col("low")).as("doji"),
        (least(col("open"), col("close")) - col("low") >= col("body") * 2 &&
          col("high") - greatest(col("open"), col("close")) <= col("body")).as("hammer"),
        (col("pc").isNotNull && col("pc") < col("po") &&
          col("close") > col("open") &&
          col("open") <= col("pc") && col("close") >= col("po")).as("bull_engulf"))
      .orderBy("user_id", "bucket")
  }
  val candlesSql: String =
    """WITH e AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |    CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM e),
      |c AS (SELECT user_id, bucket,
      |    CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
      |    CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
      |    CAST(max(cents) AS BIGINT) AS high, CAST(min(cents) AS BIGINT) AS low
      |  FROM r GROUP BY 1, 2),
      |p AS (SELECT *, lag(open) OVER w AS po, lag(close) OVER w AS pc,
      |    abs(close - open) AS body
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket))
      |SELECT user_id, bucket, open, close, high, low,
      |  body * 10 <= high - low AS doji,
      |  least(open, close) - low >= body * 2 AND high - greatest(open, close) <= body AS hammer,
      |  pc IS NOT NULL AND pc < po AND close > open AND open <= pc AND close >= po AS bull_engulf
      |FROM p ORDER BY user_id, bucket""".stripMargin

  /** Daily realized volatility per instrument — √(Σ log-returns²), the
    * risk metric quoted next to VWAP on every trading dashboard.
    * Zero-priced ticks (bad prints) are dropped BEFORE the return lag so
    * both engines difference the same tick sequence; each return is
    * `round(ln(cᵢ/cᵢ₋₁), 6)` (exact integer cents → one double division →
    * round-6 ln, the [[graft.queries.PipelineQueries.bigramLm]] libm
    * discipline), squares are re-rounded to 6 dp and summed as DECIMAL —
    * order-independent — with one sqrt + round at the end. A day's first
    * return references the previous day's close (the continuous-series
    * convention); the stream's first tick has no return. One lag window
    * per instrument + one partial-aggregable daily rollup.
    */
  def realizedVol(s: SparkSession, d: String): DataFrame = {
    val lagW = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("c", (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
      .filter(col("c") > 0)
      .withColumn("pc", lag(col("c"), 1).over(lagW))
      .withColumn("r", round(log(col("c").cast("double") / col("pc").cast("double")), 6))
      .filter(col("r").isNotNull)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_returns"),
        round(sqrt(sum(round(col("r") * col("r"), 6).cast(DecimalType(18, 6)))
          .cast("double")), 4).as("rv"))
      .orderBy("user_id", "day")
  }
  val realizedVolSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      |l AS (SELECT user_id, ts,
      |    round(ln(CAST(c AS DOUBLE) /
      |             lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id)), 6) AS r
      |  FROM e)
      |SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_returns,
      |  round(sqrt(CAST(sum(CAST(round(r * r, 6) AS DECIMAL(18,6))) AS DOUBLE)), 4) AS rv
      |FROM l WHERE r IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Risk-adjusted return ratios per instrument — Sharpe (1966) and
    * Sortino (1994), the two numbers quoted next to [[realizedVol]] on any
    * strategy tear sheet (both public-domain finance statistics). Built on
    * the SAME round-6 tick log-returns as [[realizedVol]] (identical lag
    * construction, so the two queries can never disagree about what a
    * return is), aggregated per instrument over the whole window:
    * annualized mean / volatility, with Sortino replacing the denominator
    * by the downside deviation (√(Σ_{r<0} r² / n) — target 0).
    *
    * Determinism: all three moment sums (Σr, Σr², Σ_{r<0}r²) are round-6
    * DECIMAL — exact and order-independent — and the finishing chain is a
    * fixed sequence of double ops both engines execute identically (sqrt
    * is IEEE-correctly-rounded, so even libm agrees). Sample variance is
    * clamped at 0 before the sqrt (catastrophic cancellation on
    * near-constant series would otherwise produce a NaN in one engine and
    * a tiny negative in the other). One lag window + one
    * partial-aggregable groupBy — the same 100 TB shape as realizedVol.
    */
  def sharpeRatios(s: SparkSession, d: String): DataFrame = {
    val D6 = DecimalType(18, 6)
    val lagW = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ann = sqrt(lit(252.0))
    val r = Tables.events(s, d)
      .withColumn("c", (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
      .filter(col("c") > 0)
      .withColumn("pc", lag(col("c"), 1).over(lagW))
      .withColumn("r", round(log(col("c").cast("double") / col("pc").cast("double")), 6))
      .filter(col("r").isNotNull)
    r.groupBy("user_id")
      .agg(
        count(lit(1)).as("n"),
        sum(col("r").cast(D6)).as("sr"),
        sum(round(col("r") * col("r"), 6).cast(D6)).as("sr2"),
        sum(when(col("r") < 0, round(col("r") * col("r"), 6)).otherwise(lit(0.0))
          .cast(D6)).as("sr2n"))
      .filter(col("n") >= 2)
      .withColumn("mean_r", col("sr").cast("double") / col("n"))
      .withColumn("varr",
        greatest((col("sr2").cast("double") - col("n") * col("mean_r") * col("mean_r")) /
          (col("n") - 1), lit(0.0)))
      .withColumn("sd", sqrt(col("varr")))
      .withColumn("dd", sqrt(col("sr2n").cast("double") / col("n")))
      .select(
        col("user_id"), col("n").as("n_returns"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("sd") * ann, 4).as("ann_vol"),
        when(col("sd") > 0, round(col("mean_r") / col("sd") * ann, 4)).as("sharpe"),
        when(col("dd") > 0, round(col("mean_r") / col("dd") * ann, 4)).as("sortino"))
      .orderBy("user_id")
  }
  val sharpeRatiosSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      |l AS (SELECT user_id,
      |    round(ln(CAST(c AS DOUBLE) /
      |             lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id)), 6) AS r
      |  FROM e),
      |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(r AS DECIMAL(18,6))) AS sr,
      |    sum(CAST(round(r * r, 6) AS DECIMAL(18,6))) AS sr2,
      |    sum(CAST(CASE WHEN r < 0 THEN round(r * r, 6) ELSE 0.0 END AS DECIMAL(18,6))) AS sr2n
      |  FROM l WHERE r IS NOT NULL GROUP BY 1 HAVING count(*) >= 2),
      |f AS (SELECT user_id, n,
      |    CAST(sr AS DOUBLE) / n AS mean_r,
      |    greatest((CAST(sr2 AS DOUBLE) - n * (CAST(sr AS DOUBLE) / n) * (CAST(sr AS DOUBLE) / n))
      |             / (n - 1), 0.0) AS varr,
      |    CAST(sr2n AS DOUBLE) / n AS ddv
      |  FROM m)
      |SELECT user_id, n AS n_returns,
      |  round(mean_r, 6) + 0.0 AS mean_r,
      |  round(sqrt(varr) * sqrt(252.0), 4) AS ann_vol,
      |  CASE WHEN sqrt(varr) > 0
      |       THEN round(mean_r / sqrt(varr) * sqrt(252.0), 4) + 0.0 END AS sharpe,
      |  CASE WHEN sqrt(ddv) > 0
      |       THEN round(mean_r / sqrt(ddv) * sqrt(252.0), 4) + 0.0 END AS sortino
      |FROM f ORDER BY user_id""".stripMargin

  /** Daily time-weighted average price per instrument — the aggregate an
    * irregularly-sampled tick series actually needs (a plain AVG
    * over-weights bursts; TWA weights each price by how long it was the
    * standing price). Each tick's weight is the microsecond gap to the
    * next tick THAT DAY (day-end boundary: the day's last tick carries
    * zero weight — the close is [[vwap]]'s and [[candles]]' job).
    * The numerator Σ cents·Δt stays an exact integer (DECIMAL(38,0): a
    * day of micros × cents overflows a long at scale), the denominator is
    * exact micros, one double division at the end. One lead window per
    * (instrument, day) + one partial-aggregable rollup — the
    * [[realizedVol]] plan shape.
    */
  def twaPrice(s: SparkSession, d: String): DataFrame = {
    val D38 = DecimalType(38, 0)
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("um"), col("event_id"))
    Tables.events(s, d)
      .withColumn("c", (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
      .filter(col("c") > 0)
      .withColumn("day", col("ts").cast("date"))
      .withColumn("um", unix_micros(col("ts")))
      .withColumn("dt", lead(col("um"), 1).over(w) - col("um"))
      .filter(col("dt").isNotNull)
      .groupBy(col("user_id"), col("day"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("dt")).as("micros_covered"),
        // every span zero-width (all ticks on one microsecond) → the
        // weight sum is 0 and the average is NULL (NumOps.safeDiv
        // contract, = DuckDB's x/0), not an ANSI DIVIDE_BY_ZERO
        round(graft.functions.NumOps.safeDiv(
          sum((col("c").cast(D38) * col("dt"))).cast("double"),
          sum(col("dt"))), 4).as("twa_cents"))
      .orderBy("user_id", "day")
  }
  val twaPriceSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS um,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      |l AS (SELECT user_id, day, c,
      |    lead(um) OVER (PARTITION BY user_id, day ORDER BY um, event_id) - um AS dt
      |  FROM e)
      |SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(dt) AS BIGINT) AS micros_covered,
      |  round(CAST(sum(c * dt) AS DOUBLE) / sum(dt), 4) AS twa_cents
      |FROM l WHERE dt IS NOT NULL
      |GROUP BY user_id, day ORDER BY user_id, day""".stripMargin

  /** Daily round-6 log returns per instrument — the shared input of
    * [[marketBeta]] and [[pairCorrelation]]: close-to-close on the day's
    * LAST tick (total (ts, event_id) order), exactly the series a daily
    * risk system derives. One window per instrument + one lag over the
    * per-day closes (day-count-sized).
    */
  private def dailyReturns(s: SparkSession, d: String): DataFrame = {
    val lagW = Window.partitionBy("user_id").orderBy("day")
    Tables.events(s, d)
      .withColumn("c", (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
      .filter(col("c") > 0)
      .withColumn("day", col("ts").cast("date"))
      // last tick by the (ts, event_id) TOTAL order via max_by — a
      // partial-aggregable groupBy (map-side combine, no data-scale sort)
      // replacing the row_number window's full per-partition sort of the
      // tick stream; identical pick because the order key is tie-free
      .groupBy("user_id", "day")
      .agg(max_by(col("c"), struct(col("ts"), col("event_id"))).as("c"))
      .withColumn("pc", lag("c", 1).over(lagW))
      .withColumn("r", round(log(col("c").cast("double") / col("pc").cast("double")), 6))
      .filter(col("r").isNotNull)
      .select("user_id", "day", "r")
  }
  private val dailyReturnsSql: String =
    """SELECT user_id, day, round(ln(CAST(c AS DOUBLE) / pc), 6) AS r
      |FROM (
      |  SELECT user_id, day, c,
      |         lag(c) OVER (PARTITION BY user_id ORDER BY day) AS pc
      |  FROM (
      |    SELECT user_id, day, c,
      |           row_number() OVER (PARTITION BY user_id, day
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |            CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |          FROM events
      |          WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0))
      |  WHERE rn = 1)
      |WHERE pc IS NOT NULL""".stripMargin

  /** CAPM-style market beta per instrument: regress each instrument's
    * daily log returns on the EQUAL-WEIGHT market return (the mean of all
    * instruments' returns that day — the index a self-contained engine can
    * build; swap in a cap-weighted index by changing one aggregate).
    * β = Cov(r, m)/Var(m) per instrument, every moment a DECIMAL sum of
    * round-6 terms. Two shuffles total (per-day market agg + per-
    * instrument moments), both partial-aggregable; the market frame is
    * day-count-sized and broadcast.
    */
  def marketBeta(s: SparkSession, d: String): DataFrame = {
    val D6 = DecimalType(18, 6)
    val r = dailyReturns(s, d)
    val mkt = r.groupBy("day")
      .agg(round(sum(col("r").cast(D6)).cast("double") / count(lit(1)), 6).as("m"))
    r.join(broadcast(mkt), "day")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("r").cast(D6)).cast("double").as("sr"),
        sum(col("m").cast(D6)).cast("double").as("sm"),
        sum(round(col("r") * col("m"), 6).cast(D6)).cast("double").as("srm"),
        sum(round(col("m") * col("m"), 6).cast(D6)).cast("double").as("smm"))
      .select(col("user_id"), col("n_days"),
        // Var(market) = 0 over an instrument's days — n_days = 1 does it
        // exactly — makes β NULL (NumOps.safeDiv contract, = the oracle's
        // native x/0 → NULL), never an ANSI DIVIDE_BY_ZERO job failure
        round(graft.functions.NumOps.safeDiv(
          col("n_days") * col("srm") - col("sr") * col("sm"),
          col("n_days") * col("smm") - col("sm") * col("sm")), 4).as("beta"))
      .orderBy("user_id")
  }
  val marketBetaSql: String =
    s"""WITH r AS ($dailyReturnsSql),
       |mkt AS (SELECT day,
       |          round(CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS m
       |        FROM r GROUP BY day),
       |j AS (SELECT r.user_id, r.r, mkt.m FROM r JOIN mkt USING (day)),
       |f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
       |        CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS sr,
       |        CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS sm,
       |        CAST(sum(CAST(round(r * m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS srm,
       |        CAST(sum(CAST(round(m * m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS smm
       |      FROM j GROUP BY user_id)
       |SELECT user_id, n_days,
       |  round((n_days * srm - sr * sm) / (n_days * smm - sm * sm), 4) + 0.0 AS beta
       |FROM f ORDER BY user_id""".stripMargin

  /** Top-k most-correlated instrument pairs by daily log returns — the
    * pairs-trading screen. The pair frame is instrument² × shared days:
    * here an inner join on day over the per-instrument daily-return frame
    * (day-count × instruments² rows — at a large instrument universe,
    * block by sector/liquidity bucket exactly as [[graft.operators
    * .SimilarityOps.cosineNearDup]] blocks by label; the moment algebra is
    * unchanged). Pearson corr from DECIMAL moment sums of round-6 terms;
    * min overlap [[PairCorrMinDays]] days; ties broken by the pair key.
    */
  val PairCorrK = 20
  val PairCorrMinDays = 10

  /** Screened universe size: the pair frame is universe², so the screen
    * first restricts to the most-ACTIVE instruments (event count desc,
    * user_id tiebreak — a total order), exactly as a real pairs screen
    * pre-selects liquids before correlating. 1500 instruments all-pairs
    * benched 140 s at sf0.1; the 200-liquid screen runs in ~1 s and is
    * the honest production shape (the universe cap, not the corpus, now
    * bounds the quadratic term).
    */
  val PairCorrUniverse = 200
  def pairCorrelation(s: SparkSession, d: String): DataFrame = {
    val D6 = DecimalType(18, 6)
    val uni = Tables.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("user_id"))
      .limit(PairCorrUniverse)
      .select("user_id")
    // universe×days-sized (bounded) — checkpoint once, feed both join
    // sides. WIDEN first (r19, measured via tools/Probe): the
    // groupBy+window upstream leaves this ~40k-row frame in ONE
    // AQE-coalesced partition, and the checkpoint freezes that, so the
    // day-join's ~14.6M-row pair expansion + six DECIMAL moment sums ran
    // in a single task (2.3 s of CPU on one core, 86 ms parallel floor).
    // Unlike the tiny loop exchanges (see Sessions.scala note), this is
    // one CPU-dense expansion that amortizes task overhead — width wins.
    val r = dailyReturns(s, d).join(broadcast(uni), "user_id")
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val b = r.select(col("user_id").as("u2"), col("day"), col("r").as("r2"))
    val m = r.join(b, Seq("day")).filter(col("user_id") < col("u2"))
      .groupBy(col("user_id").as("u1"), col("u2"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("r").cast(D6)).cast("double").as("s1"),
        sum(col("r2").cast(D6)).cast("double").as("s2"),
        sum(round(col("r") * col("r2"), 6).cast(D6)).cast("double").as("s12"),
        sum(round(col("r") * col("r"), 6).cast(D6)).cast("double").as("s11"),
        sum(round(col("r2") * col("r2"), 6).cast(D6)).cast("double").as("s22"))
      .filter(col("n") >= PairCorrMinDays)
      .withColumn("corr",
        // a constant instrument over the shared days zeroes its σ: the
        // pair's ρ is NULL (NumOps.safeDiv contract) and the very next
        // filter drops it — the oracle's WHERE corr IS NOT NULL twin
        round(graft.functions.NumOps.safeDiv(
          col("n") * col("s12") - col("s1") * col("s2"),
          sqrt((col("n") * col("s11") - col("s1") * col("s1")) *
            (col("n") * col("s22") - col("s2") * col("s2")))), 4))
      .filter(col("corr").isNotNull && !isnan(col("corr")))
    m.orderBy(col("corr").desc, col("u1"), col("u2"))
      .limit(PairCorrK)
      .select("u1", "u2", "n", "corr")
  }
  val pairCorrelationSql: String =
    s"""WITH uni AS (SELECT user_id FROM events GROUP BY user_id
       |             ORDER BY count(*) DESC, user_id LIMIT $PairCorrUniverse),
       |r0 AS ($dailyReturnsSql),
       |r AS (SELECT r0.* FROM r0 JOIN uni USING (user_id)),
       |m AS (SELECT a.user_id AS u1, b.user_id AS u2, CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CAST(a.r AS DECIMAL(18,6))) AS DOUBLE) AS s1,
       |        CAST(sum(CAST(b.r AS DECIMAL(18,6))) AS DOUBLE) AS s2,
       |        CAST(sum(CAST(round(a.r * b.r, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s12,
       |        CAST(sum(CAST(round(a.r * a.r, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s11,
       |        CAST(sum(CAST(round(b.r * b.r, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s22
       |      FROM r a JOIN r b ON a.day = b.day AND a.user_id < b.user_id
       |      GROUP BY 1, 2 HAVING count(*) >= $PairCorrMinDays),
       |c AS (SELECT u1, u2, n,
       |        round((n * s12 - s1 * s2) /
       |          sqrt((n * s11 - s1 * s1) * (n * s22 - s2 * s2)), 4) + 0.0 AS corr
       |      FROM m)
       |SELECT u1, u2, n, corr FROM c WHERE corr IS NOT NULL AND NOT isnan(corr)
       |ORDER BY corr DESC, u1, u2 LIMIT $PairCorrK""".stripMargin

  /** Sessionization: split each user's event stream into sessions at
    * inactivity gaps > `gapMinutes`. The lag + running-sum-of-boundaries
    * plan is one shuffle on user_id; session_window() is the streaming twin.
    */
  def sessionize(s: SparkSession, d: String, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          col("ts").cast("long") - col("_prev").cast("long") > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("_new_session")).over(run))
      .groupBy("user_id", "session_seq")
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_seq")
  }
  def sessionizeSql(gapMinutes: Int = 30): String =
    s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
       |lagged AS (SELECT user_id, event_id, ts,
       |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
       |marked AS (SELECT user_id, event_id, ts,
       |  CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > ${gapMinutes * 60}
       |       THEN 1 ELSE 0 END AS new_session FROM lagged),
       |numbered AS (SELECT user_id, event_id, ts,
       |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM marked)
       |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
       |  count(*) AS n_events
       |FROM numbered GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  /** SCD2 (slowly-changing-dimension type 2) history build from an event
    * stream — the warehouse-side CDC shape: consecutive events with the
    * same tracked attribute collapse into one versioned interval row
    * `[valid_from, valid_to)` with `is_current` on the open interval. Plan:
    * change flags via lag, run ids via running sum (one shuffle on the
    * entity key, both windows share the sort), partial-aggregable run
    * collapse, then a second tiny window over one row per run. At 100 TB
    * the run-collapse groupBy is the only wide op over full data.
    */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byVer = Window.partitionBy("user_id").orderBy("version")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .withColumn("_chg",
        when(col("_prev").isNull || col("_prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("_chg")).over(run))
      .groupBy(col("user_id"), col("version"))
      .agg(
        min(col("event_type")).as("event_type"), // constant within a run
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVer))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "version")
  }
  val scd2HistorySql: String =
    """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |l AS (SELECT user_id, event_id, ts, event_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM ev),
      |m AS (SELECT user_id, event_id, ts, event_type,
      |        CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg FROM l),
      |r AS (SELECT user_id, ts, event_type,
      |        CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version FROM m),
      |g AS (SELECT user_id, version, min(event_type) AS event_type,
      |        min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
      |      FROM r GROUP BY 1, 2)
      |SELECT user_id, version, event_type, valid_from,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL AS is_current,
      |  n_events
      |FROM g ORDER BY user_id, version""".stripMargin

  /** Range (interval) join: purchases matched to the same user's clicks in
    * the following hour. Plans as an equi-join on user_id with the time
    * range as a post-join filter — the right shape when the equi-key is
    * selective; for key-free interval joins, sort-merge on binned time
    * (bucket join on floor(ts/width)) is the scale path.
    */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    p.join(c, Seq("user_id"))
      .filter(col("c_ts") >= col("p_ts") &&
        col("c_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "purchase_id", "click_id")
      .orderBy("purchase_id", "click_id")
  }
  val rangeJoinSql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts FROM ev WHERE event_type = 'click')
      |SELECT p.user_id, purchase_id, click_id
      |FROM p JOIN c ON p.user_id = c.user_id
      | AND c_ts >= p_ts AND c_ts < p_ts + INTERVAL 1 HOUR
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Gap filling / resampling: one row per (user, day) on a dense calendar
    * grid, last observed value carried forward across missing days — the
    * standard time-series regularization before feature windows.
    *
    * Scale shape: the grid is users × days (generated, never shuffled as
    * data); the observation reduction is a partial-aggregable per-(user,day)
    * latest-wins; the only wide operation is the per-user carry-forward
    * window. The global min/max bounds ride a broadcast single row.
    */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("day", to_date(col("ts")))
    // partial-aggregable latest-wins (the scaladoc's own phrase): max_by
    // over the tie-free (ts, event_id) order replaces the row_number
    // window's per-partition sort of the whole tick stream
    val obs = ev.groupBy("user_id", "day")
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("day_val"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = ev.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val carry = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "day"), "left")
      .withColumn("fill", last(col("day_val"), ignoreNulls = true).over(carry))
      .select("user_id", "day", "fill")
      .orderBy("user_id", "day")
  }
  val gapFillSql: String =
    """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      |obs AS (SELECT user_id, day, value AS day_val FROM (
      |  SELECT user_id, day, value,
      |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM ev) WHERE rn = 1),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |grid AS (SELECT u.user_id, CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
      |         FROM (SELECT DISTINCT user_id FROM ev) u, b)
      |SELECT g.user_id, g.day,
      |  last_value(o.day_val IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill
      |FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day
      |ORDER BY g.user_id, g.day""".stripMargin

  /** Per-instrument EWMA of the daily close (alpha = 1/5) — the trend
    * baseline every momentum/mean-reversion signal starts from, plus the
    * close-vs-EWMA momentum flag. ENTIRELY in integer arithmetic: closes
    * are cents scaled by 10^4 and each step is
    * `y_t = (x_t + 4*y_{t-1}) div 5` (exact integer floor), so the fold is
    * bit-identical under any engine — no float rounding anywhere, the
    * discipline that keeps a sequential recursion oracle-able.
    *
    * Scale shape: the daily-close table is day-count-bounded per
    * instrument (the shared ts discipline); the fold runs inside ONE
    * codegen'd `aggregate` HOF over the per-instrument sorted array —
    * map-side after a single partial-aggregable groupBy. Sequential
    * recursions do not parallelize WITHIN a key by nature; across keys
    * (the real parallelism axis at 1500+ instruments) this is
    * embarrassingly parallel, and the array length is calendar-bounded,
    * never row-bounded.
    */
  def ewma(s: SparkSession, d: String): DataFrame = {
    val closes = Tables.events(s, d)
      .withColumn("c", (col("value").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
      .filter(col("c") > 0)
      .withColumn("day", col("ts").cast("date"))
      // daily close via max_by on the tie-free (ts, event_id) order — the
      // dailyReturns rewrite: partial-aggregable, no tick-stream sort
      .groupBy("user_id", "day")
      .agg(max_by(col("c"), struct(col("ts"), col("event_id"))).as("c"))
    closes.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("a"))
      .withColumn("cs", expr("transform(a, p -> p.c * 10000)"))
      .select(
        col("user_id"),
        size(col("a")).cast("long").as("n_days"),
        element_at(col("a"), -1).getField("c").as("last_c"),
        expr("aggregate(slice(cs, 2, size(cs) - 1), cs[0], " +
          "(acc, x) -> (x + 4 * acc) div 5)").as("ewma_scaled"))
      .withColumn("momentum", col("last_c") * 10000 > col("ewma_scaled"))
      .orderBy("user_id")
  }
  val ewmaSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events
      |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      |closes AS (
      |  SELECT user_id, day, c FROM (
      |    SELECT user_id, day, c,
      |      row_number() OVER (PARTITION BY user_id, day
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |agg AS (
      |  SELECT user_id,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(list(c ORDER BY day)[count(*)] AS BIGINT) AS last_c,
      |    CAST(list_reduce(list(c * 10000 ORDER BY day),
      |         (acc, x) -> (x + 4 * acc) // 5) AS BIGINT) AS ewma_scaled
      |  FROM closes GROUP BY user_id)
      |SELECT user_id, n_days, last_c, ewma_scaled,
      |  last_c * 10000 > ewma_scaled AS momentum
      |FROM agg ORDER BY user_id""".stripMargin

  /** Historical 5% Value-at-Risk and Expected Shortfall per instrument —
    * the tail-risk pair every desk publishes next to Sharpe: VaR is the
    * exact 5th-percentile order statistic of the daily return multiset
    * (k = ceil(n/20), tie-independent), ES the exact mean of the k worst
    * returns. Returns live in round-6 micro units (BIGINT), so every sum
    * is exact integer arithmetic; the only float op is the final ES
    * division, identical in both engines.
    *
    * Scale shape: the shared daily-return pass, then everything happens on
    * the per-instrument cumulated histogram (value-NDV-sized — the
    * [[graft.queries.AnalyticsQueries.cumulatedHistogram]] discipline, no
    * data-scale window): the cutoff row is rank-selected from [lo, hi]
    * ranges, and the tail sum is Σ v·cnt below the cutoff plus the
    * cutoff's partial multiplicity — the k-smallest sum recovered without
    * ranking individual rows.
    */
  def varEs(s: SparkSession, d: String): DataFrame = {
    val r = dailyReturns(s, d)
      .select(col("user_id"), round(col("r") * 1000000).cast("long").as("rm"))
    val hist = graft.queries.AnalyticsQueries
      .cumulatedHistogram(r, "user_id", "rm")
      .localCheckpoint(true) // feeds the cutoff pick AND the tail sum
    val cut = hist.withColumn("k", expr("(n + 19) div 20"))
      .filter(col("k").between(col("lo"), col("hi")))
      .select(col("user_id"), col("rm").as("cut"), col("k"),
        col("lo").as("cut_lo"), col("n"))
    val below = hist.join(broadcast(cut.select("user_id", "cut")), Seq("user_id"))
      .filter(col("rm") < col("cut"))
      .groupBy("user_id").agg(sum(col("rm") * col("cnt")).as("sb"))
    cut.join(below, Seq("user_id"), "left")
      .select(col("user_id"), col("n").as("n_days"),
        col("cut").as("var_micro"),
        // tail-mean in the micro-int domain: round(s_tail/k) to an integer
        // (same IEEE division + same away-from-zero tie rule in both
        // engines), then one exact /1e6 — round(x, 6) on the double flips
        // on .0000005 boundaries between Spark's BigDecimal path and
        // DuckDB's multiply-first path (sf0.001 hit one). Integer domain
        // also kills -0.0 for free (roundz no longer needed).
        (round((coalesce(col("sb"), lit(0L)) +
            (col("k") - col("cut_lo") + 1) * col("cut")).cast("double") /
            col("k").cast("double")).cast("long") / 1000000.0).as("es"))
      .orderBy("user_id")
  }
  lazy val varEsSql: String =
    s"""WITH r AS (
       |  SELECT user_id, CAST(round(r * 1000000) AS BIGINT) AS rm
       |  FROM ($dailyReturnsSql)),
       |rk AS (SELECT user_id, rm,
       |         row_number() OVER (PARTITION BY user_id ORDER BY rm) AS rn,
       |         count(*) OVER (PARTITION BY user_id) AS n
       |       FROM r),
       |cut AS (SELECT user_id, rm AS cut, rn AS k, n
       |        FROM rk WHERE rn = (n + 19) // 20),
       |es AS (SELECT rk.user_id, CAST(sum(rk.rm) AS BIGINT) AS s_tail,
       |         c.k, c.n, c.cut
       |       FROM rk JOIN cut c USING (user_id) WHERE rk.rn <= c.k
       |       GROUP BY rk.user_id, c.k, c.n, c.cut)
       |SELECT user_id, CAST(n AS BIGINT) AS n_days, CAST(cut AS BIGINT) AS var_micro,
       |  CAST(round(CAST(s_tail AS DOUBLE) / CAST(k AS DOUBLE)) AS BIGINT) / 1000000.0 + 0.0 AS es
       |FROM es ORDER BY user_id""".stripMargin

  /** Day-of-week seasonality strength of order flow — the forecasting
    * diagnostic (Hyndman & Athanasopoulos, "Forecasting: Principles and
    * Practice", seasonal-strength measure): the share of daily-count
    * variance explained by the weekly profile,
    * `1 − SS_resid/SS_total`, plus the peak weekday. Near 1 = strongly
    * weekly; near 0 = the weekday tells you nothing.
    *
    * Determinism discipline: day-of-week is pure integer arithmetic
    * (`epoch_day mod 7` — engine date functions disagree on week origin),
    * group means are rounded to 6 dp before differencing, every squared
    * residual is rounded to 6 dp and carried as DECIMAL, and the final
    * ratio is one double chain. Scale shape: one partial-aggregable
    * daily count, then day-count- and 7-sized frames only.
    */
  def dowStrength(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NumOps.roundz
    val D = DecimalType(18, 6)
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("day")).agg(count(lit(1)).as("n"))
      .withColumn("dow", pmod(datediff(col("day"), lit("1970-01-01")), lit(7)))
      .localCheckpoint(true) // feeds both mean passes and the residual fold
    val tot = daily.agg(count(lit(1)).as("n_days"),
      round(avg("n"), 6).as("m_all"))
    val byDow = daily.groupBy("dow").agg(round(avg("n"), 6).as("m_dow"))
    val ss = daily.join(broadcast(byDow), Seq("dow"))
      .crossJoin(broadcast(tot))
      .agg(
        sum(round((col("n") - col("m_all")) * (col("n") - col("m_all")), 6)
          .cast(D)).as("sst"),
        sum(round((col("n") - col("m_dow")) * (col("n") - col("m_dow")), 6)
          .cast(D)).as("ssr"))
    val peak = byDow
      .agg(max(struct(round(col("m_dow") * 1000000).cast("long").as("m6"),
        (-col("dow")).as("nd"))).as("pk"))
      .select((-col("pk.nd")).as("peak_dow"))
    // an all-tied daily series (SS_total = 0 — constant order flow) makes
    // seasonal strength undefined: NULL via the NumOps.safeDiv contract
    // (DuckDB's x/0 is NULL), never an ANSI DIVIDE_BY_ZERO
    ss.crossJoin(broadcast(tot)).crossJoin(broadcast(peak))
      .select(col("n_days"),
        roundz(lit(1.0) - graft.functions.NumOps.safeDiv(
          col("ssr").cast("double"), col("sst").cast("double")), 6)
          .as("strength"),
        col("peak_dow"))
  }
  val dowStrengthSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS n,
      |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7 AS dow
      |  FROM orders GROUP BY o_orderdate),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days, round(avg(n), 6) AS m_all
      |        FROM daily),
      |bd AS (SELECT dow, round(avg(n), 6) AS m_dow FROM daily GROUP BY dow),
      |ss AS (SELECT
      |         sum(CAST(round((d.n - t.m_all) * (d.n - t.m_all), 6) AS DECIMAL(18,6))) AS sst,
      |         sum(CAST(round((d.n - b.m_dow) * (d.n - b.m_dow), 6) AS DECIMAL(18,6))) AS ssr
      |       FROM daily d JOIN bd b USING (dow) CROSS JOIN tot t),
      |pk AS (SELECT dow AS peak_dow FROM bd
      |       ORDER BY CAST(round(m_dow * 1000000) AS BIGINT) DESC, dow ASC LIMIT 1)
      |SELECT t.n_days,
      |  round(1.0 - CAST(ss.ssr AS DOUBLE) / CAST(ss.sst AS DOUBLE), 6) + 0.0 AS strength,
      |  CAST(pk.peak_dow AS BIGINT) AS peak_dow
      |FROM ss CROSS JOIN tot t CROSS JOIN pk""".stripMargin
}
