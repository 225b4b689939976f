package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Events + TPC-H-style headline queries. These are the bench workhorses —
  * at sf0.1 lineitem has ~600k rows — and double as oracle-checked
  * correctness entries.
  *
  * Float-sum determinism: every large SUM over doubles goes through
  * DECIMAL(18,2/4) so partial-aggregation order (Spark) and parallel
  * reduction order (DuckDB) cannot perturb the result; the exact decimal is
  * cast back to double at the end. Sums of 64-bit integers are exact
  * already. Timestamps compare as unix millis (integers).
  */
object OlapQueries {

  private def dec(c: org.apache.spark.sql.Column, scale: Int) =
    c.cast(s"decimal(18,$scale)")

  /** Epoch micros/millis from the events table's TIMESTAMP_NTZ `ts`.
    * events.ts is Parquet TIMESTAMP(isAdjustedToUTC=false, MICROS), which
    * Spark 4 reads as TIMESTAMP_NTZ — `unix_micros` and friends reject NTZ,
    * and a cast to TIMESTAMP would make the result depend on the session
    * timezone. `timestampdiff` against the NTZ epoch is a pure wall-clock
    * difference: timezone-independent and bit-identical to DuckDB's
    * `epoch_us`/`epoch_ms` over the same column.
    */
  private def epochOf(unit: String, colName: String) =
    expr(s"timestampdiff($unit, TIMESTAMP_NTZ'1970-01-01 00:00:00', $colName)")

  /** Tumbling 1-hour window aggregation over the events stream table —
    * the batch shape of the Structured Streaming windowed count. window()
    * operates on the TIMESTAMP_NTZ column directly (supported since 3.4);
    * the window start is reported as epoch millis for the oracle.
    */
  def eventsWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"), 4)).as("sum_dec"))
      .select(epochOf("MILLISECOND", "w.start").as("window_start"),
        col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("window_start", "event_type")

  val eventsWindowSql: String =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Gap-based sessionization (30-min inactivity) per user — lag + running
    * sum of session starts; the batch analog of
    * streaming session_window aggregation.
    */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), epochOf("MILLISECOND", "ts").as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"))
      .orderBy("user_id", "session_idx")
  }

  val eventsSessionizeSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |s AS (SELECT user_id, event_id, ts_ms,
      |        CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
      |      FROM ev),
      |x AS (SELECT user_id, ts_ms,
      |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |      FROM s)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
      |FROM x GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin

  /** The as-of join inputs: clicks (click_id, user_id, tsu) and views
    * (view_id, user_id, vtsu), in epoch-micros on both sides — the
    * resolution DuckDB's epoch_us gives the oracle, so ordering and gap
    * arithmetic cannot drift at boundaries.
    */
  private def clicksAndViews(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    (ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        epochOf("MICROSECOND", "ts").as("tsu")),
     ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        epochOf("MICROSECOND", "ts").as("vtsu")))
  }

  /** Backward as-of join over the events stream: every click matched to the
    * user's most recent preceding (or simultaneous) view. Exercises
    * [[graft.operators.AsOfJoin]] — the union+ordered-window shape, one
    * keyed shuffle, no inequality theta-join. Oracle: DuckDB's native
    * ASOF JOIN.
    */
  def eventsAsof(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksAndViews(s, dir)
    graft.operators.AsOfJoin.asof(clicks, views,
        keys = Seq("user_id"), leftTs = "tsu", rightTs = "vtsu",
        leftCols = Seq("click_id", "tsu"), rightCols = Seq("view_id", "vtsu"),
        rightTieBreak = Seq("view_id"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        expr("(tsu - vtsu) div 1000").as("gap_ms"))
      .orderBy("click_id")
  }

  val eventsAsofSql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'click'),
      |     v AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'view')
      |SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
      |       (c.tsu - v.tsu) // 1000 AS gap_ms
      |FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.tsu >= v.tsu
      |ORDER BY click_id""".stripMargin

  /** FORWARD as-of join: every click matched to the user's EARLIEST
    * following (or simultaneous) view — the "next event after" direction.
    * DuckDB has no forward ASOF, so the oracle is the argmin form
    * (row_number over following views), which doubles as independent
    * evidence the window trick is right.
    */
  def eventsAsofForward(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksAndViews(s, dir)
    graft.operators.AsOfJoin.asofForward(clicks, views,
        keys = Seq("user_id"), leftTs = "tsu", rightTs = "vtsu",
        leftCols = Seq("click_id", "tsu"), rightCols = Seq("view_id", "vtsu"),
        rightTieBreak = Seq("view_id"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        expr("(vtsu - tsu) div 1000").as("wait_ms"))
      .orderBy("click_id")
  }

  val eventsAsofForwardSql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'click'),
      |     v AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'view'),
      |j AS (SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
      |             (v.tsu - c.tsu) // 1000 AS wait_ms,
      |             row_number() OVER (PARTITION BY c.event_id
      |               ORDER BY v.tsu, v.event_id) AS rn
      |      FROM c JOIN v ON v.user_id = c.user_id AND v.tsu >= c.tsu)
      |SELECT click_id, user_id, view_id, wait_ms FROM j WHERE rn = 1
      |ORDER BY click_id""".stripMargin

  /** Rolling 1-hour event-time aggregate per user (RANGE frame over epoch
    * micros): the trailing-window feature every behavioral model computes.
    * RANGE (not ROWS) so timestamp peers share one answer — deterministic
    * under any partitioning, identical framing in both engines.
    */
  def eventsRolling(s: SparkSession, dir: String): DataFrame = {
    val hour = 3600L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tsu"))
      .rangeBetween(-hour, 0)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        epochOf("MICROSECOND", "ts").as("tsu"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", round(sum(col("value")).over(w), 6))
      .select("event_id", "user_id", "tsu", "n_1h", "sum_1h")
      .orderBy("event_id")
  }

  val eventsRollingSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS tsu,
      |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
      |  round(sum(value) OVER w, 6) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** NEAREST as-of join: every click matched to the closest view in
    * either direction (equidistant ties backward). The oracle is a global
    * argmin over ALL candidate views by (|Δt|, direction, the per-
    * direction tie order) — provably equivalent to the two-pass pick and
    * computed completely independently of the window trick.
    */
  def eventsAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksAndViews(s, dir)
    graft.operators.AsOfJoin.asofNearest(clicks, views,
        keys = Seq("user_id"), leftTs = "tsu", rightTs = "vtsu",
        leftId = "click_id",
        leftCols = Seq("click_id", "tsu"), rightCols = Seq("view_id", "vtsu"),
        rightTieBreak = Seq("view_id"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        abs(col("vtsu") - col("tsu")).as("dist_us"))
      .orderBy("click_id")
  }

  val eventsAsofNearestSql: String =
    """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'click'),
      |     v AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'view'),
      |j AS (SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
      |             abs(v.tsu - c.tsu) AS dist_us,
      |             row_number() OVER (PARTITION BY c.event_id ORDER BY
      |               abs(v.tsu - c.tsu),
      |               CASE WHEN v.tsu <= c.tsu THEN 0 ELSE 1 END,
      |               CASE WHEN v.tsu <= c.tsu THEN -v.event_id ELSE v.event_id END) AS rn
      |      FROM c JOIN v ON v.user_id = c.user_id)
      |SELECT click_id, user_id, view_id, dist_us FROM j WHERE rn = 1
      |ORDER BY click_id""".stripMargin

  /** Cohort retention triangle — the product-analytics staple: users
    * cohorted by first-active week, then the fraction of each cohort
    * active again k weeks later. Weeks are integer epoch-week ordinals
    * (`epoch_us div 604800000000` — exact long division, no calendar/
    * timezone parity risk). All stages are keyed: one (user, week)
    * distinct, one per-user min, one co-partitioned user join, two small
    * keyed aggregates — the shape that survives a 100 TB events table.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val weekExpr = expr(
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) div 604800000000")
    val weeks = t(s, dir, "events")
      .select(col("user_id"), weekExpr.as("week")).distinct()
    val first = weeks.groupBy("user_id").agg(min(col("week")).as("cohort"))
    val joined = weeks.join(first, "user_id")
      .withColumn("week_offset", col("week") - col("cohort"))
    val sizes = first.groupBy("cohort")
      .agg(countDistinct(col("user_id")).as("cohort_users"))
    joined.groupBy("cohort", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort")
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_users"), 6))
      .select("cohort", "week_offset", "n_active", "cohort_users", "retention")
      .orderBy("cohort", "week_offset")
  }

  val eventsRetentionSql: String =
    """WITH w AS (SELECT DISTINCT user_id,
      |        epoch_us(ts) // 604800000000 AS week FROM events),
      |f AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY 1),
      |j AS (SELECT w.user_id, f.cohort, w.week - f.cohort AS week_offset
      |      FROM w JOIN f USING (user_id)),
      |s AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_users
      |      FROM f GROUP BY 1),
      |a AS (SELECT cohort, week_offset,
      |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |      FROM j GROUP BY 1, 2)
      |SELECT a.cohort, a.week_offset, n_active, cohort_users,
      |       round(n_active * 1.0 / cohort_users, 6) AS retention
      |FROM a JOIN s USING (cohort)
      |ORDER BY cohort, week_offset""".stripMargin

  /** Funnel attribution — view -> click (within 30 min) -> purchase
    * (within 60 min of the attributed click), composed from TWO backward
    * as-of joins plus gap filters; hourly conversion counts out. The
    * composition showcase for the temporal family: each stage is one
    * keyed shuffle, no stage materializes candidate sets. The oracle
    * replays both attributions in the independent argmin form.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def side(t0: String, idAs: String, tsAs: String) =
      ev.filter(col("event_type") === t0)
        .select(col("event_id").as(idAs), col("user_id"),
          epochOf("MICROSECOND", "ts").as(tsAs))
    val views = side("view", "view_id", "vtsu")
    val clicks = side("click", "click_id", "ctsu")
    val purchases = side("purchase", "purchase_id", "ptsu")
    // stage 1: click attributed to the most recent view <= 30 min before
    val convClicks = graft.operators.AsOfJoin.asof(clicks, views,
        keys = Seq("user_id"), leftTs = "ctsu", rightTs = "vtsu",
        leftCols = Seq("click_id", "ctsu"), rightCols = Seq("view_id", "vtsu"),
        rightTieBreak = Seq("view_id"))
      .filter(col("ctsu") - col("vtsu") <= 1800L * 1000000L)
    // stage 2: purchase attributed to the most recent CONVERTED click
    // <= 60 min before (highest click_id wins timestamp ties — the
    // backward join's last-in-order contract)
    val convPurchases = graft.operators.AsOfJoin.asof(purchases, convClicks,
        keys = Seq("user_id"), leftTs = "ptsu", rightTs = "ctsu",
        leftCols = Seq("purchase_id", "ptsu"), rightCols = Seq("click_id", "ctsu"),
        rightTieBreak = Seq("click_id"))
      .filter(col("ptsu") - col("ctsu") <= 3600L * 1000000L)
    val hourU = 3600L * 1000000L
    def hourly(df: DataFrame, tsCol: String, as: String) =
      df.groupBy(expr(s"$tsCol div ${hourU}L").as("hour"))
        .agg(count(lit(1)).as(as))
    hourly(views, "vtsu", "n_views")
      .join(hourly(convClicks, "ctsu", "n_conv_clicks"), Seq("hour"), "full")
      .join(hourly(convPurchases, "ptsu", "n_conv_purchases"), Seq("hour"), "full")
      .select(col("hour"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("n_conv_clicks"), lit(0L)).as("n_conv_clicks"),
        coalesce(col("n_conv_purchases"), lit(0L)).as("n_conv_purchases"))
      .orderBy("hour")
  }

  val eventsFunnelSql: String =
    """WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS vtsu
      |           FROM events WHERE event_type = 'view'),
      |c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ctsu
      |      FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ptsu
      |      FROM events WHERE event_type = 'purchase'),
      |cc0 AS (SELECT c.click_id, c.user_id, c.ctsu, v.view_id, v.vtsu,
      |          row_number() OVER (PARTITION BY c.click_id
      |            ORDER BY v.vtsu DESC, v.view_id DESC) AS rn
      |        FROM c JOIN v ON v.user_id = c.user_id AND v.vtsu <= c.ctsu),
      |cc AS (SELECT * FROM cc0 WHERE rn = 1 AND ctsu - vtsu <= 1800000000),
      |pp0 AS (SELECT p.purchase_id, p.ptsu, cc.click_id, cc.ctsu,
      |          row_number() OVER (PARTITION BY p.purchase_id
      |            ORDER BY cc.ctsu DESC, cc.click_id DESC) AS rn
      |        FROM p JOIN cc ON cc.user_id = p.user_id AND cc.ctsu <= p.ptsu),
      |pp AS (SELECT * FROM pp0 WHERE rn = 1 AND ptsu - ctsu <= 3600000000),
      |hv AS (SELECT vtsu // 3600000000 AS hour, CAST(count(*) AS BIGINT) AS n_views
      |       FROM v GROUP BY 1),
      |hc AS (SELECT ctsu // 3600000000 AS hour, CAST(count(*) AS BIGINT) AS n_conv_clicks
      |       FROM cc GROUP BY 1),
      |hp AS (SELECT ptsu // 3600000000 AS hour, CAST(count(*) AS BIGINT) AS n_conv_purchases
      |       FROM pp GROUP BY 1)
      |SELECT hour, coalesce(n_views, 0) AS n_views,
      |       coalesce(n_conv_clicks, 0) AS n_conv_clicks,
      |       coalesce(n_conv_purchases, 0) AS n_conv_purchases
      |FROM hv FULL JOIN hc USING (hour) FULL JOIN hp USING (hour)
      |ORDER BY hour""".stripMargin

  /** The skew-bounded as-of variant under the SAME oracle as
    * [[eventsAsof]]: chunk-local windows + carry summaries
    * ([[graft.operators.AsOfJoin.asofChunked]], 1-hour chunks) must
    * reproduce the single-window join bit-for-bit.
    */
  def eventsAsofChunked(s: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = clicksAndViews(s, dir)
    graft.operators.AsOfJoin.asofChunked(clicks, views,
        keys = Seq("user_id"), leftTs = "tsu", rightTs = "vtsu",
        leftCols = Seq("click_id", "tsu"), rightCols = Seq("view_id", "vtsu"),
        chunk = 3600L * 1000000L, rightTieBreak = Seq("view_id"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        expr("(tsu - vtsu) div 1000").as("gap_ms"))
      .orderBy("click_id")
  }

  /** Banded range join over the events stream: per purchase, the user's
    * clicks in the preceding 30 minutes (inclusive). Exercises
    * [[graft.operators.RangeJoin]] — time-bucketed equi-join, exact range
    * filter inside the join stage; candidates bounded by bucket density,
    * never per-key cross products. Decimal-exact value sum for the oracle.
    */
  def eventsRange(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // epoch-micros for oracle parity (see eventsAsof)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), epochOf("MICROSECOND", "ts").as("ptsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), epochOf("MICROSECOND", "ts").as("ctsu"), col("value"))
    graft.operators.RangeJoin.range(purchases, clicks,
        keys = Seq("user_id"), leftTs = "ptsu", rightTs = "ctsu",
        before = 1800000000L, after = 0L,
        leftCols = Seq("event_id"), rightCols = Seq("value"))
      .groupBy("event_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(dec(col("value"), 6)).cast("double").as("sum_value"))
      .orderBy("event_id")
  }

  val eventsRangeSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
      |           WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events
      |           WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, count(*) AS n_clicks,
      |       CAST(sum(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND c.tsu BETWEEN p.tsu - 1800000000 AND p.tsu
      |GROUP BY 1, 2 ORDER BY p.event_id""".stripMargin

  /** TPC-H Q1-style pricing summary over lineitem (the classic bench agg). */
  def q1Pricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"), 2)).as("sq"),
        sum(dec(col("l_extendedprice"), 2)).as("sep"),
        sum(dec(col("l_extendedprice"), 2) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("sdp"),
        sum(dec(col("l_extendedprice"), 2) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2)) *
          (lit(1).cast("decimal(18,2)") + dec(col("l_tax"), 2))).as("sc"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"),
        col("sep").cast("double").as("sum_base_price"),
        col("sdp").cast("double").as("sum_disc_price"),
        col("sc").cast("double").as("sum_charge"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q3-style: top-10 unshipped-revenue orders for a market segment —
    * broadcast dimension joins + decimal-exact revenue + bounded top-k.
    */
  def q3Revenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice"), 2) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("rev"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_str"),
        col("o_orderpriority"), col("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  }

  val q3RevenueSql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Q5-style: revenue by nation through the full star join (region ->
    * nation -> customer/supplier -> orders -> lineitem), all dimensions
    * broadcast.
    */
  def q5Nation(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey") &&
        cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice"), 2) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("rev"))
      .select(col("n_name"), col("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5NationSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM region, nation, customer, supplier, orders, lineitem
      |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
      |  AND s_nationkey = n_nationkey AND c_nationkey = s_nationkey
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_suppkey = s_suppkey
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6-style: pure filter + aggregate — the pushdown showcase
    * (every predicate reaches the Parquet scan; zero joins, zero shuffle
    * beyond the final 1-row aggregate).
    */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum(dec(col("l_extendedprice"), 2) * dec(col("l_discount"), 2)).as("r"),
        count(lit(1)).as("n"))
      .select(col("r").cast("double").as("revenue"), col("n"))

  val q6ForecastSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Window-function headliner: each customer's top-2 orders by value. */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_custkey", "rn")
  }

  val topOrdersPerCustomerSql: String =
    """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, round(o_totalprice, 2) AS price FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin

  /** Multi-level aggregation headliner: corpus stats ROLLUP over
    * (lang, source) — per-(lang,source), per-lang subtotals, and the grand
    * total in ONE pass (Spark Expand + a single aggregate exchange — no
    * union of three scans). `grouping_id` disambiguates a NULL data value
    * from a rollup subtotal row. Scale shape: the Expand multiplies rows
    * by the grouping-set count BEFORE the exchange, but partial
    * aggregation collapses each set to its group cardinality map-side, so
    * shuffled bytes stay ~3x group counts, not 3x the corpus.
    */
  def corpusRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("toks"),
        col("n_chars"))
      .rollup("lang", "source")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"), sum("n_chars").as("sum_chars"))
      .select(col("lang"), col("source"), col("gid").cast("long").as("gid"),
        col("n_docs"), col("n_tokens"), col("sum_chars"))
      .orderBy(col("gid"), col("lang"), col("source"))

  val corpusRollupSql: String =
    """SELECT lang, source, CAST(grouping_id(lang, source) AS BIGINT) AS gid,
      |       count(*) AS n_docs,
      |       CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9_]{2,}'))) AS BIGINT)
      |         AS n_tokens,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY ROLLUP(lang, source)
      |ORDER BY gid, lang, source""".stripMargin

  /** CUBE companion to [[corpusRollup]]: all four grouping sets of
    * (lang, source) — including the source-only marginals ROLLUP cannot
    * express — in ONE pass (Expand ×4 + a single aggregate exchange;
    * map-side partials still collapse each set to its group cardinality
    * before the shuffle).
    */
  def corpusCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("source"), col("n_chars"))
      .cube("lang", "source")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .select(col("lang"), col("source"), col("gid").cast("long").as("gid"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("gid"), col("lang"), col("source"))

  val corpusCubeSql: String =
    """SELECT lang, source, CAST(grouping_id(lang, source) AS BIGINT) AS gid,
      |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY CUBE(lang, source)
      |ORDER BY gid, lang, source""".stripMargin

  /** Pivot: languages as rows, sources as columns (doc counts) — the
    * cross-tab report shape. Spark's `pivot` with an EXPLICIT value list
    * plans as one aggregate (no second distinct-values job and a stable
    * column order); the oracle is the equivalent conditional-sum form.
    */
  def corpusPivot(s: SparkSession, dir: String): DataFrame = {
    val sources = Seq("src0", "src1", "src2", "src3")
    t(s, dir, "documents")
      .groupBy("lang")
      .pivot("source", sources)
      .agg(count(lit(1)))
      .na.fill(0L, sources)
      .orderBy("lang")
  }

  val corpusPivotSql: String =
    """SELECT lang,
      |  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS src0,
      |  CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS src1,
      |  CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS src2,
      |  CAST(sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS BIGINT) AS src3
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- session-scoped event-transition matrix (first-order Markov
  //      chain): within each 30-min session, count adjacent event-type
  //      transitions and express each row of the transition matrix in
  //      exact micro-probabilities (n * 1e6 div row-total — integer
  //      division both sides, no float). The telemetry view of "what do
  //      users do next"; the same sessionization rule as
  //      q_events_sessionize so the two reports agree on boundaries.
  //      Scale: two partitioned windows (per-user, per-session order) and
  //      two keyed aggs over |event-type|^2-bounded output. ----
  // ---- hourly volume anomaly report (operators.Anomaly): top-50
  //      (type, day, hour) buckets by |z| against the per-(type, hour-of-
  //      day) seasonal baseline, zero-filled over the full grid so silent
  //      hours register. The oracle replays the grid build, the integer
  //      sufficient statistics, and the floored milli-z. ----
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.hourlyZScores(
        t(s, dir, "events")
          .select(col("event_type"), epochOf("MILLISECOND", "ts").as("ts_ms")))
      .orderBy(abs(col("z_milli")).desc, col("event_type"), col("day"), col("hour"))
      .limit(50)

  val eventsAnomalySql: String =
    """WITH ev AS (SELECT event_type, epoch_ms(ts) AS ts_ms FROM events),
      |c AS (SELECT event_type, ts_ms // 86400000 AS day,
      |             (ts_ms // 3600000) % 24 AS hour,
      |             CAST(count(*) AS BIGINT) AS c
      |      FROM ev GROUP BY 1, 2, 3),
      |types AS (SELECT DISTINCT event_type FROM c),
      |days AS (SELECT DISTINCT day FROM c),
      |grid AS (SELECT t.event_type, d.day, h.hour,
      |           CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt
      |         FROM types t CROSS JOIN days d
      |         CROSS JOIN (SELECT unnest(range(24)) AS hour) h
      |         LEFT JOIN c ON c.event_type = t.event_type
      |           AND c.day = d.day AND c.hour = h.hour),
      |st AS (SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n_days,
      |              CAST(sum(cnt) AS BIGINT) AS sx,
      |              CAST(sum(cnt * cnt) AS BIGINT) AS sxx
      |       FROM grid GROUP BY 1, 2),
      |z AS (SELECT g.event_type, g.day, g.hour, g.cnt, st.n_days,
      |        st.sx AS sum_cnt,
      |        CAST(floor((st.n_days * g.cnt - st.sx)::DOUBLE
      |          / sqrt((st.n_days * st.sxx - st.sx * st.sx)::DOUBLE) * 1000)
      |          AS BIGINT) AS z_milli
      |      FROM grid g JOIN st USING (event_type, hour)
      |      WHERE st.n_days * st.sxx - st.sx * st.sx > 0)
      |SELECT * FROM z
      |ORDER BY abs(z_milli) DESC, event_type, day, hour LIMIT 50""".stripMargin

  // ---- top 3-step session paths (operators.Transitions.sessionPaths):
  //      the flow report generalizing the Markov bigrams; same session
  //      gap rule, keyed count bounded by |event-type|^3, top-20 heap. ----
  def eventsPaths(s: SparkSession, dir: String): DataFrame =
    graft.operators.Transitions.sessionPaths(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            epochOf("MILLISECOND", "ts").as("ts_ms")),
        steps = 3, k = 20)

  /** Sessionization in DuckDB (30-minute gap): `ev` with the previous event
    * time per user, the new-session flag `s`, and `x` with session_idx.
    */
  private val sessionCtes: String =
    """ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |s AS (SELECT user_id, event_id, event_type, ts_ms,
      |        CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
      |      FROM ev),
      |x AS (SELECT user_id, event_id, event_type, ts_ms,
      |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |      FROM s)""".stripMargin

  val eventsPathsSql: String =
    s"""WITH $sessionCtes,
      |nx AS (SELECT event_type AS e0,
      |         lead(event_type, 1) OVER w AS e1,
      |         lead(event_type, 2) OVER w AS e2
      |       FROM x
      |       WINDOW w AS (PARTITION BY user_id, session_idx ORDER BY ts_ms, event_id)),
      |p AS (SELECT e0 || ' > ' || e1 || ' > ' || e2 AS path, count(*) AS n
      |      FROM nx WHERE e1 IS NOT NULL AND e2 IS NOT NULL GROUP BY 1)
      |SELECT path, n FROM p ORDER BY n DESC, path LIMIT 20""".stripMargin

  // ---- two-arm experiment readout (operators.Experiment): users hashed
  //      into deterministic arms, conversion = "power buyer" (>= 14
  //      purchase events — the synthetic stream gives every user SOME
  //      purchase, so any-purchase would be the degenerate 100%/100%
  //      readout with an undefined z); exact counts/micro rates and the
  //      pooled two-proportion milli-z, all replayed bit-for-bit. ----
  def eventsAbtest(s: SparkSession, dir: String): DataFrame = {
    val units = t(s, dir, "events")
      .groupBy("user_id")
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14, 1L)
        .otherwise(0L).as("converted"))
      .select(
        (graft.functions.TextFunctions.stableHash32(col("user_id").cast("string")) % 2)
          .as("arm"),
        col("converted"))
    graft.operators.Experiment.abTest(units)
  }

  val eventsAbtestSql: String =
    """WITH u AS (SELECT user_id,
      |             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
      |               THEN 1 ELSE 0 END AS converted
      |           FROM events GROUP BY 1),
      |a AS (SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
      |             converted
      |      FROM u),
      |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c
      |      FROM a GROUP BY 1),
      |t AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
      |             CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
      |             CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
      |             CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
      |      FROM g)
      |SELECT n0 AS n_0, n1 AS n_1, c0 AS conv_0, c1 AS conv_1,
      |  (c0 * 1000000) // n0 AS rate_0_micro,
      |  (c1 * 1000000) // n1 AS rate_1_micro,
      |  (c1 * 1000000) // n1 - (c0 * 1000000) // n0 AS lift_micro,
      |  CAST(floor((c1::DOUBLE / n1 - c0::DOUBLE / n0)
      |    / sqrt(((c0 + c1)::DOUBLE / (n0 + n1))
      |           * (1.0 - (c0 + c1)::DOUBLE / (n0 + n1))
      |           * (1.0 / n0 + 1.0 / n1))
      |    * 1000) AS BIGINT) AS z_milli
      |FROM t""".stripMargin

  def eventsMarkov(s: SparkSession, dir: String): DataFrame =
    graft.operators.Transitions.sessionTransitions(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            epochOf("MILLISECOND", "ts").as("ts_ms")))
      .orderBy("src", "dst")

  val eventsMarkovSql: String =
    s"""WITH $sessionCtes,
      |nx AS (SELECT event_type AS src,
      |         lead(event_type) OVER (PARTITION BY user_id, session_idx
      |           ORDER BY ts_ms, event_id) AS dst
      |       FROM x),
      |tr AS (SELECT src, dst, count(*) AS n FROM nx WHERE dst IS NOT NULL
      |       GROUP BY src, dst),
      |tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS row_total FROM tr GROUP BY src)
      |SELECT tr.src, tr.dst, tr.n, (tr.n * 1000000) // tot.row_total AS p_micro
      |FROM tr JOIN tot ON tr.src = tot.src
      |ORDER BY tr.src, tr.dst""".stripMargin

  /** TPC-H Q4 shape — EXISTS correlated semi-join: orders in a quarter
    * with at least one lineitem shipped after the order date (the
    * late-shipment analog of Q4's commit<receipt over this schema's
    * columns). Plans as a LeftSemi hash join on the equi key with the
    * range predicate in the join condition — the probe side never
    * duplicates orders however many lineitems match (no distinct needed),
    * and the quarter filter prunes the build side at the scan.
    */
  def q4Priority(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li, ord("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > ord("o_orderdate"), "leftsemi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4PrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q14 shape — conditional aggregation over a broadcast dimension
    * join: promo-type revenue share for one ship month. Both sums ride the
    * same decimal accumulator; the percentage divides the two exact
    * doubles (identical IEEE sequence both engines).
    */
  def q14Promo(s: SparkSession, dir: String): DataFrame = {
    val rev = (dec(col("l_extendedprice"), 2) *
      (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2)))
      .cast("decimal(18,4)")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,4)"))).as("pr"),
        sum(rev).as("tr"))
      .select(col("pr").cast("double").as("promo_revenue"),
        col("tr").cast("double").as("total_revenue"),
        round(lit(100.0) * col("pr").cast("double") / col("tr").cast("double"), 6)
          .as("promo_pct"))
  }

  val q14PromoSql: String =
    """WITH r AS (
      |  SELECT p_type,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |              AS DECIMAL(18,4)) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')
      |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      |       CAST(sum(rev) AS DOUBLE) AS total_revenue,
      |       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |             / CAST(sum(rev) AS DOUBLE), 6) AS promo_pct
      |FROM r""".stripMargin

  /** TPC-H Q18 shape — group-HAVING then join back: orders whose total
    * quantity clears a large-volume threshold, re-joined to orders +
    * broadcast customer for the top-10 report. The HAVING side aggregates
    * lineitem once (map-side partials collapse each order's lines before
    * the exchange); only the ~p99 surviving keys join back.
    */
  def q18Large(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"), 2)).as("qty"))
      .filter(col("qty") > lit(262).cast("decimal(18,2)"))
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === big("l_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_str"),
        round(col("o_totalprice"), 2).as("total_price"),
        col("qty").cast("double").as("sum_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(10)
  }

  val q18LargeSql: String =
    """SELECT c_name, o_custkey, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
      |       round(o_totalprice, 2) AS total_price,
      |       CAST(qty AS DOUBLE) AS sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 262) big
      |  ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_price DESC, o_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q19 shape — disjunctive predicates spanning both join sides:
    * three (brand, size-range, quantity-range) arms OR'd together. The
    * join stays an equi hash join on partkey with the disjunction as its
    * residual condition, and Catalyst still extracts the common
    * quantity envelope (1..50) as a pushable scan filter — the OR does
    * not force a nested loop.
    */
  def q19Disjunct(s: SparkSession, dir: String): DataFrame = {
    val arm1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 30)
    val arm2 = col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
      col("l_quantity").between(10, 40)
    val arm3 = col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
      col("l_quantity").between(20, 50)
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(
        sum(dec(col("l_extendedprice"), 2) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("r"),
        count(lit(1)).as("n"))
      .select(col("r").cast("double").as("revenue"), col("n"))
  }

  val q19DisjunctSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 30)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  /** TPC-H Q11 shape — global-aggregate scalar threshold: parts whose
    * revenue exceeds 1/1500 (~0.067%) of total corpus revenue. The 1-row
    * total broadcasts into the filter (`val * 1500 > tot` keeps the comparison
    * decimal-exact — no division, no float), so the plan is two keyed
    * aggregates + a broadcast nested loop over ONE row, never a second
    * corpus pass.
    */
  def q11Important(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "lineitem")
      .select(col("l_partkey"),
        (dec(col("l_extendedprice"), 2) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2)))
          .cast("decimal(18,4)").as("rev"))
    val v = rows.groupBy("l_partkey").agg(sum(col("rev")).as("val"))
    val tot = rows.agg(sum(col("rev")).as("tot"))
    v.crossJoin(broadcast(tot))
      .filter(col("val") * lit(1500).cast("decimal(4,0)") > col("tot"))
      .select(col("l_partkey"), col("val").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
      .limit(50)
  }

  val q11ImportantSql: String =
    """WITH r AS (
      |  SELECT l_partkey,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |              AS DECIMAL(18,4)) AS rev
      |  FROM lineitem),
      |v AS (SELECT l_partkey, sum(rev) AS val FROM r GROUP BY 1),
      |tt AS (SELECT sum(rev) AS tot FROM r)
      |SELECT l_partkey, CAST(val AS DOUBLE) AS value
      |FROM v, tt WHERE val * 1500 > tot
      |ORDER BY value DESC, l_partkey LIMIT 50""".stripMargin

  /** TPC-H Q22 shape — scalar-subquery threshold + anti join: customers
    * with above-average positive balance and no order since 2000, by
    * market segment. The average compares as `bal * n_pos > sum_pos`
    * (decimal-exact cross-multiplication — no division anywhere), the
    * 1-row aggregate broadcasts, and the dormancy check is a LeftAnti
    * hash join against the date-pruned orders scan.
    */
  def q22Segment(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val pos = cust.filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).cast("decimal(10,0)").as("n_pos"),
        sum(dec(col("c_acctbal"), 2)).as("sum_pos"))
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(pos))
      .filter(dec(col("c_acctbal"), 2) * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum(dec(col("c_acctbal"), 2)).as("sb"))
      .select(col("c_mktsegment"), col("n_cust"),
        col("sb").cast("double").as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val q22SegmentSql: String =
    """WITH p AS (SELECT CAST(count(*) AS DECIMAL(10,0)) AS n_pos,
      |                  sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos
      |           FROM customer WHERE c_acctbal > 0)
      |SELECT c_mktsegment, count(*) AS n_cust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer, p
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Q7-style bilateral trade volume: lineitem reaches TWO nation
    * dimensions at once (supplier's and customer's), the join shape
    * that punishes engines which can't reuse a broadcast — both nation
    * legs broadcast here. Direction pairs kept separately, grouped by
    * ship year.
    */
  def q7Volume(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
        (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(dec(col("l_extendedprice"), 2) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("rev"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("rev").cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7VolumeSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, orders, supplier, customer, nation n1, nation n2
      |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND o_custkey = c_custkey
      |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |  AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
      |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Q8-style national market share: one nation's revenue fraction per
    * order year within a region's customer base for one part type —
    * the conditional-numerator / total-denominator ratio over a
    * 6-table star. Both sums decimal-exact; ONE double division at the
    * end (identical sequencing in the oracle).
    */
  def q8Share(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
      .select("p_partkey")
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val custRegion = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    t(s, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select(year(col("o_orderdate")).as("o_year"),
        (dec(col("l_extendedprice"), 2) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("vol"),
        col("supp_nation"))
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === "NATION_3", col("vol"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nat"),
        sum(col("vol")).as("tot"))
      .select(col("o_year"),
        round(col("nat").cast("double") / col("tot").cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  val q8ShareSql: String =
    """SELECT o_year,
      |       round(CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    sum(CASE WHEN n1.n_name = 'NATION_3'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS nat,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS tot
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  WHERE o_custkey IN (
      |    SELECT c_custkey FROM customer
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |    JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA')
      |  GROUP BY 1)
      |ORDER BY o_year""".stripMargin

  /** Q9-style profit by supplier nation and year. The schema has no
    * partsupp, so supply cost is adapted to half the part's retail
    * price — the PLAN shape (part-name LIKE filter, fact joined to two
    * dims + orders, two-column group) is Q9's; the cost constant is not.
    * All arithmetic decimal-exact until the final double cast.
    */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part").filter(col("p_name").like("%red%"))
    t(s, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
      .agg(sum(dec(col("l_extendedprice"), 2) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2)) -
          dec(col("p_retailprice"), 2) * dec(col("l_quantity"), 2) *
            lit(0.5).cast("decimal(18,2)")).as("p"))
      .select(col("nation"), col("o_year"), col("p").cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProfitSql: String =
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |       - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(18,2))) AS DOUBLE) AS profit
      |FROM lineitem, part, supplier, nation
      |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |  AND s_nationkey = n_nationkey AND p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  /** Q10-style returned-revenue ranking: top-20 customers by revenue on
    * returned lines for one order quarter — date-pruned orders scan,
    * returnflag-pruned lineitem scan, broadcast customer/nation dims,
    * bounded TakeOrderedAndProject tail.
    */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice"), 2) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("rev"))
      .select(col("c_custkey"), col("c_name"),
        col("rev").cast("double").as("revenue"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10ReturnsSql: String =
    """SELECT c_custkey, c_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  round(c_acctbal, 2) AS c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Q12-style conditional priority counts: lineitem→orders join with
    * CASE-aggregated high/low priority tallies per line status (the
    * schema has no l_shipmode; l_linestatus stands in — the join +
    * dual conditional-count shape is Q12's).
    */
  def q12Priority(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  val q12PrioritySql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Q13-style customer order-count distribution: LEFT join keeps
    * zero-order customers, count(o_orderkey) counts only matches (the
    * count(col)-vs-count(*) subtlety Q13 exists to test), then the
    * histogram of counts.
    */
  def q13Distribution(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    t(s, dir, "customer")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13DistributionSql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q2-style min-cost supplier: per-part minimum price from a keyed
    * aggregate joined back against the detail rows (the decorrelated
    * form of Q2's correlated scalar subquery — Catalyst plans the SQL
    * form the same way). No partsupp in the schema: the per-(part,
    * supplier) minimum l_extendedprice stands in for ps_supplycost.
    * Ties keep every witnessing supplier, exactly like Q2.
    */
  def q2Mincost(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
      .filter(col("p_type") === "SMALL" && col("p_size") <= 10)
      .select("p_partkey", "p_brand", "p_size")
    val offers = t(s, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_brand"), col("p_size"), col("l_suppkey"))
      .agg(min(dec(col("l_extendedprice"), 2)).as("offer"))
    val best = offers.groupBy(col("p_partkey").as("bk"))
      .agg(min(col("offer")).as("best"))
    offers.join(best, col("p_partkey") === col("bk") && col("offer") === col("best"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("s_name"), col("n_name"), col("offer").cast("double").as("min_price"))
      .orderBy(col("min_price").asc, col("p_partkey").asc, col("s_name").asc)
      .limit(25)
  }

  val q2MincostSql: String =
    """WITH offers AS (
      |  SELECT p_partkey, p_brand, p_size, l_suppkey,
      |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS offer
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'SMALL' AND p_size <= 10
      |  GROUP BY 1, 2, 3, 4)
      |SELECT o.p_partkey, o.p_brand, o.p_size, s_name, n_name,
      |       CAST(o.offer AS DOUBLE) AS min_price
      |FROM offers o, supplier, nation
      |WHERE o.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND o.offer = (SELECT min(offer) FROM offers i
      |                 WHERE i.p_partkey = o.p_partkey)
      |ORDER BY min_price, o.p_partkey, s_name LIMIT 25""".stripMargin

  /** Q15-style top supplier: quarterly revenue per supplier, then keep
    * the row(s) equal to the scalar maximum — a 1-row aggregate
    * broadcast back against its own input (the view + scalar-subquery
    * shape; ties all survive, as Q15 specifies).
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice"), 2) *
        (lit(1).cast("decimal(18,2)") - dec(col("l_discount"), 2))).as("total"))
    val top = rev.agg(max(col("total")).as("mx"))
    rev.crossJoin(broadcast(top))
      .filter(col("total") === col("mx"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
      |FROM supplier, rev
      |WHERE s_suppkey = l_suppkey AND total = (SELECT max(total) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** Q16-style supplier diversity per part attribute set: DISTINCT
    * supplier counts per (brand, type, size) with a NOT-IN supplier
    * exclusion (negative-balance suppliers stand in for the complaints
    * filter); supplier-part pairs come from lineitem in lieu of
    * partsupp. Anti-join + distinct-agg shape.
    */
  def q16SuppCount(s: SparkSession, dir: String): DataFrame = {
    val excluded = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("xk"))
    val parts = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(1, 4, 7, 10, 13, 16))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("xk"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc,
        col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16SuppCountSql: String =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10, 13, 16)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17-style small-quantity revenue: lines under a fifth of their
    * part's average quantity, for one brand. The correlated per-part
    * average decorrelates to a keyed aggregate joined back; the
    * threshold compare stays integer-exact by cross-multiplying
    * (5 * qty * n < sum) instead of dividing.
    */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val brand = t(s, dir, "part").filter(col("p_brand") === "Brand#2")
      .select("p_partkey")
    val li = t(s, dir, "lineitem")
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), dec(col("l_quantity"), 2).as("q"),
        dec(col("l_extendedprice"), 2).as("ep"))
    val avgq = li.groupBy(col("l_partkey").as("ak"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).cast("decimal(10,0)").as("n"))
    li.join(avgq, col("l_partkey") === col("ak"))
      .filter(col("q") * lit(5).cast("decimal(18,2)") * col("n") < col("sq"))
      .agg(sum(col("ep")).as("t"), count(lit(1)).as("n_lines"))
      .select(col("t").cast("double").as("total_price"), col("n_lines"))
  }

  val q17SmallQtySql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS q,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) AS ep
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#2'),
      |a AS (SELECT l_partkey AS ak, sum(q) AS sq,
      |             CAST(count(*) AS DECIMAL(10,0)) AS n
      |      FROM li GROUP BY 1)
      |SELECT CAST(sum(ep) AS DOUBLE) AS total_price, count(*) AS n_lines
      |FROM li JOIN a ON l_partkey = ak
      |WHERE q * CAST(5 AS DECIMAL(18,2)) * n < sq""".stripMargin

  /** Q20-style excess-share suppliers: suppliers who shipped more than a
    * quarter of some red part's total 1996 volume — a keyed share
    * aggregate driving a SEMI join into supplier (Q20's nested
    * IN-subquery chain, decorrelated). Share compare cross-multiplied,
    * never divided.
    */
  def q20Excess(s: SparkSession, dir: String): DataFrame = {
    val red = t(s, dir, "part").filter(col("p_name").like("%red%"))
      .select("p_partkey")
    val li96 = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), dec(col("l_quantity"), 2).as("q"))
    val perSupp = li96.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("q")).as("sq"))
    val perPart = li96.groupBy(col("l_partkey").as("tk"))
      .agg(sum(col("q")).as("tq"))
    val heavy = perSupp.join(perPart, col("l_partkey") === col("tk"))
      .filter(col("sq") * lit(4).cast("decimal(18,2)") > col("tq"))
      .select(col("l_suppkey")).distinct()
    t(s, dir, "supplier")
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select("s_name", "n_name")
      .orderBy("s_name")
  }

  val q20ExcessSql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(18,2)) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE '%red%'
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
      |ps AS (SELECT l_partkey, l_suppkey, sum(q) AS sq FROM li GROUP BY 1, 2),
      |pt AS (SELECT l_partkey AS tk, sum(q) AS tq FROM li GROUP BY 1)
      |SELECT s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM ps JOIN pt ON l_partkey = tk
      |  WHERE sq * CAST(4 AS DECIMAL(18,2)) > tq)
      |ORDER BY s_name""".stripMargin

  /** Q21-style sole-returner census: suppliers with a returned line on a
    * finished multi-supplier order where NO other supplier returned —
    * Q21's signature EXISTS (semi) + NOT EXISTS (anti) self-join pair
    * on the lineitem fact, counted per supplier, top 20.
    */
  def q21Waiting(s: SparkSession, dir: String): DataFrame = {
    val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select("o_orderkey")
    val l1 = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val others = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val otherReturns = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    l1
      .join(others, col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      .join(otherReturns,
        col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      .select("l_orderkey", "l_suppkey").distinct()
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  val q21WaitingSql: String =
    """SELECT s_name, count(*) AS numwait FROM (
      |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      |  FROM lineitem l1
      |  JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |  WHERE l1.l_returnflag = 'R'
      |    AND EXISTS (SELECT 1 FROM lineitem l2
      |                WHERE l2.l_orderkey = l1.l_orderkey
      |                  AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey
      |                      AND l3.l_suppkey <> l1.l_suppkey
      |                      AND l3.l_returnflag = 'R')) w
      |JOIN supplier ON w.l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** Two-phase salted aggregation, oracle-proven exact: the hot-GROUP-BY-
    * key remedy AQE cannot apply (AQE splits skewed shuffle partitions
    * for JOINS; a single hot grouping key's partials still converge on
    * one reducer). Phase 1 aggregates on (key, salt), phase 2 merges the
    * per-salt partials — exact for any algebraic aggregate. The oracle
    * is the PLAIN single-phase GROUP BY: hash equality proves salting
    * changes nothing. Decimal sum keeps the proof order-independent.
    */
  def skewSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"),
        col("event_id"))
    graft.functions.SkewTools.saltedAgg(
        ev, Seq("event_type"), Map("v" -> "sum", "event_id" -> "count"), salts = 16)
      .select(col("event_type"), col("v").cast("double").as("sum_value"),
        col("event_id").as("n_events"))
      .orderBy("event_type")
  }

  val skewSaltedAggSql: String =
    """SELECT event_type,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |       count(event_id) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Salted fact-dim equi-join, oracle-proven equal to the plain inner
    * join: fact rows take a per-row salt, the dimension replicates
    * across all salt values, the join key becomes (key, salt) — a hot
    * fact key spreads over `salts` reducers instead of one. For the
    * middle regime where the dim is too big to broadcast and the skew
    * hides inside one pre-shuffle partition.
    */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "lineitem")
      .select(col("l_partkey").as("k"), dec(col("l_extendedprice"), 2).as("ep"))
    val dim = t(s, dir, "part").select(col("p_partkey").as("k"), col("p_brand"))
    graft.functions.SkewTools.saltedJoin(fact, dim, "k", salts = 16)
      .groupBy("p_brand")
      .agg(sum(col("ep")).as("t"), count(lit(1)).as("n_lines"))
      .select(col("p_brand"), col("t").cast("double").as("total_price"),
        col("n_lines"))
      .orderBy("p_brand")
  }

  val skewSaltedJoinSql: String =
    """SELECT p_brand,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |       count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** SCD2 dimension history from the event change log (operators.Scd2):
    * per user, consecutive runs of the same event_type collapse into
    * versioned validity intervals [valid_from, valid_to) with an open
    * current interval — the warehouse dimension-maintenance step whose
    * output the as-of family consumes for point-in-time enrichment.
    * Micros epoch on both sides; -1 encodes the open interval.
    */
  def eventsScd2(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochOf("MICROSECOND", "ts").as("tsu"))
    graft.operators.Scd2
      .fromChangeLog(e, "user_id", Seq("event_type"), "tsu", Seq("event_id"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from").as("valid_from_us"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "version")
  }

  val eventsScd2Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |           FROM events WHERE user_id % 10 = 0),
      |c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |                     THEN 1 ELSE 0 END AS chg
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |v AS (SELECT user_id, event_type, tsu,
      |             CAST(row_number() OVER w2 AS INTEGER) AS version,
      |             lead(tsu) OVER w2 AS vto
      |      FROM c WHERE chg = 1
      |      WINDOW w2 AS (PARTITION BY user_id ORDER BY tsu, event_id))
      |SELECT user_id, version, event_type,
      |       tsu AS valid_from_us, COALESCE(vto, -1) AS valid_to_us,
      |       (vto IS NULL) AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  /** Incremental SCD2 maintenance proven merge==rebuild: the engine
    * builds the history from the log's FIRST HALF (global median-ts
    * split — strictly append-only per key by construction), folds the
    * second half in with Scd2.applyDelta (touches only delta keys'
    * current rows), and must land bit-identical to the oracle, which
    * REBUILDS over the whole log and never sees the split. The same
    * stance as q_pipeline_sketch_incr, for the 100 TB dimension table.
    */
  def eventsScd2Incr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochOf("MICROSECOND", "ts").as("tsu"))
    // an empty slice yields a NULL percentile — short-circuit to the empty
    // history instead of throwing (the oracle's rebuild is empty too)
    val cutRow = e.agg(expr("percentile(tsu, 0.5)")).head()
    if (cutRow.isNullAt(0))
      return graft.operators.Scd2
        .fromChangeLog(e, "user_id", Seq("event_type"), "tsu", Seq("event_id"))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from").as("valid_from_us"),
          coalesce(col("valid_to"), lit(-1L)).as("valid_to_us"),
          col("is_current"))
    val cut = cutRow.getDouble(0)
    val hist = graft.operators.Scd2.fromChangeLog(
      e.filter(col("tsu") <= cut), "user_id", Seq("event_type"), "tsu",
      Seq("event_id"))
    graft.operators.Scd2.applyDelta(
      hist, e.filter(col("tsu") > cut), "user_id", Seq("event_type"),
      "tsu", Seq("event_id"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from").as("valid_from_us"),
        coalesce(col("valid_to"), lit(-1L)).as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "version")
  }

  /** The oracle IS the full rebuild — merge==rebuild by construction. */
  val eventsScd2IncrSql: String = eventsScd2Sql

  /** Point-in-time enrichment (the leakage-free feature join): each
    * purchase event picks up the SCD2 dimension version that was valid
    * AT ITS INSTANT — Scd2.fromChangeLog builds the history, then the
    * backward as-of join (greatest valid_from <= event ts, version
    * tie-break) resolves the interval without a range predicate, because
    * SCD2 intervals tile time from the key's first change on. THE
    * pattern that keeps future metadata out of training examples.
    */
  def eventsPit(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochOf("MICROSECOND", "ts").as("tsu"))
    val hist = graft.operators.Scd2
      .fromChangeLog(e, "user_id", Seq("event_type"), "tsu", Seq("event_id"))
      .withColumnRenamed("event_type", "dim_type")
      .withColumnRenamed("valid_from", "vfrom")
    val probes = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("tsu"))
    graft.operators.AsOfJoin.asof(
      probes, hist,
      keys = Seq("user_id"), leftTs = "tsu", rightTs = "vfrom",
      leftCols = Seq("event_id", "tsu"),
      rightCols = Seq("version", "dim_type"),
      rightTieBreak = Seq("version"))
      .select(col("user_id"), col("event_id"), col("tsu"),
        col("version"), col("dim_type"))
      .orderBy("user_id", "event_id")
  }

  val eventsPitSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |           FROM events WHERE user_id % 10 = 0),
      |c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |                     THEN 1 ELSE 0 END AS chg
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |v AS (SELECT user_id, event_type AS dim_type, tsu,
      |             CAST(row_number() OVER w2 AS INTEGER) AS version
      |      FROM c WHERE chg = 1
      |      WINDOW w2 AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |p AS (SELECT user_id, event_id, tsu FROM e WHERE event_type = 'purchase'),
      |m AS (SELECT p.user_id, p.event_id, p.tsu, v.version, v.dim_type,
      |             row_number() OVER (PARTITION BY p.event_id
      |               ORDER BY v.tsu DESC, v.version DESC) AS rn
      |      FROM p JOIN v ON p.user_id = v.user_id AND v.tsu <= p.tsu)
      |SELECT user_id, event_id, tsu, version, dim_type
      |FROM m WHERE rn = 1 ORDER BY user_id, event_id""".stripMargin

  val graded: Seq[Graded] = Seq(
    Graded("q_events_scd2", eventsScd2, eventsScd2Sql,
      "SCD2 build: two key-partitioned windows sharing one exchange"),
    Graded("q_events_scd2_incr", eventsScd2Incr, eventsScd2IncrSql,
      "incremental SCD2: delta keys isolated by semi/anti join, windows over delta-sized slices; merge==rebuild oracle"),
    Graded("q_events_pit", eventsPit, eventsPitSql,
      "point-in-time: SCD2 build + backward as-of union window (no range join)"),
    Graded("q_skew_salted_agg", skewSaltedAgg, skewSaltedAggSql,
      "salted aggregation: diagnosed-hot keys through two-phase salt, cold keys plain, one union"),
    Graded("q_skew_salted_join", skewSaltedJoin, skewSaltedJoinSql,
      "salted join: hot keys replicated against the salted build side, cold keys plain equi-join"),
    Graded("q2_mincost", q2Mincost, q2MincostSql,
      "TPC-H Q2 shape: per-part min agg joined back (decorrelated scalar subquery)"),
    Graded("q15_topsupplier", q15TopSupplier, q15TopSupplierSql,
      "TPC-H Q15 shape: 1-row max broadcast back against its own aggregate input"),
    Graded("q16_suppcount", q16SuppCount, q16SuppCountSql,
      "TPC-H Q16: LeftAnti complaint suppliers, distinct-supplier count per (brand, type, size)"),
    Graded("q17_smallqty", q17SmallQty, q17SmallQtySql,
      "TPC-H Q17 shape: per-part avg decorrelated to agg + join-back, cross-multiplied compare"),
    Graded("q20_excess", q20Excess, q20ExcessSql,
      "TPC-H Q20: half-of-shipped threshold agg joined back, LeftSemi chain up to suppliers"),
    Graded("q21_waiting", q21Waiting, q21WaitingSql,
      "TPC-H Q21 shape: LeftSemi (other supplier exists) + LeftAnti (no other returner) on the fact"),
    Graded("q7_volume", q7Volume, q7VolumeSql,
      "TPC-H Q7 shape: fact reaching TWO broadcast nation dims through supplier and customer"),
    Graded("q8_share", q8Share, q8ShareSql,
      "TPC-H Q8 shape: 6-table star + LeftSemi region gate + conditional-ratio agg"),
    Graded("q9_profit", q9Profit, q9ProfitSql,
      "TPC-H Q9: part-name gate pruned at the scan, 2-dim broadcast star, (nation, year) keyed agg"),
    Graded("q10_returns", q10Returns, q10ReturnsSql,
      "TPC-H Q10: R-flag pushed to the fact scan, broadcast customer/nation dims, top-20 revenue heap"),
    Graded("q12_priority", q12Priority, q12PrioritySql,
      "TPC-H Q12: shipmode + date range all in PushedFilters, 2-key conditional agg"),
    Graded("q13_distribution", q13Distribution, q13DistributionSql,
      "TPC-H Q13 shape: LEFT join count(col) histogram (null-preserving count)"),
    Graded("q4_priority", q4Priority, q4PrioritySql,
      "TPC-H Q4 shape: LeftSemi hash join, range predicate in the join condition"),
    Graded("q14_promo", q14Promo, q14PromoSql,
      "TPC-H Q14: month-pruned fact x broadcast part, single conditional-ratio aggregate"),
    Graded("q18_large", q18Large, q18LargeSql,
      "TPC-H Q18 shape: HAVING-side partial agg -> surviving-key join-back -> top-10 heap"),
    Graded("q19_disjunct", q19Disjunct, q19DisjunctSql,
      "TPC-H Q19 shape: broadcast hash join with the OR arms as residual condition"),
    Graded("q11_important", q11Important, q11ImportantSql,
      "TPC-H Q11 shape: two keyed aggs + 1-row broadcast threshold (no second corpus pass)"),
    Graded("q22_segment", q22Segment, q22SegmentSql,
      "TPC-H Q22 shape: 1-row broadcast scalar + LeftAnti dormancy join"),
    Graded("q_events_anomaly", eventsAnomaly, eventsAnomalySql,
      "hourly anomaly: keyed count + broadcast grid zero-fill + |grid| stats aggs"),
    Graded("q_events_paths", eventsPaths, eventsPathsSql,
      "session paths: user-keyed session windows -> |types|^3-bounded count -> top-k heap"),
    Graded("q_events_abtest", eventsAbtest, eventsAbtestSql,
      "A/B readout: unit-keyed agg -> 2-row arm agg -> single-row z projection"),
    Graded("q_events_markov", eventsMarkov, eventsMarkovSql,
      "Markov transitions: partitioned session windows + |types|^2-bounded aggs"),
    Graded("q_corpus_rollup", corpusRollup, corpusRollupSql,
      "ROLLUP grouping sets: Expand + ONE aggregate exchange"),
    Graded("q_corpus_cube", corpusCube, corpusCubeSql,
      "CUBE: Expand x4 grouping sets, ONE aggregate exchange (partials collapse map-side)"),
    Graded("q_corpus_pivot", corpusPivot, corpusPivotSql,
      "pivot: explicit value list -> ONE aggregate, no distinct-values job"),
    Graded("q_events_window", eventsWindow, eventsWindowSql,
      "tumbling window agg over TIMESTAMP_NTZ: combiner-collapsed"),
    Graded("q_events_sessionize", eventsSessionize, eventsSessionizeSql,
      "sessionize: user-keyed lag + running sum, one exchange"),
    Graded("q_events_asof", eventsAsof, eventsAsofSql,
      "as-of join: one keyed shuffle + ordered window, no inequality theta-join"),
    Graded("q_events_asof_forward", eventsAsofForward, eventsAsofForwardSql,
      "forward as-of: earliest-following match via ordered window, one keyed shuffle"),
    Graded("q_events_rolling", eventsRolling, eventsRollingSql,
      "rolling 1-hour features: RANGE frame over ONE user-keyed exchange"),
    Graded("q_events_funnel", eventsFunnel, eventsFunnelSql,
      "funnel: TWO backward as-of joins + gap filters, hourly conversion counts"),
    Graded("q_events_retention", eventsRetention, eventsRetentionSql,
      "cohort retention: keyed distinct -> per-user min -> co-partitioned join"),
    Graded("q_events_asof_nearest", eventsAsofNearest, eventsAsofNearestSql,
      "nearest as-of: backward+forward union window, (|dt|, direction) argmin — no theta-join"),
    Graded("q_events_asof_chunked", eventsAsofChunked, eventsAsofSql,
      "skew-bounded as-of: 1-hour chunk-local windows + carry summaries — same oracle as the global as-of"),
    Graded("q_events_range", eventsRange, eventsRangeSql,
      "range join: bucketed equi-join, range filter inside the join stage"),
    Graded("q1_pricing", q1Pricing, q1PricingSql, "TPC-H Q1: decimal-exact aggregation"),
    Graded("q3_revenue", q3Revenue, q3RevenueSql,
      "TPC-H Q3: segment-filtered broadcast dims + top-10 revenue heap"),
    Graded("q5_nation", q5Nation, q5NationSql,
      "TPC-H Q5: star join (broadcast dims + pushed region filter)"),
    Graded("q6_forecast", q6Forecast, q6ForecastSql,
      "TPC-H Q6: every predicate in PushedFilters, ONE 1-row aggregate — no join, no second exchange"),
    Graded("q_top_orders_per_customer", topOrdersPerCustomer, topOrdersPerCustomerSql,
      "per-key top-k window (WindowGroupLimit)"))
}
