package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.QueryModule
import graft.functions.Oracle

/** Oracle registration for the COMPOSED end-to-end applications (the
  * whole-program twins of the reference's biggest apps, not single
  * operators): a17 states the full DwsTradeSkuOrderWindow pipeline —
  * deterministic dedup → 7-day sku window DECIMAL sums → dim cascade —
  * in one SQL statement over the same tables
  * ([[graft.streaming.SkuOrderApp]]; reference
  * DwsTradeSkuOrderWindow.java:122-621). The streaming/batch
  * reconciliation lives in SkuOrderAppSpec; DimApp's multi-table store
  * pipeline is spec-verified (no single-result-set SQL shape). */
object ComposedApps extends QueryModule {

  /** The composed apps' only standing state is the synthesized topic
    * family ([[graft.streaming.SyntheticTopics]]). */
  override def standings: Seq[graft.Standing[_]] =
    graft.streaming.SyntheticTopics.all

  /** g5: the composed DwdBaseLog output summarized per route — dirty
    * side-output counts, the keyed is_new state machine (stated as
    * window functions in the batch twin AND replayed in the oracle SQL),
    * and the display/action fan-out weights. */
  private def baselogRoutes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val app = graft.streaming.BaseLogApp
    val fixed = app.fixBatch(app.parsed(app.logLines(s, dir))).toDF()
    // ONE pass over the fixed records: each record contributes a
    // (route, weight) list — err copy, start XOR page, display/action
    // fan-out weights — exploded and aggregated once, instead of
    // replaying the parse + state-machine lineage per route (6×)
    def c(route: String, w: Column) =
      struct(lit(route).as("route"), w.cast(LongType).as("w"))
    val contribs = array(
      when(col("dirty"), c("dirty", lit(1L))),
      when(!col("dirty") && col("has_err"), c("err", lit(1L))),
      when(!col("dirty") && col("has_start"), c("start", lit(1L))),
      when(!col("dirty") && !col("has_start"), c("page", lit(1L))),
      when(!col("dirty") && !col("has_start"),
        c("display", size(col("displays")))),
      when(!col("dirty") && !col("has_start"),
        c("action", size(col("actions")))))
    fixed
      .select(col("is_new"),
        explode(filter(contribs, x => x.isNotNull && x("w") > 0)).as("x"))
      .groupBy(col("x.route").as("route"))
      .agg(sum(col("x.w")).as("row_ct"),
        sum(when(col("x.route") === "dirty", 0L)
          .otherwise(col("is_new") * col("x.w"))).as("new_ct"))
  }

  /** g6: the composed DwdBaseDb output summarized per route
    * ([[graft.streaming.BaseDbApp]]): row counts, an id checksum, and
    * the pruned-payload key set per sink table — proving the compound
    * (table,type) probe, the replayed config op log (cart route retired
    * by its `d`), the sinkColumns narrowing (favor loses create_time via
    * the `u`), and the ts stamping, in one result set. */
  private def basedbRoutes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val app = graft.streaming.BaseDbApp
    app.routed(s, app.envelopes(s, dir))
      .groupBy(col("sink_table"))
      .agg(count(lit(1)).as("row_ct"),
        sum(col("data")("id").cast("long")).as("id_sum"),
        min(array_join(array_sort(map_keys(col("data"))), ","))
          .as("cols"))
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "a17_sku_order_window" ->
      ((s, dir) => graft.streaming.SkuOrderApp.batch(s, dir)),
    "a18_user_login_window" ->
      ((s, dir) => graft.streaming.UserLoginApp.batch(s, dir)),
    "a19_cart_add_uu_window" ->
      ((s, dir) => graft.streaming.CartAddUuApp.batch(s, dir)),
    "a20_home_detail_window" ->
      ((s, dir) => graft.streaming.HomeDetailApp.batch(s, dir)),
    "a21_traffic_page_view_window" ->
      ((s, dir) => graft.streaming.TrafficPageViewApp.batch(s, dir)),
    "g5_baselog_routes" -> baselogRoutes,
    "g6_basedb_routes" -> basedbRoutes)

  private val wsUs = 7L * 86400L * 1000000L // 7-day tumble in micros

  val oracles = Map(
    "g6_basedb_routes" ->
      """SELECT 'dwd_interaction_favor_add' AS sink_table,
        |       count(*) AS row_ct,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS id_sum,
        |       'id,sku_id,ts,user_id' AS cols
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'dwd_tool_coupon_get', count(*),
        |       CAST(SUM(o_orderkey) AS BIGINT),
        |       'coupon_id,id,ts,using_time'
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT 'dwd_tool_coupon_use', count(*),
        |       CAST(SUM(o_orderkey) AS BIGINT),
        |       'coupon_id,id,ts,used_time'
        |FROM orders WHERE o_orderkey % 6 = 1""".stripMargin,
    "a17_sku_order_window" ->
      s"""WITH ded AS (
         |  SELECT l_partkey, l_shipdate, l_extendedprice, l_discount, l_tax
         |  FROM (
         |    SELECT *, row_number() OVER (
         |        PARTITION BY l_orderkey, l_linenumber
         |        ORDER BY l_returnflag DESC, l_extendedprice DESC,
         |                 l_partkey DESC, l_suppkey DESC, l_quantity DESC)
         |      AS rn
         |    FROM lineitem) WHERE rn = 1),
         |agg AS (
         |  SELECT ((epoch_us(l_shipdate) // $wsUs) * ${7 * 86400}) AS ws,
         |         l_partkey AS sku_id, count(*) AS order_ct,
         |         SUM(${Oracle.money("l_extendedprice")}) AS o_sum,
         |         SUM(${Oracle.money("l_extendedprice")} *
         |             ${Oracle.money("l_discount")}) AS a_sum,
         |         SUM(${Oracle.money("l_extendedprice")} *
         |             ${Oracle.money("l_tax")}) AS c_sum
         |  FROM ded GROUP BY 1, 2)
         |SELECT ${Oracle.fmtTs("ws")} AS stt,
         |       ${Oracle.fmtTs(s"ws + ${7 * 86400}")} AS edt,
         |       ${Oracle.fmtDate("ws")} AS cur_date,
         |       sku_id, p_name AS sku_name,
         |       'MFGR#' || substr(p_brand, 7, 1) AS trademark_name,
         |       p_type AS category3_name,
         |       array_to_string((string_split(p_type, ' '))[1:2], ' ')
         |         AS category2_name,
         |       string_split(p_type, ' ')[1] AS category1_name,
         |       order_ct,
         |       CAST(o_sum AS DOUBLE) AS original_amount,
         |       CAST(a_sum AS DOUBLE) AS activity_reduce_amount,
         |       CAST(c_sum AS DOUBLE) AS coupon_reduce_amount,
         |       CAST(o_sum - a_sum - c_sum AS DOUBLE) AS order_amount
         |FROM agg JOIN part ON sku_id = p_partkey""".stripMargin,
    "a18_user_login_window" ->
      s"""WITH lg AS (
         |  SELECT user_id, ${Oracle.sec()} AS sec, event_id
         |  FROM events WHERE event_type = 'view'),
         |d AS (
         |  SELECT *, ${Oracle.fmtDate("sec")} AS day,
         |         lag(${Oracle.fmtDate("sec")}) OVER
         |           (PARTITION BY user_id ORDER BY sec, event_id) AS prev_day
         |  FROM lg),
         |f AS (
         |  SELECT (sec // 10) * 10 AS ws,
         |         CASE WHEN prev_day IS NULL OR prev_day <> day
         |              THEN 1 ELSE 0 END AS uu,
         |         CASE WHEN prev_day IS NOT NULL AND prev_day <> day
         |               AND date_diff('day', CAST(prev_day AS DATE),
         |                             CAST(day AS DATE)) >= 8
         |              THEN 1 ELSE 0 END AS back
         |  FROM d)
         |SELECT ${Oracle.fmtTs("ws")} AS stt, ${Oracle.fmtTs("ws + 10")} AS edt,
         |       ${Oracle.fmtDate("ws")} AS cur_date,
         |       CAST(sum(uu) AS BIGINT) AS uu_ct,
         |       CAST(sum(back) AS BIGINT) AS back_ct,
         |       count(*) AS login_ct
         |FROM f GROUP BY 1, 2, 3""".stripMargin,
    "a19_cart_add_uu_window" ->
      s"""WITH ca AS (
         |  SELECT user_id, ${Oracle.sec()} AS sec, event_id
         |  FROM events WHERE event_type = 'click'),
         |d AS (
         |  SELECT *, ${Oracle.fmtDate("sec")} AS day,
         |         lag(${Oracle.fmtDate("sec")}) OVER
         |           (PARTITION BY user_id ORDER BY sec, event_id) AS prev_day
         |  FROM ca),
         |f AS (
         |  SELECT (sec // 10) * 10 AS ws FROM d
         |  WHERE prev_day IS NULL OR prev_day <> day)
         |SELECT ${Oracle.fmtTs("ws")} AS stt, ${Oracle.fmtTs("ws + 10")} AS edt,
         |       ${Oracle.fmtDate("ws")} AS cur_date,
         |       count(*) AS cart_add_uu_ct
         |FROM f GROUP BY 1, 2, 3""".stripMargin,
    "a20_home_detail_window" ->
      s"""WITH pv AS (
         |  SELECT user_id,
         |         CASE WHEN event_id % 2 = 0 THEN 'home'
         |              ELSE 'good_detail' END AS page,
         |         ${Oracle.sec()} AS sec, event_id
         |  FROM events WHERE event_type = 'view'),
         |d AS (
         |  SELECT *, ${Oracle.fmtDate("sec")} AS day,
         |         lag(${Oracle.fmtDate("sec")}) OVER
         |           (PARTITION BY user_id, page ORDER BY sec, event_id)
         |           AS prev_day
         |  FROM pv),
         |f AS (
         |  SELECT (sec // 10) * 10 AS ws,
         |         CASE WHEN page = 'home' THEN 1 ELSE 0 END AS home_uv,
         |         CASE WHEN page = 'home' THEN 0 ELSE 1 END AS detail_uv
         |  FROM d WHERE prev_day IS NULL OR prev_day <> day)
         |SELECT ${Oracle.fmtTs("ws")} AS stt, ${Oracle.fmtTs("ws + 10")} AS edt,
         |       ${Oracle.fmtDate("ws")} AS cur_date,
         |       CAST(sum(home_uv) AS BIGINT) AS home_uv_ct,
         |       CAST(sum(detail_uv) AS BIGINT) AS good_detail_uv_ct
         |FROM f GROUP BY 1, 2, 3""".stripMargin,
    "a21_traffic_page_view_window" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type AS ch, ${Oracle.sec()} AS sec,
         |         event_id, value AS dur,
         |         CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS sv
         |  FROM events),
         |d AS (
         |  SELECT *, ${Oracle.fmtDate("sec")} AS day,
         |         lag(${Oracle.fmtDate("sec")}) OVER w AS prev_day,
         |         first_value(${Oracle.fmtDate("sec")}) OVER w AS first_day
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
         |f AS (
         |  SELECT (sec // 10) * 10 AS ws,
         |         'v' || CAST(user_id % 3 AS VARCHAR) AS vc, ch,
         |         CAST(user_id % 5 AS VARCHAR) AS ar,
         |         CASE WHEN first_day = day THEN 1 ELSE 0 END AS is_new,
         |         CASE WHEN prev_day IS NULL OR prev_day <> day
         |              THEN 1 ELSE 0 END AS uv,
         |         sv, dur
         |  FROM d)
         |SELECT ${Oracle.fmtTs("ws")} AS stt, ${Oracle.fmtTs("ws + 10")} AS edt,
         |       ${Oracle.fmtDate("ws")} AS cur_date,
         |       vc, ch, ar, is_new,
         |       CAST(sum(uv) AS BIGINT) AS uv_ct,
         |       CAST(sum(sv) AS BIGINT) AS sv_ct,
         |       count(*) AS pv_ct,
         |       CAST(SUM(CAST(dur AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
         |FROM f GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin,
    "g5_baselog_routes" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type,
         |         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
         |         epoch_us(ts) // 1000 AS ts_ms
         |  FROM events),
         |clean AS (
         |  SELECT *, CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END AS claimed,
         |         'mid_' || CAST(user_id % 40 AS VARCHAR) AS mid,
         |         strftime(make_timestamp(ts_ms * 1000), '%Y-%m-%d') AS day
         |  FROM ev WHERE event_id % 97 <> 0),
         |fixed AS (
         |  SELECT *,
         |    CASE WHEN claimed = 1 AND first_value(claimed) OVER w = 1
         |              AND day = first_value(day) OVER w
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM clean
         |  WINDOW w AS (PARTITION BY mid ORDER BY ts_ms, event_id)),
         |r AS (
         |  SELECT 'err' AS route, count(*) AS row_ct,
         |         CAST(COALESCE(sum(is_new), 0) AS BIGINT) AS new_ct
         |  FROM fixed WHERE event_type = 'error'
         |  UNION ALL
         |  SELECT 'start', count(*), CAST(COALESCE(sum(is_new), 0) AS BIGINT)
         |  FROM fixed WHERE event_type = 'signup'
         |  UNION ALL
         |  SELECT 'page', count(*), CAST(COALESCE(sum(is_new), 0) AS BIGINT)
         |  FROM fixed WHERE event_type <> 'signup'
         |  UNION ALL
         |  SELECT 'display', CAST(COALESCE(sum(k % 3 + 1), 0) AS BIGINT),
         |         CAST(COALESCE(sum(is_new * (k % 3 + 1)), 0) AS BIGINT)
         |  FROM fixed WHERE event_type = 'view'
         |  UNION ALL
         |  SELECT 'action', CAST(COALESCE(sum(k % 2 + 1), 0) AS BIGINT),
         |         CAST(COALESCE(sum(is_new * (k % 2 + 1)), 0) AS BIGINT)
         |  FROM fixed WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT 'dirty', count(*), CAST(0 AS BIGINT)
         |  FROM ev WHERE event_id % 97 = 0)
         |SELECT route, row_ct, new_ct FROM r""".stripMargin)
}
