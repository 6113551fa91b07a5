package graft.operators

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The publisher's HTTP shell: the reference exposes its serving
  * queries as Spring REST controllers
  * (`gmall2024-publisher/.../TradeStatsController.java:24-56` `/gmv`,
  * `/province`; `TrafficStatsController.java:26-47` `/ch`). Here the
  * same three endpoints — same paths, same query params, same
  * status/data JSON envelopes — run on the JDK's built-in
  * `com.sun.net.httpserver` (public Java SE API, zero dependencies)
  * over [[ServingApi]]'s partition-pruned store queries.
  *
  * Design choices, and why they hold at scale:
  *  - The server is a THIN shell: every endpoint is parse-params →
  *    one [[ServingApi]]/[[PublisherServer.chUv]] DataFrame → a
  *    bounded `collect` (1 row for /gmv, ≤ #provinces for /province,
  *    ≤ limit for /ch). The driver-side loop is over an
  *    already-aggregated, cardinality-bounded result — the reference's
  *    controllers do exactly the same over their mapper rows — so the
  *    100 TB story lives in the store queries (day-partition pruning,
  *    asserted in ServingApiSpec), not in the shell.
  *  - `date=0`/absent defaults to the newest day in the store — the
  *    analog of the reference's `DateFormatUtil.now()` fallback
  *    (`TradeStatsController.java:26-29`) against a store whose "today"
  *    is its latest partition.
  *  - Responses reproduce the reference's envelopes structurally
  *    (`{"status":0,"data":…}`, `mapData`/`categories`/`series`); the
  *    display labels are neutral English stand-ins for the reference's
  *    Chinese literals.
  */
object PublisherServer {

  /** Traffic-side store: per (cur_date, ch) UV, day-partitioned — the
    * `dws_traffic_*_page_view_window` table the `/ch` mapper reads
    * (`TrafficStatsMapper.java:16-18`). */
  def buildTrafficStore(s: SparkSession, dir: String,
      storeDir: String): Unit =
    graft.Tables(s, dir, "events")
      .select(graft.functions.Fns.curDate(
          graft.functions.Fns.nsToSec(col("ts"))).as("cur_date"),
        col("event_type").as("ch"), col("user_id"))
      .groupBy(col("cur_date"), col("ch"))
      .agg(countDistinct(col("user_id")).as("uv_ct"))
      .write.mode("overwrite").partitionBy("cur_date").parquet(storeDir)

  /** `/ch` query: one pruned day, top-N channels by UV
    * (`TrafficStatsMapper.java:16-18` ORDER BY uv_ct DESC LIMIT n,
    * tie-broken on ch for determinism). */
  def chUv(s: SparkSession, storeDir: String, date: String,
      limit: Int): DataFrame =
    graft.Tables.parquet(s, storeDir)
      .filter(col("cur_date") === date)
      .groupBy(col("ch"))
      .agg(sum(col("uv_ct")).as("uv_ct"))
      .orderBy(col("uv_ct").desc, col("ch"))
      .limit(limit)

  /** Minimal JSON string escape for the values we serialize (nation
    * names / event types are tame, but the shell shouldn't trust that). */
  private def esc(v: String): String =
    v.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }

  /** A running publisher; close with [[stop]]. */
  final class Publisher private[PublisherServer] (
      server: HttpServer) {
    /** Bound port (useful when started on an ephemeral port 0). */
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  // ---- the HTTP shell, shared by BOTH publishers ([[start]] and
  // [[startNavigated]] differ only in which query serves each path) --

  private def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name && v.nonEmpty => v }

  /** A request the shell refuses before any query runs: answered 400
    * with the reference's error envelope. */
  private final class BadRequest(msg: String) extends Exception(msg)

  /** Most rows `/ch?limit=` may ask for. */
  private[graft] val MaxLimit = 1000

  /** `/ch?limit=N`: an integer in 1..[[MaxLimit]], 10 when absent. */
  private def limitOf(ex: HttpExchange): Int =
    param(ex, "limit").fold(10) { v =>
      v.toIntOption.filter(n => n >= 1 && n <= MaxLimit).getOrElse(
        throw new BadRequest(
          s"limit must be an integer in 1..$MaxLimit, got '$v'"))
    }

  /** `date=`: absent or `0` → `latest` (the newest day); otherwise a
    * strict `yyyy-MM-dd` calendar day, checked on the driver before any
    * query runs (a malformed day would otherwise match no partition and
    * answer an empty 200). */
  private def dateOf(ex: HttpExchange, latest: => String): String =
    param(ex, "date").filter(_ != "0").fold(latest) { v =>
      if (v.matches("\\d{4}-\\d{2}-\\d{2}") &&
          scala.util.Try(java.time.LocalDate.parse(v)).isSuccess) v
      else throw new BadRequest(s"date must be a yyyy-MM-dd day or 0, got '$v'")
    }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  private def endpoint(server: HttpServer, path: String)(
      render: HttpExchange => String): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try {
        // exact-path match: HttpServer contexts are prefix-routed,
        // but the publisher has no sub-paths
        if (ex.getRequestURI.getPath != path) reply(ex, 404,
          """{"status":1,"msg":"not found"}""")
        else reply(ex, 200, render(ex))
      } catch {
        case e: BadRequest =>
          reply(ex, 400, s"""{"status":1,"msg":"${esc(e.getMessage)}"}""")
        case e: Exception =>
          reply(ex, 500,
            s"""{"status":1,"msg":"${esc(String.valueOf(e.getMessage))}"}""")
      })

  // the reference's response envelopes (status/data, mapData,
  // categories/series — TradeStatsController / TrafficStatsController)
  private def gmvEnvelope(gmv: org.apache.spark.sql.Row): String = {
    val v = if (gmv.isNullAt(0)) "0" else gmv.getDouble(0).toString
    s"""{"status":0,"data":$v}"""
  }

  private def provinceEnvelope(
      rows: Array[org.apache.spark.sql.Row]): String = {
    val mapData = rows.map(r =>
      s"""{"name":"${esc(r.getString(0))}","value":${r.getDouble(1)}}""")
      .mkString(",")
    s"""{"status":0,"data":{"mapData":[$mapData],"valueName":"order_amount"}}"""
  }

  private def chEnvelope(rows: Array[org.apache.spark.sql.Row]): String = {
    val cats = rows.map(r => s""""${esc(r.getString(0))}"""").mkString(",")
    val data = rows.map(_.getLong(1)).mkString(",")
    s"""{"status":0,"data":{"categories":[$cats],""" +
      s""""series":[{"name":"ch","data":[$data]}]}}"""
  }

  /** Start the publisher over an orders store ([[ServingApi.buildStore]])
    * and a traffic store ([[buildTrafficStore]]). `port = 0` binds an
    * ephemeral port (see [[Publisher.port]]). */
  def start(s: SparkSession, orderStore: String, trafficStore: String,
      port: Int): Publisher = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    // The order store comes in two layers, like the reference's Doris
    // tables: the DETAIL shape ([[ServingApi.buildStore]], one row per
    // order) and the DWS ROLLUP shape (the live ProvinceOrderApp
    // streaming sink, one row per window×province). One schema probe,
    // memoized on FIRST USE (lazy — the streaming DWS sink may not have
    // committed its first batch when the server starts, and an eager
    // startup read would crash the live topology's startup ordering; a
    // failed probe is retried on the next request, per lazy-val
    // semantics), picks the read path — the serving queries differ only
    // in how order_ct folds (countDistinct vs additive sum).
    lazy val orderIsDetail =
      graft.Tables.parquet(s, orderStore).columns.contains("o_orderkey")

    // The store is written partitionBy("cur_date"), so the newest day is
    // in the partition directory names — answer the default-date path
    // from the listing instead of running a full scan-and-aggregate
    // Spark job per request.
    def latestDay(store: String): String =
      Option(new java.io.File(store)
          .listFiles(f => f.isDirectory && f.getName.startsWith("cur_date=")))
        .getOrElse(Array.empty)
        .map(_.getName.stripPrefix("cur_date="))
        .reduceOption((a, b) => if (a >= b) a else b)
        .getOrElse(graft.Tables.parquet(s, store)
          .agg(max(col("cur_date").cast("string"))).head().getString(0))

    // GET /gmv?date=yyyy-MM-dd → {"status":0,"data":<gmv>}
    // (TradeStatsController.java:24-36)
    endpoint(server, "/gmv") { ex =>
      val day = dateOf(ex, latestDay(orderStore))
      gmvEnvelope(ServingApi.gmv(s, orderStore, day).head())
    }

    // GET /province?date=… → mapData envelope
    // (TradeStatsController.java:38-56)
    endpoint(server, "/province") { ex =>
      val day = dateOf(ex, latestDay(orderStore))
      val prov =
        if (orderIsDetail) ServingApi.province(s, orderStore, day)
        else ServingApi.provinceDws(s, orderStore, day)
      provinceEnvelope(prov
        .orderBy(col("order_amount").desc, col("province_name"))
        .collect())
    }

    // GET /ch?date=…&limit=N → categories/series envelope
    // (TrafficStatsController.java:26-47)
    endpoint(server, "/ch") { ex =>
      val limit = limitOf(ex)
      val day = dateOf(ex, latestDay(trafficStore))
      chEnvelope(chUv(s, trafficStore, day, limit).collect())
    }

    server.setExecutor(null) // serve on the dispatch thread; callers
    // needing concurrency pass their own executor-backed server
    server.start()
    new Publisher(server)
  }

  /** Start the publisher in NAVIGATED mode: the three endpoints are
    * the reference's serving queries written against the RAW fact
    * tables ([[ServingApi.navGmv]]/[[ServingApi.navProvince]]/
    * [[ServingApi.navChUv]]) and routed through `AggRewrite.navigate`
    * — while the registered day-grain summaries
    * ([[ServingApi.buildNavSummaries]]) are fresh, each request reads
    * a metadata-sized summary (the Doris-table read the reference's
    * MyBatis mappers do by name); the moment the base changes under a
    * summary, the staleness fence falls through to the raw fact scan,
    * so the HTTP layer can serve slow-but-true, never fast-but-wrong.
    * Envelopes are identical to [[start]] — a reference client cannot
    * tell the two publishers apart until the store goes stale. */
  def startNavigated(s: SparkSession, dir: String, port: Int)
      : Publisher = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    endpoint(server, "/gmv") { ex =>
      val day = dateOf(ex, ServingApi.navLatestDay(s, dir))
      gmvEnvelope(ServingApi.navGmv(s, dir, day).head())
    }

    endpoint(server, "/province") { ex =>
      val day = dateOf(ex, ServingApi.navLatestDay(s, dir))
      provinceEnvelope(ServingApi.navProvince(s, dir, day)
        .orderBy(col("order_amount").desc, col("province_name"))
        .collect())
    }

    endpoint(server, "/ch") { ex =>
      val limit = limitOf(ex)
      val day = dateOf(ex, ServingApi.navLatestEventDay(s, dir))
      chEnvelope(ServingApi.navChUv(s, dir, day, limit).collect())
    }

    server.setExecutor(null)
    server.start()
    new Publisher(server)
  }
}
