package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._
import graft.operators.{PublisherServer, ServingApi}

/** The publisher's HTTP shell: real sockets, real requests — the
  * reference's three REST endpoints served over the JDK HttpServer and
  * exercised with the JDK HttpClient (no test doubles). */
class PublisherSpec extends SparkSuite {

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }.toSet
  }

  /** True iff some aggregate in the optimized plan DERIVES via a Sum
    * whose child references the named stored-partial column — the
    * structural pin that a navigated endpoint reads the summary's
    * partial (sum-of-sums / summed count_star), not a silent raw
    * re-aggregation that would still hash-equal. */
  private def sumsStoredPartial(df: org.apache.spark.sql.DataFrame,
      partial: String): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.exists(_.exists {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate
              .AggregateExpression =>
            ae.aggregateFunction match {
              case s: org.apache.spark.sql.catalyst.expressions
                  .aggregate.Sum =>
                s.child.exists {
                  case ar: org.apache.spark.sql.catalyst.expressions
                      .AttributeReference => ar.name == partial
                  case _ => false
                }
              case _ => false
            }
          case _ => false
        })
    }.exists(identity)

  private def get(port: Int, pathQ: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val res = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$pathQ")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("publisher serves /gmv, /province, /ch with the reference envelopes") {
    val orderStore = tmp("pub_orders")
    val trafficStore = tmp("pub_traffic")
    ServingApi.buildStore(spark, sf, orderStore)
    PublisherServer.buildTrafficStore(spark, sf, trafficStore)
    val pub = PublisherServer.start(spark, orderStore, trafficStore, 0)
    try {
      val day = spark.read.parquet(orderStore)
        .agg(min(col("cur_date").cast("string"))).head.getString(0)

      // /gmv: numeric envelope equals the direct store query
      val (gc, gb) = get(pub.port, s"/gmv?date=$day")
      assert(gc == 200, gb)
      val expectedGmv =
        ServingApi.gmv(spark, orderStore, day).head.getDouble(0)
      assert(gb == s"""{"status":0,"data":$expectedGmv}""", gb)

      // /gmv default date = newest partition (the DateFormatUtil.now()
      // analog): must equal querying the max day explicitly
      val lastDay = spark.read.parquet(orderStore)
        .agg(max(col("cur_date").cast("string"))).head.getString(0)
      assert(get(pub.port, "/gmv")._2 ==
        get(pub.port, s"/gmv?date=$lastDay")._2)
      assert(get(pub.port, "/gmv?date=0")._2 ==
        get(pub.port, s"/gmv?date=$lastDay")._2)

      // /province: every (name, value) pair present, ordered, enveloped
      val (pc, pb) = get(pub.port, s"/province?date=$day")
      assert(pc == 200, pb)
      val provRows = ServingApi.province(spark, orderStore, day)
        .orderBy(col("order_amount").desc, col("province_name")).collect()
      val expectedMap = provRows.map(r =>
        s"""{"name":"${r.getString(0)}","value":${r.getDouble(1)}}""")
        .mkString(",")
      assert(pb == s"""{"status":0,"data":{"mapData":[$expectedMap],""" +
        s""""valueName":"order_amount"}}""", pb)

      // /ch: categories/series parallel arrays, limit respected
      val tday = spark.read.parquet(trafficStore)
        .agg(max(col("cur_date").cast("string"))).head.getString(0)
      val (cc, cb) = get(pub.port, s"/ch?date=$tday&limit=3")
      assert(cc == 200, cb)
      val chRows = PublisherServer.chUv(spark, trafficStore, tday, 3).collect()
      assert(chRows.length <= 3)
      val cats = chRows.map(r => s""""${r.getString(0)}"""").mkString(",")
      val data = chRows.map(_.getLong(1)).mkString(",")
      assert(cb == s"""{"status":0,"data":{"categories":[$cats],""" +
        s""""series":[{"name":"ch","data":[$data]}]}}""", cb)

      // unknown sub-path under a context → 404 envelope, server stays up
      assert(get(pub.port, "/gmv/nope")._1 == 404)
      assert(get(pub.port, s"/gmv?date=$day")._1 == 200)
    } finally pub.stop()
  }

  test("/ch refuses a bad limit with a 400 envelope on both publishers") {
    val trafficStore = tmp("pub_traffic_limit")
    PublisherServer.buildTrafficStore(spark, sf, trafficStore)
    val plain = PublisherServer.start(spark, trafficStore, trafficStore, 0)
    // no summaries registered: the navigated /ch reads raw events
    val nav = PublisherServer.startNavigated(spark, sf, 0)
    try Seq(plain, nav).foreach { pub =>
      Seq("abc", "-1", "0", "1001", "99999999999", "2.5").foreach { v =>
        val (c, b) = get(pub.port, s"/ch?limit=$v")
        assert(c == 400, s"limit=$v: $b")
        assert(b == "{\"status\":1,\"msg\":\"limit must be an integer " +
          s"in 1..${PublisherServer.MaxLimit}, got '$v'\"}", b)
      }
      // a malformed date is refused the same way, on every endpoint
      for {
        v <- Seq("junk", "2024-1-05", "2024-02-30", "20240105",
          "2024-01-05x", "-1", "%272024-01-05%27")
        path <- Seq("/gmv", "/province", "/ch")
      } {
        val (c, b) = get(pub.port, s"$path?date=$v")
        assert(c == 400, s"$path date=$v: $b")
        assert(b == "{\"status\":1,\"msg\":\"date must be a yyyy-MM-dd " +
          s"day or 0, got '$v'\"}", b)
      }
      // in range (and absent) still serve
      Seq("/ch?limit=1", s"/ch?limit=${PublisherServer.MaxLimit}", "/ch")
        .foreach { pq =>
          val (c, b) = get(pub.port, pq)
          assert(c == 200 && b.startsWith("{\"status\":0,"), s"$pq: $b")
        }
    } finally { plain.stop(); nav.stop() }
  }

  test("navigated publisher: endpoints read the summaries while fresh, " +
      "fall through to raw truth after a base append, re-arm on refresh") {
    val dir = tmp("navpub_base")
    val root = tmp("navpub_sum")
    // a private copy of the fact/dim tables as parquet DIRECTORIES so
    // the spec can append (the real testdata is read-only single files)
    Seq("orders", "customer", "nation", "events").foreach { t =>
      Tables(spark, sf, t).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
    ServingApi.buildNavSummaries(spark, dir, root)
    val pub = PublisherServer.startNavigated(spark, dir, 0)
    try {
      val day = ServingApi.navLatestDay(spark, dir)
      // fresh: the raw-fact queries' plans scan the SUMMARIES, never
      // the fact tables — the Doris read with a fence under it
      val navProv = ServingApi.navProvince(spark, dir, day)
      val provPaths = scanPaths(navProv)
      assert(provPaths.exists(_.contains("orders_day_cust")),
        s"/province did not navigate: $provPaths")
      assert(!provPaths.exists(_.endsWith("orders.parquet")),
        s"/province scanned the fact table while fresh: $provPaths")
      // /gmv and /province PLAN-PINNED like /ch (round-15 #6): the
      // rewritten aggregates must derive from the STORED partials —
      // the money as sum-of-amount_sum, the order count as summed
      // count_star — a silent fall-through to raw (or to any other
      // derivation) still hash-equals, so only the plan assert
      // catches it
      val navG = ServingApi.navGmv(spark, dir, day)
      assert(scanPaths(navG).exists(_.contains("orders_day_cust")) &&
        !scanPaths(navG).exists(_.endsWith("orders.parquet")),
        s"/gmv did not navigate: ${scanPaths(navG)}")
      assert(sumsStoredPartial(navG, "amount_sum"),
        "/gmv must derive from the stored amount_sum partial: " +
          s"${navG.queryExecution.optimizedPlan}")
      assert(sumsStoredPartial(navProv, "amount_sum") &&
        sumsStoredPartial(navProv, "order_ct"),
        "/province must derive amount from amount_sum AND count from " +
          s"order_ct: ${navProv.queryExecution.optimizedPlan}")
      val eday = ServingApi.navLatestEventDay(spark, dir)
      val navCh = ServingApi.navChUv(spark, dir, eday, 5)
      val chPaths = scanPaths(navCh)
      assert(chPaths.exists(_.contains("events_day_ch")),
        s"/ch did not navigate: $chPaths")
      assert(!chPaths.exists(_.endsWith("events.parquet")),
        s"/ch scanned the fact table while fresh: $chPaths")
      // the UV is served from the STORED id sets: the rewritten
      // aggregate merges the uv_bitmap partial through the exact
      // BitmapMergeCount kernel (the Doris BITMAP_UNION serving
      // column) — not a re-count and not the pv count partial.
      // A navigation that silently fell back to any other derivation
      // would still hash-equal the twin, so only this plan assert
      // catches it (the x24 lesson)
      val usesBitmap = navCh.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.aggregateExpressions.exists(_.exists {
            case ae: org.apache.spark.sql.catalyst.expressions
                .aggregate.AggregateExpression =>
              ae.aggregateFunction match {
                case sa: org.apache.spark.sql.execution.aggregate
                    .ScalaAggregator[_, _, _] =>
                  sa.agg.asInstanceOf[AnyRef] eq
                    graft.functions.BitmapMergeCount
                case _ => false
              }
            case _ => false
          })
      }.exists(identity)
      assert(usesBitmap,
        "/ch must re-derive UV from the stored bitmap partial " +
          s"(BitmapMergeCount): ${navCh.queryExecution.optimizedPlan}")

      // endpoint answers equal the raw twins computed WITHOUT the fence
      val money18 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      def rawOrders = spark.read.parquet(s"$dir/orders.parquet")
        .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") === day)
      val rawGmvRow = rawOrders
        .agg(sum(money18(col("o_totalprice"))).cast("double")).head
      val (gc, gb) = get(pub.port, s"/gmv?date=$day")
      assert(gc == 200, gb)
      assert(gb ==
        s"""{"status":0,"data":${rawGmvRow.getDouble(0)}}""", gb)
      val rawProv = rawOrders
        .join(spark.read.parquet(s"$dir/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .join(spark.read.parquet(s"$dir/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(money18(col("o_totalprice"))).cast("double").as("amt"))
        .orderBy(col("amt").desc, col("n_name")).collect()
      val expectedMap = rawProv.map(r =>
        s"""{"name":"${r.getString(0)}","value":${r.getDouble(1)}}""")
        .mkString(",")
      val (pc, pb) = get(pub.port, s"/province?date=$day")
      assert(pc == 200, pb)
      assert(pb ==
        s"""{"status":0,"data":{"mapData":[$expectedMap],""" +
          s""""valueName":"order_amount"}}""", pb)
      // /ch over the socket hash-equals the raw count(DISTINCT) twin
      // computed WITHOUT the fence — exact UV, byte-identical envelope
      import graft.functions.Fns.{curDate, nsToSec}
      val chTwin = Tables(spark, dir, "events")
        .filter(curDate(nsToSec(col("ts"))) === eday)
        .groupBy(col("event_type").as("ch"))
        .agg(countDistinct(col("user_id")).as("uv_ct"))
        .orderBy(col("uv_ct").desc, col("ch")).limit(3).collect()
      val chCats = chTwin.map(r => s""""${r.getString(0)}"""").mkString(",")
      val chData = chTwin.map(_.getLong(1)).mkString(",")
      val (cc, cb) = get(pub.port, s"/ch?date=$eday&limit=3")
      assert(cc == 200, cb)
      assert(cb == s"""{"status":0,"data":{"categories":[$chCats],""" +
        s""""series":[{"name":"ch","data":[$chData]}]}}""", cb)

      // append ONE order on a brand-new day: every orders summary goes
      // stale — the endpoints now serve RAW truth (the appended row is
      // visible) instead of the fast-but-wrong stale summary
      val newDay = "2099-01-01"
      val o0 = spark.read.parquet(s"$dir/orders.parquet")
      o0.limit(1)
        .withColumn("o_orderdate",
          lit(newDay).cast(o0.schema("o_orderdate").dataType))
        .write.mode("append").parquet(s"$dir/orders.parquet")
      val stalePaths = scanPaths(
        ServingApi.navProvince(spark, dir, newDay))
      assert(stalePaths.exists(_.endsWith("orders.parquet")),
        s"stale summary must fall through to raw: $stalePaths")
      val appended = spark.read.parquet(s"$dir/orders.parquet")
        .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") === newDay)
        .agg(sum(money18(col("o_totalprice"))).cast("double")).head
      assert(get(pub.port, s"/gmv?date=$newDay")._2 ==
        s"""{"status":0,"data":${appended.getDouble(0)}}""")

      // partition refresh re-arms: only the touched day recomputes,
      // the plan reads the summary again, the answer stays raw-true
      graft.plans.AggRewrite.refreshPartitions(spark, s"pub_orders@$dir",
        Tables(spark, dir, "orders"), Seq(newDay))
      val rearmed = scanPaths(ServingApi.navProvince(spark, dir, newDay))
      assert(rearmed.exists(_.contains("orders_day_cust")),
        s"refresh did not re-arm navigation: $rearmed")
      assert(get(pub.port, s"/gmv?date=$newDay")._2 ==
        s"""{"status":0,"data":${appended.getDouble(0)}}""")

      // append ONE event on a brand-new day: the events summary goes
      // stale — /ch falls through to the raw fact scan and serves the
      // appended activity (exact UV from the fact rows), never the
      // fast-but-stale bitmap store
      val newEventDay = "2097-05-05"
      val newTs = java.time.LocalDate.parse(newEventDay)
        .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond *
        1000000000L
      val e0 = spark.read.parquet(s"$dir/events.parquet")
      e0.limit(1).withColumn("ts", lit(newTs))
        .write.mode("append").parquet(s"$dir/events.parquet")
      val staleCh = ServingApi.navChUv(spark, dir, newEventDay, 5)
      assert(scanPaths(staleCh).exists(_.endsWith("events.parquet")),
        s"stale events summary must fall through: ${scanPaths(staleCh)}")
      val staleTwin = Tables(spark, dir, "events")
        .filter(curDate(nsToSec(col("ts"))) === newEventDay)
        .groupBy(col("event_type").as("ch"))
        .agg(countDistinct(col("user_id")).as("uv_ct"))
        .orderBy(col("uv_ct").desc, col("ch")).limit(5).collect()
      assert(staleTwin.nonEmpty && staleTwin.map(_.getLong(1)).sum == 1L)
      val staleCats =
        staleTwin.map(r => s""""${r.getString(0)}"""").mkString(",")
      val staleData = staleTwin.map(_.getLong(1)).mkString(",")
      assert(get(pub.port, s"/ch?date=$newEventDay&limit=5")._2 ==
        s"""{"status":0,"data":{"categories":[$staleCats],""" +
          s""""series":[{"name":"ch","data":[$staleData]}]}}""")
    } finally {
      pub.stop()
      graft.plans.AggRewrite.unregister(spark, s"pub_orders@$dir")
      graft.plans.AggRewrite.unregister(spark, s"pub_events@$dir")
    }
  }

  test("navigated publisher ATTACHES in a fresh session: the restart " +
      "path re-arms both summaries from their manifests and serves " +
      "navigated truth over the socket") {
    val dir = tmp("navpub_attach_base")
    val root = tmp("navpub_attach_sum")
    Seq("orders", "customer", "nation", "events").foreach { t =>
      Tables(spark, sf, t).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
    // "previous process": build + register, then throw the session away
    ServingApi.buildNavSummaries(spark, dir, root)
    graft.plans.AggRewrite.unregister(spark, s"pub_orders@$dir")
    graft.plans.AggRewrite.unregister(spark, s"pub_events@$dir")
    // "restarted process": a brand-new session with an EMPTY registry
    val s2 = spark.newSession()
    ServingApi.attachNavSummaries(s2, root)
    val pub = PublisherServer.startNavigated(s2, dir, 0)
    try {
      val day = ServingApi.navLatestDay(s2, dir)
      // the attached session navigates — summaries, not fact scans
      val provPaths = scanPaths(ServingApi.navProvince(s2, dir, day))
      assert(provPaths.exists(_.contains("orders_day_cust")) &&
        !provPaths.exists(_.endsWith("orders.parquet")),
        s"attached /province did not navigate: $provPaths")
      val chPaths = scanPaths(ServingApi.navChUv(s2, dir, day, 5))
      assert(chPaths.exists(_.contains("events_day_ch")) &&
        !chPaths.exists(_.endsWith("events.parquet")),
        s"attached /ch did not navigate: $chPaths")
      // and the socket serves raw truth
      val money18 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val rawGmv = s2.read.parquet(s"$dir/orders.parquet")
        .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") === day)
        .agg(sum(money18(col("o_totalprice"))).cast("double")).head
      val (gc, gb) = get(pub.port, s"/gmv?date=$day")
      assert(gc == 200 &&
        gb == s"""{"status":0,"data":${rawGmv.getDouble(0)}}""", gb)
      val (cc, cb) = get(pub.port, "/ch?limit=3")
      assert(cc == 200 && cb.startsWith("""{"status":0,"data":"""), cb)
    } finally {
      pub.stop()
      graft.plans.AggRewrite.unregister(s2, s"pub_orders@$dir")
      graft.plans.AggRewrite.unregister(s2, s"pub_events@$dir")
    }
  }

  test("navigated publisher over a LIVE stream-maintained base: a " +
      "foreachBatch maintainer lands each CDC batch, refreshes its " +
      "days, and the endpoint serves summary-fresh truth per batch") {
    val dir = tmp("navpub_live")
    val root = tmp("navpub_live_sum")
    val stage = tmp("navpub_live_stage")
    Seq("orders", "customer", "nation", "events").foreach { t =>
      Tables(spark, sf, t).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
    ServingApi.buildNavSummaries(spark, dir, root)
    val pub = PublisherServer.startNavigated(spark, dir, 0)
    try {
      val o0 = spark.read.parquet(s"$dir/orders.parquet")
      val dateType = o0.schema("o_orderdate").dataType
      // two CDC batches, each a brand-new day, staged one file per
      // micro-batch (the per-partition-ordered topic replay)
      val days = Seq("2098-01-01", "2098-01-02")
      days.foreach { d =>
        o0.limit(3).withColumn("o_orderdate", lit(d).cast(dateType))
          .coalesce(1).write.mode("append").parquet(stage)
      }
      // the maintainer: land the batch in the base, refresh ONLY its
      // days (the reference's per-day Doris refresh loop), then probe
      // the LIVE endpoint — each probe must serve that day's truth
      val probes =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
      val stream = spark.readStream.schema(o0.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(s"$dir/orders.parquet")
          val touched = b
            .select(date_format(col("o_orderdate"), "yyyy-MM-dd"))
            .distinct().collect().map(_.getString(0)).toSeq
          graft.plans.AggRewrite.refreshPartitions(spark,
            s"pub_orders@$dir", Tables(spark, dir, "orders"), touched)
          touched.foreach { d =>
            probes.add(d -> get(pub.port, s"/gmv?date=$d")._2)
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$stage-ckpt")
        .start()
      stream.awaitTermination(180000)
      // every mid-stream probe served its day's raw truth
      val money18 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      import scala.jdk.CollectionConverters._
      val seen = probes.asScala.toSeq
      assert(seen.map(_._1).toSet == days.toSet,
        s"probes missing a day: ${seen.map(_._1)}")
      seen.foreach { case (d, body) =>
        val truth = spark.read.parquet(s"$dir/orders.parquet")
          .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") === d)
          .agg(sum(money18(col("o_totalprice"))).cast("double")).head
        assert(body == s"""{"status":0,"data":${truth.getDouble(0)}}""",
          s"day $d: $body")
      }
      // post-stream: the maintainer kept the summary fresh, so the
      // serving plan reads the summary (not the grown fact table)
      val paths = scanPaths(
        ServingApi.navProvince(spark, dir, days.last))
      assert(paths.exists(_.contains("orders_day_cust")),
        s"maintained summary not serving after the stream: $paths")
    } finally {
      pub.stop()
      graft.plans.AggRewrite.unregister(spark, s"pub_orders@$dir")
      graft.plans.AggRewrite.unregister(spark, s"pub_events@$dir")
    }
  }

  test("publisher restart MID-REPLAY under live maintenance " +
      "(round-15 #7): the maintainer keeps folding while one replica " +
      "restarts via attachNavSummaries — its responses equal the " +
      "never-restarted twin's for every post-restart batch, and it " +
      "ends NAVIGATED") {
    val dir = tmp("navpub_rst")
    val root = tmp("navpub_rst_sum")
    val stage = tmp("navpub_rst_stage")
    Seq("orders", "customer", "nation", "events").foreach { t =>
      Tables(spark, sf, t).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
    ServingApi.buildNavSummaries(spark, dir, root)
    // twin A: the maintainer session's own publisher, never restarted.
    // Replica B: its own session ("process"), armed from the manifests
    // exactly as a serving replica boots.
    val pubA = PublisherServer.startNavigated(spark, dir, 0)
    var sessionB = spark.newSession()
    ServingApi.attachNavSummaries(sessionB, root)
    var pubB = PublisherServer.startNavigated(sessionB, dir, 0)
    try {
      val o0 = spark.read.parquet(s"$dir/orders.parquet")
      val dateType = o0.schema("o_orderdate").dataType
      val days = Seq("2098-02-01", "2098-02-02", "2098-02-03",
        "2098-02-04")
      days.foreach { d =>
        o0.limit(3).withColumn("o_orderdate", lit(d).cast(dateType))
          .coalesce(1).write.mode("append").parquet(stage)
      }
      val probes = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, String, String, String)]
      val stream = spark.readStream.schema(o0.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], id: Long) =>
          // the maintainer: land, refresh the touched days, publish
          b.write.mode("append").parquet(s"$dir/orders.parquet")
          val touched = b
            .select(date_format(col("o_orderdate"), "yyyy-MM-dd"))
            .distinct().collect().map(_.getString(0)).toSeq
          graft.plans.AggRewrite.refreshPartitions(spark,
            s"pub_orders@$dir", Tables(spark, dir, "orders"), touched)
          if (id == 1L) {
            // MID-REPLAY: replica B's process dies and comes back —
            // a brand-new session re-armed from the just-republished
            // manifests, serving on a fresh socket
            pubB.stop()
            sessionB = spark.newSession()
            ServingApi.attachNavSummaries(sessionB, root)
            pubB = PublisherServer.startNavigated(sessionB, dir, 0)
          } else if (id > 1L) {
            // steady state: the replica re-attaches after each
            // publish (the manifest-poll sync a read-only serving
            // replica runs; attach never writes)
            ServingApi.attachNavSummaries(sessionB, root)
          }
          touched.foreach { d =>
            probes.add((id, d, get(pubA.port, s"/gmv?date=$d")._2,
              get(pubB.port, s"/gmv?date=$d")._2))
            probes.add((id, d,
              get(pubA.port, s"/province?date=$d")._2,
              get(pubB.port, s"/province?date=$d")._2))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$stage-ckpt")
        .start()
      stream.awaitTermination(240000)
      import scala.jdk.CollectionConverters._
      val seen = probes.asScala.toSeq
      assert(seen.map(_._1).toSet == Set(0L, 1L, 2L, 3L),
        s"probes missing a batch: ${seen.map(_._1).distinct}")
      // the restarted replica's responses equal the never-restarted
      // twin's — for the restart batch and every batch after it
      seen.filter(_._1 >= 1L).foreach { case (id, d, a, b) =>
        assert(a == b, s"batch $id day $d: twin=$a restarted=$b")
      }
      // and they are the day's raw truth, not merely mutually wrong
      val money18 = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
      seen.filter(p => p._1 >= 1L && p._3.contains("data\":{") == false)
        .foreach { case (_, d, a, _) =>
          val truth = spark.read.parquet(s"$dir/orders.parquet")
            .filter(date_format(col("o_orderdate"), "yyyy-MM-dd") === d)
            .agg(sum(money18(col("o_totalprice"))).cast("double")).head
          assert(a == s"""{"status":0,"data":${truth.getDouble(0)}}""",
            s"day $d: $a")
        }
      // the replica ended NAVIGATED (attach re-armed it onto the
      // summaries), not limping on raw fall-through
      val bPaths = scanPaths(
        ServingApi.navProvince(sessionB, dir, days.last))
      assert(bPaths.exists(_.contains("orders_day_cust")) &&
        !bPaths.exists(_.endsWith("orders.parquet")),
        s"restarted replica not navigated after the stream: $bPaths")
    } finally {
      pubA.stop(); pubB.stop()
      graft.plans.AggRewrite.unregister(spark, s"pub_orders@$dir")
      graft.plans.AggRewrite.unregister(spark, s"pub_events@$dir")
      graft.plans.AggRewrite.unregister(sessionB, s"pub_orders@$dir")
      graft.plans.AggRewrite.unregister(sessionB, s"pub_events@$dir")
    }
  }
}
