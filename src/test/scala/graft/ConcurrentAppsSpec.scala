package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.streaming.{DimApp, Topology}

/** The reference operates ~12 streaming applications SIMULTANEOUSLY
  * against shared Kafka topics (BaseApp.java:22-65 — every app is its
  * own main(), all consuming topic_db / topic_log at once). Every
  * composed app in this repo is spec-proven in isolation; this suite
  * proves the missing property on the [[Topology]] fleet: N
  * StreamingQueries in ONE SparkSession over ONE shared staged input
  * keep their checkpoints, state stores, and sinks fully isolated —
  * each concurrent store equals the same app's isolated run over the
  * same input. */
class ConcurrentAppsSpec extends SparkSuite {

  private def apps(names: String*): Seq[Topology.App] =
    names.map(Topology.app)

  /** Stage the shared inputs under a fresh root and run `f` on them. */
  private def staged(f: (Topology.Inputs, String) => Unit): Unit =
    Topology.withRoot { root =>
      f(Topology.Inputs(spark, Topology.stage(spark, sf, root), sf), root)
    }

  /** Each app run alone to completion, one after another, under `base`. */
  private def runIsolated(in: Topology.Inputs, base: String,
      fleet: Seq[Topology.App]): Unit =
    fleet.foreach(a => Topology.drain(Topology.start(in, base, Seq(a))))

  /** Maps do not compare under `exceptAll`: sorted entry arrays do. */
  private def comparable(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map {
      case f if f.dataType.isInstanceOf[MapType] =>
        array_sort(map_entries(col(f.name))).as(f.name)
      case f => col(f.name)
    }: _*)

  private def assertSame(tag: String, got: DataFrame, want: DataFrame)
      : Unit = {
    assert(got.count() > 0, s"$tag: concurrent store is empty")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      s"$tag: concurrent run != isolated run")
  }

  /** Every table of every app's store under `con` equals its twin under
    * `iso`. */
  private def assertSameStores(fleet: Seq[Topology.App], con: String,
      iso: String): Unit =
    fleet.foreach { a =>
      val want = a.tables(spark, Topology.store(iso, a.name)).toMap
      a.tables(spark, Topology.store(con, a.name)).foreach { case (t, got) =>
        assertSame(s"${a.name}/$t", comparable(got), comparable(want(t)))
      }
    }

  /** Start `fleet` concurrently under `base`, prove all of it is live at
    * once, and run it to completion. */
  private def runConcurrent(in: Topology.Inputs, base: String,
      fleet: Seq[Topology.App]): Unit = {
    val queries = Topology.start(in, base, fleet)
    assert(spark.streams.active.count(queries.contains) == fleet.size,
      s"all ${fleet.size} queries must be registered concurrently")
    Topology.drain(queries)
  }

  test("five concurrent apps over one shared stream equal their isolated runs") {
    // ONE shared CDC op-log (the reference's single topic_db): the
    // union of both config-driven apps' envelope streams — each app's
    // broadcast config probe routes ONLY its own tables and must drop
    // the other app's traffic; plus the shared log stream (topic_log)
    staged { (in, root) =>
      val five = apps("dim", "basedb", "baselog", "province_order",
        "traffic_channel")
      runIsolated(in, s"$root/iso", five)
      runConcurrent(in, s"$root/con", five)
      assertSameStores(five, s"$root/con", s"$root/iso")
    }
  }

  test("the full twelve-app topology runs concurrently; the publisher " +
      "serves the LIVE stores") {
    // shared inputs: one CDC op log (topic_db), one log stream
    // (topic_log, played by the events table both directly and through
    // each DWS app's own filter), one order-detail stream
    staged { (in, root) =>
      val (iso, con) = (s"$root/iso", s"$root/con")
      runIsolated(in, iso, Topology.fleet)
      // the concurrent topology: all twelve queries live in ONE
      // session — the reference's BaseApp fleet over shared topics
      runConcurrent(in, con, Topology.fleet)
      assertSameStores(Topology.fleet, con, iso)

      // the serving path: the publisher reads the LIVE stores the
      // topology just maintained (the reference's controller → Doris
      // DWS tables), and each envelope equals the direct store
      // aggregation
      val conProv = Topology.store(con, "province_order")
      val conCh = Topology.store(con, "traffic_channel")
      val pub = graft.operators.PublisherServer.start(spark, conProv,
        conCh, 0)
      try {
        def get(pathQ: String): (Int, String) = {
          val client = java.net.http.HttpClient.newHttpClient()
          val res = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"http://127.0.0.1:${pub.port}$pathQ")).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          (res.statusCode(), res.body())
        }
        val day = spark.read.parquet(conProv)
          .agg(max(col("cur_date").cast("string"))).head.getString(0)
        val (gc, gb) = get(s"/gmv?date=$day")
        assert(gc == 200, gb)
        val wantGmv = graft.operators.ServingApi
          .gmv(spark, conProv, day).head.getDouble(0)
        assert(gb == s"""{"status":0,"data":$wantGmv}""", gb)
        val (pc, pb) = get(s"/province?date=$day")
        assert(pc == 200, pb)
        val wantProv = graft.operators.ServingApi
          .provinceDws(spark, conProv, day)
          .orderBy(col("order_amount").desc, col("province_name")).collect()
        assert(wantProv.nonEmpty, "live province store served no rows")
        wantProv.foreach { r =>
          assert(pb.contains(s""""name":"${r.getString(0)}""""), pb)
        }
        val chDay = spark.read.parquet(conCh)
          .agg(max(col("cur_date").cast("string"))).head.getString(0)
        val (cc, cb) = get(s"/ch?date=$chDay&limit=3")
        assert(cc == 200, cb)
        val wantCh = graft.operators.PublisherServer
          .chUv(spark, conCh, chDay, 3).collect()
        assert(wantCh.nonEmpty, "live channel store served no rows")
        assert(cb.contains(wantCh.map(_.getLong(1)).mkString(",")), cb)
      } finally pub.stop()
    }
  }

  test("one app crashing mid-topology leaves the others untouched and " +
      "restarts from its checkpoint to convergence") {
    import graft.streaming.VersionedParquetMergeSink
    staged { (in, root) =>
      val (iso, con) = (s"$root/iso", s"$root/con")
      // isolated twins for the surviving apps
      val survivors = apps("baselog", "province_order")
      runIsolated(in, iso, survivors)

      // the DimApp replica with a crash injected AFTER the first table's
      // merge committed but BEFORE the batch is acknowledged — the same
      // worst-moment injection as PipelineSpec's W10 case, now with two
      // sibling apps live in the session (the reference restarts each
      // BaseApp independently under its failure-rate policy,
      // BaseSQLApp.java:31)
      val (dimStore, dimCk) =
        (Topology.store(con, "dim"), Topology.ckpt(con, "dim"))
      @volatile var crash = true
      val schema = spark.read.parquet(s"${in.src}/envelopes.parquet").schema
      def dimSrc = spark.readStream.schema(schema)
        .parquet(s"${in.src}/envelopes*.parquet")
      val crashingDim = DimApp.parsedDims(spark, dimSrc).writeStream
        .option("checkpointLocation", dimCk)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.persist()
          try DimApp.configRows.zipWithIndex.foreach { case (cfg, i) =>
            new VersionedParquetMergeSink(s"$dimStore/${cfg.sink_table}",
              "id", "seq", "op", Seq("data")).merge(
              batch.filter(col("sink_table") === cfg.sink_table), batchId)
            if (crash && i == 0) {
              crash = false
              throw new RuntimeException("injected mid-topology crash")
            }
          } finally { batch.unpersist(); () }
        }
        .start()
      val live = Topology.start(in, con, survivors)

      // the dim app dies mid-batch...
      intercept[Exception] { crashingDim.processAllAvailable() }
      // ...while the survivors finish their work untouched
      Topology.drain(live)
      assertSameStores(survivors, con, iso)

      // restart the dead app from ITS OWN checkpoint: the unacknowledged
      // batch replays onto the already-merged store idempotently and the
      // store converges to the batch-twin answer
      Topology.drain(Topology.start(in, con, apps("dim")))
      DimApp.configRows.foreach { cfg =>
        assertSame(s"recovered/${cfg.sink_table}",
          DimApp.store(spark, dimStore, cfg.sink_table)
            .select(col("id"), col("seq"), explode(col("data"))),
          DimApp.batchSnapshot(spark, sf, cfg.sink_table)
            .select(col("id"), col("seq"), explode(col("data"))))
      }
    }
  }

  test("starting the fleet is all-or-nothing: one failing start stops " +
      "the queries already started") {
    staged { (in, root) =>
      // without its detail stream the sku app's schema read fails, after
      // five apps have started
      new java.io.File(in.src).listFiles()
        .filter(_.getName.startsWith("lineitem"))
        .foreach(f => Standing.deleteTree(f.toPath))
      intercept[Exception] { Topology.start(in, root) }
      assert(spark.streams.active.isEmpty,
        "a failed fleet start must leave no query running")
    }
  }
}
