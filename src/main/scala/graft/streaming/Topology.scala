package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's streaming fleet (BaseApp.java:22-65: about twelve
  * always-on programs over shared topics) as one table. Each entry
  * composes its app's chain once and starts it as one Structured
  * Streaming query with its own store and checkpoint. [[graft.StreamBench]]
  * measures the fleet app by app and all at once; `ConcurrentAppsSpec`
  * proves its stores isolated and serves them through the publisher.
  *
  * A run lives under one root ([[withRoot]]): `src/` holds the staged
  * inputs ([[stage]]); [[start]] puts each app's store and checkpoint at
  * [[store]] and [[ckpt]] under whatever base it is given. */
object Topology {

  /** Micro-batches per source when replayed one shard per batch. */
  val shards = 4

  /** What the fleet reads: `src` holds the staged streams, `sf` the
    * dimension tables the sku app enriches from. */
  final case class Inputs(s: SparkSession, src: String, sf: String)

  /** One app. `start` runs it from the inputs into a store dir,
    * checkpointing at the second dir; `windows` is the closed-window
    * frame (with its `edt` column) of the apps that emit windows, the
    * frame their store sink writes; `tables` reads a store back as the
    * named tables it holds. */
  final case class App(name: String,
      start: (Inputs, String, String) => StreamingQuery,
      windows: Option[Inputs => DataFrame] = None,
      tables: (SparkSession, String) => Seq[(String, DataFrame)] =
        (s, store) => Seq("" -> graft.Tables.parquet(s, store)))

  private def events(in: Inputs): DataFrame =
    StatefulStreams.eventStream(in.s, in.src)

  private def channelWindows(in: Inputs): DataFrame =
    StatefulStreams.windowedCounts(in.s, in.src)

  /** A windowed DWS app whose store is its window frame. */
  private def windowed(name: String)(frame: Inputs => DataFrame): App =
    App(name, (in, store, ck) => fileStore(frame(in), store, ck), Some(frame))

  val fleet: Seq[App] = Seq(
    App("dim", (in, store, ck) => DimApp.run(in.s, in.src, store, ck),
      tables = (s, store) => DimApp.configRows.map(cfg =>
        cfg.sink_table -> DimApp.store(s, store, cfg.sink_table))),
    App("basedb", (in, store, ck) => BaseDbApp.run(in.s, in.src, store, ck)),
    App("baselog", (in, store, ck) => BaseLogApp.run(in.s, in.src, store, ck),
      tables = (s, store) => BaseLogApp.routeNames.map(r =>
        r -> graft.Tables.parquet(s, s"$store/$r"))),
    App("province_order", (in, store, ck) =>
      ProvinceOrderApp.run(in.s, in.src, store, ck)),
    App("keyword", (in, store, ck) => KeywordApp.run(in.s, in.src, store, ck)),
    App("sku_order", (in, store, ck) =>
      SkuOrderApp.run(in.s, in.src, in.sf, store, ck)),
    App("traffic_channel", (in, store, ck) =>
      channelStore(channelWindows(in), store, ck), Some(channelWindows)),
    windowed("user_login")(in => UserLoginApp.windowSums(
      UserLoginApp.flagStream(UserLoginApp.logins(events(in))).toDF())),
    windowed("cart_add")(in => CartAddUuApp.windowCounts(
      CartAddUuApp.uuStream(CartAddUuApp.cartAdds(events(in))).toDF())),
    windowed("home_detail")(in => HomeDetailApp.windowSums(
      HomeDetailApp.flagStream(HomeDetailApp.pageViews(events(in))).toDF())),
    windowed("page_view")(in => TrafficPageViewApp.windowSums(
      TrafficPageViewApp.measureStream(
        TrafficPageViewApp.pageViews(events(in))).toDF())),
    App("daily_first", (in, store, ck) => fileStore(
      StatefulStreams.dailyFirstStream(in.s, in.src).toDF(), store, ck)))

  def app(name: String): App = fleet.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"no app named $name"))

  def store(base: String, app: String): String = s"$base/store/$app"
  def ckpt(base: String, app: String): String = s"$base/ckpt/$app"

  /** An exactly-once DWS store: append-mode parquet file sink,
    * partitioned by `cur_date` (the Doris day-partition layout). */
  private def fileStore(df: DataFrame, store: String, ck: String)
      : StreamingQuery =
    df.writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .partitionBy("cur_date")
      .format("parquet").option("path", store)
      .start()

  /** The traffic-channel store: closed 10 s windows as
    * (cur_date, ch, uv_ct), the dws_traffic_channel table the
    * publisher's `/ch` endpoint reads ([[graft.operators.PublisherServer.chUv]]). */
  private def channelStore(windows: DataFrame, store: String, ck: String)
      : StreamingQuery =
    fileStore(windows.select(substring(col("stt"), 1, 10).as("cur_date"),
      col("event_type").as("ch"), col("pv_ct").as("uv_ct")), store, ck)

  /** Start `apps` (default: the whole fleet) from `in`, each into its
    * store and checkpoint under `base`. All or nothing: if one start
    * throws, the queries already started are stopped before it
    * rethrows. */
  def start(in: Inputs, base: String, apps: Seq[App] = fleet)
      : Seq[StreamingQuery] = {
    val started = ArrayBuffer.empty[StreamingQuery]
    try {
      apps.foreach(a =>
        started += a.start(in, store(base, a.name), ckpt(base, a.name)))
      started.toSeq
    } catch {
      case e: Throwable =>
        started.foreach { q =>
          try q.stop() catch { case NonFatal(x) => e.addSuppressed(x) }
        }
        throw e
    }
  }

  /** Run started queries until their inputs are consumed, then stop
    * them all. */
  def drain(queries: Seq[StreamingQuery]): Unit =
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

  /** `f` over a fresh root dir, deleted when `f` returns or throws. */
  def withRoot[A](f: String => A): A = {
    val root = Files.createTempDirectory("topology_")
    try f(root.toString) finally graft.Standing.deleteTree(root)
  }

  /** Cut a source into one file per micro-batch along its event-time
    * order (the ordered replay a per-partition-ordered topic
    * delivers), mtimes increasing so the file source consumes them in
    * shard order. The first shard keeps the bare `<name>.parquet` the
    * apps' schema probes read. */
  private def shard(df: DataFrame, order: Column, dir: String,
      name: String): Unit = {
    // replay PREP, not measured work: the global ntile sort is fine at
    // replay scale (≤1M rows at sf0.1); a bigger replay would
    // repartitionByRange
    val withB = df.withColumn("__b", ntile(shards).over(Window.orderBy(order)))
    (1 to shards).foreach { i =>
      val f =
        if (i == 1) s"$dir/$name.parquet" else s"$dir/${name}_$i.parquet"
      withB.filter(col("__b") === i).drop("__b")
        .coalesce(1).write.mode("overwrite").parquet(f)
      val d = new java.io.File(f)
      (d +: Option(d.listFiles()).getOrElse(Array.empty).toSeq)
        .foreach(_.setLastModified(1700000000000L + i * 60000L))
      ()
    }
  }

  /** Stage every replay input of the scale at `sfDir` into `root/src`,
    * [[shards]] files per source; returns that dir. */
  def stage(s: SparkSession, sfDir: String, root: String): String = {
    val src = s"$root/src"
    shard(DimApp.envelopes(s, sfDir).unionByName(BaseDbApp.envelopes(s, sfDir)),
      get_json_object(col("envelope"), "$.ts").cast("long"),
      src, "envelopes")
    shard(BaseLogApp.logLines(s, sfDir),
      get_json_object(col("raw"), "$.ts").cast("long"), src, "logs")
    shard(s.read.parquet(s"$sfDir/events.parquet"), col("ts"),
      src, "events")
    shard(s.read.parquet(s"$sfDir/orders.parquet"), col("o_orderdate"),
      src, "orders")
    shard(s.read.parquet(s"$sfDir/lineitem.parquet"), col("l_shipdate"),
      src, "lineitem")
    // dim tables the province app reads from ITS source dir
    Seq("customer", "nation").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$src/$t.parquet"))
      ()
    }
    src
  }
}
