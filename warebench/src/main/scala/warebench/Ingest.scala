package warebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.Decimal

import graft.functions.Fns
import graft.operators.{PublisherServer, ServingApi}
import graft.streaming._

/** `ingest`: writes beside reads. Four apps of the twelve-app topology
  * of `graft.StreamBench.runTopology` (all twelve make one shard take
  * about ten seconds on four cores, more than a run's budget allows),
  * plus a maintainer stream (the `foreachBatch` CDC loop of the
  * publisher specs): it lands each orders slice in the navigated
  * publisher's fact table, probes `/gmv` while the summary is stale,
  * and refreshes the touched day with `AggRewrite.refreshPartitions`.
  *
  * Inputs: every source is cut into [[chunks]] event-time-ordered
  * chunks; the seed picks one of eight replay starts. Everything before
  * it is the publisher's base, the chunk just before it is the apps'
  * initial input, the next [[warmShards]] chunks are untimed warm-up,
  * and each later chunk is one timed shard. Exactly one shard is in
  * flight. One op is one shard: it starts when the shard lands in the
  * source directory and ends when every query has committed it (read
  * from [[StreamingQueryListener]] progress) and a `/gmv` probe for its
  * day returns the exact cumulative day total that the benchmark
  * computed from its own chunks: event-to-answer latency. */
object Ingest {
  val chunks = 200
  /** Shards staged per run; more than a run lands. */
  val shards = 16
  /** Untimed shards after the initial chunk. The first shard after it
    * runs 40 to 60 % slower than later ones (JIT of the per-shard paths:
    * maintenance, refresh, probes); later shards show no trend. */
  val warmShards = 1
  /** Timed ops per run at least, even when they outlast `--seconds`. */
  val minOps = 6
  /** Event days replayed (of the 30 in sf0.1). [[chunks]] is a multiple
    * of it and of [[Facts.orderDays]], so every chunk lies in one order
    * day and one event day, and every shard costs the same whatever the
    * seed. */
  val eventDays = 5
  /** The file sources poll for new files this often when idle. With the
    * engine default (10 ms) the idle queries list their source
    * directories hundreds of times a second between shards. */
  val pollingDelay = "250ms"

  private val sources = Seq("events", "orders", "lineitem")

  /** Replay starts a seed picks from: the first chunk it times or warms
    * with, so that the chunk before it is the initial input and all
    * chunks before that the publisher's base. Each start's base is
    * written once per build. */
  val starts: Seq[Int] = (0 until 8).map(i => chunks / 4 + 16 * i)

  private final case class Progress(query: UUID, offset: Long,
      rows: Long, startMs: Double, durations: Map[String, Double],
      stateRows: Long, stateBytes: Long)

  /** A shard's probes: the day, and the expected envelopes. */
  private final case class Probe(day: String, gmv: String, eventDay: String,
      province: String, ch: String)

  private def source(s: SparkSession, sf: String, name: String)
      : (DataFrame, Column) = name match {
    case "events" => (s.read.parquet(s"$sf/events.parquet"), col("ts"))
    case "orders" => (s.read.parquet(s"$sf/orders.parquet"), col("o_orderdate"))
    case "lineitem" => (s.read.parquet(s"$sf/lineitem.parquet"), col("l_shipdate"))
  }

  /** Chunk number 1..[[chunks]] by event time; ties broken by a hash of
    * the whole row, so a seed always yields the same chunks. */
  private def chunked(df: DataFrame, order: Column): DataFrame =
    df.withColumn("__c", ntile(chunks).over(
      Window.orderBy(order, xxhash64(df.columns.toIndexedSeq.map(col): _*))))

  /** As [[chunked]], but each day gets an equal share of the chunks, so
    * that no chunk spans two days. */
  private def chunkedByDay(df: DataFrame, day: Column, order: Column)
      : DataFrame = {
    val days = df.select(day).distinct().count().toInt
    require(chunks % days == 0, s"$chunks chunks over $days days")
    val d = df.withColumn("__d", day)
    d.withColumn("__c", (dense_rank().over(Window.orderBy(col("__d"))) - 1) *
      (chunks / days) + ntile(chunks / days).over(Window.partitionBy(col("__d"))
        .orderBy(order, xxhash64(df.columns.toIndexedSeq.map(col): _*))))
      .drop("__d")
  }

  /** Build the chunked sources into `ctx.cacheDir`, once per build of
    * the benchmark (they do not depend on the seed; `run.py` calls this
    * right after compiling, and runs only read it):
    * `<source>/__c=<chunk>/` holds one parquet file per chunk,
    * `flat/<source>.parquet` the orders and events with their chunk
    * column, `base/<start>/` the publisher's orders and events for each
    * of the [[starts]], the truth partials, and `facts/` the fixed sf0.1
    * windows they were cut from (orders of [[Facts.orderDays]] days with
    * their lineitems, [[eventDays]] event days, and the dims the apps
    * join). */
  def generate(s: SparkSession, ctx: Ctx): Unit = {
    val dir = Paths.get(ctx.cacheDir)
    val tmp = Paths.get(s"$dir.tmp")
    Fs.deleteTree(tmp)
    val facts = tmp.resolve("facts").toString
    Facts.stage(s, ctx.sfDir, facts, new Random(0), eventDays,
      copies = Seq("lineitem", "customer", "nation", "part"))
    sources.foreach { n =>
      val (df, order) = source(s, facts, n)
      val c = (n match {
        case "orders" => chunkedByDay(df, RawTruth.orderDay, order)
        case "events" => chunkedByDay(df, RawTruth.eventDayOf(df), order)
        case _ => chunked(df, order)
      }).persist()
      c.repartition(col("__c")).write.partitionBy("__c").parquet(s"$tmp/$n")
      if (n == "orders" || n == "events")
        c.coalesce(1).write.parquet(s"$tmp/flat/$n.parquet")
      c.unpersist()
    }
    starts.foreach { f =>
      Seq("orders", "events").foreach { n =>
        s.read.parquet(s"$tmp/flat/$n.parquet").filter(col("__c") < f - 1)
          .drop("__c").coalesce(1).write.parquet(s"$tmp/base/$f/$n.parquet")
      }
    }
    partials(s, tmp.toString, facts)
    Fs.deleteTree(dir)
    Files.move(tmp, dir)
    Files.createFile(dir.resolve("_DONE"))
  }

  /** Per-chunk partial answers, from which a run computes its expected
    * envelopes without a Spark job: `truth_gmv.tsv` (order day, chunk,
    * order amount), `truth_province.tsv` (order day, chunk, nation,
    * order amount) and `truth_users.tsv` (event day, chunk, channel,
    * user). Amounts are DECIMAL sums, as in the serving queries. */
  private def partials(s: SparkSession, dir: String, facts: String): Unit = {
    def tsv(name: String, df: DataFrame): Unit =
      Files.write(Paths.get(dir, name), df.collect().toSeq
        .map(_.toSeq.mkString("\t")).sorted.asJava)
    val orders = s.read.parquet(s"$dir/flat/orders.parquet")
      .withColumn("d", RawTruth.orderDay)
    val money = Fns.money(col("o_totalprice"))
    tsv("truth_gmv.tsv",
      orders.groupBy(col("d"), col("__c")).agg(sum(money)))
    tsv("truth_province.tsv", orders
      .join(graft.Tables(s, facts, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables(s, facts, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("d"), col("__c"), col("n_name")).agg(sum(money)))
    val events = s.read.parquet(s"$dir/flat/events.parquet")
    tsv("truth_users.tsv", events
      .select(RawTruth.eventDayOf(events), col("__c"), col("event_type"),
        col("user_id")).distinct())
  }

  def run(ctx: Ctx, s: SparkSession, trace: Trace): Outcome = {
    val g0 = System.nanoTime()
    s.conf.set("graft.stream.maxFilesPerTrigger", "1")
    s.conf.set("spark.sql.streaming.pollingDelay", pollingDelay)
    val cache = ctx.cacheDir
    require(Files.exists(Paths.get(cache, "_DONE")), s"no chunk cache in $cache")
    val src = ctx.dir("src")
    val stage = ctx.dir("stage")
    val pub = ctx.dir("pub")
    val rnd = new Random(ctx.seed)
    val first = starts(rnd.nextInt(starts.size))
    val last = first + shards - 1
    def chunkDir(n: String, c: Int) = Paths.get(cache, n, s"__c=$c")
    sources.foreach { n =>
      Fs.copyTree(chunkDir(n, first - 1), Paths.get(src, s"$n.parquet"))
      (first to last).foreach(c =>
        Fs.copyTree(chunkDir(n, c), Paths.get(stage, n, s"__c=$c")))
    }
    // the initial chunk reaches the publisher through the maintainer
    Seq("orders", "events").foreach { n =>
      Fs.copyTree(Paths.get(cache, "base", first.toString, s"$n.parquet"),
        Paths.get(pub, s"$n.parquet"))
    }
    Seq("customer", "nation").foreach { t =>
      Seq(src, pub).foreach(d => Fs.copyTree(Paths.get(cache, "facts", s"$t.parquet"),
        Paths.get(d, s"$t.parquet")))
    }
    val genS = (System.nanoTime() - g0) / 1e9
    Log(s"shards staged in ${Fs.fmt(genS)} s")

    // ---- set-up: apps, summaries, truth, publisher, maintainer --------
    val progress = new ConcurrentLinkedQueue[Progress]()
    val committed = new java.util.concurrent.ConcurrentHashMap[UUID, Long]()
    val lock = new Object
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        lock.synchronized(lock.notifyAll())
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val off = p.sources.headOption.flatMap(x =>
          "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(
            String.valueOf(x.endOffset)).map(_.group(1).toLong)).getOrElse(-1L)
        progress.add(Progress(p.id, off, p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
        committed.merge(p.id, off, (a, b) => math.max(a, b))
        lock.synchronized(lock.notifyAll())
      }
    }
    s.streams.addListener(listener)

    val stale = new ConcurrentLinkedQueue[(Long, Double, String)]()
    val refreshes = new ConcurrentLinkedQueue[(Long, Long, Long, Int)]()
    val queries = mutable.LinkedHashMap.empty[String, StreamingQuery]
    var publisher = Option.empty[PublisherServer.Publisher]
    try {
      // the apps need no publisher: their initial batch runs while the
      // publisher's summaries build
      apps(ctx, s, src, cache).foreach { case (n, start) => queries(n) = start() }
      val sumRoot = ctx.dir("summaries")
      ServingApi.buildNavSummaries(s, pub, sumRoot)
      Log("summaries built")
      val probes = truth(ctx, first, rnd)
      val server = PublisherServer.startNavigated(s, pub, 0)
      publisher = Some(server)
      val client = new Client(server.port)
      queries("maint_orders") =
        maintainer(ctx, s, src, pub, client, stale, refreshes)
      val names = queries.map { case (n, q) => q.id -> n }.toMap

      /** Wait until every query committed shard `j` (0 = the initial
        * chunk); false when a query stopped or 60 s passed. */
      def await(j: Int): Boolean = {
        def done = queries.values.forall(q =>
          committed.getOrDefault(q.id, -1L) >= j)
        val deadline = System.nanoTime() + 60000000000L
        lock.synchronized {
          while (!done && System.nanoTime() < deadline &&
            queries.values.forall(_.isActive)) lock.wait(50)
        }
        if (!done) Log(s"shard $j not committed by: " + queries.collect {
          case (n, q) if committed.getOrDefault(q.id, -1L) < j =>
            s"$n(${committed.getOrDefault(q.id, -1L)},active=${q.isActive}," +
              s"${Option(q.exception.orNull).map(_.getMessage.take(300))})"
        }.mkString(" "))
        done
      }
      def landAndWait(j: Int): Boolean = {
        sources.foreach { n =>
          Files.move(Paths.get(stage, n, s"__c=${first + j - 1}"),
            Paths.get(src, f"${n}_$j%04d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
        }
        await(j)
      }

      // the initial chunk is every query's untimed first batch (the
      // maintainer lands it too); then the warm shards. JIT, codegen and
      // state-store start-up fall in set-up
      require(await(0), "initial chunk not committed")
      Log("initial chunk committed")

      val extra = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val freshMs = mutable.Map.empty[Int, Double]
      var errors = 0
      def check(j: Int, k: String, path: String, want: String,
          keep: Boolean): Boolean =
        try {
          val ((code, body), raw, steal) = Cpu.timed(client.get(path))
          if (keep) {
            extra.getOrElseUpdate(k, mutable.ArrayBuffer.empty) +=
              raw * (1 - steal)
            if (k == "gmv") freshMs.getOrElseUpdate(j, raw)
          }
          if (code != 200) errors += 1
          code == 200 && body == want
        } catch { case NonFatal(_) => errors += 1; false }
      def staleOk(j: Int): Boolean =
        stale.asScala.find(_._1 == j).exists(_._3 == probes(j).gmv)
      /** One of each dashboard answer after shard `j`, outside any op. */
      def dashboard(j: Int, keep: Boolean): Boolean = {
        val p = probes(j)
        check(j, "gmv", s"/gmv?date=${p.day}", p.gmv, keep) &
          check(j, "province", s"/province?date=${p.day}", p.province, keep) &
          check(j, "ch", s"/ch?date=${p.eventDay}", p.ch, keep)
      }
      val warmOk = (1 to warmShards).forall { j =>
        landAndWait(j) && staleOk(j) &&
          (j < warmShards || dashboard(j, keep = false))
      }
      Log(s"warm shards done ok=$warmOk")

      val probe = Option.when(trace.on)(new SparkProbe(s, sumRoot))
      val cpu0 = Cpu.now
      val t0 = System.nanoTime()
      val deadline = t0 + ctx.seconds * 1000000000L
      val ops = mutable.ArrayBuffer.empty[Op]
      val land = mutable.Map.empty[Int, Double]
      var j = warmShards + 1
      var alive = warmOk
      while (alive && j <= shards && Jvm.timeLeft &&
          (System.nanoTime() < deadline || ops.size < minOps)) {
        val p = probes(j)
        val c = Cpu.now
        val a = System.nanoTime()
        land(j) = Clock.ms(a)
        val committed = landAndWait(j)
        val fresh = committed &&
          check(j, "gmv", s"/gmv?date=${p.day}", p.gmv, keep = true)
        val b = System.nanoTime()
        val steal = Cpu.stolen(c, Cpu.now)
        alive = queries.values.forall(_.isActive)
        // traced runs read every dashboard answer after every shard, for
        // the per-endpoint medians; untraced runs once, after the window
        val more = !trace.on || committed && dashboard(j, keep = true)
        val ok = fresh && staleOk(j) && more
        ops += Op(j.toLong, "shard", a, b, ok, committed && !ok, steal)
        Log(f"shard $j ${(b - a) / 1e6}%.0f ms ok=$ok")
        j += 1
      }
      val t1 = System.nanoTime()
      val cpu1 = Cpu.now
      val finalOk = trace.on || !alive || dashboard(j - 1, keep = true)
      val staleMs = stale.asScala.filter(x => x._1 > warmShards && x._1 < j)
        .map(_._2).toSeq

      val layers = probe.fold(Map.empty[String, Double]) { pr =>
        try tracedLayers(ops.toSeq, land.toMap, names, progress.asScala.toSeq,
          refreshes.asScala.toSeq, pr, trace)
        finally pr.stop()
      } ++ Option.when(trace.on)(direct(s, pub, probes, freshMs.toMap, trace) +
        ("operators.publisher.errors" -> errors.toDouble)).getOrElse(Map.empty)
      Outcome(ops.toSeq, t0, t1, cpu0, cpu1, genS,
        samples = extra.map { case (k, v) => k -> v.toSeq }.toMap +
          ("stale" -> staleMs),
        layers = layers,
        diag = Map("replay_first_chunk" -> first.toString,
          "shards_landed" -> (j - 1).toString) ++
          Option.when(!warmOk)("check_failed" -> "warm shards") ++
          Option.when(!finalOk)("check_failed" -> "dashboard after window"))
    } finally {
      queries.values.foreach(q => try q.stop() catch { case NonFatal(_) => })
      s.streams.removeListener(listener)
      publisher.foreach(_.stop())
    }
  }

  /** Four of the twelve apps, wired as `graft.StreamBench.runTopology`
    * wires them: the two DWS order apps with the largest state, an
    * event-time window and a stateful per-user flag stream. Each starts
    * when its thunk is called. */
  private def apps(ctx: Ctx, s: SparkSession, src: String, cache: String)
      : Seq[(String, () => StreamingQuery)] = {
    def out(n: String) = ctx.dir(s"store/$n")
    def ck(n: String) = ctx.dir(s"ckpt/$n")
    def noop(df: DataFrame, n: String): StreamingQuery =
      df.writeStream.option("checkpointLocation", ck(n))
        .outputMode("append").format("noop").start()
    Seq(
      "province_order" -> (() =>
        ProvinceOrderApp.run(s, src, out("province"), ck("province"))),
      "sku_order" -> (() =>
        SkuOrderApp.run(s, src, s"$cache/facts", out("sku"), ck("sku"))),
      "channel" -> (() =>
        noop(StatefulStreams.windowedCounts(s, src), "channel")),
      "user_login" -> (() => noop(UserLoginApp.windowSums(
        UserLoginApp.flagStream(UserLoginApp.logins(
          StatefulStreams.eventStream(s, src))).toDF()), "user_login")))
  }

  /** The maintainer: lands each orders slice in the publisher's fact
    * table, probes `/gmv` for the touched day while its summary is stale,
    * then refreshes that day. */
  private def maintainer(ctx: Ctx, s: SparkSession, src: String,
      pub: String, client: Client,
      stale: ConcurrentLinkedQueue[(Long, Double, String)],
      refreshes: ConcurrentLinkedQueue[(Long, Long, Long, Int)])
      : StreamingQuery = {
    val schema = s.read.parquet(s"$src/orders.parquet").schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$src/orders*.parquet")
      .writeStream.option("checkpointLocation", ctx.dir("ckpt/maint_orders"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        locally {
          b.persist()
          try {
            b.write.mode("append").parquet(s"$pub/orders.parquet")
            val touched = b.select(RawTruth.orderDay).distinct().collect()
              .map(_.getString(0)).toSeq.sorted
            val ((_, body), raw, steal) =
              Cpu.timed(client.get(s"/gmv?date=${touched.head}"))
            stale.add((id, raw * (1 - steal), body))
            val r0 = System.nanoTime()
            graft.plans.AggRewrite.refreshPartitions(s, s"pub_orders@$pub",
              graft.Tables(s, pub, "orders"), touched)
            refreshes.add((id, r0, System.nanoTime(), touched.size))
          } finally { b.unpersist(); () }
        }
        ()
      }
      .start()
  }

  /** Expected answers for every shard, from the per-chunk partials:
    * `/gmv` and `/province` the cumulative day totals (base plus every
    * shard up to and including this one), `/ch` the publisher's events
    * base (chunks before `first - 1`, which no maintainer extends),
    * rendered as the publisher's envelopes. Sums stay DECIMAL until the
    * final cast, as in the serving queries. */
  private def truth(ctx: Ctx, first: Int, rnd: Random): Map[Int, Probe] = {
    def read(f: String) = Files.readAllLines(Paths.get(ctx.cacheDir, f))
      .asScala.toSeq.map(_.split("\t"))
    val gmvParts = read("truth_gmv.tsv").map(a =>
      (a(0), a(1).toInt, new java.math.BigDecimal(a(2))))
    val provParts = read("truth_province.tsv").map(a =>
      (a(0), a(1).toInt, a(2), new java.math.BigDecimal(a(3))))
    val users = read("truth_users.tsv").map(a =>
      (a(0), a(1).toInt, a(2), a(3).toLong)).filter(_._2 < first - 1)
    // chunks never span days: each shard has exactly one order day
    val dayOf = gmvParts.map(x => x._2 -> x._1).toMap
    val evDays = users.map(_._1).distinct.sorted

    def dbl(xs: Iterable[java.math.BigDecimal]): Double =
      Decimal(xs.foldLeft(java.math.BigDecimal.ZERO)(_ add _)).toDouble
    val uv = evDays.map { e =>
      e -> Envelope.ch(users.collect { case (`e`, _, ch, u) => ch -> u }
        .distinct.groupBy(_._1).map { case (ch, us) => ch -> us.size.toLong }
        .toSeq, 10)
    }.toMap
    (1 to shards).map { j =>
      val c = first + j - 1
      val d = dayOf(c)
      val e = evDays(rnd.nextInt(evDays.size))
      val gmv = Envelope.gmv(dbl(gmvParts.collect {
        case (`d`, k, v) if k <= c => v }))
      val prov = provParts.collect { case (`d`, k, n, v) if k <= c => n -> v }
        .groupBy(_._1).map { case (n, vs) => n -> dbl(vs.map(_._2)) }.toSeq
      j -> Probe(d, gmv, e, Envelope.province(prov), uv(e))
    }.toMap
  }

  /** Traced runs replay each timed shard's fresh `/gmv` probe as a
    * direct [[ServingApi.navGmv]] call after the window: DataFrame build
    * (navigation) and execution. The HTTP shell's own cost is the probe's
    * HTTP time minus the direct time. */
  private def direct(s: SparkSession, pub: String, probes: Map[Int, Probe],
      freshMs: Map[Int, Double], trace: Trace): Map[String, Double] = {
    val runs = freshMs.toSeq.sortBy(_._1).map { case (j, http) =>
      val t0 = System.nanoTime()
      val df = ServingApi.navGmv(s, pub, probes(j).day)
      val t1 = System.nanoTime()
      df.collect()
      val t2 = System.nanoTime()
      val id = trace.add(0, j, "ingest.direct_gmv", Clock.ms(t0), Clock.ms(t2))
      trace.add(id, j, "plans.navigate", Clock.ms(t0), Clock.ms(t1))
      ((t1 - t0) / 1e6, http - (t2 - t0) / 1e6)
    }
    Map("plans.navigate_ms" -> Stats.median(runs.map(_._1)),
      "operators.publisher.shell_ms" -> Stats.median(runs.map(_._2)))
      .map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }

  /** Per-layer metrics of the traced run. Streaming phases come from
    * each query's progress for the batch that committed the shard. */
  private def tracedLayers(ops: Seq[Op], land: Map[Int, Double],
      names: Map[UUID, String], progress: Seq[Progress],
      refreshes: Seq[(Long, Long, Long, Int)], probe: SparkProbe,
      trace: Trace): Map[String, Double] = {
    val spanOf = ops.map(o => o.id -> trace.add(0, o.id, "ingest.shard",
      Clock.ms(o.startNs), Clock.ms(o.endNs))).toMap
    val timed = ops.map(_.id.toInt).toSet
    val data = progress.filter(p => timed(p.offset.toInt) && p.rows > 0)
    val perShard = data.groupBy(_.offset.toInt)
    data.foreach { p =>
      trace.add(spanOf(p.offset), p.offset,
        s"streaming.${names.getOrElse(p.query, "?")}.batch", p.startMs,
        p.startMs + p.durations.getOrElse("triggerExecution", 0.0))
    }
    val ref = refreshes.filter(r => timed(r._1.toInt))
    ref.foreach(r => trace.add(spanOf(r._1), r._1, "plans.refresh",
      Clock.ms(r._2), Clock.ms(r._3)))
    val windows = ops.map(o => (o.id, Clock.ms(o.startNs), Clock.ms(o.endNs)))
    val byOp = SparkProbe.attribute(windows, probe.execs())
    SparkProbe.spans(trace, byOp, spanOf)

    val phases = Seq("latestOffset", "getBatch", "queryPlanning",
      "addBatch", "walCommit", "commitOffsets").map { ph =>
      s"streaming.${ph}_ms" -> Stats.median(perShard.values.map(
        _.map(_.durations.getOrElse(ph, 0.0)).sum).toSeq)
    }
    val apps = names.values.map { n =>
      s"streaming.$n.batch_ms" -> Stats.median(data
        .filter(p => names.get(p.query).contains(n))
        .map(_.durations.getOrElse("triggerExecution", 0.0)))
    }
    val lastState = progress.groupBy(_.query).map { case (q, ps) =>
      names.getOrElse(q, "?") -> ps.maxBy(_.offset) }
    def stateMb(n: String) =
      lastState.get(n).map(_.stateBytes / 1048576.0).getOrElse(0.0)
    (probe.layers(ops.size, byOp) ++ phases ++ apps ++ Map(
      "streaming.pickup_ms" -> Stats.median(perShard.toSeq.map { case (j, ps) =>
        ps.map(_.startMs).min - land(j) }),
      "streaming.commit_ms" -> Stats.median(perShard.toSeq.map { case (j, ps) =>
        ps.map(p => p.startMs + p.durations.getOrElse("triggerExecution", 0.0))
          .max - land(j) }),
      "streaming.state_rows" -> lastState.values.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastState.values.map(_.stateBytes).sum / 1048576.0,
      "streaming.sku_order.state_mb" -> stateMb("sku_order"),
      "streaming.province_order.state_mb" -> stateMb("province_order"),
      "plans.refresh_ms" -> Stats.median(ref.map(r => (r._3 - r._2) / 1e6)),
      "plans.refresh_days" -> Stats.mean(ref.map(_._4.toDouble)),
      "plans.navigated_ratio" -> {
        val serving = byOp.values.flatten.filter(_.scans > 0)
        serving.count(_.summaryScans > 0).toDouble / math.max(1, serving.size)
      })).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }
}
