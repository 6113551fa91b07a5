package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.Fns

/** The reference's DWD log-split application composed whole as ONE
  * streaming pipeline (DwdBaseLog.java:60-318):
  *
  *   nested log-line stream (file stream ≈ topic_log)
  *     → P2 dirty side-output (parse failure routes the RAW line,
  *       DwdBaseLog.etl:88-118 — here `from_json` null = the catch block)
  *     → A9 is_new fix (keyed state per device mid with the reference's
  *       four rules, DwdBaseLog.fixedNewAndOld:121-188 — reusing
  *       [[StatefulStreams.fixIsNew]]'s rule core)
  *     → G1+G3 multi-way split with fan-out (err copy; start XOR page;
  *       one row per display / per action carrying the enclosing
  *       common+page+ts, DwdBaseLog.splitStream:192-295)
  *     → K2 per-route sinks (six parquet routes ≈ six Kafka topics,
  *       DwdBaseLog.writeToKafka:297-317), day-partitioned.
  *
  * The batch twin states the is_new state machine as window functions
  * (fixed = claimed ∧ first-claim-was-1 ∧ day = first day) and shares
  * the parse + split code; BaseLogAppSpec reconciles every route, and
  * the g5 oracle states the whole composed output in SQL.
  *
  * Scale notes: parse/split/fan-out are stateless map-side codegen; the
  * only stateful shuffle is the per-mid is_new state (key = device id,
  * the natural partitioning); route writes share one cached micro-batch
  * (six small scans of memory, not six source scans). */
object BaseLogApp {
  import Fns._

  val routeNames: Seq[String] = Seq("dirty", "err", "start", "page",
    "display", "action")

  // ---- log synthesis (the topic_log stand-in) ----------------------------

  /** Deterministic nested log lines from events: signup → start log,
    * others → page log (views carry a displays array, clicks an actions
    * array, errors an err object); claimed is_new flips wrongly on
    * event_id ≡ 0 mod 3; every 97th event is truncated (dirty). */
  def logLines(s: SparkSession, dir: String): DataFrame =
    SyntheticTopics.log(s, dir)

  private[streaming] def logLinesUncached(s: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables(s, dir, "events")
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    val common = struct(
      concat(lit("mid_"), pmod(col("user_id"), lit(40L))).as("mid"),
      when(pmod(col("event_id"), lit(3L)) =!= 0, "1").otherwise("0")
        .as("is_new"),
      col("event_type").as("ch"))
    val displays = when(col("event_type") === "view",
      transform(sequence(lit(0L), pmod(col("k"), lit(3L))),
        i => struct(i.as("pos_id"),
          concat(lit("item_"), pmod(col("k") + i, lit(7L))).as("item"))))
    val actions = when(col("event_type") === "click",
      transform(sequence(lit(0L), pmod(col("k"), lit(2L))),
        i => struct(concat(lit("act_"), pmod(col("k") + i, lit(5L)))
          .as("action_id"))))
    val err = when(col("event_type") === "error",
      struct(lit(42).as("error_code"), lit("boom").as("msg")))
    val start = when(col("event_type") === "signup",
      struct(lit("icon").as("entry")))
    val page = when(col("event_type") =!= "signup",
      struct(concat(lit("page_"), pmod(col("k"), lit(4L))).as("page_id")))
    val line = to_json(struct(common.as("common"), err.as("err"),
      start.as("start"), page.as("page"), displays.as("displays"),
      actions.as("actions"), nsToMs(col("ts")).as("ts")))
    e.withColumn("k", k)
      .select(when(pmod(col("event_id"), lit(97L)) === 0,
          substring(line, 1, 5)) // producer corruption → dirty route
        .otherwise(line).as("raw"),
        col("event_id"))
  }

  /** Explicit parse schema — never inference (fixed scan at 100 TB). */
  val logSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("is_new", StringType),
      StructField("ch", StringType)))),
    StructField("err", StructType(Seq(
      StructField("error_code", IntegerType), StructField("msg", StringType)))),
    StructField("start", StructType(Seq(StructField("entry", StringType)))),
    StructField("page", StructType(Seq(StructField("page_id", StringType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("pos_id", LongType), StructField("item", StringType))))),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("action_id", StringType))))),
    StructField("ts", LongType)))

  /** One parsed-and-flattened record per log line; dirty lines keep only
    * the raw payload (the side-output contract). */
  case class LogRec(dirty: Boolean, raw: String, mid: String, ts_ms: Long,
    event_id: Long, is_new: Int, ch: String, has_err: Boolean,
    has_start: Boolean, page_id: String, displays: Seq[String],
    actions: Seq[String])

  /** Parse + validity flatten (shared by stream and batch). */
  def parsed(df: DataFrame): Dataset[LogRec] = {
    import df.sparkSession.implicits._
    df.select(col("event_id"), col("raw"),
        from_json(col("raw"), logSchema).as("e"))
      .select(
        col("e.common").isNull.as("dirty"), col("raw"),
        coalesce(col("e.common.mid"), lit("")).as("mid"),
        coalesce(col("e.ts"), lit(0L)).as("ts_ms"),
        col("event_id"),
        coalesce(col("e.common.is_new").cast(IntegerType), lit(0))
          .as("is_new"),
        coalesce(col("e.common.ch"), lit("")).as("ch"),
        col("e.err").isNotNull.as("has_err"),
        col("e.start").isNotNull.as("has_start"),
        col("e.page.page_id").as("page_id"),
        coalesce(col("e.displays.item"),
          array().cast(ArrayType(StringType))).as("displays"),
        coalesce(col("e.actions.action_id"),
          array().cast(ArrayType(StringType))).as("actions"))
      .as[LogRec]
  }

  /** The fixedNewAndOld state machine over whole log records — the same
    * four rules as [[StatefulStreams.fixIsNew]], keyed by device mid;
    * dirty records pass through untouched (state unharmed). */
  private[graft] def fixGroup(mid: String, recs: Iterator[LogRec],
      state: org.apache.spark.sql.streaming.GroupState[String])
      : Iterator[LogRec] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    def dayOf(ms: Long) = fmt.format(java.time.Instant.ofEpochMilli(ms))
    recs.toSeq.sortBy(r => (r.ts_ms, r.event_id)).iterator.map { r =>
      if (r.dirty) r
      else {
        val day = dayOf(r.ts_ms)
        val fixed = if (r.is_new == 1) {
          state.getOption match {
            case None => state.update(day); 1
            case Some(d) if d == day => 1
            case Some(_) => 0
          }
        } else {
          if (!state.exists) state.update(dayOf(r.ts_ms - 86400000L))
          0
        }
        r.copy(is_new = fixed)
      }
    }
  }

  def fixStream(recs: Dataset[LogRec]): Dataset[LogRec] = {
    import recs.sparkSession.implicits._
    recs.groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fixGroup)
  }

  /** Batch twin of the state machine: fixed = claimed ∧ the mid's first
    * record (by ts, event_id) claimed 1 ∧ same day as that first record.
    * Single scan: dirty records parse to mid = "" (no clean record can
    * have it), so they sit in their own window partition and pass
    * through untouched — no second scan of the parse lineage. */
  def fixBatch(recs: Dataset[LogRec]): Dataset[LogRec] = {
    import recs.sparkSession.implicits._
    val w = Window.partitionBy(col("mid"))
      .orderBy(col("ts_ms"), col("event_id"))
    val day = date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd")
    recs.toDF()
      // both firsts in ONE projection → one Window node, one pass
      .select(col("*"), first(col("is_new")).over(w).as("first_claim"),
        first(day).over(w).as("first_day"))
      .withColumn("is_new",
        when(col("dirty"), col("is_new"))
          .otherwise(when(col("is_new") === 1 && col("first_claim") === 1 &&
            day === col("first_day"), 1).otherwise(0)))
      .drop("first_claim", "first_day")
      .as[LogRec]
  }

  /** The splitStream routes over fixed records (shared stream/batch):
    * err is a copy route; start and page are exclusive; displays and
    * actions fan out one row per element with the enclosing fields. */
  def route(fixed: DataFrame, name: String): DataFrame = {
    val day = date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd")
    val clean = fixed.filter(!col("dirty"))
    val base = Seq(col("mid"), col("ch"), col("is_new"), col("ts_ms"),
      col("event_id"), day.as("cur_date"))
    name match {
      case "dirty" => fixed.filter(col("dirty")).select(col("raw"))
      case "err" => clean.filter(col("has_err"))
        .select(base :+ lit("boom").as("msg"): _*)
      case "start" => clean.filter(col("has_start"))
        .select(base :+ lit("icon").as("entry"): _*)
      case "page" => clean.filter(!col("has_start"))
        .select(base :+ col("page_id"): _*)
      case "display" => clean.filter(!col("has_start"))
        .select(base :+ col("page_id") :+ explode(col("displays")).as("item"): _*)
      case "action" => clean.filter(!col("has_start"))
        .select(base :+ col("page_id") :+ explode(col("actions")).as("action_id"): _*)
    }
  }

  /** Streaming app: log stream → dirty split → keyed is_new fix → six
    * day-partitioned route sinks from one cached micro-batch. */
  def run(s: SparkSession, srcDir: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = graft.Tables.parquet(s, s"$srcDir/logs.parquet").schema
    val src = StatefulStreams.reader(s, schema)
      .parquet(s"$srcDir/logs*.parquet")
    fixStream(parsed(src)).toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try routeNames.foreach { r =>
          val df = route(batch, r)
          val writer = df.write.mode("append")
          (if (r == "dirty") writer else writer.partitionBy("cur_date"))
            .parquet(s"$outDir/$r")
        } finally { batch.unpersist(); () }
      }
      .start()
  }

  /** Batch twin of one route over the same synthesized log. */
  def batchRoute(s: SparkSession, dir: String, name: String): DataFrame =
    route(fixBatch(parsed(logLines(s, dir))).toDF(), name)

  /** The DWD→DWS chaining contract (the reference's layered topology:
    * DwdBaseLog writes topic_dwd_traffic_page, DwsTrafficVcChArIsNew
    * PageViewWindow.java:48-60 consumes it): the page-route STORE written
    * by [[run]] is itself a streaming source for the downstream
    * (ch, is_new) 10 s page-view window — watermarked tumble over the
    * route's own ts_ms, exactly the A2 bean-window shape. */
  def pageViewWindow(s: SparkSession, pageDir: String): DataFrame = {
    val schema = graft.Tables.parquet(s, pageDir).schema
    val src = s.readStream.schema(schema)
      .option("basePath", pageDir).parquet(s"$pageDir/*")
    pageViewAgg(src)
  }

  /** Shared downstream aggregation (stream or batch page-route input). */
  def pageViewAgg(page: DataFrame): DataFrame =
    page
      .withColumn("et", timestamp_millis(col("ts_ms")))
      .withWatermark("et", "3 seconds")
      .groupBy(window(col("et"), "10 seconds"), col("ch"), col("is_new"))
      .agg(count(lit(1)).as("pv_ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("window.end").as("edt"), col("ch"), col("is_new"),
        col("pv_ct"))
}
