package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.EnvelopeOps

/** The reference's config-driven DWD dynamic-split app composed whole as
  * ONE streaming pipeline (DwdBaseDb.java:46-131 handler +
  * BaseDbTableProcessFunction.java:54-116 broadcast probe/prune +
  * FlinkSinkUtil.java:44-65 dynamic-topic Kafka sink):
  *
  *   multi-table CDC envelope stream (file stream ≈ topic_db)
  *     → P1 parse + drop `bootstrap-*` types   (DwdBaseDb.java:50-61)
  *     → J6 broadcast config probe on the (source_table, source_type)
  *       compound key (getKey = table + ":" + type,
  *       BaseDbTableProcessFunction.java:47-50) — the config itself is
  *       the replay of a Debezium op log (r/c/u/d, the exact
  *       processBroadcastElement state machine: last op per key wins, a
  *       trailing `d` removes the route, DwdBaseDb.java:74-105)
  *     → P9 sinkColumns pruning + `ts` stamped into the payload
  *       (deleteNotNeedColumns + dataJsonObj.put("ts"),
  *       BaseDbTableProcessFunction.java:71-80)
  *     → K2 dynamic routing: ONE partitioned append write routes every
  *       row by its `sink_table` column — Spark's native form of the
  *       per-record-topic Kafka sink.
  *
  * Scale notes: parse/probe/prune is a single map-side codegen span (the
  * config is broadcast, dozens of rows); the partitioned append shuffles
  * nothing — rows land in their route's directory on the executor that
  * produced them. At 100 TB the only knob is file sizing per route
  * (maxRecordsPerFile), not the plan shape.
  */
object BaseDbApp {

  /** table_process_dwd row (TableProcessDwd bean) plus the Debezium `op`
    * and a config-stream sequence — one entry of the broadcast-state op
    * log. */
  case class DwdConfigOp(op: String, source_table: String,
    source_type: String, sink_table: String, sink_columns: String, seq: Long)

  /** The config CDC stream: snapshot reads (r), inserts (c), an update
    * (u) that narrows favor's sinkColumns, and a delete (d) that retires
    * the cart route entirely — every branch of
    * processBroadcastElement (DwdBaseDb.java:98-105). */
  val configLog: Seq[DwdConfigOp] = Seq(
    DwdConfigOp("r", "favor_info", "insert", "dwd_interaction_favor_add",
      "id,user_id,sku_id,create_time", 1L),
    DwdConfigOp("r", "coupon_use", "insert", "dwd_tool_coupon_get",
      "id,coupon_id,using_time", 2L),
    DwdConfigOp("c", "coupon_use", "update", "dwd_tool_coupon_use",
      "id,coupon_id,used_time", 3L),
    DwdConfigOp("c", "cart_info", "insert", "dwd_trade_cart_add",
      "id,user_id,sku_num", 4L),
    DwdConfigOp("u", "favor_info", "insert", "dwd_interaction_favor_add",
      "id,user_id,sku_id", 5L),
    DwdConfigOp("d", "cart_info", "insert", "dwd_trade_cart_add",
      "id,user_id,sku_num", 6L))

  /** Effective broadcast state after replaying the op log: last op per
    * (source_table, source_type) wins; a final `d` removes the route. */
  def configSnapshot(s: SparkSession): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(col("source_table"), col("source_type"))
      .orderBy(col("seq").desc)
    configLog.toDF()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(col("source_table"), col("source_type"), col("sink_table"),
        col("sink_columns"))
  }

  /** Synthesized multi-table Maxwell envelope log over orders — the
    * topic_db stand-in: favor inserts (keys ≡0 mod 3, with an extra
    * is_cancel field the pruning must drop), coupon gets (≡1 mod 3),
    * coupon uses as updates (≡1 mod 6 — a subset slice with its own
    * type, exercising the compound probe key), unrouted order_info fact
    * rows (≡2 mod 3), and bootstrap-insert replays (≡0 mod 9) the ETL
    * must drop before the probe. */
  def envelopes(s: SparkSession, dir: String): DataFrame =
    SyntheticTopics.memoized("basedb_topic_db", s, dir)(
      envelopesUncached(s, dir))

  private def envelopesUncached(s: SparkSession, dir: String): DataFrame = {
    def env(table: String, typ: String, data: Column): Column =
      to_json(struct(lit("gmall2024").as("database"), lit(table).as("table"),
        lit(typ).as("type"), unix_timestamp(col("o_orderdate")).as("ts"),
        data.as("data"))).as("envelope")
    val o = Tables(s, dir, "orders")
    val dt = date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
    val favorData = map(
      lit("id"), col("o_orderkey").cast("string"),
      lit("user_id"), col("o_custkey").cast("string"),
      lit("sku_id"), pmod(col("o_orderkey"), lit(100)).cast("string"),
      lit("create_time"), dt,
      lit("is_cancel"), lit("0"))
    val couponGetData = map(
      lit("id"), col("o_orderkey").cast("string"),
      lit("coupon_id"), pmod(col("o_custkey"), lit(50)).cast("string"),
      lit("using_time"), dt)
    val couponUseData = map(
      lit("id"), col("o_orderkey").cast("string"),
      lit("coupon_id"), pmod(col("o_custkey"), lit(50)).cast("string"),
      lit("used_time"), dt)
    val orderData = map(lit("id"), col("o_orderkey").cast("string"),
      lit("total_amount"), col("o_totalprice").cast("string"))
    o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(env("favor_info", "insert", favorData))
      .union(o.filter(pmod(col("o_orderkey"), lit(3)) === 1)
        .select(env("coupon_use", "insert", couponGetData)))
      .union(o.filter(pmod(col("o_orderkey"), lit(6)) === 1)
        .select(env("coupon_use", "update", couponUseData)))
      .union(o.filter(pmod(col("o_orderkey"), lit(3)) === 2)
        .select(env("order_info", "insert", orderData)))
      .union(o.filter(pmod(col("o_orderkey"), lit(9)) === 0)
        .select(env("favor_info", "bootstrap-insert", favorData)))
  }

  /** The whole pipeline as one transform (runs identically over a batch
    * or a streaming envelope frame): parse → bootstrap drop → compound
    * broadcast probe → sinkColumns pruning → ts stamping. Output:
    * (sink_table, data) — the (topic, payload) pair of the dynamic sink. */
  def routed(s: SparkSession, envs: DataFrame): DataFrame =
    envs.select(from_json(col("envelope"), EnvelopeOps.odsDbSchema).as("e"))
      .filter(col("e.data").isNotNull &&
        !col("e.type").startsWith("bootstrap-"))
      .select(col("e.table").as("table"), col("e.type").as("type"),
        col("e.ts").as("ts"), col("e.data").as("data"))
      .join(broadcast(configSnapshot(s)),
        col("table") === col("source_table") &&
          col("type") === col("source_type"))
      .select(col("sink_table"),
        map_concat(
          map_filter(col("data"), (k, _) =>
            array_contains(split(col("sink_columns"), ","), k)),
          map(lit("ts"), col("ts").cast("string"))).as("data"))

  /** Streaming app: envelope stream from srcDir → one pipeline → one
    * partitioned append store routed by sink_table (the K2 dynamic-topic
    * sink as a partitioned write). */
  def run(s: SparkSession, srcDir: String, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = graft.Tables.parquet(s, s"$srcDir/envelopes.parquet").schema
    val src = StatefulStreams.reader(s, schema)
      .parquet(s"$srcDir/envelopes*.parquet")
    routed(s, src).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("sink_table")
          .parquet(storeDir)
      }
      .start()
  }

  /** Read the routed store back (sink_table is the partition column). */
  def store(s: SparkSession, storeDir: String): DataFrame =
    graft.Tables.parquet(s, storeDir)
}
