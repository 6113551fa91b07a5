package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns

/** SURVEY §7.3's minimum end-to-end slice, composed as ONE streaming
  * application (the trade-side sibling of [[KeywordApp]]):
  *
  *   order facts (file stream ≈ dwd_trade_order_detail topic)
  *     → A7 dedup   (`dropDuplicates` on the order key under watermark —
  *                   the upsert-topic consumer contract, so the later
  *                   count(*) IS an exact distinct-order count)
  *     → J4/J5      (stream-static broadcast join to the customer→nation
  *                   dim, re-read each micro-batch = lookup "as of now")
  *     → W2/W3+A3/A4 (watermarked 7-day tumble; DECIMAL revenue sum)
  *     → A2 finisher (stt/edt/cur_date stamping)
  *     → K4         (append-mode day-partitioned parquet store)
  *     → A10        (serving read with partition pruning — asserted in
  *                   the spec)
  *
  * The batch twin runs the identical transform under spark.read;
  * ProvinceOrderApp's spec reconciles the two on watermark-closed
  * windows, the same contract the reference's Doris tables satisfy. */
object ProvinceOrderApp {
  import Fns._

  /** orders parquet as a bounded stream. */
  def orderStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.parquet(s, s"$dir/orders.parquet").schema
    StatefulStreams.reader(s, schema).parquet(s"$dir/orders*.parquet")
  }

  /** Shared transform chain (stream or batch `orders` input). */
  def transform(s: SparkSession, orders: DataFrame, dir: String): DataFrame = {
    val dim = Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("province_name"))
    orders
      .withColumn("et", to_timestamp(col("o_orderdate")))
      .withWatermark("et", "1 day")
      .dropDuplicates("o_orderkey")
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .groupBy(window(col("et"), "7 days"), col("province_name"))
      .agg(count(lit(1)).as("order_ct"),
        sum(money(col("o_totalprice"))).cast("double").as("order_amount"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        substring(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"),
          1, 10).as("cur_date"),
        col("province_name"), col("order_ct"), col("order_amount"))
  }

  /** Streaming app: source → transform → day-partitioned parquet store. */
  def run(s: SparkSession, dir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    transform(s, orderStream(s, dir), dir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .partitionBy("cur_date")
      .format("parquet")
      .option("path", outDir)
      .start()

  /** A10 serving read over the store: one pruned day partition. */
  def gmvOfDay(s: SparkSession, outDir: String, day: String): DataFrame =
    graft.Tables.parquet(s, outDir)
      .filter(col("cur_date") === day)
      .groupBy(col("province_name"))
      .agg(sum(col("order_amount")).as("order_amount"),
        sum(col("order_ct")).as("order_ct"))
}
