package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fns

/** The reference's largest DWS application, composed whole as ONE
  * streaming program (DwsTradeSkuOrderWindow.java:122-621: kafka order
  * detail → null-filter + keyed dedup → watermark → sku-window BigDecimal
  * reduce → 6-step async dim cascade sku→spu→tm→c3→c2→c1 → Doris sink):
  *
  *   lineitem detail stream (file stream ≈ dwd_trade_order_detail topic)
  *     → A7 dedup     (`dropDuplicates` on the detail id under watermark;
  *                     the upstream topic is per-key ordered with the
  *                     retained op first, so first-seen is the winner —
  *                     the batch twin states the same winner as a
  *                     deterministic rn=1 total order, k5 semantics)
  *     → W2/W3 + A3   (watermarked 7-day tumble; DECIMAL(18,2) sums of
  *                     the four amounts — original, activity reduce,
  *                     coupon reduce, order — exactly the TradeSkuOrder
  *                     Bean reduce, DwsTradeSkuOrderWindow.java:277-302)
  *     → J5           (the dim cascade as chained broadcast hash joins on
  *                     derived dims: part → trademark → category3 →
  *                     category2/1 — each step keyed by the previous
  *                     step's output, replacing DimAsyncFunction's
  *                     Redis/HBase hops, DwsTradeSkuOrderWindow.java:
  *                     480-619, with zero external state)
  *     → K4           (append-mode day-partitioned parquet store)
  *
  * The batch twin runs the identical aggregate+enrich chain under
  * spark.read with the deterministic dedup; SkuOrderAppSpec reconciles
  * the two on watermark-closed windows and the a17 oracle states the
  * composed output end to end in SQL.
  *
  * Scale notes: dedup and window agg shuffle once each on (detail id) and
  * (window, sku); every dim is bounded (|part| distinct projections) so
  * the whole cascade is map-side broadcast work after the single agg
  * shuffle; the sink partitions by cur_date so serving reads prune. */
object SkuOrderApp {
  import Fns._

  /** Deterministic batch dedup — last op per detail id under the same
    * payload total order k5 uses (testdata carries duplicate
    * (l_orderkey, l_linenumber) pairs with differing payloads). */
  def dedupBatch(detail: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_returnflag").desc, col("l_extendedprice").desc,
        col("l_partkey").desc, col("l_suppkey").desc, col("l_quantity").desc)
    detail.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Event-time column: l_shipdate is TIMESTAMP_NTZ from parquet and
    * watermarks require a zoned TIMESTAMP — the UTC session makes the
    * cast a pure relabel, epoch-identical to the oracle's
    * epoch_us(l_shipdate). */
  def withEventTime(detail: DataFrame): DataFrame =
    detail.withColumn("et", col("l_shipdate").cast("timestamp"))

  /** Shared window-aggregate + dim-cascade chain (stream or batch input
    * of deduped lineitem details carrying the `et` event-time column;
    * dims read from `dir`). */
  def aggregateEnrich(s: SparkSession, deduped: DataFrame, dir: String)
      : DataFrame = {
    val agged = deduped
      .groupBy(window(col("et"), "7 days"),
        col("l_partkey").as("sku_id"))
      .agg(count(lit(1)).as("order_ct"),
        // each factor is cast to DECIMAL before multiplying (a3's parity
        // pattern): 2-decimal inputs are exact in DECIMAL(18,2), so the
        // products and sums are exact rationals in both engines
        sum(money(col("l_extendedprice"))).as("o_sum"),
        sum(money(col("l_extendedprice")) * money(col("l_discount")))
          .as("a_sum"),
        sum(money(col("l_extendedprice")) * money(col("l_tax")))
          .as("c_sum"))
    // the dim cascade: each dim is a distinct projection of part (the
    // category hierarchy is the p_type word prefix chain, the trademark
    // the brand's manufacturer prefix) — bounded, broadcastable, and
    // each join keyed by the PREVIOUS step's output, like the reference's
    // sku→spu→tm→c3→c2→c1 cascade
    val part = Tables(s, dir, "part")
    val sku = part.select(col("p_partkey"), col("p_name").as("sku_name"),
      col("p_brand").as("tm_id"), col("p_type").as("category3_id"))
    val tm = part.select(col("p_brand").as("tm_key"),
      concat(lit("MFGR#"), substring(col("p_brand"), 7, 1))
        .as("trademark_name")).distinct()
    val c3 = part.select(col("p_type").as("c3_key"),
      array_join(slice(split(col("p_type"), " "), 1, 2), " ")
        .as("category2_id")).distinct()
    val c2 = part.select(
      array_join(slice(split(col("p_type"), " "), 1, 2), " ").as("c2_key"),
      split(col("p_type"), " ").getItem(0).as("category1_name")).distinct()
    agged
      .join(broadcast(sku), col("sku_id") === col("p_partkey"))
      .join(broadcast(tm), col("tm_id") === col("tm_key"))
      .join(broadcast(c3), col("category3_id") === col("c3_key"))
      .join(broadcast(c2), col("category2_id") === col("c2_key"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        date_format(col("window.start"), "yyyy-MM-dd").as("cur_date"),
        col("sku_id"), col("sku_name"), col("trademark_name"),
        col("category3_id").as("category3_name"),
        col("category2_id").as("category2_name"),
        col("category1_name"), col("order_ct"),
        col("o_sum").cast("double").as("original_amount"),
        col("a_sum").cast("double").as("activity_reduce_amount"),
        col("c_sum").cast("double").as("coupon_reduce_amount"),
        (col("o_sum") - col("a_sum") - col("c_sum")).cast("double")
          .as("order_amount"))
  }

  /** Streaming app: detail stream from srcDir → dedup → window sums →
    * dim cascade → day-partitioned parquet store. */
  def run(s: SparkSession, srcDir: String, dimDir: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = graft.Tables.parquet(s, s"$srcDir/lineitem.parquet").schema
    val src = StatefulStreams.reader(s, schema)
      .parquet(s"$srcDir/lineitem*.parquet")
    val deduped = withEventTime(src)
      .withWatermark("et", "1 day")
      .dropDuplicates("l_orderkey", "l_linenumber")
    aggregateEnrich(s, deduped, dimDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .partitionBy("cur_date")
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** Batch twin: identical aggregate+enrich over the deterministic
    * dedup — the a17 oracle query. */
  def batch(s: SparkSession, dir: String): DataFrame =
    aggregateEnrich(s, withEventTime(dedupBatch(Tables(s, dir, "lineitem"))),
      dir)
}
