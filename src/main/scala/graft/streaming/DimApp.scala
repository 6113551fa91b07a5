package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.EnvelopeOps

/** The reference's DIM layer composed whole as ONE streaming pipeline
  * (DimApp.java:123-298 handler + TableProcessFunction.java:47-105
  * broadcast-config probe/prune + HBaseSinkFunction.java:36-61 keyed
  * upsert/delete):
  *
  *   multi-table CDC envelope stream (file stream ≈ topic_db)
  *     → P1 validity ETL        (db/type/data checks, DimApp.etl)
  *     → J6 broadcast config probe (inner join on source_table — fact
  *                               tables simply don't match, the
  *                               TableProcessFunction.processElement
  *                               lookup; config re-read per batch plays
  *                               the broadcast-state refresh)
  *     → P9 sinkColumns pruning (map_filter against the JOINED config
  *                               row's CSV — genuinely config-driven,
  *                               deleteNotNeedColumns:97-105)
  *     → K5 per-table dim store (one [[VersionedParquetMergeSink]] per
  *                               sink_table: last op per key wins,
  *                               deletes drop the row)
  *
  * DimAppSpec proves each table's streamed store equals the
  * k5_dim_merge_snapshot batch semantics applied to the same op log.
  *
  * Scale notes: parse/ETL/probe/prune are one map-side codegen span (the
  * config is broadcast, ~dozens of rows); the only shuffle is the merge's
  * per-key window inside each table's store — partitioned by the entity
  * key, exactly the HBase region-key layout the reference relies on. */
object DimApp {

  /** table_process_dim rows (TableProcessDim bean): dims only — fact
    * tables (order_info) are absent, so the probe drops them. */
  case class DimConfig(source_table: String, sink_table: String,
    sink_columns: String)

  val configRows: Seq[DimConfig] = Seq(
    DimConfig("customer_info", "dim_customer_info", "id,name,nation"),
    DimConfig("part_info", "dim_part_info", "id,name,brand"))

  def config(s: SparkSession): DataFrame = {
    import s.implicits._
    configRows.toDF()
  }

  /** Synthesized multi-table Maxwell envelope log — the topic_db stand-in
    * (deterministic op streams over customer/part, plus order_info fact
    * rows the config probe must drop): every key inserts at seq 1000;
    * keys ≡0 mod 7 update at 2000 (name suffixed "_u"); customer keys
    * ≡0 mod 13 / part keys ≡0 mod 11 delete at 3000. The extra acctbal/
    * brandbase fields exercise the sinkColumns pruning. */
  def envelopes(s: SparkSession, dir: String): DataFrame =
    SyntheticTopics.dbDim(s, dir)

  private[streaming] def envelopesUncached(s: SparkSession, dir: String)
      : DataFrame = {
    def env(table: String, typ: String, ts: Long, data: Column): Column =
      to_json(struct(lit("gmall2024").as("database"), lit(table).as("table"),
        lit(typ).as("type"), lit(ts).as("ts"), data.as("data")))
        .as("envelope")
    val c = Tables(s, dir, "customer")
    val cData = map(
      lit("id"), col("c_custkey").cast("string"),
      lit("name"), col("c_name"),
      lit("nation"), col("c_nationkey").cast("string"),
      lit("acctbal"), col("c_acctbal").cast("string"))
    val cUpdData = map(
      lit("id"), col("c_custkey").cast("string"),
      lit("name"), concat(col("c_name"), lit("_u")),
      lit("nation"), col("c_nationkey").cast("string"))
    val p = Tables(s, dir, "part")
    val pData = map(
      lit("id"), col("p_partkey").cast("string"),
      lit("name"), col("p_name"),
      lit("brand"), col("p_brand"),
      lit("ptype"), col("p_type"))
    val o = Tables(s, dir, "orders")
    val oData = map(lit("id"), col("o_orderkey").cast("string"),
      lit("total_amount"), col("o_totalprice").cast("string"))
    c.select(env("customer_info", "insert", 1000L, cData))
      .union(c.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(env("customer_info", "update", 2000L, cUpdData)))
      .union(c.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select(env("customer_info", "delete", 3000L,
          map(lit("id"), col("c_custkey").cast("string")))))
      .union(p.select(env("part_info", "insert", 1000L, pData)))
      .union(p.filter(pmod(col("p_partkey"), lit(11)) === 0)
        .select(env("part_info", "delete", 3000L,
          map(lit("id"), col("p_partkey").cast("string")))))
      .union(o.limit(100).select(env("order_info", "insert", 1000L, oData)))
  }

  /** Shared transform: parse → validity ETL → broadcast config probe →
    * sinkColumns pruning. Output: (sink_table, id, op, seq, data). */
  def parsedDims(s: SparkSession, envs: DataFrame): DataFrame =
    envs.select(from_json(col("envelope"), EnvelopeOps.odsDbSchema).as("e"))
      .filter(col("e.database") === "gmall2024" &&
        col("e.type").isin("insert", "update", "delete", "bootstrap-insert") &&
        col("e.data").isNotNull)
      .select(col("e.table").as("table"),
        when(col("e.type") === "delete", "delete").otherwise("upsert")
          .as("op"),
        col("e.ts").as("seq"), col("e.data").as("data"))
      .join(broadcast(config(s)), col("table") === col("source_table"))
      .select(col("sink_table"), col("data")("id").as("id"), col("op"),
        col("seq"),
        map_filter(col("data"), (k, _) =>
          array_contains(split(col("sink_columns"), ","), k)).as("data"))

  private def sinkFor(storeDir: String, sinkTable: String) =
    new VersionedParquetMergeSink(s"$storeDir/$sinkTable", "id", "seq",
      "op", Seq("data"))

  /** Streaming app: envelope stream from srcDir → one pipeline → one
    * merge-maintained store per configured sink table. */
  def run(s: SparkSession, srcDir: String, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = graft.Tables.parquet(s, s"$srcDir/envelopes.parquet").schema
    val src = StatefulStreams.reader(s, schema)
      .parquet(s"$srcDir/envelopes*.parquet")
    parsedDims(s, src).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try configRows.foreach { cfg =>
          sinkFor(storeDir, cfg.sink_table).merge(
            batch.filter(col("sink_table") === cfg.sink_table), batchId)
        } finally { batch.unpersist(); () }
      }
      .start()
  }

  /** Latest committed snapshot of one table's store. */
  def store(s: SparkSession, storeDir: String, sinkTable: String): DataFrame =
    sinkFor(storeDir, sinkTable).current(s)

  private def scd2SinkFor(storeDir: String, sinkTable: String) =
    new Scd2ParquetMergeSink(s"$storeDir/$sinkTable", "id", "seq",
      "op", Seq("data"))

  /** SCD TYPE-2 mode of the same pipeline: identical parse → probe →
    * prune chain, but each table's store is a maintained HISTORY
    * (close-and-insert per arriving CDC op, [[Scd2ParquetMergeSink]])
    * instead of the type-1 last-op-wins snapshot. maxFilesPerTrigger=1
    * keeps shard files as separate ordered micro-batches — the
    * append-only op-log replay the SCD2 ordering contract assumes.
    * DimAppSpec proves the streamed history equals the k6-style batch
    * construction ([[batchScd2History]]) and audits clean under the
    * k9 contract. */
  def runScd2(s: SparkSession, srcDir: String, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // probe the schema from the same glob the stream reads — a
    // separately-named probe file would itself match a glob and be
    // ingested twice (duplicate versions in a close-and-insert store)
    val schema = graft.Tables.parquet(s, s"$srcDir/envelopes*.parquet").schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/envelopes*.parquet")
    parsedDims(s, src).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try configRows.foreach { cfg =>
          scd2SinkFor(storeDir, cfg.sink_table).merge(
            batch.filter(col("sink_table") === cfg.sink_table), batchId)
        } finally { batch.unpersist(); () }
      }
      .start()
  }

  /** The maintained history of one table's SCD2 store. */
  def scd2Store(s: SparkSession, storeDir: String, sinkTable: String)
      : DataFrame =
    scd2SinkFor(storeDir, sinkTable).current(s)

  /** One table's ordering-contract violators (see
    * [[Scd2ParquetMergeSink.quarantined]]). */
  def scd2Quarantine(s: SparkSession, storeDir: String, sinkTable: String)
      : DataFrame =
    scd2SinkFor(storeDir, sinkTable).quarantined(s)

  /** One table's corrected history including the quarantined ops (see
    * [[Scd2ParquetMergeSink.repaired]]). */
  def scd2Repaired(s: SparkSession, storeDir: String, sinkTable: String)
      : DataFrame =
    scd2SinkFor(storeDir, sinkTable).repaired(s)

  /** Commit one table's repair and clear its quarantine (see
    * [[Scd2ParquetMergeSink.commitRepaired]]). */
  def scd2CommitRepaired(s: SparkSession, storeDir: String,
      sinkTable: String): Option[String] =
    scd2SinkFor(storeDir, sinkTable).commitRepaired(s)

  /** Batch twin of the SCD2 mode — the k6 construction over the same
    * parsed op log: version = row_number in seq order per id, each row
    * closed at its successor's seq, the last row open (is_current
    * unless it was a delete). The k12 oracle replays it relationally
    * from the base tables. */
  def batchScd2History(s: SparkSession, dir: String, sinkTable: String)
      : DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("seq"))
    parsedDims(s, envelopes(s, dir))
      .filter(col("sink_table") === sinkTable)
      .withColumn("version", row_number().over(w))
      .withColumn("__next", lead(col("seq"), 1).over(w))
      .select(col("id"), col("version"), col("data"), col("op"),
        col("seq").as("valid_from_seq"), col("__next").as("valid_to_seq"),
        (col("__next").isNull && col("op") =!= "delete").as("is_current"))
  }

  /** Batch twin: the k5_dim_merge_snapshot semantics (last op per key by
    * the seq total order; deletes drop) applied to the same op log. */
  def batchSnapshot(s: SparkSession, dir: String, sinkTable: String)
      : DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("seq").desc)
    parsedDims(s, envelopes(s, dir))
      .filter(col("sink_table") === sinkTable)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("id"), col("data"), col("seq"))
  }
}
