package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Incremental near-dup detection over an arriving corpus — the shape a
  * 100 TB crawl pipeline actually runs: each new shard is deduplicated
  * against everything already ingested WITHOUT recomputing the corpus.
  *
  * Per micro-batch (foreachBatch):
  *   1. band-signature the batch ([[DedupOps.stackedBands]] — the same
  *      minhash/LSH stage as the batch pipeline, one md5 per token);
  *   2. join the batch's bands against the ACCUMULATED signature store
  *      (bucketed equi-join on (source, band_no, band_sig) — new×old,
  *      never corpus×corpus);
  *   3. self-join the batch for new×new collisions;
  *   4. append the canonicalized candidate pairs and the batch's bands.
  *
  * The signature store grows linearly with the corpus while each batch
  * pays only |batch| × collision work — at scale the store is a
  * bucketed/partitioned table keyed by band_sig so step 2 prunes to
  * matching buckets, AND both join stages carry the batch family's
  * per-bucket budget ([[DedupOps.bucketCliqueCap]]): arriving docs
  * meet only the first cap stored members of each bucket, and the
  * within-batch self-join is the same capped clique+star form the
  * one-shot pipeline runs. The budget is CLUSTER-SAFE incrementally:
  * a member's bucket rank (by doc_id) only grows as more docs arrive,
  * so every pair of finally-top-cap members still meets when the
  * later one arrives, and every other member connects through the
  * bucket's then-top-cap — per-bucket connectivity (what the
  * clustering consumes) is identical to the one-shot capped set even
  * though hot buckets' exact star edges may differ by arrival order.
  * IncrementalDedupSpec proves exact pair equality where the cap
  * never binds, and cluster (connected-component) equality plus the
  * pair-count bound on a synthetic mega-bucket corpus where it
  * does. */
object IncrementalDedup {

  private def canonical(pairs: DataFrame): DataFrame =
    pairs.select(
      least(col("a_id"), col("b_id")).as("a_id"),
      greatest(col("a_id"), col("b_id")).as("b_id"),
      col("source"))

  /** New candidate pairs contributed by one batch of documents, given
    * the accumulated band store (may be empty). */
  private[graft] def batchPairs(bands: DataFrame, prev: DataFrame)
      : DataFrame = {
    val wOld = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("band_no"), col("band_sig"))
      .orderBy(col("doc_id"))
    val storeCore = prev
      .withColumn("rk", row_number().over(wOld))
      .filter(col("rk") <= DedupOps.bucketCliqueCap)
    val l = bands.select(col("doc_id").as("a_id"), col("source"),
      col("band_no"), col("band_sig"))
    val crossOld = l.join(
      storeCore.select(col("doc_id").as("b_id"),
        col("source").as("p_source"), col("band_no").as("p_no"),
        col("band_sig").as("p_sig")),
      col("source") === col("p_source") && col("band_no") === col("p_no") &&
        col("band_sig") === col("p_sig") && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("source"))
    // within-batch collisions: the SAME capped clique+star generation
    // as the one-shot pipeline (DedupOps.bandPairs)
    val withinNew = DedupOps.bandPairs(bands)
    canonical(crossOld.unionByName(withinNew)).distinct()
  }

  /** Streaming app: document shards from srcDir (one micro-batch per
    * file via maxFilesPerTrigger) → per-batch dedup against the
    * accumulated store under storeDir/{bands,pairs}. */
  def run(s: SparkSession, srcDir: String, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = graft.Tables.parquet(s, s"$srcDir/*.parquet").schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*.parquet")
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bands = DedupOps.stackedBands(
          batch.select(col("doc_id"), col("source"), col("text")))
          .persist()
        try {
          val bandsDir = s"$storeDir/bands"
          val prev =
            if (new java.io.File(bandsDir).exists)
              graft.Tables.parquet(s, bandsDir)
            else bands.limit(0)
          batchPairs(bands, prev).write.mode("append")
            .parquet(s"$storeDir/pairs")
          bands.write.mode("append").parquet(bandsDir)
        } finally { bands.unpersist(); () }
      }
      .start()
  }

  /** All candidate pairs found so far (canonical, distinct). */
  def pairs(s: SparkSession, storeDir: String): DataFrame =
    graft.Tables.parquet(s, s"$storeDir/pairs").distinct()
}
