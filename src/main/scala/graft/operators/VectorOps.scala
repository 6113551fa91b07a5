package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Standing, Tables}

/** Similarity search over the embeddings table (ARRAY<FLOAT>, 64-dim):
  * brute-force cosine top-k as the exact baseline, plus an IVF-style
  * partitioned variant as the scale path.
  *
  * All arithmetic is done on codegen'd higher-order array builtins
  * (zip_with + aggregate) after an explicit cast to ARRAY<DOUBLE>, so the
  * accumulation order is the array order — deterministic on any cluster
  * and bit-identical to the oracle's list_transform/list_aggregate chain.
  *
  * Scale notes: brute force is O(Q×N) — fine for Q small (broadcast the
  * query set, map-side score, per-query top-k via partial aggregation;
  * no shuffle of the big side). The IVF variant buckets vectors by
  * nearest coarse centroid so each query probes one bucket:
  * the shuffle is on centroid id, bounded by the (small) centroid count;
  * this is the standard billion-scale layout (IVF/LSH bucket join).
  */
object VectorOps extends QueryModule {

  /** Exact dot product of two ARRAY<DOUBLE> columns (order-deterministic
    * left-to-right accumulation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asD(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** v1: brute-force exact top-5 cosine neighbors for query vectors
    * (vec_id < 10). The neighbor side keeps its precomputed norm so the
    * per-pair work is one dot product. */
  private def annBrute(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val pairs = broadcast(q).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk"))
  }

  /** v2: per-label embedding statistics — norms quantized to DECIMAL
    * before the cross-row sum so the aggregate is order-independent. */
  private def embedStats(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("label"), asD(col("embedding")).as("emb"))
      .withColumn("nrm_q", norm(col("emb")).cast(DecimalType(28, 6)))
    em.groupBy(col("label"))
      .agg(count(lit(1)).as("vec_ct"),
        sum(col("nrm_q")).cast(DoubleType).as("norm_sum"),
        min(col("nrm_q")).cast(DoubleType).as("norm_min"),
        max(col("nrm_q")).cast(DoubleType).as("norm_max"))
  }

  /** The IVF serving probe count (how many coarse cells each query
    * searches) — v3 ships this value, and v18's probe-recall sweep
    * (p ∈ 1..[[ivfProbeSweepMax]]) is the measurement that justifies
    * it: one source of truth, so re-tuning from the v18 curve lands in
    * the serving query and its recall contract (QualityOpsSpec)
    * together. */
  val ivfNprobe: Int = 1
  /** Upper end of v18's probe sweep; must cover the shipped setting. */
  val ivfProbeSweepMax: Int = 3
  require(ivfNprobe >= 1 && ivfNprobe <= ivfProbeSweepMax,
    "v18's sweep must cover the shipped nprobe")

  /** v3: IVF-bucketed ANN — vectors with vec_id % 50 == 0 act as coarse
    * centroids; every vector is assigned to its nearest centroid
    * (deterministic tie-break), and each query searches its
    * [[ivfNprobe]] closest cells. Approximate by construction →
    * verified by the spec against brute-force recall, not a SQL
    * oracle. */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val centroids = em.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val ranked = em.join(broadcast(centroids))
      .withColumn("c_cos",
        dot(col("emb"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .withColumn("crk", row_number().over(assignW))
    val assigned = ranked.filter(col("crk") === 1)
      .select(col("vec_id"), col("emb"), col("nrm"), col("c_id"))
    val q = ranked.filter(col("vec_id") < 10 && col("crk") <= ivfNprobe)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("c_id").as("q_cid"))
    val topW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(assigned,
        col("c_id") === col("q_cid") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
      .withColumn("rk", row_number().over(topW))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk"))
  }

  /** Squared euclidean distance of two ARRAY<DOUBLE> columns —
    * left-to-right accumulation like [[dot]], so both engines produce
    * bit-identical doubles. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** v9: one Lloyd iteration of k-means over the embedding table — the
    * semantic-clustering primitive behind embedding-based data mixing
    * and cluster-balanced sampling (and the training step that produces
    * v3's IVF coarse quantizer). Seeds = v3's deterministic centroid
    * set (vec_id % 50 == 0); assignment is a map-side argmin over the
    * broadcast centroids via `min(struct(d2, c_id, emb))` — partial-agg
    * combinable, so the shuffle carries one row per vector, NOT the n×k
    * pair set a rank-window would sort. Centroid recompute is
    * posexplode → (cluster, dim) sum — a single shuffle bounded by k×d —
    * with each component quantized to DECIMAL before the cross-row sum
    * so the new centroids are order-independent (then one double
    * division by the member count, identical in both engines). The
    * re-assignment distances are DECIMAL-quantized the same way before
    * the per-cluster total. */
  /** The Lloyd-step assignment (vec_id, c_id, d2) against the recomputed
    * centroids — shared by v9 (cluster rollup), v10 (outliers) and two
    * more; a production pipeline checkpoints the clustering ONCE before
    * its four readers, so the first in sort order (v10) is not charged
    * the family build. */
  private val lloydAssign1 = Standing.frame("lloyd", Set(
    "v9_kmeans_assign", "v10_embed_outliers", "v11_semdedup",
    "v17_davies_bouldin"))(lloydCompute)

  /** The shared IVFPQ index stage — (cell-assigned residuals, PQ code
    * table), each persisted like the Lloyd assignment: v21 (serving) and
    * v22 (health audit) both read it, and a production pipeline
    * materializes the index ONCE before its consumers. */
  private val ivfpqStage = Standing("ivfpq", Set(
    "v21_ivfpq_topk", "v22_index_health", "v24_quant_error")) { (s, dir) =>
    val em = embFrame(s, dir)
    val assigned = Standing.cached(cellResiduals(em, coarseCentroids(em)))
    (assigned, Standing.cached(pqEncode(assigned, residualCodebook(assigned))))
  } { case (a, c) => a.unpersist(false); c.unpersist(false) }

  override def standings: Seq[Standing[_]] =
    Seq(lloydAssign1, ivfpqStage, growStage)

  private def lloydCompute(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
    val cent0 = em.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    def argmin(pairs: DataFrame, carryEmb: Boolean): DataFrame = {
      val best = if (carryEmb) struct(col("d2"), col("c_id"), col("emb"))
                 else struct(col("d2"), col("c_id"))
      pairs.groupBy(col("vec_id")).agg(min(best).as("best"))
    }
    val assign0 = argmin(em.join(broadcast(cent0))
        .select(col("vec_id"), col("emb"), col("c_id"),
          sqDist(col("emb"), col("c_emb")).as("d2")), carryEmb = true)
      .select(col("vec_id"), col("best.c_id").as("c_id"),
        col("best.emb").as("emb"))
    val cent1 = assign0
      .select(col("c_id"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("c_id"), col("pos"))
      .agg((sum(round(col("v"), 9).cast(DecimalType(28, 9)))
          .cast(DoubleType) / count(lit(1))).as("v"))
      .groupBy(col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x("v")).as("c_emb"))
    argmin(em.join(broadcast(cent1))
        .select(col("vec_id"), col("emb"), col("c_id"),
          sqDist(col("emb"), col("c_emb")).as("d2")), carryEmb = false)
      .select(col("vec_id"), col("best.c_id").as("c_id"),
        col("best.d2").as("d2"))
  }

  private def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    lloydAssign1(s, dir).groupBy(col("c_id").as("cluster_id"))
      .agg(count(lit(1)).as("member_ct"),
        sum(round(col("d2"), 6).cast(DecimalType(28, 6)))
          .cast(DoubleType).as("sum_sqdist"),
        min(col("vec_id")).as("min_member"))

  /** v10: embedding outlier detection — the 20 vectors farthest from
    * their cluster, measured as d2 / cluster-mean-d2 (the scale-free
    * anomaly score; a fixed multiple is useless in high dimension where
    * distances concentrate — on this 64-d corpus the ratio never exceeds
    * 1.12). The cluster means come from the same DECIMAL-quantized
    * order-independent sums as v9, broadcast back onto the per-vector
    * assignment (k rows — a map-side join), and the global top-20 is
    * TakeOrderedAndProject: per-partition partial top-n, no full sort.
    * This is the standard embedding-space data-quality gate at 100 TB:
    * everything before the bounded top-n is map-side. */
  private def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val a1 = lloydAssign1(s, dir)
    val means = a1.groupBy(col("c_id").as("m_cid"))
      .agg((sum(round(col("d2"), 6).cast(DecimalType(28, 6)))
        .cast(DoubleType) / count(lit(1))).as("clu_mean"))
    a1.join(broadcast(means), col("c_id") === col("m_cid"))
      .select(col("vec_id"), col("c_id").as("cluster_id"),
        round(col("d2") / col("clu_mean"), 6).as("score"),
        round(col("d2"), 6).as("d2r"))
      .orderBy(col("score").desc, col("vec_id")).limit(20)
  }

  /** v4: brute-force top-k on the native Catalyst [[graft.plans.CosineSimilarity]]
    * expression — one fused codegen loop per pair (dot + both norms)
    * instead of the zip_with/aggregate chain; same accumulation order →
    * same oracle as v1. */
  private def annNative(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSimilarity.cosineSim
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val pairs = broadcast(q).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosineSim(s, col("q_emb"), col("emb")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk"))
  }

  /** v5: embedding-cosine near-duplicate pairs — all same-label pairs
    * with cosine ≥ 0.3 (labels act as the blocking key, the same role
    * source plays for text LSH: at 100 TB the blocker would be an LSH /
    * IVF bucket id; the pair-generation join and verify stay identical).
    */
  private def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSimilarity.cosineSim
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("emb"))
    val l = em.select(col("label"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"))
    val r = em.select(col("label").as("r_label"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"))
    l.join(r, col("label") === col("r_label") && col("a_id") < col("b_id"))
      .select(col("label"), col("a_id"), col("b_id"),
        round(cosineSim(s, col("a_emb"), col("b_emb")), 6).as("cos"))
      .filter(col("cos") >= 0.3)
  }

  /** Sign-LSH (random-hyperplane) parameters: H Rademacher hyperplanes
    * whose ±1 components derive from a fixed integer recurrence, so the
    * identical constants are embedded as literals in both the Spark plan
    * and the oracle SQL. H=8 → 256 buckets over 2000 vectors (~8 per
    * bucket), the classic cosine-LSH regime. */
  val numPlanes = 8
  val embDim = 64
  def planeSign(p: Int, d: Int): Double =
    if (((p * 1000003L + d * 7919L) % 97) % 2 == 0) 1.0 else -1.0
  private[operators] val planes: Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (0 until embDim).map(d => planeSign(p, d)))

  /** v6: sign-LSH bucketed ANN — signature bit p = sign(emb · plane_p);
    * queries probe only their own bucket. The bucket computation is H
    * codegen'd dot products per row (map-side, no shuffle); the probe is
    * a broadcast join on the bucket id — the LSH complement of v3's IVF
    * layout (SURVEY: "IVF or LSH-bucketed variant as the scale path").
    * Both engines accumulate the dot left-to-right in doubles, so the
    * sign — and therefore the bucket — is bit-identical. */
  private def annSignLsh(s: SparkSession, dir: String): DataFrame = {
    val bucketBits = (0 until numPlanes).map { p =>
      val plane = array(planes(p).map(lit): _*)
      when(dot(col("emb"), plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
      .withColumn("bucket", bucketBits)
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(em,
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk"))
  }

  /** Integer dot product over quantized arrays (long accumulator; the
    * per-element products stay in int — |q| ≤ 127 so a 64-dim product is
    * far below 2^31). */
  private def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L),
      (acc, v) => acc + v)

  /** v7: scalar-quantized (int8) ANN — the memory-bandwidth scale path:
    * every vector is mapped to ARRAY<int8-range ints> by one global
    * scale (127 / max|x|, computed as a 1-row aggregate broadcast back —
    * no driver-side collect), and candidate scoring runs entirely in
    * integer arithmetic (4× smaller vectors, SIMD-friendly — the
    * standard faiss/ScaNN SQ8 layout). Approximate by construction, so
    * the emitted contract is per-query: int8_ok = the int8 top-5 keeps
    * ≥ 3 of the exact top-5 (the spec additionally checks mean recall
    * against brute force). */
  private def annInt8(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
    val scaleDf = em.agg(
      max(aggregate(col("emb"), lit(0.0),
        (acc, v) => greatest(acc, abs(v)))).as("max_abs"))
    val emq = em.crossJoin(broadcast(scaleDf))
      .select(col("vec_id"),
        transform(col("emb"),
          x => round(x * lit(127.0) / col("max_abs"), 0).cast(IntegerType))
          .as("q"))
      .withColumn("qn", sqrt(idot(col("q"), col("q")).cast(DoubleType)))
    val qs = emq.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("q").as("q_q"),
        col("qn").as("q_qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val approxTop = broadcast(qs)
      .join(emq, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (idot(col("q_q"), col("q")).cast(DoubleType) /
          (col("q_qn") * col("qn"))).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"))
    val exactTop = annBrute(s, dir)
      .select(col("q_id").as("e_qid"), col("n_id").as("e_nid"))
    approxTop.join(exactTop,
        col("q_id") === col("e_qid") && col("n_id") === col("e_nid"),
        "left_outer")
      .groupBy(col("q_id"))
      .agg(sum(when(col("e_nid").isNotNull, 1).otherwise(0)).as("hits"))
      .select(col("q_id"), (col("hits") >= 3).as("int8_ok"))
  }

  /** PQ geometry: 8 subspaces × 8 dims, 64 codewords per subspace
    * (sampled vectors stand in for k-means centroids — deterministic and
    * public-knowledge; trained codebooks would only raise recall), ADC
    * shortlist of 100 re-ranked exactly. Synthetic embeddings are
    * near-random (no cluster structure for the codebook to exploit), so
    * the shortlist is deep relative to the corpus; on real clustered
    * data the same shape holds with a much smaller ratio. */
  val pqSubspaces = 8
  val pqSubDim: Int = embDim / pqSubspaces
  val pqCodebookSize = 64
  val pqShortlist = 100

  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
      (acc, v) => acc + v)

  /** v8: product-quantization ANN — the codebook scale path (each vector
    * stored as M=4 byte codes): per-subspace nearest-codeword assignment
    * (min over a broadcast 64-row codebook, struct-min for a
    * deterministic tie-break), ADC scoring against the RECONSTRUCTED
    * vectors (equivalent to the per-query distance-table lookup), then
    * the standard shortlist + exact re-rank: top-50 by ADC, top-5 by
    * true cosine. Approximate by construction → per-query recall
    * contract like v7 (pq_ok = final top-5 keeps ≥ 3/5 of brute force).
    *
    * Scale: assignment is corpus × 64 broadcast rows (map-side, linear);
    * the shortlist probe is the v1 broadcast top-k shape against 4-byte
    * codes instead of 256-byte floats — the memory story PQ exists for. */
  private def annPq(s: SparkSession, dir: String): DataFrame = {
    def sub(c: Column, m: Int) = slice(c, m * pqSubDim + 1, pqSubDim)
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
    val cb = em.filter(col("vec_id") < pqCodebookSize)
      .select(col("vec_id").as("cw_id") +:
        (0 until pqSubspaces).map(m => sub(col("emb"), m).as(s"cw$m")): _*)
    val withSubs = em.select(col("vec_id") +:
      (0 until pqSubspaces).map(m => sub(col("emb"), m).as(s"s$m")): _*)
    // per-subspace argmin as a PER-ROW fold over the broadcast codebook
    // array — no corpus × 64 row expansion, no argmin aggregation, no
    // exchange: each vector picks its 8 codes in one projection (the
    // min(struct(d, c)) tie-break is array_min's lexicographic order,
    // identical winner)
    val cbArr = cb.agg(collect_list(struct(col("cw_id") +:
      (0 until pqSubspaces).map(m => col(s"cw$m")): _*)).as("cba"))
    val codes = withSubs.crossJoin(broadcast(cbArr))
      .select(col("vec_id") +: (0 until pqSubspaces).map { m =>
        array_min(transform(col("cba"), e =>
          struct(l2(col(s"s$m"), e(s"cw$m")).as("d"),
            e("cw_id").as("c"))))("c").as(s"code$m")
      }: _*)
    // one broadcast (cw_id → sub-vectors) map instead of 8 chained
    // broadcast joins — same reassembly values, 1 exchange instead of 8
    val cbMap = cb.agg(map_from_entries(collect_list(struct(
      col("cw_id"), struct((0 until pqSubspaces).map(m =>
        col(s"cw$m")): _*)))).as("cw_by_id"))
    val recon = codes.crossJoin(broadcast(cbMap))
      .select(col("vec_id"),
        flatten(array((0 until pqSubspaces).map(m =>
          element_at(col("cw_by_id"), col(s"code$m"))(s"cw$m")): _*))
          .as("recon"))
      .withColumn("rnrm", norm(col("recon")))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        norm(col("emb")).as("q_nrm"))
    val slW = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id"))
    val shortlist = broadcast(q)
      .join(recon, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("n_id"),
        (dot(col("q_emb"), col("recon")) / (col("q_nrm") * col("rnrm")))
          .as("adc"))
      .withColumn("slrk", row_number().over(slW))
      .filter(col("slrk") <= pqShortlist)
    val exW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val reranked = shortlist
      .join(em.select(col("vec_id").as("e_id"), col("emb").as("n_emb")),
        col("n_id") === col("e_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_emb"), col("n_emb")) /
          (col("q_nrm") * norm(col("n_emb")))).as("cos"))
      .withColumn("rk", row_number().over(exW))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"))
    val exactTop = annBrute(s, dir)
      .select(col("q_id").as("e_qid"), col("n_id").as("e_nid"))
    reranked.join(exactTop,
        col("q_id") === col("e_qid") && col("n_id") === col("e_nid"),
        "left_outer")
      .groupBy(col("q_id"))
      .agg(sum(when(col("e_nid").isNotNull, 1).otherwise(0)).as("hits"))
      .select(col("q_id"), (col("hits") >= 3).as("pq_ok"))
  }

  /** IVFADC shortlist depth — deliberately SMALLER than a typical coarse
    * cell (~50 members at sf0.01) so the PQ approximation genuinely
    * selects the shortlist; at [[pqShortlist]]-deep the ADC stage would
    * cover whole cells and degenerate to v3's exact in-cell scan. */
  val ivfpqShortlist = 30

  /** v21: IVFADC — the combined IVF + product-quantization index (Jégou,
    * Douze, Schmid, "Product quantization for nearest neighbor search",
    * TPAMI'11), i.e. the layout billion-scale ANN services actually
    * deploy: a coarse quantizer routes each vector to a cell (v3's
    * inverted lists) and the RESIDUAL vector (emb − cell centroid) is
    * PQ-encoded to [[pqSubspaces]] byte codes (v8's codebook mechanics,
    * trained here on residuals). A query probes its [[ivfNprobe]]
    * nearest cells and scores candidates by asymmetric distance — exact
    * query residual vs reconstructed candidate residual — then the
    * [[ivfpqShortlist]] survivors are re-ranked by true cosine.
    *
    * Scale: the cell assignment and code assignment are map-side argmin
    * aggregations against broadcast centroid/codeword sets (shuffle
    * carries one row per vector — the v9 idiom); the probe join is a
    * cell-id equi-join (never corpus × corpus); the exact re-rank
    * touches only shortlist × queries rows. Every float is an IEEE
    * double accumulated in array order, so the whole trajectory —
    * assignment, codes, ADC, final ranks — replays bit-exactly in the
    * SQL oracle (unlike v8's spec-only contract, this one value-oracles
    * end to end). */
  private def subVec(c: Column, m: Int): Column =
    slice(c, m * pqSubDim + 1, pqSubDim)

  /** Nearest coarse cell by L2 for an arbitrary (vec_id, emb) frame —
    * struct-min argmin (partial-agg combinable; tie-break c_id is total
    * because centroid ids are distinct) with the residual computed once
    * at assignment. Shared by the batch v21 index build and the
    * incremental maintainer ([[graft.streaming.IncrementalIndex]]). */
  private[graft] def cellResiduals(em: DataFrame, cent: DataFrame)
      : DataFrame =
    em.join(broadcast(cent))
      .select(col("vec_id"),
        struct(sqDist(col("emb"), col("c_emb")).as("d2"),
          col("c_id").as("c_id"), col("emb").as("emb"),
          col("c_emb").as("c_emb")).as("cand"))
      .groupBy(col("vec_id")).agg(min(col("cand")).as("best"))
      .select(col("vec_id"), col("best.c_id").as("c_id"),
        col("best.emb").as("emb"),
        zip_with(col("best.emb"), col("best.c_emb"),
          (x, y) => x - y).as("resid"))

  /** v21's coarse quantizer over a corpus frame (v3's deterministic
    * centroid scheme). */
  private[graft] def coarseCentroids(em: DataFrame): DataFrame =
    em.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))

  /** PQ codebook TRAINED ON RESIDUALS (the IVFADC detail that matters:
    * residuals are centered around 0, so one shared codebook serves all
    * cells) — deterministic public-knowledge stand-in like v8's: the
    * first [[pqCodebookSize]] vectors' residual subvectors. */
  private[graft] def residualCodebook(assigned: DataFrame): DataFrame =
    assigned.filter(col("vec_id") < pqCodebookSize)
      .select(col("vec_id").as("cw_id") +:
        (0 until pqSubspaces).map(m =>
          subVec(col("resid"), m).as(s"cw$m")): _*)

  /** Per-subspace nearest-codeword byte codes for an assigned frame —
    * what the inverted list stores per vector. */
  private[graft] def pqEncode(assigned: DataFrame, cb: DataFrame)
      : DataFrame = {
    val withSubs = assigned.select(col("vec_id"), col("c_id"), col("resid"))
    // per-subspace argmin as a PER-ROW array_min fold over the broadcast
    // codebook array (the v8 treatment): no corpus × |cb| row expansion,
    // no argmin aggregation, no exchange — identical winner (array_min's
    // lexicographic struct order IS min(struct(d, c))'s tie-break)
    val cbArr = cb.agg(collect_list(struct(col("cw_id") +:
      (0 until pqSubspaces).map(m => col(s"cw$m")): _*)).as("cba"))
    withSubs.crossJoin(broadcast(cbArr))
      .select(col("vec_id") +: col("c_id") +:
        (0 until pqSubspaces).map { m =>
          array_min(transform(col("cba"), e =>
            struct(l2(subVec(col("resid"), m), e(s"cw$m")).as("d"),
              e("cw_id").as("c"))))("c").as(s"code$m")
        }: _*)
  }

  /** The corpus embedding frame in the (vec_id, emb ARRAY<DOUBLE>)
    * shape the index builders consume. */
  private[graft] def embFrame(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))

  /** The full-corpus IVFPQ code table (vec_id, c_id, code0..M) — the
    * batch twin the incremental maintainer reconciles against. */
  private[graft] def ivfpqCodes(s: SparkSession, dir: String): DataFrame =
    ivfpqStage(s, dir)._2

  /** Codeword reconstruction for the wide code table: (vec_id, c_id,
    * code0, rresid) — the approximate residual the inverted list
    * effectively stores (shared by the v21 probe and the v22 audit, so
    * the 8-step broadcast-join fold exists once). */
  private def reconstructResiduals(codes: DataFrame, cb: DataFrame)
      : DataFrame = {
    // ONE broadcast 1-row (cw_id → sub-vector array) map instead of the
    // former 8 chained broadcast hash joins (one BroadcastExchange +
    // relation build per subspace, every probe query): the codebook is
    // bounded (|cb| × d doubles), so the whole lookup is a crossJoin of
    // a single broadcast row + a pure projection — map-side at any
    // scale, identical values (no arithmetic, just reassembly)
    val cbMap = cb.agg(map_from_entries(collect_list(struct(
      col("cw_id"), struct((0 until pqSubspaces).map(m =>
        col(s"cw$m")): _*)))).as("cw_by_id"))
    codes.crossJoin(broadcast(cbMap))
      .select(col("vec_id"), col("c_id"), col("code0"),
        flatten(array((0 until pqSubspaces).map(m =>
          element_at(col("cw_by_id"), col(s"code$m"))(s"cw$m")): _*))
          .as("rresid"))
  }

  /** The shared v21/v25 probe tail (the Scala twin of the oracle's
    * `ivfpqTopkFinisher`): queries probe their own nearest cell
    * (nprobe = 1, the serving constant v18's sweep justifies), the
    * exact query residual scores candidates by ADC — asymmetry is the
    * method — and the [[ivfpqShortlist]] survivors re-rank by true
    * cosine to top-5. One copy so a tie-break/shortlist change can
    * never drift between the fresh-index and grown-index probes. */
  private def probeTopk(q: DataFrame, lists: DataFrame, em: DataFrame)
      : DataFrame = {
    val slW = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("n_id"))
    val shortlist = broadcast(q).join(lists,
        col("c_id") === col("q_cid") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("n_id"),
        sqDist(col("q_resid"), col("rresid")).as("adc"))
      .withColumn("slrk", row_number().over(slW))
      .filter(col("slrk") <= ivfpqShortlist)
    val exW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    shortlist
      .join(em.select(col("vec_id").as("e_id"), col("emb").as("n_emb")),
        col("n_id") === col("e_id"))
      .select(col("q_id"), col("n_id"),
        round(dot(col("q_emb"), col("n_emb")) /
          (norm(col("q_emb")) * norm(col("n_emb"))), 6).as("cos"))
      .withColumn("rk", row_number().over(exW))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id"), col("cos"), col("rk"))
  }

  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val em = embFrame(s, dir)
    val (assigned, codes) = ivfpqStage(s, dir)
    val cb = residualCodebook(assigned)
    val lists = reconstructResiduals(codes, cb)
      .select(col("vec_id").as("n_id"), col("c_id"), col("rresid"))
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_cid"),
        col("emb").as("q_emb"), col("resid").as("q_resid"))
    probeTopk(q, lists, em)
  }

  /** v25: the APPEND-ONLY maintenance path of the IVFPQ index served
    * end to end (round-14 #5 — the one registered artifact family that
    * had no refresh story): the quantizers are TRAINED on the
    * pre-append corpus (every vec_id ≢ 3 mod 10), frozen, and the
    * arriving tenth of the corpus is folded in through
    * [[graft.streaming.IncrementalIndex.fold]] — drift-gated encode
    * against the broadcast artifacts, |batch|-sized work, no
    * full-corpus re-encode. The probe then serves top-k from the GROWN
    * inverted lists (v21's ADC + exact-re-rank shape). Fold == rebuild
    * with the same frozen artifacts row-for-row (assignment is
    * per-vector), so the oracle replays a one-shot encode of the full
    * corpus against the initial-corpus artifacts — a hash match proves
    * the folded index serves exactly what a rebuild would. */
  /** v25's standing state — the PRE-APPEND index (frozen artifacts +
    * the initial corpus's code table), memoized + persisted per
    * (session, dir) like [[ivfpqStage]]: in production this store
    * already exists when the batch arrives, so the timed query pays
    * only the fold (|batch| map-side encode) and the probe. */
  private val growStage = Standing("grow_index",
    Set("v25_index_grow_topk", "v26_index_delete_topk")) { (s, dir) =>
    val initial = embFrame(s, dir).filter(pmod(col("vec_id"), lit(10)) =!= 3)
    // deliberately NOT sharing one persisted assignment frame
    // across the codebook/yardstick/code-table builds: caching the
    // intermediate assignment doubled the SERVING plan (PerfSpec
    // caught v25 at 51 shuffle exchanges vs the committed 27 —
    // cache-entry layering defeated the codebook/code-table
    // substitution). The build pays one redundant assignment pass
    // at prestage time; the serving plan stays half the size,
    // which is the trade a standing index wants.
    val art0 = graft.streaming.IncrementalIndex.trainOn(initial)
    val cent = Standing.cached(art0.centroids)
    val cb = Standing.cached(art0.codebook)
    val art = art0.copy(centroids = cent, codebook = cb)
    (art, Standing.cached(pqEncode(cellResiduals(initial, cent), cb)))
  } { case (art, stored) =>
    art.centroids.unpersist(false)
    art.codebook.unpersist(false)
    stored.unpersist(false)
  }

  private def annIndexGrowTopk(s: SparkSession, dir: String): DataFrame = {
    val em = embFrame(s, dir)
    val arriving = Tables(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(10)) === 3)
      .select(col("vec_id"), col("embedding"))
    val (art, stored) = growStage(s, dir)
    val grown = graft.streaming.IncrementalIndex.fold(stored, arriving,
      art)
    val lists = reconstructResiduals(grown, art.codebook)
      .select(col("vec_id").as("n_id"), col("c_id"), col("rresid"))
    val q = cellResiduals(em.filter(col("vec_id") < 10), art.centroids)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_cid"),
        col("emb").as("q_emb"), col("resid").as("q_resid"))
    probeTopk(q, lists, em)
  }

  /** v26: the DELETE path of the grown index (round-15 #3), closing
    * the maintenance loop v25 opened — the reference's dim store
    * handles deletes as first-class
    * (`realtime-dim/.../HBaseSinkFunction.java:36-61` delete branch),
    * and a production embedding store purges ids the same way. Every
    * vec_id ≡ 2 (mod 7) is tombstoned; the tombstones anti-join the
    * grown inverted lists BEFORE shortlist ranking
    * ([[graft.streaming.IncrementalIndex.maskDeleted]]), so the served
    * top-k is row-identical to a probe over an index rebuilt on the
    * surviving corpus — |deletes|-sized broadcast work instead of a
    * |corpus| rewrite. Queries are surviving ids only (a purged id
    * issues no queries). The oracle replays the surviving-corpus
    * probe in DuckDB; IncrementalIndexSpec proves mask == rebuild and
    * the compaction path byte-equal. */
  private def annIndexDeleteTopk(s: SparkSession, dir: String): DataFrame = {
    val em = embFrame(s, dir)
    val arriving = Tables(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(10)) === 3)
      .select(col("vec_id"), col("embedding"))
    val (art, stored) = growStage(s, dir)
    val grown = graft.streaming.IncrementalIndex.fold(stored, arriving,
      art)
    val tombs = Tables(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(7)) === 2).select(col("vec_id"))
    val live = graft.streaming.IncrementalIndex.maskDeleted(grown, tombs)
    val lists = reconstructResiduals(live, art.codebook)
      .select(col("vec_id").as("n_id"), col("c_id"), col("rresid"))
    val q = cellResiduals(
        em.filter(col("vec_id") < 10 &&
          pmod(col("vec_id"), lit(7)) =!= 2),
        art.centroids)
      .select(col("vec_id").as("q_id"), col("c_id").as("q_cid"),
        col("emb").as("q_emb"), col("resid").as("q_resid"))
    probeTopk(q, lists, em)
  }

  /** v22: IVFPQ index-health audit — the per-cell quality report a
    * deployment monitors to decide when the frozen quantizers need
    * re-training (the operational counterpart of v21/IncrementalIndex:
    * as a corpus grows or drifts, residuals move away from the codebook
    * and reconstruction error climbs). Per coarse cell: member count,
    * mean/max PQ reconstruction error (exact residual vs its codeword
    * reconstruction — the quantization loss ADC scoring pays), and
    * subspace-0 codebook utilization (distinct codewords used; a
    * collapsing cell routes everything to a few codewords).
    *
    * Scale: one map-side encode (broadcast artifacts), one
    * reconstruction join (broadcast codebook), one groupBy(c_id) —
    * shuffle carries one row per vector. Errors are DECIMAL-quantized
    * before the cross-row mean so the report is partition-order
    * independent and value-oracles exactly. */
  private def ivfpqIndexHealth(s: SparkSession, dir: String): DataFrame = {
    val (assigned, codes) = ivfpqStage(s, dir)
    val cb = residualCodebook(assigned)
    val recon = reconstructResiduals(codes, cb)
      .select(col("vec_id").as("r_id"), col("code0").as("c0"),
        col("rresid"))
    assigned.join(recon, col("vec_id") === col("r_id"))
      .select(col("c_id"), col("c0"),
        round(sqDist(col("resid"), col("rresid")), 9).as("err"))
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("member_ct"),
        round(sum(col("err").cast(DecimalType(28, 9))).cast(DoubleType)
          / count(lit(1)), 6).as("mean_recon_err"),
        max(col("err")).as("max_recon_err"),
        countDistinct(col("c0")).as("codes_used_s0"))
      .select(col("c_id").as("cell_id"), col("member_ct"),
        col("mean_recon_err"), col("max_recon_err"), col("codes_used_s0"))
  }

  /** v24 (beyond-reference): the quantization-error ladder — corpus-level
    * reconstruction fidelity of every lossy vector representation the
    * suite deploys, in one table: SQ8 (v7/v19's scalar int8), plain PQ
    * (v8's whole-vector codebook), and IVFPQ residual codes (v21's
    * index). Per method: bytes per vector, mean/max per-vector squared
    * reconstruction error (per-dim normalized) and mean cosine between
    * raw and reconstruction — the memory-tier vs accuracy trade table an
    * operator reads BEFORE picking an index layout (v22 then monitors
    * the chosen one per cell over time). All three reconstructions are
    * exact IEEE chains (q8's floor-based half-up; codeword slices
    * re-assembled in subspace order), so the whole ladder value-oracles;
    * cross-row means are DECIMAL-quantized (partition-order free).
    * Scale: sq8 is one broadcast scalar + a map-side transform; pq pays
    * one corpus × 64-codeword broadcast argmin (v8's own shape); ivfpq
    * reads the memoized index stage — shuffle carries one row per
    * vector everywhere, and each method folds to ONE 1-row aggregate. */
  private def quantErrorLadder(s: SparkSession, dir: String): DataFrame = {
    val em = embFrame(s, dir)
    val scaleDf = em.agg(
      max(aggregate(col("emb"), lit(0.0),
        (acc, v) => greatest(acc, abs(v)))).as("max_abs"))
    // plain PQ = the IVFPQ encode/reconstruct machinery run over raw
    // vectors (zero-centroid "residuals"), which is exactly v8's layout:
    // codebook = first pqCodebookSize raw vectors' subspace slices
    val raw = em.select(col("vec_id"), lit(-1L).as("c_id"),
      col("emb"), col("emb").as("resid"))
    val cbRaw = residualCodebook(raw)
    // r15 opt (guide §2.4, §3.3): the sq8 and pq ladders FUSE into one
    // scan. Both reconstructions are per-row functions of emb against
    // broadcast 1-row relations — the sq8 scale scalar, and the PQ
    // codebook carried BOTH as the argmin array and as the (cw_id →
    // sub-vectors) reconstruction map — so encode → reconstruct → error
    // needs no join back to em (the former shape paid a second full
    // scan plus an id-keyed shuffle join just to re-attach emb) and
    // both methods' per-row errors aggregate in the same pass. The
    // argmin/map machinery is exactly pqEncode/reconstructResiduals'
    // (same array_min lexicographic tie-break, same map lookup), so
    // every reconstructed value — and the oracle hash — is unchanged.
    val cbBoth = cbRaw.agg(
      collect_list(struct(col("cw_id") +:
        (0 until pqSubspaces).map(m => col(s"cw$m")): _*)).as("cba"),
      map_from_entries(collect_list(struct(
        col("cw_id"), struct((0 until pqSubspaces).map(m =>
          col(s"cw$m")): _*)))).as("cw_by_id"))
    def codeOf(m: Int): Column = array_min(transform(col("cba"), e =>
      struct(l2(subVec(col("emb"), m), e(s"cw$m")).as("d"),
        e("cw_id").as("c"))))("c")
    val reconPq = flatten(array((0 until pqSubspaces).map(m =>
      element_at(col("cw_by_id"), codeOf(m))(s"cw$m")): _*))
    def errOf(recon: Column): Column =
      round(sqDist(col("emb"), recon) / lit(embDim.toDouble), 9)
    def cosOf(recon: Column): Column =
      round(dot(col("emb"), recon) /
        (norm(col("emb")) * norm(recon)), 9)
    def stats(err: String, cos: String, tag: String): Seq[Column] = Seq(
      round(sum(col(err).cast(DecimalType(28, 9))).cast(DoubleType)
        / count(lit(1)), 6).as(s"${tag}_mse"),
      max(col(err)).as(s"${tag}_max"),
      round(sum(col(cos).cast(DecimalType(28, 9))).cast(DoubleType)
        / count(lit(1)), 6).as(s"${tag}_cos"))
    val fusedAgg = em.crossJoin(broadcast(scaleDf))
      .crossJoin(broadcast(cbBoth))
      .select(col("emb"),
        transform(col("emb"), x =>
          q8(x, col("max_abs")).cast(DoubleType) * col("max_abs")
            / lit(127.0)).as("recon_sq8"),
        reconPq.as("recon_pq"))
      .select(
        errOf(col("recon_sq8")).as("err_sq8"),
        cosOf(col("recon_sq8")).as("cos_sq8"),
        errOf(col("recon_pq")).as("err_pq"),
        cosOf(col("recon_pq")).as("cos_pq"))
      .agg(count(lit(1)).as("n_vecs"),
        (stats("err_sq8", "cos_sq8", "sq8")
          ++ stats("err_pq", "cos_pq", "pq")): _*)
    val sq8pq = fusedAgg.select(explode(array(
        struct(lit("sq8").as("method"),
          lit(embDim.toLong).as("bytes_per_vec"), col("n_vecs"),
          col("sq8_mse").as("mse"), col("sq8_max").as("max_err"),
          col("sq8_cos").as("mean_cos")),
        struct(lit("pq").as("method"),
          lit(pqSubspaces.toLong).as("bytes_per_vec"), col("n_vecs"),
          col("pq_mse").as("mse"), col("pq_max").as("max_err"),
          col("pq_cos").as("mean_cos")))).as("r"))
      .select(col("r.method").as("method"),
        col("r.bytes_per_vec").as("bytes_per_vec"),
        col("r.n_vecs").as("n_vecs"), col("r.mse").as("mse"),
        col("r.max_err").as("max_err"), col("r.mean_cos").as("mean_cos"))
    // ivfpq deliberately keeps reading the MEMOIZED stored code table —
    // this row audits the index artifact the serving layer actually
    // holds, so recomputing codes inline (though value-identical) would
    // change what the audit is evidence of; the id-keyed join stays.
    val (assigned, codes) = ivfpqStage(s, dir)
    val cbR = residualCodebook(assigned)
    val ivf = assigned.join(
        reconstructResiduals(codes, cbR)
          .select(col("vec_id").as("r_id"), col("rresid")),
        col("vec_id") === col("r_id"))
      .select(col("vec_id"), col("emb"),
        zip_with(col("emb"),
          zip_with(col("rresid"), col("resid"), (rr, r) => rr - r),
          (x, d) => x + d).as("recon"))
    val ivfRow = ivf.select(
        errOf(col("recon")).as("err"), cosOf(col("recon")).as("cos"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("err").cast(DecimalType(28, 9))).cast(DoubleType)
          / count(lit(1)), 6).as("mse"),
        max(col("err")).as("max_err"),
        round(sum(col("cos").cast(DecimalType(28, 9))).cast(DoubleType)
          / count(lit(1)), 6).as("mean_cos"))
      .select(lit("ivfpq").as("method"),
        lit((pqSubspaces + 2).toLong).as("bytes_per_vec"), col("n_vecs"),
        col("mse"), col("max_err"), col("mean_cos"))
    sq8pq.unionByName(ivfRow)
  }

  /** Post-filter pool depths v23 sweeps (the v18 idiom applied to
    * filter selectivity instead of probe count). */
  val filterPools: Seq[Int] = Seq(10, 20, 40)

  /** v23: filtered-search pool-depth curve — the tuning table behind
    * every attribute-constrained vector query (tenant/label/language
    * filters): a POST-filtering service takes the unconstrained
    * top-`pool` and then applies the predicate, so the question is how
    * deep the pool must be before the filtered top-5 survives. For
    * each query (vec_id < 10, predicate = same label) and each pool
    * depth in [[filterPools]]: how many predicate-matching candidates
    * the pool retains and whether the full filtered top-5 was
    * recovered (with one exact scorer the retained set IS the filtered
    * top-min(kept,5), so kept >= 5 ⇔ full recovery; in a two-stage
    * ANN deployment the same curve compounds with index loss). Low
    * kept counts at realistic depths are the standard argument for
    * PRE-filtered (per-predicate partitioned) indexes. One broadcast
    * pair scan serves every (query, pool) cell; the DENSE spine (a
    * zero-match cell must report 0, not vanish) comes from the same
    * query × pool cross as v18. */
  private def filterPoolCurve(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val rkW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val ranked = broadcast(q).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"),
        col("vec_id").as("n_id"), col("label"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
      .withColumn("rk", row_number().over(rkW))
      .filter(col("rk") <= filterPools.max)
    val kept = ranked
      .select(col("q_id"),
        explode(lit(filterPools.toArray)).as("pool"),
        (col("rk") <= col("pool") &&
          col("label") === col("q_label")).cast("long").as("hit"))
      .groupBy(col("q_id"), col("pool"))
      .agg(sum(col("hit")).as("kept_ct"))
    q.select(col("q_id").as("s_qid"),
        explode(lit(filterPools.toArray)).as("s_pool"))
      .join(kept, col("s_qid") === col("q_id") &&
        col("s_pool") === col("pool"), "left_outer")
      .select(col("s_qid").as("q_id"),
        col("s_pool").cast(LongType).as("pool"),
        coalesce(col("kept_ct"), lit(0L)).as("kept_ct"),
        (coalesce(col("kept_ct"), lit(0L)) >= 5L).as("recovered"))
  }

  /** v11: SemDeDup (Abbas, Tirumala, Simig, Ganguli, Morcos, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540) — semantic near-dup pruning with
    * the pairwise work BOUNDED BY THE CLUSTER: vectors are compared only
    * against members of their own k-means cell (the shared memoized
    * Lloyd assignment), so the candidate set is Σ|cell|² ≈ n²/k instead
    * of n² — the paper's exact recipe for running pairwise cosine at
    * web scale. Keep rule (deterministic): a vector is pruned iff some
    * LOWER-id member of its cluster has cosine ≥ τ with it — the
    * "keep one representative per near-dup relation" greedy, expressed
    * as one within-cluster self-join (a_id < b_id) + distinct, no
    * iteration. Output is the per-cluster dedup ledger a 100 TB run
    * publishes: members, pruned, kept, first pruned id. */
  private val semTau = 0.15
  private def semDedup(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("e_id"), asD(col("embedding")).as("emb"))
    val m = lloydAssign1(s, dir)
      .join(em, col("vec_id") === col("e_id"))
      .select(col("c_id"), col("vec_id"), col("emb"),
        norm(col("emb")).as("nrm"))
    val l = m.select(col("c_id"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val r = m.select(col("c_id").as("r_cid"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    val pruned = l.join(r,
        col("c_id") === col("r_cid") && col("a_id") < col("b_id"))
      .filter(round(dot(col("a_emb"), col("b_emb"))
        / (col("a_nrm") * col("b_nrm")), 6) >= semTau)
      .select(col("c_id").as("p_cid"), col("b_id")).distinct()
    val stats = pruned.groupBy(col("p_cid"))
      .agg(count(lit(1)).as("pruned_ct"), min(col("b_id")).as("first_pruned"))
    m.groupBy(col("c_id")).agg(count(lit(1)).as("member_ct"))
      .join(stats, col("c_id") === col("p_cid"), "left_outer")
      .select(col("c_id").as("cluster_id"), col("member_ct"),
        coalesce(col("pruned_ct"), lit(0L)).as("pruned_ct"),
        (col("member_ct") - coalesce(col("pruned_ct"), lit(0L)))
          .as("kept_ct"),
        col("first_pruned"))
  }

  /** v12: top principal direction of the embedding cloud via THREE
    * unrolled power-iteration steps (v ← Cᵀ(Cv), renormalized) — the
    * distributed linear-algebra kernel behind PCA whitening, spectral
    * embedding-drift monitors, and low-rank compression of embedding
    * stores. The c12-pagerank idiom applied to linalg: every matrix
    * product is two keyed aggregations over the exploded (vec_id, dim,
    * value) cell relation — `p = Cv` groups by vec_id, `w = Cᵀp` groups
    * by dim — so the shuffles are bounded by n·d cells and NOTHING is
    * ever collected to the driver; the normalizer (max |w|, exact) joins
    * back as a broadcast 1-row aggregate. Every cross-row sum is
    * DECIMAL-quantized (the v9/t13 idiom), so the result is bit-stable
    * under any partitioning and exactly replayable by the oracle. The
    * centered cell relation is localCheckpointed once: six downstream
    * aggregations read it, and on a cluster this is `checkpoint` (the c1
    * lesson — without it the unrolled plan re-derives the centering
    * join 2^3 times). Deterministic start v₀ = 1⃗; 3 fixed steps (no
    * data-dependent loop → ONE declarative plan shape). */
  private def pcaPower(s: SparkSession, dir: String): DataFrame =
    pcaPowerFor(Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb")))

  /** Generic power iteration for an arbitrary (vec_id, emb ARRAY<DOUBLE>)
    * frame — the v12 core behind [[graft.api.Graft.pcaTopComponent]].
    *
    * Round 15 shape: the iterate `v` lives as a BROADCAST d-array, so
    * `p = Cv` is a per-row array fold (zero shuffle — the former
    * vec_id-keyed aggregation moved every n·d cell through an
    * exchange) and `w = Cᵀp` is one posexplode + d-group hash
    * aggregate whose partials combine map-side: per iteration the
    * only shuffled bytes are d partial rows per task, not the corpus.
    * Bit-parity with the previous cell formulation (and the oracle)
    * holds because every rounding point is unchanged — round(c·vj, 9)
    * and round(c·p, 6) per term, then EXACT DECIMAL sums (the fold
    * accumulator is DECIMAL(38,9), the same width Spark's sum gives a
    * DECIMAL(28,9) input, so addition never rounds and the total is
    * partition- and order-independent). */
  private[graft] def pcaPowerFor(em: DataFrame): DataFrame = {
    val cells = em
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("j0", "x")))
      .select(col("vec_id"), (col("j0") + 1).as("j"), col("x"))
    val means = cells.groupBy(col("j"))
      .agg((sum(round(col("x"), 9).cast(DecimalType(28, 9)))
        .cast(DoubleType) / count(lit(1))).as("mu"))
    // d-row frame → one broadcast array ordered by j
    val muArr = means
      .agg(sort_array(collect_list(struct(col("j"), col("mu")))).as("a"))
      .select(transform(col("a"), e => e("mu")).as("mu"))
    // centered rows stay in ARRAY layout: one row per vector, d cells
    val cent = em.crossJoin(broadcast(muArr))
      .select(col("vec_id"),
        zip_with(col("emb"), col("mu"), (x, m) => x - m).as("c"))
      .localCheckpoint(true)
    // accumulator DECIMAL(37,9): Add(37,9 + 28,9) widens to exactly
    // DECIMAL(38,9) — no precision overflow, so no scale trim: every
    // step is exact and the fold equals the engine's sum bit-for-bit
    // (a 38,9 accumulator would widen to 39 and silently round to
    // scale 8 each step — measured 1e-7 drift over 64 adds)
    val dec0 = lit(BigDecimal(0).bigDecimal).cast(DecimalType(37, 9))
    val v0 = muArr.select(transform(col("mu"), _ => lit(1.0)).as("v"))
    val v3 = (1 to 3).foldLeft(v0) { (v, _) =>
      // p = Cv: fold each centered row against the broadcast iterate —
      // map-side only, nothing keyed by vec_id ever leaves the task
      val p = cent.crossJoin(broadcast(v))
        .select(col("c"),
          aggregate(
            zip_with(col("c"), col("v"),
              (c, vj) => round(c * vj, 9).cast(DecimalType(28, 9))),
            dec0, (acc, t) => (acc + t).cast(DecimalType(37, 9)))
            .cast(DoubleType).as("p"))
      // w = Cᵀp: d-group aggregate, partials combine map-side
      val w = p
        .select(posexplode(transform(col("c"),
          c => round(c * col("p"), 6).cast(DecimalType(28, 6))))
          .as(Seq("j0", "t")))
        .groupBy((col("j0") + 1).as("j"))
        .agg(sum(col("t")).cast(DoubleType).as("w"))
      // normalize and re-pack the d-row result into the next broadcast
      // iterate in ONE 1-row aggregate (max and pack together)
      w.agg(max(abs(col("w"))).as("mx"),
          sort_array(collect_list(struct(col("j"), col("w")))).as("a"))
        .select(transform(col("a"),
          e => round(e("w") / col("mx"), 9)).as("v"))
    }
    v3.select(posexplode(col("v")).as(Seq("j0", "loading")))
      .select((col("j0") + 1).cast(LongType).as("dim"), col("loading"))
  }

  /** v13: embedding-centroid drift monitor — the production data-quality
    * check for an embedding store: per label, compare the per-dimension
    * centroid of two snapshot epochs (deterministic stand-in: vec_id
    * parity) and report the L2 distance between centroids. A drift
    * alarm on this number is how pipelines catch upstream encoder or
    * distribution changes. Engine parity: per-(label, epoch, dim) means
    * are DECIMAL-quantized sums (the v9 idiom), the per-dim squared
    * deltas are rounded then DECIMAL-summed across dims, and the final
    * sqrt is IEEE-exact in both engines. Scale: two shuffles — cells
    * keyed by (label, epoch, dim), then the k×d-bounded mean join —
    * nothing driver-side. */
  private def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("emb"))
      .select(col("label"), pmod(col("vec_id"), lit(2L)).as("epoch"),
        posexplode(col("emb")).as(Seq("j0", "x")))
      .select(col("label"), col("epoch"), (col("j0") + 1).as("j"), col("x"))
    val means = cells.groupBy(col("label"), col("epoch"), col("j"))
      .agg((sum(round(col("x"), 9).cast(DecimalType(28, 9)))
        .cast(DoubleType) / count(lit(1))).as("m"),
        count(lit(1)).as("ct"))
    val m0 = means.filter(col("epoch") === 0)
      .select(col("label").as("l0"), col("j").as("j0k"),
        col("m").as("m0"), col("ct").as("ct0"))
    val m1 = means.filter(col("epoch") === 1)
      .select(col("label").as("l1"), col("j").as("j1k"),
        col("m").as("m1"), col("ct").as("ct1"))
    m0.join(m1, col("l0") === col("l1") && col("j0k") === col("j1k"))
      .groupBy(col("l0").as("label"))
      .agg(max(col("ct0")).as("epoch0_ct"), max(col("ct1")).as("epoch1_ct"),
        sum(round((col("m0") - col("m1")) * (col("m0") - col("m1")), 9)
          .cast(DecimalType(28, 9))).as("ssq"))
      .select(col("label"), col("epoch0_ct"), col("epoch1_ct"),
        round(sqrt(col("ssq").cast(DoubleType)), 6).as("drift"))
  }

  /** v14: truncated-dimension retrieval audit (the Matryoshka/MRL
    * deployment question — Kusupati et al., "Matryoshka Representation
    * Learning", NeurIPS 2022: serve the first d/2 dims at half the
    * memory/compute, how much recall survives?): per query, top-5 by
    * full 64-dim cosine vs top-5 by 32-dim-prefix cosine, reported as
    * the overlap count. On MRL-trained embeddings this recall is the
    * go/no-go metric for dimension truncation; the operator IS the
    * audit a serving migration runs. Both rankings come off ONE
    * broadcast-query pair scan (two cosines per pair, two rank windows
    * over the same shuffle) — the truncated side reuses the pair join
    * rather than paying a second O(Q×N) pass. */
  private def annTruncated(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("emb32", slice(col("emb"), 1, embDim / 2))
      .withColumn("nrm", norm(col("emb")))
      .withColumn("nrm32", norm(col("emb32")))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("emb32").as("q_emb32"), col("nrm").as("q_nrm"),
        col("nrm32").as("q_nrm32"))
    val pairs = broadcast(q).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")),
          6).as("cos_full"),
        round(dot(col("q_emb32"), col("emb32")) /
          (col("q_nrm32") * col("nrm32")), 6).as("cos_tr"))
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_full").desc, col("n_id"))
    val wT = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_tr").desc, col("n_id"))
    pairs
      .withColumn("rkf", row_number().over(wF))
      .withColumn("rkt", row_number().over(wT))
      .groupBy(col("q_id"))
      .agg(sum(when(col("rkf") <= 5 && col("rkt") <= 5, 1L).otherwise(0L))
        .as("recall_ct"))
      .select(col("q_id"), col("recall_ct"),
        round(col("recall_ct").cast(DoubleType) / 5.0, 6).as("recall"))
  }

  /** v15: label-precision retrieval audit — the embedding-quality
    * metric when class labels exist: for each query vector (vec_id <
    * 50), how many of its top-5 cosine neighbors share its label
    * (precision@5), rolled up per label as an integer match-sum mean
    * (sum of match counts / 5·queries — no per-query float enters a
    * cross-row sum, so the rollup is partition-order exact). This is
    * the eval every embedding-space build runs before trusting
    * nearest-neighbor labels for semantic dedup (v11) or mixing —
    * per-class precision exposes exactly which labels' neighborhoods
    * are polluted. Same broadcast-query pair-scan shape as v1. */
  private def labelPrecision(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val q = em.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    broadcast(q).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")),
          6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
        .as("match_ct"))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("q_ct"), sum(col("match_ct")).as("match_sum"))
      .select(col("label"), col("q_ct"), col("match_sum"),
        round(col("match_sum").cast(DoubleType) / (col("q_ct") * 5L), 6)
          .as("mean_precision"))
  }

  /** v16: hard-negative mining — the contrastive-training prep step:
    * for each query vector, the highest-ranked OTHER-label neighbor
    * inside its cosine top-10 (the "hardest negative" — close in
    * embedding space, different class; the sample InfoNCE/triplet
    * training wants most). One row per query that has such a neighbor,
    * with the negative's rank as the difficulty signal. Same
    * broadcast-query pair scan as v15; the mining itself is one rank
    * window + one min-rank pick. */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val q = em.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val wNeg = Window.partitionBy(col("q_id")).orderBy(col("rk"))
    broadcast(q).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")),
          6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10 && col("n_label") =!= col("q_label"))
      .withColumn("pick", row_number().over(wNeg))
      .filter(col("pick") === 1)
      .select(col("q_id"), col("q_label"), col("n_id").as("neg_id"),
        col("n_label").as("neg_label"), col("cos"),
        col("rk").cast(LongType).as("neg_rank"))
  }

  /** v17: Davies–Bouldin clustering quality over the shared Lloyd
    * assignment — the standard internal validation index (Davies &
    * Bouldin, IEEE TPAMI 1979): per cluster, the mean member distance
    * to the cluster mean (scatter sᵢ) and the worst
    * (sᵢ+sⱼ)/d(μᵢ,μⱼ) ratio against any other cluster — high worst
    * ratios mark overlapping/diffuse clusters, the go/no-go before
    * trusting k-means cells for SemDeDup (v11) or IVF routing (v3).
    * Engine parity: member distances and coordinate means are
    * DECIMAL-quantized before every cross-row sum; the k×k centroid
    * table is tiny (n/50 rows), so the pairwise separation join is
    * bounded by k², never n². Reuses the memoized v9 assignment. */
  private def daviesBouldin(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
    val memb = em.join(lloydAssign1(s, dir)
        .select(col("vec_id").as("a_vid"), col("c_id")),
        col("vec_id") === col("a_vid"))
      .select(col("c_id"), col("emb"))
    val mu = memb
      .select(col("c_id"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("c_id"), col("pos"))
      .agg((sum(round(col("v"), 9).cast(DecimalType(28, 9)))
        .cast(DoubleType) / count(lit(1))).as("m"))
      .groupBy(col("c_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("mu"))
      // k rows; read by the scatter join AND both sides of the k×k
      // separation join — checkpoint so the two-aggregation centroid
      // subtree plans once, not three times (budget ledger: 79
      // exchanges before the cut)
      .localCheckpoint(true)
    val scat = memb.join(mu.withColumnRenamed("c_id", "m_cid"),
        col("c_id") === col("m_cid"))
      .select(col("c_id"),
        sqrt(sqDist(col("emb"), col("mu"))).as("dist"))
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("member_ct"),
        round(sum(round(col("dist"), 9).cast(DecimalType(28, 9)))
          .cast(DoubleType) / count(lit(1)), 6).as("scatter"))
      // k rows, read three times (s_i side, s_j side, final join)
      .localCheckpoint(true)
    // k×k centroid pairs with the (tiny, k-row) right side broadcast —
    // the separation join is bounded by centroid count, never n
    val dij = mu.as("ma").join(broadcast(mu.as("mb")),
        col("ma.c_id") =!= col("mb.c_id"))
      .select(col("ma.c_id").as("c_i"), col("mb.c_id").as("c_j"),
        round(sqrt(sqDist(col("ma.mu"), col("mb.mu"))), 6).as("d_ij"))
    val worst = dij
      .join(scat.select(col("c_id").as("si_id"), col("scatter").as("si")),
        col("c_i") === col("si_id"))
      .join(scat.select(col("c_id").as("sj_id"), col("scatter").as("sj")),
        col("c_j") === col("sj_id"))
      .select(col("c_i"), round((col("si") + col("sj")) / col("d_ij"), 6)
        .as("ratio"))
      .groupBy(col("c_i")).agg(max(col("ratio")).as("worst_ratio"))
    scat.join(worst, col("c_id") === col("c_i"))
      .select(col("c_id").as("cluster_id"), col("member_ct"),
        col("scatter"), col("worst_ratio"))
  }

  /** v18: IVF probe-recall curve — the recall/latency tuning table
    * every IVF deployment reads before fixing nprobe: for each query
    * and probe count p ∈ {1,2,3}, how many of the true (brute-force)
    * top-5 neighbors survive when only the p closest coarse cells are
    * searched. v3 ships nprobe=1; this is the measurement that
    * justifies it (or buys more recall with p=2 at ~2× probe cost).
    * One centroid-rank pass serves BOTH the data-side assignment
    * (rank 1) and the query-side probe lists (ranks ≤ 3); the probe
    * levels explode from the same candidate join, so the whole curve
    * costs one bucket join + one rank window more than v3 itself. */
  private def probeRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val cent = em.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))
    val rankW = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val ranked = em.join(broadcast(cent))
      .withColumn("c_cos",
        dot(col("emb"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .withColumn("crk", row_number().over(rankW))
    val assigned = ranked.filter(col("crk") === 1)
      .select(col("vec_id").as("n_id"), col("c_id").as("n_cid"),
        col("emb").as("n_emb"), col("nrm").as("n_nrm"))
    val qTop = ranked.filter(col("vec_id") < 10 &&
        col("crk") <= ivfProbeSweepMax)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("c_id").as("q_cid"),
        col("crk").as("q_crk"))
    // candidates per probe level: explode p and keep cells ranked <= p
    val pw = Window.partitionBy(col("q_id"), col("p"))
      .orderBy(col("cos").desc, col("n_id"))
    val probeTop = qTop.join(assigned,
        col("q_cid") === col("n_cid") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), col("q_crk"),
        round(dot(col("q_emb"), col("n_emb")) /
          (col("q_nrm") * col("n_nrm")), 6).as("cos"))
      .withColumn("p", explode(sequence(col("q_crk"),
        lit(ivfProbeSweepMax))))
      .withColumn("rk", row_number().over(pw))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("p"), col("n_id"))
    val bruteW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("b_id"))
    val brute = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val bruteTop = broadcast(brute)
      .join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("b_id"),
        round(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")),
          6).as("cos"))
      .withColumn("rk", row_number().over(bruteW))
      .filter(col("rk") <= 5)
      .select(col("q_id").as("bq_id"), col("b_id"))
    val hits = probeTop.join(bruteTop,
        col("q_id") === col("bq_id") && col("n_id") === col("b_id"),
        "left_outer")
      .groupBy(col("q_id").as("h_qid"), col("p").as("h_p"))
      .agg(sum(when(col("b_id").isNotNull, 1L).otherwise(0L))
        .as("hit_ct"))
    // dense (query × nprobe) spine: a probe level with ZERO candidates
    // (the query alone in its probed cells) must still report
    // recall 0 — a missing row reads as "not measured"
    em.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .crossJoin(s.range(1, ivfProbeSweepMax + 1)
        .select(col("id").cast("int").as("p")))
      .join(hits, col("q_id") === col("h_qid") && col("p") === col("h_p"),
        "left_outer")
      .select(col("q_id"), col("p").cast(LongType).as("nprobe"),
        coalesce(col("hit_ct"), lit(0L)).as("recall_ct"),
        round(coalesce(col("hit_ct"), lit(0L)).cast(DoubleType) / 5.0, 6)
          .as("recall"))
  }

  /** v19 serving shape: probe [[rerankNprobe]] coarse cells, shortlist
    * [[rerankShortlist]] by the cheap int8 score, exact-rerank only the
    * shortlist. */
  val rerankNprobe = 2
  val rerankShortlist = 20

  /** Quantize one component to the int8 grid with EXPLICIT
    * round-half-up (`floor(x·127/s + 0.5)`) — floor is IEEE-exact and
    * identical in every engine, unlike `round()` whose half-way rule
    * differs across dialects. This is what lets v19 carry a full
    * value-level oracle where v7 (builtin `round`) can only state a
    * recall contract. */
  private def q8(x: Column, maxAbs: Column): Column =
    floor(x * lit(127.0) / maxAbs + lit(0.5)).cast(IntegerType)

  /** v19: two-stage retrieval (the production IVF+SQ8+refine layout —
    * the faiss `IVF,SQ8` index with exact re-ranking): queries probe
    * their [[rerankNprobe]] nearest coarse cells; candidates in those
    * cells are scored by the CHEAP int8 dot (4× less memory bandwidth —
    * at 100 TB the float vectors stay in cold storage and only the
    * shortlist's are fetched); the top-[[rerankShortlist]] shortlist is
    * re-ranked by exact double cosine and the final top-5 is audited
    * against brute force (recall@5, dense over queries). Every stage is
    * a total order (ties → n_id), every float either exact-int-derived
    * or a fixed IEEE op chain, so the WHOLE two-stage answer — not just
    * a contract — replays bit-identically in the oracle. */
  private def twoStageRerank(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val cent = em.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))
    val rankW = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val ranked = em.join(broadcast(cent))
      .withColumn("c_cos",
        dot(col("emb"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .withColumn("crk", row_number().over(rankW))
    val scaleDf = em.agg(
      max(aggregate(col("emb"), lit(0.0),
        (acc, v) => greatest(acc, abs(v)))).as("max_abs"))
    val store = ranked.filter(col("crk") === 1)
      .crossJoin(broadcast(scaleDf))
      .select(col("vec_id").as("n_id"), col("c_id").as("n_cid"),
        col("emb").as("n_emb"), col("nrm").as("n_nrm"),
        transform(col("emb"), x => q8(x, col("max_abs"))).as("q"))
      .withColumn("qn", sqrt(idot(col("q"), col("q")).cast(DoubleType)))
    val qs = ranked.filter(col("vec_id") < 10 && col("crk") <= rerankNprobe)
      .crossJoin(broadcast(scaleDf))
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("c_id").as("q_cid"),
        transform(col("emb"), x => q8(x, col("max_abs"))).as("q_q"))
      .withColumn("q_qn", sqrt(idot(col("q_q"), col("q_q")).cast(DoubleType)))
    val slW = Window.partitionBy(col("q_id"))
      .orderBy(col("acos").desc, col("n_id"))
    val shortlist = broadcast(qs).join(store,
        col("n_cid") === col("q_cid") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (idot(col("q_q"), col("q")).cast(DoubleType) /
          (col("q_qn") * col("qn"))).as("acos"),
        col("q_emb"), col("q_nrm"), col("n_emb"), col("n_nrm"))
      .withColumn("srk", row_number().over(slW))
      .filter(col("srk") <= rerankShortlist)
    val rrW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val top = shortlist
      .select(col("q_id"), col("n_id"),
        round(dot(col("q_emb"), col("n_emb")) /
          (col("q_nrm") * col("n_nrm")), 6).as("cos"))
      .withColumn("rk", row_number().over(rrW))
      .filter(col("rk") <= 5)
    val brute = annBrute(s, dir)
      .select(col("q_id").as("b_qid"), col("n_id").as("b_nid"))
    val hits = top.join(brute,
        col("q_id") === col("b_qid") && col("n_id") === col("b_nid"),
        "left_outer")
      .groupBy(col("q_id").as("h_qid"))
      .agg(count(lit(1)).as("final_ct"),
        sum(when(col("b_nid").isNotNull, 1L).otherwise(0L)).as("recall_ct"))
    // dense query spine: a query whose probed cells hold no candidates
    // must still report recall 0, not vanish
    em.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .join(hits, col("q_id") === col("h_qid"), "left_outer")
      .select(col("q_id"),
        coalesce(col("final_ct"), lit(0L)).as("final_ct"),
        coalesce(col("recall_ct"), lit(0L)).as("recall_ct"),
        round(coalesce(col("recall_ct"), lit(0L)).cast(DoubleType) / 5.0, 6)
          .as("recall"))
  }

  /** v20 MMR geometry: re-rank the top-[[mmrPool]] relevance shortlist
    * into [[mmrK]] diversified picks at trade-off λ = 0.7. */
  val mmrPool = 20
  val mmrK = 5

  /** v20: MMR-diversified top-k (Carbonell & Goldstein, SIGIR'98) — the
    * RAG-serving de-redundancy step: after relevance retrieval, pick k
    * results greedily by λ·rel − (1−λ)·max-sim-to-already-picked, so
    * near-duplicate passages don't crowd the context window. The greedy
    * loop is inherently sequential in k, but k is tiny and the pool is
    * per-query bounded, so all [[mmrK]] steps UNROLL into one
    * declarative plan (the c12/v12 pattern): the pool and its pairwise
    * sims materialize once (localCheckpoint — pool×pool is ≤ 20² per
    * query, never corpus²), then each step is an anti-join (drop
    * picked) + max-sim aggregate + rank-1 pick. Similarities are
    * quantized to 1e-6 INTEGERS up front and the MMR score is computed
    * exactly in integer e-7 units (score_e7 = 7·rel_e6 − 3·msim_e6):
    * λ = 0.7 times a 6-decimal value is a 7-decimal value — i.e. a
    * built-in HALF-WAY case at the rounding digit on almost every row —
    * and Spark (decimal-string HALF_UP) and DuckDB (binary) disagree
    * exactly there, so the only skew-proof score is one that never
    * rounds a float. Every pick is then a pure integer total order and
    * the whole greedy trajectory value-oracles. */
  private def mmrDiversify(s: SparkSession, dir: String): DataFrame = {
    val em = Tables(s, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val qs = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    // 1e-6-integer cosine: the last float rounding in the whole query
    // (a raw cosine sits at a .5 micro-boundary with ~zero probability;
    // every DERIVED quantity below stays integer)
    def e6(c: Column): Column = round(c * lit(1e6), 0).cast(LongType)
    val poolW = Window.partitionBy(col("q_id"))
      .orderBy(col("rel_e6").desc, col("n_id"))
    val pool = broadcast(qs).join(em, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        e6(dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
          .as("rel_e6"),
        col("emb").as("n_emb"), col("nrm").as("n_nrm"))
      .withColumn("rk", row_number().over(poolW))
      .filter(col("rk") <= mmrPool).drop("rk")
      // reused by all 5 unrolled steps + the pair stage: materialize
      // once (cluster analog: a staged shortlist table)
      .localCheckpoint(true)
    val pa = pool.select(col("q_id"), col("n_id").as("a_id"),
      col("n_emb").as("a_emb"), col("n_nrm").as("a_nrm"))
    val pb = pool.select(col("q_id").as("qb"), col("n_id").as("b_id"),
      col("n_emb").as("b_emb"), col("n_nrm").as("b_nrm"))
    val pc = pa.join(pb, col("q_id") === col("qb") &&
        col("a_id") =!= col("b_id"))
      .select(col("q_id").as("pq"), col("a_id"), col("b_id"),
        e6(dot(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm"))).as("pcos_e6"))
      .localCheckpoint(true)
    val poolSlim = pool.select(col("q_id"), col("n_id"), col("rel_e6"))
    val scW = Window.partitionBy(col("q_id"))
      .orderBy(col("score_e7").desc, col("n_id"))
    var sel = poolSlim
      .select(col("q_id"), col("n_id"),
        (lit(7L) * col("rel_e6")).as("score_e7"))
      .withColumn("rk", row_number().over(scW))
      .filter(col("rk") === 1).drop("rk")
      .withColumn("mmr_step", lit(1L))
    for (k <- 2 to mmrK) {
      val selIds = sel.select(col("q_id").as("sq"), col("n_id").as("sn"))
      val cand = poolSlim.join(selIds,
        col("q_id") === col("sq") && col("n_id") === col("sn"), "left_anti")
      val pick = cand.join(pc,
          col("q_id") === col("pq") && col("n_id") === col("a_id"))
        .join(selIds,
          col("pq") === col("sq") && col("b_id") === col("sn"))
        .groupBy(col("q_id"), col("n_id"), col("rel_e6"))
        .agg(max(col("pcos_e6")).as("msim_e6"))
        .select(col("q_id"), col("n_id"),
          (lit(7L) * col("rel_e6") - lit(3L) * col("msim_e6"))
            .as("score_e7"))
        .withColumn("rk", row_number().over(scW))
        .filter(col("rk") === 1).drop("rk")
        .withColumn("mmr_step", lit(k.toLong))
      // the growing pick set is referenced THREE times next step (anti-
      // join probe + max-sim join + the union) — without cutting the
      // lineage here the plan doubles per step (the budget ledger
      // measured 361 exchanges for the 5-step unroll); checkpointing
      // ≤ mmrK·10 rows per step keeps the plan constant-size (cluster
      // analog: the greedy frontier is a tiny staged table)
      sel = sel.unionByName(pick).localCheckpoint(true)
    }
    // score in natural units for the reader: exact integer / 1e7, the
    // same IEEE division in both engines
    sel.select(col("q_id"), col("n_id"), col("score_e7"),
      (col("score_e7").cast(DoubleType) / lit(1e7)).as("score"),
      col("mmr_step"))
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "v20_mmr_diversify" -> mmrDiversify,
    "v19_two_stage_rerank" -> twoStageRerank,
    "v18_probe_recall" -> probeRecallCurve,
    "v17_davies_bouldin" -> daviesBouldin,
    "v16_hard_negatives" -> hardNegatives,
    "v15_label_precision" -> labelPrecision,
    "v14_truncated_recall" -> annTruncated,
    "v13_centroid_drift" -> centroidDrift,
    "v12_pca_power" -> pcaPower,
    "v11_semdedup" -> semDedup,
    "v9_kmeans_assign" -> kmeansAssign,
    "v10_embed_outliers" -> embedOutliers,
    "v8_ann_pq_topk" -> annPq,
    "v21_ivfpq_topk" -> annIvfPq,
    "v25_index_grow_topk" -> annIndexGrowTopk,
    "v26_index_delete_topk" -> annIndexDeleteTopk,
    "v22_index_health" -> ivfpqIndexHealth,
    "v24_quant_error" -> quantErrorLadder,
    "v23_filter_pool_curve" -> filterPoolCurve,
    "v7_ann_int8_topk" -> annInt8,
    "v6_ann_signlsh_topk" -> annSignLsh,
    "v1_ann_brute_topk" -> annBrute,
    "v2_embed_stats" -> embedStats,
    "v3_ann_ivf_topk" -> annIvf,
    "v4_ann_native_topk" -> annNative,
    "v5_embed_near_dup" -> embedNearDup)

  /** Oracle twin of [[dot]]: 1-indexed positional product, summed in list
    * order. */
  private def dotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"

  /** Oracle twin of [[idot]]: 1-indexed positional integer product,
    * summed in list order (exact — no float until the caller divides). */
  private def idotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(range(1, ${embDim + 1}), " +
      s"i -> $a[i] * $b[i]), 'sum')"

  /** Oracle twin of [[q8]] — the explicit floor-based half-up rounding
    * both engines compute identically. */
  private def q8Sql(x: String): String =
    s"CAST(floor($x * 127.0 / max_abs + 0.5) AS BIGINT)"

  /** The plane constants as a DuckDB list literal (same values as
    * [[planes]] — one source of truth via planeSign). */
  private def planeListSql(p: Int): String =
    planes(p).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")

  /** Oracle twin of [[sqDist]] — 1-indexed positional squared diffs,
    * summed in list order. */
  private def d2Sql(a: String, b: String): String =
    s"list_aggregate(list_transform(range(1, ${embDim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"

  /** Shared Lloyd-step replay (seed → argmin assign → DECIMAL-quantized
    * mean recompute → re-assign), the oracle twin of [[lloydAssign1]];
    * v9 and v10 both append their finisher to this CTE chain. */
  private lazy val lloydCte: String =
    s"""WITH em AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cent0 AS (SELECT vec_id AS c_id, emb AS c_emb FROM em
       |          WHERE vec_id % 50 = 0),
       |a0 AS (SELECT vec_id, emb, c_id, ${d2Sql("emb", "c_emb")} AS d2
       |       FROM em CROSS JOIN cent0),
       |assign0 AS (
       |  SELECT vec_id, emb, c_id FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY d2, c_id) AS rk
       |    FROM a0) WHERE rk = 1),
       |comp AS (
       |  SELECT c_id, i,
       |         CAST(sum(CAST(round(emb[i], 9) AS DECIMAL(28,9)))
       |              AS DOUBLE) / count(*) AS v
       |  FROM assign0 CROSS JOIN range(1, ${embDim + 1}) t(i)
       |  GROUP BY c_id, i),
       |cent1 AS (SELECT c_id, list(v ORDER BY i) AS c_emb
       |          FROM comp GROUP BY c_id),
       |a1 AS (SELECT em.vec_id, cent1.c_id, ${d2Sql("emb", "c_emb")} AS d2
       |       FROM em CROSS JOIN cent1),
       |assign1 AS (
       |  SELECT vec_id, c_id, d2 FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY d2, c_id) AS rk
       |    FROM a1) WHERE rk = 1)""".stripMargin

  /** Shared IVFPQ replay (em → coarse-cell argmin → residuals →
    * residual codebook → per-subspace code argmin), the oracle twin of
    * [[cellResiduals]]/[[residualCodebook]]/[[pqEncode]]; v21 and v22
    * both append their finishers to this CTE chain. Note `codes` here
    * is the LONG (vec_id, c_id, m, code) relation — the engine's wide
    * code0..codeM row pivots from it. */
  private lazy val ivfpqCte: String = ivfpqCteFor(None)

  /** The shared v21/v25/v26 probe tail: codeword reconstruction,
    * nprobe=1 ADC shortlist, exact cosine re-rank to top-5 — consumes
    * whatever (em, cent, assigned, cb, codes) chain [[ivfpqCteFor]]
    * built. */
  private lazy val ivfpqTopkFinisher: String = ivfpqTopkFinisherFor(None)

  /** The probe tail with an optional TOMBSTONE predicate over
    * `vec_id`: tombstoned ids leave the candidate lists before
    * shortlist ranking AND issue no queries — the oracle twin of
    * [[graft.streaming.IncrementalIndex.maskDeleted]] (v26's
    * surviving-corpus replay). */
  private def ivfpqTopkFinisherFor(tombPred: Option[String]): String = {
    val reconPred = tombPred.fold("")(p => s" WHERE NOT ($p)")
    val qPred = tombPred.fold("")(p => s" AND NOT ($p)")
    s"""recon AS (
       |  SELECT codes.vec_id AS n_id, any_value(codes.c_id) AS c_id,
       |         flatten(list(list_transform(range(1, ${pqSubDim + 1}),
       |           i -> cb.cw_resid[codes.m * $pqSubDim + i])
       |           ORDER BY codes.m)) AS rresid
       |  FROM codes JOIN cb ON cb.cw_id = codes.code$reconPred
       |  GROUP BY codes.vec_id),
       |q AS (SELECT vec_id AS q_id, c_id AS q_cid, emb AS q_emb,
       |             resid AS q_resid
       |      FROM assigned WHERE vec_id < 10$qPred),
       |pairs AS (
       |  SELECT q_id, n_id, q_emb,
       |         list_aggregate(list_transform(range(1, ${embDim + 1}),
       |           i -> (q_resid[i] - rresid[i])
       |              * (q_resid[i] - rresid[i])), 'sum') AS adc
       |  FROM q JOIN recon ON recon.c_id = q_cid AND n_id <> q_id),
       |sl AS (SELECT q_id, n_id, q_emb FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY q_id ORDER BY adc, n_id) AS slrk
       |        FROM pairs) WHERE slrk <= $ivfpqShortlist),
       |rr AS (
       |  SELECT q_id, n_id,
       |         round(${dotSql("q_emb", "n_emb")}
       |               / (sqrt(${dotSql("q_emb", "q_emb")})
       |                  * sqrt(${dotSql("n_emb", "n_emb")})), 6) AS cos
       |  FROM sl JOIN (SELECT vec_id AS e_id, emb AS n_emb FROM em) e
       |    ON n_id = e_id)
       |SELECT q_id, n_id, cos, rk FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
       |  FROM rr) WHERE rk <= 5""".stripMargin
  }

  /** The CTE chain parameterized by the TRAINING-corpus predicate:
    * None = artifacts trained on the full corpus (v21/v22); Some(p) =
    * centroids and codebook restricted to `p` while every vector still
    * encodes against them — the frozen-artifact grown-index replay
    * (v25's fold == rebuild identity). */
  private def ivfpqCteFor(initPred: Option[String]): String = {
    val sd = pqSubDim
    val centPred = initPred.fold("")(p => s" AND $p")
    s"""WITH em AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, emb AS c_emb FROM em
       |         WHERE vec_id % 50 = 0$centPred),
       |ac AS (SELECT vec_id, emb, c_id, c_emb,
       |              ${d2Sql("emb", "c_emb")} AS d2
       |       FROM em CROSS JOIN cent),
       |assigned AS (
       |  SELECT vec_id, c_id, emb,
       |         list_transform(range(1, ${embDim + 1}),
       |           i -> emb[i] - c_emb[i]) AS resid
       |  FROM (SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY d2, c_id) AS rk
       |        FROM ac) WHERE rk = 1),
       |cb AS (SELECT vec_id AS cw_id, resid AS cw_resid FROM assigned
       |       WHERE vec_id < $pqCodebookSize$centPred),
       |sc AS (
       |  SELECT a.vec_id, a.c_id, t.m, cb.cw_id,
       |         list_aggregate(list_transform(range(1, ${sd + 1}),
       |           i -> (a.resid[t.m * $sd + i] - cb.cw_resid[t.m * $sd + i])
       |              * (a.resid[t.m * $sd + i] - cb.cw_resid[t.m * $sd + i])),
       |           'sum') AS d
       |  FROM assigned a CROSS JOIN range(0, $pqSubspaces) t(m)
       |  CROSS JOIN cb),
       |codes AS (
       |  SELECT vec_id, c_id, m, cw_id AS code FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id, m ORDER BY d, cw_id) AS rk
       |    FROM sc) WHERE rk = 1)""".stripMargin
  }

  /** One power-iteration step as oracle CTEs: p_k = C v_{k-1} (group by
    * vec_id), w_k = Cᵀ p_k (group by j), v_k = w_k / max|w_k| — the exact
    * DECIMAL-quantization points of [[pcaPower]]. */
  private def pcaStepSql(k: Int, vPrev: String): String =
    s"""p$k AS (
       |  SELECT vec_id,
       |         CAST(sum(CAST(round(c * vj, 9) AS DECIMAL(28,9)))
       |              AS DOUBLE) AS p
       |  FROM cent JOIN $vPrev USING (j) GROUP BY vec_id),
       |w$k AS (
       |  SELECT j,
       |         CAST(sum(CAST(round(c * p, 6) AS DECIMAL(28,6)))
       |              AS DOUBLE) AS w
       |  FROM cent JOIN p$k USING (vec_id) GROUP BY j),
       |v$k AS (
       |  SELECT j, round(w / (SELECT max(abs(w)) FROM w$k), 9) AS vj
       |  FROM w$k)""".stripMargin

  val oracles = Map(
    "v23_filter_pool_curve" -> {
      val dotQN = dotSql("q_emb", "n_emb")
      val pools = filterPools.mkString("[", ", ", "]")
      s"""WITH em AS (
         |  SELECT vec_id, label, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label,
         |             embedding AS q_emb, nrm AS q_nrm
         |      FROM em WHERE vec_id < 10),
         |ranked AS (
         |  SELECT q_id, q_label, n_id, label, rk FROM (
         |    SELECT q_id, q_label, vec_id AS n_id, label,
         |           round($dotQN / (q_nrm * nrm), 6) AS cos,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY round($dotQN / (q_nrm * nrm), 6) DESC,
         |                      vec_id) AS rk
         |    FROM q JOIN (SELECT vec_id, label, embedding AS n_emb, nrm
         |                 FROM em) n ON vec_id <> q_id)
         |  WHERE rk <= ${filterPools.max}),
         |cells AS (
         |  SELECT q_id, pool,
         |         CAST(sum(CASE WHEN rk <= pool AND label = q_label
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS kept_ct
         |  FROM ranked CROSS JOIN (SELECT unnest($pools) AS pool)
         |  GROUP BY 1, 2),
         |spine AS (SELECT q_id AS s_qid, pool AS s_pool
         |          FROM q CROSS JOIN (SELECT unnest($pools) AS pool))
         |SELECT s_qid AS q_id, CAST(s_pool AS BIGINT) AS pool,
         |       coalesce(kept_ct, 0) AS kept_ct,
         |       coalesce(kept_ct, 0) >= 5 AS recovered
         |FROM spine LEFT JOIN cells
         |  ON s_qid = q_id AND s_pool = pool""".stripMargin
    },
    // v21 replays the full IVFADC trajectory — cell argmin → residuals →
    // residual-trained codebook → per-subspace code argmin → codeword
    // reconstruction → asymmetric distance → shortlist → exact re-rank —
    // v24 replays all three reconstructions value-exactly: sq8 via the
    // q8 floor-half-up chain, plain PQ via codeword-slice reassembly in
    // subspace order, ivfpq via the shared index CTE — per-vector
    // err/cos are IEEE chains, cross-row means DECIMAL-quantized.
    "v24_quant_error" -> {
      def rung(src: String, method: String, bytes: Int): String =
        s"""SELECT '$method' AS method,
           |       CAST($bytes AS BIGINT) AS bytes_per_vec,
           |       CAST(count(*) AS BIGINT) AS n_vecs,
           |       round(CAST(sum(CAST(err AS DECIMAL(28,9))) AS DOUBLE)
           |             / count(*), 6) AS mse,
           |       max(err) AS max_err,
           |       round(CAST(sum(CAST(cos AS DECIMAL(28,9))) AS DOUBLE)
           |             / count(*), 6) AS mean_cos
           |FROM (SELECT round(${d2Sql("emb", "recon")} / $embDim.0, 9)
           |               AS err,
           |             round(${dotSql("emb", "recon")} /
           |               (sqrt(${dotSql("emb", "emb")}) *
           |                sqrt(${dotSql("recon", "recon")})), 9) AS cos
           |      FROM $src)""".stripMargin
      s"""$ivfpqCte,
         |ms AS (SELECT max(list_aggregate(list_transform(emb,
         |                x -> abs(x)), 'max')) AS max_abs FROM em),
         |sq8 AS (
         |  SELECT vec_id, emb,
         |         list_transform(emb, x -> ${q8Sql("x")} * max_abs / 127.0)
         |           AS recon
         |  FROM em, ms),
         |cbp AS (SELECT vec_id AS cw_id, emb AS cw FROM em
         |        WHERE vec_id < $pqCodebookSize),
         |scp AS (
         |  SELECT a.vec_id, t.m, c.cw_id,
         |         list_aggregate(list_transform(range(1, ${pqSubDim + 1}),
         |           i -> (a.emb[t.m * $pqSubDim + i]
         |                 - c.cw[t.m * $pqSubDim + i])
         |              * (a.emb[t.m * $pqSubDim + i]
         |                 - c.cw[t.m * $pqSubDim + i])), 'sum') AS d
         |  FROM em a CROSS JOIN range(0, $pqSubspaces) t(m)
         |  CROSS JOIN cbp c),
         |codp AS (
         |  SELECT vec_id, m, cw_id AS code FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id, m ORDER BY d, cw_id) AS rk
         |    FROM scp) WHERE rk = 1),
         |pqrec AS (
         |  SELECT cp.vec_id,
         |         flatten(list(list_slice(c.cw, cp.m * $pqSubDim + 1,
         |           cp.m * $pqSubDim + $pqSubDim) ORDER BY cp.m)) AS recon
         |  FROM codp cp JOIN cbp c ON cp.code = c.cw_id
         |  GROUP BY cp.vec_id),
         |pq AS (SELECT em.vec_id, em.emb, recon FROM em
         |       JOIN pqrec USING (vec_id)),
         |ivrec AS (
         |  SELECT cp.vec_id,
         |         flatten(list(list_slice(cb.cw_resid, cp.m * $pqSubDim + 1,
         |           cp.m * $pqSubDim + $pqSubDim) ORDER BY cp.m)) AS rresid
         |  FROM codes cp JOIN cb ON cp.code = cb.cw_id
         |  GROUP BY cp.vec_id),
         |ivf AS (
         |  SELECT a.vec_id, a.emb,
         |         list_transform(range(1, ${embDim + 1}),
         |           i -> a.emb[i] + (r.rresid[i] - a.resid[i])) AS recon
         |  FROM assigned a JOIN ivrec r USING (vec_id))
         |${rung("sq8", "sq8", embDim)}
         |UNION ALL
         |${rung("pq", "pq", pqSubspaces)}
         |UNION ALL
         |${rung("ivf", "ivfpq", pqSubspaces + 2)}""".stripMargin
    },
    // every float an IEEE double accumulated in array order, so the
    // hash compare covers the whole index, not just the final ranks.
    "v22_index_health" -> {
      s"""$ivfpqCte,
         |recon AS (
         |  SELECT codes.vec_id AS r_id,
         |         max(CASE WHEN codes.m = 0 THEN codes.code END) AS c0,
         |         flatten(list(list_transform(range(1, ${pqSubDim + 1}),
         |           i -> cb.cw_resid[codes.m * $pqSubDim + i])
         |           ORDER BY codes.m)) AS rresid
         |  FROM codes JOIN cb ON cb.cw_id = codes.code
         |  GROUP BY codes.vec_id),
         |health AS (
         |  SELECT a.c_id, r.c0,
         |         round(list_aggregate(list_transform(range(1, ${embDim + 1}),
         |           i -> (a.resid[i] - r.rresid[i])
         |              * (a.resid[i] - r.rresid[i])), 'sum'), 9) AS err
         |  FROM assigned a JOIN recon r ON a.vec_id = r.r_id)
         |SELECT c_id AS cell_id, count(*) AS member_ct,
         |       round(CAST(sum(CAST(err AS DECIMAL(28,9))) AS DOUBLE)
         |             / count(*), 6) AS mean_recon_err,
         |       max(err) AS max_recon_err,
         |       count(DISTINCT c0) AS codes_used_s0
         |FROM health GROUP BY 1""".stripMargin
    },
    "v21_ivfpq_topk" -> s"$ivfpqCte,\n$ivfpqTopkFinisher",
    // v25 replays the grown index as a ONE-SHOT encode of the full
    // corpus against the INITIAL-corpus artifacts (vec_id ≢ 3 mod 10)
    // — valid because fold == rebuild with frozen artifacts
    // row-for-row; the probe finisher is v21's verbatim
    "v25_index_grow_topk" ->
      s"${ivfpqCteFor(Some("vec_id % 10 <> 3"))},\n$ivfpqTopkFinisher",
    // v26 replays the DELETE path: same frozen-artifact grown index as
    // v25, tombstoned ids (vec_id ≡ 2 mod 7) filtered from candidates
    // and queries — the surviving-corpus probe, hash-proving the
    // engine's tombstone anti-join serves rebuild-on-survivors truth
    "v26_index_delete_topk" ->
      s"${ivfpqCteFor(Some("vec_id % 10 <> 3"))},\n${
        ivfpqTopkFinisherFor(Some("vec_id % 7 = 2"))}",
    "v20_mmr_diversify" -> {
      val steps = (2 to mmrK).map { k =>
        val prev = k - 1
        s"""cand$k AS (
           |  SELECT p.q_id, p.n_id, p.rel_e6 FROM pool p
           |  LEFT JOIN sel$prev s ON p.q_id = s.q_id AND p.n_id = s.n_id
           |  WHERE s.n_id IS NULL),
           |ms$k AS (
           |  SELECT c.q_id, c.n_id, c.rel_e6, max(pc.pcos_e6) AS msim_e6
           |  FROM cand$k c
           |  JOIN pc ON c.q_id = pc.pq AND c.n_id = pc.a_id
           |  JOIN sel$prev s ON pc.pq = s.q_id AND pc.b_id = s.n_id
           |  GROUP BY 1, 2, 3),
           |s$k AS (
           |  SELECT q_id, n_id, score_e7, $k AS step FROM (
           |    SELECT q_id, n_id, score_e7, row_number() OVER
           |      (PARTITION BY q_id ORDER BY score_e7 DESC, n_id) AS rk
           |    FROM (SELECT q_id, n_id,
           |            7 * rel_e6 - 3 * msim_e6 AS score_e7
           |          FROM ms$k)) WHERE rk = 1),
           |sel$k AS (SELECT q_id, n_id FROM sel$prev
           |          UNION ALL SELECT q_id, n_id FROM s$k)""".stripMargin
      }.mkString(",\n")
      val unionAll = (1 to mmrK).map(k => s"SELECT * FROM s$k")
        .mkString(" UNION ALL ")
      s"""WITH em AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM em),
         |pool AS (
         |  SELECT q_id, n_id, rel_e6, n_emb, n_nrm FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         |           CAST(round(${dotSql("q.emb", "e.emb")}
         |                      / (q.nrm * e.nrm) * 1e6, 0) AS BIGINT)
         |             AS rel_e6,
         |           e.emb AS n_emb, e.nrm AS n_nrm,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY CAST(round(${dotSql("q.emb", "e.emb")}
         |                      / (q.nrm * e.nrm) * 1e6, 0) AS BIGINT)
         |                      DESC, e.vec_id) AS rk
         |    FROM n q JOIN n e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rk <= $mmrPool),
         |pc AS (
         |  SELECT a.q_id AS pq, a.n_id AS a_id, b.n_id AS b_id,
         |         CAST(round(${dotSql("a.n_emb", "b.n_emb")}
         |               / (a.n_nrm * b.n_nrm) * 1e6, 0) AS BIGINT)
         |           AS pcos_e6
         |  FROM pool a JOIN pool b
         |    ON a.q_id = b.q_id AND a.n_id <> b.n_id),
         |s1 AS (
         |  SELECT q_id, n_id, score_e7, 1 AS step FROM (
         |    SELECT q_id, n_id, score_e7, row_number() OVER
         |      (PARTITION BY q_id ORDER BY score_e7 DESC, n_id) AS rk
         |    FROM (SELECT q_id, n_id, 7 * rel_e6 AS score_e7
         |          FROM pool)) WHERE rk = 1),
         |sel1 AS (SELECT q_id, n_id FROM s1),
         |$steps
         |SELECT q_id, n_id, CAST(score_e7 AS BIGINT) AS score_e7,
         |       CAST(score_e7 AS DOUBLE) / 1e7 AS score,
         |       CAST(step AS BIGINT) AS mmr_step
         |FROM ($unionAll)""".stripMargin
    },
    "v19_two_stage_rerank" ->
      s"""WITH em AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM em),
         |cent AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm
         |         FROM n WHERE vec_id % 50 = 0),
         |ranked AS (
         |  SELECT n.vec_id, n.emb, n.nrm, cent.c_id,
         |         row_number() OVER (PARTITION BY n.vec_id
         |           ORDER BY ${dotSql("n.emb", "c_emb")}
         |                    / (n.nrm * c_nrm) DESC, c_id) AS crk
         |  FROM n CROSS JOIN cent),
         |mx AS (
         |  SELECT max(list_aggregate(
         |           list_transform(emb, x -> abs(x)), 'max')) AS max_abs
         |  FROM n),
         |store AS (
         |  SELECT vec_id AS n_id, c_id AS n_cid, emb AS n_emb,
         |         nrm AS n_nrm,
         |         list_transform(emb, x -> ${q8Sql("x")}) AS q
         |  FROM ranked CROSS JOIN mx WHERE crk = 1),
         |store2 AS (
         |  SELECT *, sqrt(CAST(${idotSql("q", "q")} AS DOUBLE)) AS qn
         |  FROM store),
         |qt AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm,
         |         c_id AS q_cid,
         |         list_transform(emb, x -> ${q8Sql("x")}) AS q_q
         |  FROM ranked CROSS JOIN mx
         |  WHERE vec_id < 10 AND crk <= $rerankNprobe),
         |qt2 AS (
         |  SELECT *, sqrt(CAST(${idotSql("q_q", "q_q")} AS DOUBLE))
         |              AS q_qn
         |  FROM qt),
         |cand AS (
         |  SELECT q_id, n_id,
         |         CAST(${idotSql("q_q", "q")} AS DOUBLE) / (q_qn * qn)
         |           AS acos,
         |         q_emb, q_nrm, n_emb, n_nrm
         |  FROM qt2 JOIN store2 ON n_cid = q_cid AND n_id <> q_id),
         |sl AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY acos DESC, n_id) AS srk
         |    FROM cand) WHERE srk <= $rerankShortlist),
         |rr AS (
         |  SELECT q_id, n_id,
         |         round(${dotSql("q_emb", "n_emb")} / (q_nrm * n_nrm), 6)
         |           AS cos
         |  FROM sl),
         |fin AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rk
         |    FROM rr) WHERE rk <= 5),
         |brute AS (
         |  SELECT vec_id AS bq_id, e_vid AS b_id FROM (
         |    SELECT q.vec_id, e.vec_id AS e_vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY round(${dotSql("q.emb", "e.emb")}
         |                      / (q.nrm * e.nrm), 6) DESC, e.vec_id)
         |             AS rk
         |    FROM n q JOIN n e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rk <= 5),
         |hits AS (
         |  SELECT q_id AS h_qid, CAST(count(*) AS BIGINT) AS final_ct,
         |         CAST(sum(CASE WHEN b_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS recall_ct
         |  FROM fin LEFT JOIN brute ON q_id = bq_id AND n_id = b_id
         |  GROUP BY 1)
         |SELECT vec_id AS q_id,
         |       CAST(coalesce(final_ct, 0) AS BIGINT) AS final_ct,
         |       CAST(coalesce(recall_ct, 0) AS BIGINT) AS recall_ct,
         |       round(CAST(coalesce(recall_ct, 0) AS DOUBLE) / 5.0, 6)
         |         AS recall
         |FROM em LEFT JOIN hits ON vec_id = h_qid
         |WHERE vec_id < 10""".stripMargin,
    "v18_probe_recall" ->
      s"""WITH em AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM em),
         |cent AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm
         |         FROM n WHERE vec_id % 50 = 0),
         |ranked AS (
         |  SELECT n.vec_id, n.emb, n.nrm, cent.c_id,
         |         row_number() OVER (PARTITION BY n.vec_id
         |           ORDER BY ${dotSql("n.emb", "c_emb")}
         |                    / (n.nrm * c_nrm) DESC, c_id) AS crk
         |  FROM n CROSS JOIN cent),
         |assigned AS (
         |  SELECT vec_id AS n_id, c_id AS n_cid, emb AS n_emb,
         |         nrm AS n_nrm
         |  FROM ranked WHERE crk = 1),
         |qtop AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm,
         |         c_id AS q_cid, crk AS q_crk
         |  FROM ranked WHERE vec_id < 10 AND crk <= $ivfProbeSweepMax),
         |cands AS (
         |  SELECT q_id, n_id, q_crk,
         |         round(${dotSql("q_emb", "n_emb")} / (q_nrm * n_nrm), 6)
         |           AS cos
         |  FROM qtop JOIN assigned
         |    ON q_cid = n_cid AND n_id <> q_id),
         |lv AS (
         |  SELECT q_id, n_id, cos, p
         |  FROM cands CROSS JOIN range(1, ${ivfProbeSweepMax + 1}) t(p)
         |  WHERE q_crk <= p),
         |ptop AS (
         |  SELECT q_id, p, n_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id, p
         |      ORDER BY cos DESC, n_id) AS rk
         |    FROM lv) WHERE rk <= 5),
         |brute AS (
         |  SELECT vec_id AS bq_id, e_vid AS b_id FROM (
         |    SELECT q.vec_id, e.vec_id AS e_vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY round(${dotSql("q.emb", "e.emb")}
         |                      / (q.nrm * e.nrm), 6) DESC, e.vec_id)
         |             AS rk
         |    FROM n q JOIN n e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE rk <= 5),
         |hits AS (
         |  SELECT q_id AS h_qid, p AS h_p,
         |         CAST(sum(CASE WHEN b_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS hit_ct
         |  FROM ptop LEFT JOIN brute
         |    ON q_id = bq_id AND n_id = b_id
         |  GROUP BY 1, 2),
         |spine AS (
         |  SELECT vec_id AS q_id, p
         |  FROM em CROSS JOIN range(1, ${ivfProbeSweepMax + 1}) t(p)
         |  WHERE vec_id < 10)
         |SELECT q_id, CAST(p AS BIGINT) AS nprobe,
         |       CAST(coalesce(hit_ct, 0) AS BIGINT) AS recall_ct,
         |       round(CAST(coalesce(hit_ct, 0) AS DOUBLE) / 5, 6)
         |         AS recall
         |FROM spine LEFT JOIN hits
         |  ON spine.q_id = hits.h_qid AND spine.p = hits.h_p""".stripMargin,
    "v17_davies_bouldin" ->
      s"""$lloydCte,
         |memb AS (
         |  SELECT a.c_id, em.emb
         |  FROM assign1 a JOIN em ON a.vec_id = em.vec_id),
         |mcomp AS (
         |  SELECT c_id, i,
         |         CAST(sum(CAST(round(emb[i], 9) AS DECIMAL(28,9)))
         |              AS DOUBLE) / count(*) AS m
         |  FROM memb CROSS JOIN range(1, ${embDim + 1}) t(i)
         |  GROUP BY 1, 2),
         |mu AS (SELECT c_id, list(m ORDER BY i) AS mu
         |       FROM mcomp GROUP BY 1),
         |sc AS (
         |  SELECT memb.c_id, CAST(count(*) AS BIGINT) AS member_ct,
         |         round(CAST(sum(CAST(round(
         |                 sqrt(${d2Sql("emb", "mu")}), 9)
         |               AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6)
         |           AS scatter
         |  FROM memb JOIN mu ON memb.c_id = mu.c_id GROUP BY 1),
         |dij AS (
         |  SELECT a.c_id AS c_i, b.c_id AS c_j,
         |         round(sqrt(${d2Sql("a.mu", "b.mu")}), 6) AS d_ij
         |  FROM mu a JOIN mu b ON a.c_id <> b.c_id),
         |rat AS (
         |  SELECT c_i,
         |         round((sa.scatter + sb.scatter) / d_ij, 6) AS ratio
         |  FROM dij JOIN sc sa ON c_i = sa.c_id
         |           JOIN sc sb ON c_j = sb.c_id)
         |SELECT sc.c_id AS cluster_id, member_ct, scatter,
         |       max(ratio) AS worst_ratio
         |FROM sc JOIN rat ON sc.c_id = rat.c_i
         |GROUP BY 1, 2, 3""".stripMargin,
    "v16_hard_negatives" ->
      s"""WITH em AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, label, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM em),
         |p AS (
         |  SELECT q.vec_id AS q_id, q.label AS q_label,
         |         e.vec_id AS n_id, e.label AS n_label,
         |         round(${dotSql("q.emb", "e.emb")} / (q.nrm * e.nrm), 6)
         |           AS cos
         |  FROM n q JOIN n e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < 50),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, n_id) AS rk
         |  FROM p),
         |neg AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rk)
         |           AS pick
         |  FROM r WHERE rk <= 10 AND n_label <> q_label)
         |SELECT q_id, q_label, n_id AS neg_id, n_label AS neg_label,
         |       cos, CAST(rk AS BIGINT) AS neg_rank
         |FROM neg WHERE pick = 1""".stripMargin,
    "v15_label_precision" ->
      s"""WITH em AS (
         |  SELECT vec_id, label,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, label, emb, sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM em),
         |p AS (
         |  SELECT q.vec_id AS q_id, q.label AS q_label,
         |         e.vec_id AS n_id, e.label AS n_label,
         |         round(${dotSql("q.emb", "e.emb")} / (q.nrm * e.nrm), 6)
         |           AS cos
         |  FROM n q JOIN n e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < 50),
         |r AS (
         |  SELECT q_id, q_label, n_label,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, n_id) AS rk
         |  FROM p),
         |per AS (
         |  SELECT q_id, q_label,
         |         CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
         |              AS BIGINT) AS match_ct
         |  FROM r WHERE rk <= 5 GROUP BY 1, 2)
         |SELECT q_label AS label, CAST(count(*) AS BIGINT) AS q_ct,
         |       CAST(sum(match_ct) AS BIGINT) AS match_sum,
         |       round(CAST(sum(match_ct) AS DOUBLE) / (count(*) * 5), 6)
         |         AS mean_precision
         |FROM per GROUP BY 1""".stripMargin,
    "v14_truncated_recall" -> {
      val half = embDim / 2
      s"""WITH em AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |e2 AS (
         |  SELECT vec_id, emb, emb[1:$half] AS emb32,
         |         sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM em),
         |e3 AS (
         |  SELECT vec_id, emb, emb32, nrm,
         |         sqrt(${dotSql("emb32", "emb32")}) AS nrm32
         |  FROM e2),
         |p AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         |         round(${dotSql("q.emb", "e.emb")} / (q.nrm * e.nrm), 6)
         |           AS cos_full,
         |         round(${dotSql("q.emb32", "e.emb32")}
         |               / (q.nrm32 * e.nrm32), 6) AS cos_tr
         |  FROM e3 q JOIN e3 e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         |r AS (
         |  SELECT q_id, n_id,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos_full DESC, n_id) AS rkf,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos_tr DESC, n_id) AS rkt
         |  FROM p)
         |SELECT q_id,
         |       CAST(sum(CASE WHEN rkf <= 5 AND rkt <= 5 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS recall_ct,
         |       round(CAST(sum(CASE WHEN rkf <= 5 AND rkt <= 5
         |                           THEN 1 ELSE 0 END) AS DOUBLE) / 5,
         |             6) AS recall
         |FROM r GROUP BY 1""".stripMargin
    },
    "v13_centroid_drift" ->
      s"""WITH cells AS (
         |  SELECT label, vec_id % 2 AS epoch, i AS j,
         |         CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings CROSS JOIN range(1, ${embDim + 1}) t(i)),
         |means AS (
         |  SELECT label, epoch, j,
         |         CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE)
         |           / count(*) AS m,
         |         CAST(count(*) AS BIGINT) AS ct
         |  FROM cells GROUP BY 1, 2, 3),
         |p AS (
         |  SELECT m0.label, m0.ct AS ct0, m1.ct AS ct1,
         |         CAST(round((m0.m - m1.m) * (m0.m - m1.m), 9)
         |              AS DECIMAL(28,9)) AS d2
         |  FROM (SELECT * FROM means WHERE epoch = 0) m0
         |  JOIN (SELECT * FROM means WHERE epoch = 1) m1
         |    ON m0.label = m1.label AND m0.j = m1.j)
         |SELECT label, max(ct0) AS epoch0_ct, max(ct1) AS epoch1_ct,
         |       round(sqrt(CAST(sum(d2) AS DOUBLE)), 6) AS drift
         |FROM p GROUP BY 1""".stripMargin,
    "v12_pca_power" ->
      s"""WITH em AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |cells AS (
         |  SELECT vec_id, i AS j, emb[i] AS x
         |  FROM em CROSS JOIN range(1, ${embDim + 1}) t(i)),
         |means AS (
         |  SELECT j, CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
         |              AS DOUBLE) / count(*) AS mu
         |  FROM cells GROUP BY j),
         |cent AS (
         |  SELECT vec_id, j, x - mu AS c
         |  FROM cells JOIN means USING (j)),
         |v0 AS (SELECT j, 1.0 AS vj FROM means),
         |${pcaStepSql(1, "v0")},
         |${pcaStepSql(2, "v1")},
         |${pcaStepSql(3, "v2")}
         |SELECT CAST(j AS BIGINT) AS dim, vj AS loading FROM v3""".stripMargin,
    // v7 is approximate by construction; the oracle states the per-query
    // recall contract (≥3/5 exact neighbors kept) the Spark side
    // computes against its own brute-force baseline — the a16 pattern.
    "v7_ann_int8_topk" ->
      """SELECT vec_id AS q_id, true AS int8_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "v8_ann_pq_topk" ->
      """SELECT vec_id AS q_id, true AS pq_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "v6_ann_signlsh_topk" -> {
      val bucket = (0 until numPlanes).map { p =>
        val d = s"list_aggregate(list_transform(range(1, ${embDim + 1}), " +
          s"i -> CAST(embedding[i] AS DOUBLE) * (${planeListSql(p)})[i]), 'sum')"
        s"(CASE WHEN $d > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      val dotQN = dotSql("q_emb", "n_emb")
      s"""WITH em AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm,
         |         $bucket AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         |             bucket AS q_bucket
         |      FROM em WHERE vec_id < 10),
         |pairs AS (
         |  SELECT q_id, vec_id AS n_id,
         |         round($dotQN / (q_nrm * nrm), 6) AS cos
         |  FROM q JOIN (SELECT vec_id, embedding AS n_emb, nrm, bucket FROM em) n
         |    ON n.bucket = q_bucket AND vec_id <> q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM pairs)
         |SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5""".stripMargin
    },
    "v1_ann_brute_topk" -> {
      val dotQN = dotSql("q_emb", "n_emb")
      s"""WITH em AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM em WHERE vec_id < 10),
         |pairs AS (
         |  SELECT q_id, vec_id AS n_id,
         |         round($dotQN / (q_nrm * nrm), 6) AS cos
         |  FROM q JOIN (SELECT vec_id, embedding AS n_emb, nrm FROM em) n
         |    ON vec_id <> q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM pairs)
         |SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5""".stripMargin
    },
    "v4_ann_native_topk" -> {
      val dotQN = dotSql("q_emb", "n_emb")
      s"""WITH em AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM em WHERE vec_id < 10),
         |pairs AS (
         |  SELECT q_id, vec_id AS n_id,
         |         round($dotQN / (q_nrm * nrm), 6) AS cos
         |  FROM q JOIN (SELECT vec_id, embedding AS n_emb, nrm FROM em) n
         |    ON vec_id <> q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM pairs)
         |SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5""".stripMargin
    },
    "v5_embed_near_dup" -> {
      val dotAB = dotSql("a_emb", "b_emb")
      s"""WITH em AS (
         |  SELECT vec_id, label, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         |         round($dotAB / (a.nrm * b.nrm), 6) AS cos
         |  FROM (SELECT label, vec_id, embedding AS a_emb, nrm FROM em) a
         |  JOIN (SELECT label, vec_id, embedding AS b_emb, nrm FROM em) b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, a_id, b_id, cos FROM pairs WHERE cos >= 0.3""".stripMargin
    },
    "v2_embed_stats" -> {
      val nrm = s"sqrt(${dotSql("embedding", "embedding")})"
      s"""WITH em AS (
         |  SELECT label, CAST($nrm AS DECIMAL(28,6)) AS nrm_q FROM embeddings)
         |SELECT label, count(*) AS vec_ct,
         |       CAST(SUM(nrm_q) AS DOUBLE) AS norm_sum,
         |       CAST(MIN(nrm_q) AS DOUBLE) AS norm_min,
         |       CAST(MAX(nrm_q) AS DOUBLE) AS norm_max
         |FROM em GROUP BY 1""".stripMargin
    },
    // v3 is approximate vs TRUE neighbors but fully deterministic as a
    // computation — the oracle replays the same assign→probe pipeline.
    // v9 is a full deterministic replay: seed → assign (argmin) →
    // DECIMAL-quantized mean recompute → re-assign → per-cluster rollup.
    "v9_kmeans_assign" ->
      s"""$lloydCte
         |SELECT c_id AS cluster_id, count(*) AS member_ct,
         |       CAST(sum(CAST(round(d2, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |         AS sum_sqdist,
         |       min(vec_id) AS min_member
         |FROM assign1 GROUP BY 1""".stripMargin,
    "v11_semdedup" ->
      s"""$lloydCte,
         |m AS (
         |  SELECT a.vec_id, a.c_id, em.emb,
         |         sqrt(${dotSql("emb", "emb")}) AS nrm
         |  FROM assign1 a JOIN em ON em.vec_id = a.vec_id),
         |pr AS (
         |  SELECT DISTINCT l.c_id, r.vec_id AS b_id
         |  FROM m l JOIN m r ON l.c_id = r.c_id AND l.vec_id < r.vec_id
         |  WHERE round(${dotSql("l.emb", "r.emb")}
         |              / (l.nrm * r.nrm), 6) >= $semTau),
         |ps AS (SELECT c_id, count(*) AS pruned_ct, min(b_id) AS first_pruned
         |       FROM pr GROUP BY 1),
         |mc AS (SELECT c_id, count(*) AS member_ct FROM m GROUP BY 1)
         |SELECT mc.c_id AS cluster_id, member_ct,
         |       coalesce(pruned_ct, 0) AS pruned_ct,
         |       member_ct - coalesce(pruned_ct, 0) AS kept_ct, first_pruned
         |FROM mc LEFT JOIN ps ON mc.c_id = ps.c_id""".stripMargin,
    "v10_embed_outliers" ->
      s"""$lloydCte,
         |means AS (
         |  SELECT c_id AS m_cid,
         |         CAST(sum(CAST(round(d2, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |           / count(*) AS clu_mean
         |  FROM assign1 GROUP BY 1)
         |SELECT a.vec_id, a.c_id AS cluster_id,
         |       round(a.d2 / m.clu_mean, 6) AS score, round(a.d2, 6) AS d2r
         |FROM assign1 a JOIN means m ON a.c_id = m.m_cid
         |ORDER BY score DESC, a.vec_id LIMIT 20""".stripMargin,
    "v3_ann_ivf_topk" -> {
      val dotCE = dotSql("embedding", "c_emb")
      val dotQN = dotSql("q_emb", "n_emb")
      s"""WITH em AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |         FROM em WHERE vec_id % 50 = 0),
         |assign0 AS (
         |  SELECT vec_id, embedding, nrm, c_id,
         |         $dotCE / (nrm * c_nrm) AS c_cos
         |  FROM em CROSS JOIN cent),
         |ranked0 AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crk
         |  FROM assign0),
         |assigned AS (
         |  SELECT vec_id, embedding, nrm, c_id FROM ranked0 WHERE crk = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         |             c_id AS q_cid
         |      FROM ranked0 WHERE vec_id < 10 AND crk <= $ivfNprobe),
         |pairs AS (
         |  SELECT q_id, a.vec_id AS n_id,
         |         round($dotQN / (q_nrm * a.nrm), 6) AS cos
         |  FROM q JOIN (SELECT vec_id, embedding AS n_emb, nrm, c_id
         |               FROM assigned) a
         |    ON a.c_id = q_cid AND a.vec_id <> q_id),
         |ranked AS (
         |  SELECT q_id, n_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM pairs)
         |SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5""".stripMargin
    })
}
