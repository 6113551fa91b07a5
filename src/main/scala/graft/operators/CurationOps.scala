package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Standing, Tables}
import graft.operators.TextOps.{fingerprint, hits, tokenize}

/** End-to-end training-data curation over the documents table — the
  * composition layer on top of DedupOps/TextOps: near-dup clustering via
  * connected components, the kept-corpus funnel, deterministic held-out
  * splits, and per-group top-k selection.
  *
  * Scale notes (100 TB):
  *  - c1 connected components is the iterative min-label-propagation
  *    algorithm (each round: edges ⋈ labels shuffle on the node key,
  *    min-aggregate, compare). Rounds are bounded by component diameter;
  *    near-dup components are dense (diameter 2-4). Production-scale
  *    variants (large-star/small-star, Kiveris et al., "Connected
  *    Components in MapReduce and Beyond") drop the round count to
  *    O(log²n) with the same per-round shape — the per-round plan here is
  *    exactly that shuffle.
  *  - c2 composes map-side scoring with two key-partitioned joins
  *    (fingerprint keeper, cluster label) — each a single hash shuffle.
  *  - c3 hash-split is pure map-side (one md5 per row) — the standard
  *    leakage-free train/val/test assignment that survives re-sharding
  *    because it depends only on the stable doc_id.
  *  - c4 top-k-per-group uses a rank window (one shuffle on the group
  *    key); with pathological group sizes the two-phase mapPartitions
  *    heap variant bounds memory, but rank-window is the idiomatic
  *    Catalyst form and AQE handles moderate skew.
  */
object CurationOps extends QueryModule {

  val qualityThreshold = 0.35

  /** (id, label) per node of the near-dup pair graph: label = min doc_id
    * of the connected component, computed with the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round is two
    * (agg + join) shuffles over the edge list, and the round count is
    * O(log² n) — independent of component diameter, unlike plain
    * min-label propagation whose O(diameter) driver-synchronized loop is
    * the latency killer on long chains at 100 TB. Standing: c1, c2 and
    * the other cluster readers share one build. Nothing is persisted —
    * the rounds' local checkpoints carry it — so release has nothing to
    * drop. */
  private[graft] val clusterLabels = Standing("labels", Set(
    "c1_dedup_clusters", "c2_kept_corpus", "c14_canonical_selection",
    "c16_data_card", "c22_dedup_waterfall", "c23_cluster_split",
    "c26_cluster_size_dist")) { (s, dir) =>
    componentLabels(s,
      DedupOps.nearDupPairs(s, dir).select(col("a_id"), col("b_id")))
  }(_ => ())

  /** Observed round count of the last clusterLabels computation (a round
    * = one large-star + one small-star); spec-asserted O(log² n). */
  private[graft] var lastRounds: Int = 0

  /** large-star: per node u with m = min(Γ(u) ∪ {u}), connect every
    * strictly-larger neighbor to m. Output edges all satisfy src > dst.
    * Output may carry duplicates — smallStar's aggregations absorb them
    * and its final distinct dedupes the round, so largeStar skips its
    * own distinct (one less shuffle per round). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val und = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = und.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
    und.join(mins, col("src") === col("u"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** small-star on a large→small directed edge set: per node u with
    * smaller neighbors Γ(u) and m = min(Γ(u)), connect u and every
    * non-min smaller neighbor to m. Keeps src > dst. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
      .select(col("src").as("u"), col("m"))
    val fromNbrs = edges.join(mins, col("src") === col("u"))
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    val fromSelf = mins.select(col("u").as("src"), col("m").as("dst"))
    fromNbrs.union(fromSelf).distinct()
  }

  /** Connected-component labels for an ARBITRARY symmetric pair frame
    * (a_id, b_id) — the generic core behind c1 and the
    * [[graft.api.Graft]] facade. Label = min node id of the component. */
  private[graft] def componentLabels(s: SparkSession,
      pairs: DataFrame): DataFrame = {
      val dbg = sys.env.contains("SPARK_GRAFT_DEBUG")
      var t0 = System.nanoTime()
      def lap(tag: String): Unit = if (dbg) {
        println(f"[c1] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        t0 = System.nanoTime()
      }
      // localCheckpoint (eager) per round: without it each iteration's
      // plan embeds the whole lineage of all prior rounds and Catalyst
      // analysis dominates. On a cluster this is `checkpoint` to
      // reliable storage.
      var edges = pairs.toDF("a_id", "b_id")
        .filter(col("a_id") =!= col("b_id"))
        .toDF("src", "dst").localCheckpoint(true)
      // fixpoint signature: (count, order-independent xor of edge
      // hashes) in ONE action — both edge sets are distinct, so equal
      // signatures mean set equality without the extra union+distinct
      // shuffle the exact test used to pay every round
      def sig(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          bit_xor(xxhash64(col("src"), col("dst")))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      lap("nearDupPairs+checkpoint")
      var (prevCount, prevChk) = sig(edges)
      lap(s"sig0 n=$prevCount")
      var done = prevCount == 0
      var iter = 0
      // Size-adaptive parallelism for the loop: the edge set is known
      // (prevCount was just materialized), so size the per-round shuffles
      // to it — ~20k edges per partition, floor 4 — instead of paying 32
      // stage-widths of task overhead per tiny round. This is the same
      // knob a 100 TB run turns the other way (thousands of partitions
      // for billions of edges); restored after the loop.
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        math.max(4L, math.min(prevCount / 20000L, 512L)).toString)
      try {
        while (!done && iter < 30) {
          // TWO large/small alternations per driver action (the converged
          // set is a fixpoint of both operators, so doubling can only
          // overshoot by one no-op pair), and a LAZY localCheckpoint so
          // the sig() action both materializes the truncated lineage and
          // reads the signature — ONE driver-synchronized action per two
          // rounds instead of the former two actions per round. At sf0.1
          // this is the difference between ~16 tiny jobs and ~4.
          val next = smallStar(largeStar(smallStar(largeStar(edges))))
            .localCheckpoint(false)
          val (nc, chk) = sig(next)
          lap(s"round pair iter=$iter n=$nc")
          done = prevCount == nc && prevChk == chk
          edges = next
          prevCount = nc
          prevChk = chk
          iter += 2
        }
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      lastRounds = iter
      // at the fixpoint the edge set is a star per component: every
      // non-min node points at the component min; the min nodes appear
      // only as dst, and label themselves
      val roots = edges.select(col("dst").as("id")).distinct()
        .join(edges.select(col("src")).distinct(),
          col("id") === col("src"), "left_anti")
        .select(col("id"), col("id").as("label"))
      edges.select(col("src").as("id"), col("dst").as("label"))
        .union(roots)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
  }

  override def standings: Seq[Standing[_]] =
    Seq(clusterLabels, decontamCandidates, trainPostings)

  /** c1: near-duplicate clusters — connected components of the verified
    * d3 pair graph; cluster id = min member doc_id. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("member_ct"), max(col("id")).as("max_member_id"))

  /** c26 (beyond-reference): near-dup cluster-size distribution — the
    * power-law report a curation run publishes next to c1's cluster
    * list: how many clusters of each size, how many docs they bind, and
    * each size's share of the corpus. Web-scale dedup folklore (and the
    * C4/RefinedWeb writeups) says sizes are heavy-tailed — a few huge
    * boilerplate clusters plus a long tail of pairs; this table is how
    * an operator SEES that before deciding thresholds. Composes the
    * memoized component labels (free after c1); singletons — docs in no
    * cluster — are stated as the explicit size-1 row rather than left
    * absent (c24's zero-row discipline). Shuffles: one label count over
    * the (tiny) label table + two 1-row scalar aggregates broadcast
    * onto a histogram bounded by the largest cluster size. */
  private def clusterSizeDist(s: SparkSession, dir: String): DataFrame = {
    val lab = clusterLabels(s, dir)
    val hist = lab.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("cluster_ct"))
    val totals = Tables(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(lab.agg(count(lit(1)).as("n_labeled"))))
    val singleton = totals.select(lit(1L).as("sz"),
      (col("n_docs") - col("n_labeled")).as("cluster_ct"))
    hist.unionByName(singleton)
      .crossJoin(broadcast(totals.select(col("n_docs"))))
      .select(col("sz").as("cluster_size"), col("cluster_ct"),
        (col("sz") * col("cluster_ct")).as("doc_ct"),
        round((col("sz") * col("cluster_ct")).cast(DoubleType) /
          col("n_docs"), 6).as("doc_share"))
      .orderBy(col("cluster_size"))
  }

  /** Quality score shared with t3 (identical op order → bit-equal). */
  private def qualityCols(df: DataFrame): DataFrame = {
    val toks = tokenize(col("text"))
    df.select(col("doc_id"), col("source"),
        fingerprint(col("text")).as("fp"),
        size(toks).cast(LongType).as("n_tokens"),
        hits(toks, TextOps.enStops).cast(LongType).as("stop_ct"))
      .withColumn("quality_score",
        col("stop_ct").cast(DoubleType) / col("n_tokens") * lit(0.3) +
          least(col("n_tokens"), lit(100L)).cast(DoubleType) / lit(100.0)
            * lit(0.7))
  }

  /** c2: the kept-corpus funnel — exact-dup keeper → quality filter →
    * near-dup cluster representative, with a fixed drop precedence so
    * every doc has exactly one reason. The funnel per source is the
    * curation dashboard a 100 TB pipeline reports. */
  private def keptCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = qualityCols(Tables(s, dir, "documents"))
    val keeper = d.withColumn("keeper_id",
      min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    val labeled = keeper.join(
      clusterLabels(s, dir).select(col("id"), col("label")),
      keeper("doc_id") === col("id"), "left")
    val reason = when(col("doc_id") =!= col("keeper_id"), "exact_dup")
      .when(col("quality_score") < qualityThreshold, "low_quality")
      .when(col("label").isNotNull && col("label") =!= col("doc_id"),
        "near_dup")
      .otherwise("kept")
    labeled.select(col("source"), reason.as("reason"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total_ct"),
        count(when(col("reason") === "kept", 1)).as("kept_ct"),
        count(when(col("reason") === "exact_dup", 1)).as("drop_exact_ct"),
        count(when(col("reason") === "low_quality", 1)).as("drop_quality_ct"),
        count(when(col("reason") === "near_dup", 1)).as("drop_neardup_ct"))
  }

  /** c19: deterministic curriculum ordering — the quality-phased
    * training schedule (curriculum learning for pretraining data:
    * ascending-quality phases, so the last phase — the one the LR
    * anneal sees — is the highest-quality slice). Docs are ranked by
    * the SHARED t3/c2 quality score under a total order (score, md5 of
    * doc_id, doc_id — the md5 term shuffles equal-score docs
    * deterministically, no RNG) and cut into 4 equal phases by ntile.
    * The report is the per-phase manifest: doc count, token budget,
    * DECIMAL-quantized mean quality. Engine-exact: same score op
    * order as t3, integer ntile partitioning, quantized mean. Scale:
    * phase assignment goes through [[WindowAggs.exactNtile]]
    * (bit-equal to the window ntile, spec-proven) with
    * floor(score×256) buckets — the score lives in [0,1], so the
    * offset aggregate is ≤257 rows no matter the corpus size; no
    * single-task sort of the document table anywhere. */
  private def curriculumPhases(s: SparkSession, dir: String): DataFrame = {
    val scored = qualityCols(Tables(s, dir, "documents"))
    WindowAggs.exactNtile(scored, 4,
        floor(col("quality_score") * 256).cast(LongType), desc = false,
        Seq(col("quality_score"), md5(col("doc_id").cast(StringType)),
          col("doc_id")), "phase")
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("doc_ct"),
        sum(col("n_tokens")).as("token_sum"),
        round(sum(round(col("quality_score"), 9)
          .cast(DecimalType(28, 9))).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_quality"))
  }

  /** c3: deterministic train/val/test split by md5 bucket of doc_id —
    * stable under re-sharding, no RNG, leakage-free across engines. */
  /** md5 percent-bucket of doc_id — the ONE source of the c3/c6/c20
    * deterministic assignment (oracle twin: `hex4ToIntSql % 100`). */
  private def md5BucketOf(c: Column): Column = pmod(
    conv(substring(md5(c.cast(StringType)), 1, 4), 16, 10)
      .cast(LongType), lit(100L))

  private def md5Bucket: Column = md5BucketOf(col("doc_id"))

  /** The c3 split rule over that bucket (train <70, val <85, test). */
  private def splitOf(bucket: Column): Column =
    when(bucket < 70, "train").when(bucket < 85, "val").otherwise("test")

  /** c23: cluster-aware leakage-free split — the fix for the failure
    * mode c3's doc-level split cannot see: two NEAR-DUPLICATE documents
    * hashing to different splits puts a paraphrase of a training doc in
    * the test set (the train/test contamination c5/c17 would then have
    * to catch after the fact). Here the split key is the near-dup
    * COMPONENT label (the memoized c1 labels; singletons label
    * themselves), so an entire near-dup cluster moves as one unit by
    * construction — leakage is impossible rather than audited.
    * `moved_ct` counts the docs whose cluster-level split disagrees
    * with their c3 doc-level split: the price of safety, reported per
    * split. Scale: one broadcast-sized label join over the memoized
    * pair-graph labels (same family amortization as c14/c22) + one
    * map-side bucket hash + one split-keyed rollup. */
  private def clusterSplit(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), size(tokenize(col("text")))
        .cast(LongType).as("n_tokens"))
      .join(labels, col("doc_id") === col("id"), "left_outer")
      .withColumn("glabel", coalesce(col("label"), col("doc_id")))
      .withColumn("split", splitOf(md5BucketOf(col("glabel"))))
      .withColumn("doc_split", splitOf(md5Bucket))
    d.groupBy(col("split"))
      .agg(count(lit(1)).as("doc_ct"),
        countDistinct(col("glabel")).as("cluster_ct"),
        sum(col("n_tokens")).as("tok_sum"),
        sum(when(col("split") =!= col("doc_split"), 1L).otherwise(0L))
          .as("moved_ct"))
  }

  private def hashSplit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"),
        md5Bucket.as("bucket"))
      .withColumn("split", splitOf(col("bucket")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("doc_ct"),
        sum(col("n_tokens")).as("tok_sum"),
        countDistinct(col("source")).as("source_ct"))
  }

  /** c20: release manifest — the publishable integrity record of a
    * dataset release: per (c3 split × source), doc count, token sum,
    * and an ORDER-INDEPENDENT content checksum (bit_xor of each doc's
    * integer fingerprint prefix — xor is commutative/associative, so
    * the checksum is identical under any partitioning, any engine, any
    * row order; a re-publish that silently drops/mutates one document
    * flips it). Downstream consumers verify their copy by recomputing
    * three aggregates — no doc-level diff needed. Pure map + one
    * group-by; the manifest rides the release at any corpus size. */
  /** The c20 core over an ARBITRARY (doc_id, source, text) frame —
    * exposed through [[graft.api.Graft.releaseManifest]]. */
  private[graft] def releaseManifestFor(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"),
        conv(substring(fingerprint(col("text")), 1, 8), 16, 10)
          .cast(LongType).as("fpint"),
        md5Bucket.as("bucket"))
      .withColumn("split", splitOf(col("bucket")))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("doc_ct"),
        sum(col("n_tokens")).as("token_sum"),
        expr("bit_xor(fpint)").as("content_checksum"))

  private def releaseManifest(s: SparkSession, dir: String): DataFrame =
    releaseManifestFor(Tables(s, dir, "documents"))

  /** c22: the dedup savings WATERFALL — the executive summary of the
    * whole dedup stack, per source: token mass at each stage of
    * exact-dup removal (d1's fp keeper) → near-dup collapse (c1's
    * cluster representative) → substring span cuts (t19's merged
    * extents, recomputed over the KEPT corpus — duplication among
    * dropped docs must not inflate the cut estimate). `tok_final` is
    * what actually reaches training; the deltas are each stage's
    * contribution — the number that justifies (or kills) each pass at
    * 100 TB. Composes the memoized cluster labels and the shared
    * fingerprint/token scans; the only new work is one t19 gram pass
    * over the kept slice. */
  private def dedupWaterfall(s: SparkSession, dir: String): DataFrame = {
    val d = qualityCols(Tables(s, dir, "documents"))
    val keeper = d.withColumn("keeper_id",
      min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    val exactKept = keeper.filter(col("doc_id") === col("keeper_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val kept = exactKept.join(
        clusterLabels(s, dir).select(col("id"), col("label")),
        col("doc_id") === col("id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val cuts = TextOps.dupSpanExtentsFor(
        Tables(s, dir, "documents").join(kept.select(col("doc_id")
          .as("k_id")), col("doc_id") === col("k_id"))
          .select(col("doc_id"), col("text")))
      .select(col("doc_id").as("c_id"), col("dup_tokens"))
    val perKept = kept.join(cuts, col("doc_id") === col("c_id"),
        "left_outer")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tok_neardup"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("cut_tokens"))
    d.groupBy(col("source")).agg(sum(col("n_tokens")).as("tok_total"))
      .join(exactKept.groupBy(col("source").as("s2"))
        .agg(sum(col("n_tokens")).as("tok_exact")),
        col("source") === col("s2"))
      .join(perKept.withColumnRenamed("source", "s3"),
        col("source") === col("s3"))
      .select(col("source"), col("tok_total"), col("tok_exact"),
        col("tok_neardup"), col("cut_tokens"),
        (col("tok_neardup") - col("cut_tokens")).as("tok_final"))
  }

  /** c10: deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis, "Weighted random sampling with a reservoir",
    * IPL 2006): each doc gets key u^(1/w) with u a hash-derived uniform
    * and w its token count; the global top-n keys are the sample, so
    * inclusion probability is weight-proportional. Expressed as
    * ln(u)/w (same ordering, no pow underflow), rounded to 9 dp so the
    * cross-engine order is robust, with doc_id as the total-order
    * tie-break. The u is the same md5-bucket uniform as c3 — purely
    * map-side, stable under re-sharding. The plan is orderBy+limit →
    * TakeOrderedAndProject: per-partition partial top-n, no full sort —
    * the correct 100-TB shape for "sample n docs by token weight". */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
      .cast(DoubleType)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("u", (h + lit(1.0)) / lit(65536.0))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(log(col("u")) / col("n_tokens"), 9).as("skey"))
      .orderBy(col("skey").desc, col("doc_id")).limit(200)
  }

  /** c11: temperature-based source mixing (the multinomial sampling rule
    * of Raffel et al., "Exploring the Limits of Transfer Learning with a
    * Unified Text-to-Text Transformer", JMLR 2020 §3.4.3 / XLM-R) —
    * per-source sampling rates ∝ S_i^α with α = 0.5, so small sources
    * are up-weighted relative to proportional sampling without letting
    * any single giant source dominate the mixture. α = 0.5 is computed
    * via sqrt, which is IEEE-correctly-rounded in both engines (a libm
    * pow would drift in the last ulp); the per-source weights are
    * DECIMAL-quantized before the global sum so the normalizer is
    * order-independent. The target volume is half the corpus' tokens;
    * per-doc keeps use the same md5-bucket uniform as c3 — leakage-free,
    * re-shard-stable, identical across engines. Everything is two
    * aggregates and one broadcast join back onto the corpus: map-side at
    * 100 TB with a 20-row dimension of rates. */
  private def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"))
    val u = conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
      .cast(DoubleType) / lit(65536.0)
    val perSrc = d.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("wq",
        round(sqrt(col("src_tokens").cast(DoubleType)), 9)
          .cast(DecimalType(28, 9)))
    val totals = perSrc.agg(sum(col("wq")).as("sumw"),
      sum(col("src_tokens")).as("tot"))
    val rates = perSrc.crossJoin(broadcast(totals))
      .select(col("source").as("r_source"), col("src_tokens"),
        least(lit(1.0),
          col("tot").cast(DoubleType) * lit(0.5)
            * col("wq").cast(DoubleType) / col("sumw").cast(DoubleType)
            / col("src_tokens").cast(DoubleType)).as("rate"))
    d.withColumn("u", u)
      .join(broadcast(rates), col("source") === col("r_source"))
      .groupBy(col("source"))
      .agg(max(col("src_tokens")).as("src_tokens"),
        round(max(col("rate")), 6).as("rate"),
        count(when(col("u") < col("rate"), 1)).as("kept_ct"),
        sum(when(col("u") < col("rate"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
  }

  /** Temperatures c27 sweeps (c11's τ = 0.5 sits inside the range). */
  val mixTaus: Seq[Double] = Seq(0.5, 0.7, 1.0)

  /** c27 (beyond-reference): temperature-mix sweep — the tuning table
    * behind c11's single sampling rule (the v18/d9 sweep idiom applied
    * to the mixing knob): for each τ in [[mixTaus]], the normalized
    * source weight w_s = tokens_s^τ / Σ tokens^τ and its boost over the
    * natural share (τ = 1 ⇒ boost 1 everywhere; τ < 1 lifts small
    * sources — multilingual/low-resource upsampling à la mBERT/XLM-R
    * exponent smoothing). pow() outputs are rounded to 9 decimals and
    * DECIMAL-quantized before the cross-source normalizer sum (c11's
    * discipline — absorbs last-ulp pow differences between engines);
    * weights are one-shot divisions over the exact sums. Shuffles: one
    * source rollup; the sweep itself is sources × 3 rows of metadata. */
  private def temperatureSweep(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables(s, dir, "documents")
      .select(col("source"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
    val taus = perSrc
      .select(col("source"), col("src_tokens"),
        explode(lit(mixTaus.toArray)).as("tau"))
      .withColumn("wq",
        round(pow(col("src_tokens").cast(DoubleType), col("tau")), 9)
          .cast(DecimalType(28, 9)))
    val tsum = taus.groupBy(col("tau").as("t_tau"))
      .agg(sum(col("wq")).as("sumw"))
    val tot = perSrc.agg(sum(col("src_tokens")).as("tot"))
    taus.join(broadcast(tsum), col("tau") === col("t_tau"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("tau"), col("src_tokens"),
        round(col("wq").cast(DoubleType) / col("sumw").cast(DoubleType), 6)
          .as("weight"),
        round(col("wq").cast(DoubleType) / col("sumw").cast(DoubleType)
          / (col("src_tokens").cast(DoubleType)
            / col("tot").cast(DoubleType)), 6).as("boost"))
  }

  /** c12: PageRank authority over the near-dup graph (Brin & Page 1998;
    * the canonical iterative-join workload, complementing c1's
    * connected components): three power iterations, damping 0.85, over
    * the undirected d3 pair graph — the "which duplicate is the
    * canonical copy" signal a dedup pipeline uses to pick cluster
    * representatives by centrality rather than min-id. Every node of
    * the pair graph has degree ≥ 1 in both directions (the edge set is
    * symmetrized), so there is no dangling mass and Σpr stays 1.
    *
    * Determinism: per-edge contributions pr(u)/deg(u) are rounded to
    * 12 dp and summed as DECIMAL (order-independent); the scalar
    * (1−d)/n + d·Σ recurrence is then identical IEEE double arithmetic
    * in both engines. Scale shape: the iteration count is FIXED (3), so
    * all three rounds unroll into one declarative plan — three
    * join+aggregate pairs shuffling on the node key, no driver-side
    * loop, no action between rounds; at 100 TB each round is the same
    * edges⋈ranks shuffle CC pays, and AQE sizes the exchanges. */
  private val prDamp = 0.85
  private def pagerankAuthority(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.nearDupPairs(s, dir).select(col("a_id"), col("b_id"))
    // ONE eager checkpoint of the symmetrized edge list — WITH the
    // destination's degree fused onto each edge row (r15 opt, guide
    // §2.4: the per-round `sc ⋈ deg` node-sized join is redundant once
    // the edge carries dst_deg — grouping by (dst, dst_deg) is the same
    // grouping because dst determines dst_deg, so each round drops one
    // exchange+sort at the cost of 8 bytes/edge already in the contrib
    // shuffle). The unrolled 3-round plan references the edge list 3×,
    // and without the cut each reference re-derives the whole
    // LSH+Jaccard verify subtree — 3× the near-dup pipeline instead of
    // 3 tiny joins. On a cluster this is `checkpoint`/a staging table
    // (the c1 lesson).
    val und0 = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg0 = und0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the edge set is symmetrized, so every dst also appears as a src
    // and the inner join keeps every edge
    val und = und0.join(deg0.select(col("src").as("ds"),
        col("deg").as("dst_deg")), col("dst") === col("ds"))
      .select(col("src"), col("dst"), col("dst_deg"))
      .localCheckpoint(true)
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nDf = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("id"), col("deg"),
        (lit(1.0) / col("n")).as("pr"), col("n"))
    for (_ <- 1 to 3) {
      val contrib = und.join(pr, col("src") === col("id"))
        .select(col("dst"), col("dst_deg"),
          round(col("pr") / col("deg"), 12).cast(DecimalType(28, 12))
            .as("c"))
      pr = contrib.groupBy(col("dst"), col("dst_deg"))
        .agg(sum(col("c")).as("sc"))
        .crossJoin(broadcast(nDf))
        .select(col("dst").as("id"), col("dst_deg").as("deg"),
          ((lit(1.0) - lit(prDamp)) / col("n")
            + lit(prDamp) * col("sc").cast(DoubleType)).as("pr"),
          col("n"))
    }
    pr.select(col("id").as("doc_id"), col("deg"),
      round(col("pr"), 9).as("pagerank"))
  }

  /** c4: top-3 docs per source by size — rank-window top-k-per-group
    * (absent in the reference: its only top-N is global, A10/ch). */
  private def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  /** c4's bounded-memory twin — the two-phase mapPartitions heap: each
    * partition keeps only its local top-k per group (k·groups rows held,
    * never a full group), then the tiny union of locals is re-reduced.
    * This is the shape that survives a pathological group (billions of
    * rows under one key) where a rank window must sort the whole group;
    * spec-proven equal to the window form. */
  private[graft] def topkPerGroupHeap(s: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    import s.implicits._
    val ord = Ordering.by[(String, Long, Long), (Long, Long)] {
      case (_, docId, nChars) => (-nChars, docId)
    }
    def localTopK(it: Iterator[(String, Long, Long)]) = {
      val best = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.PriorityQueue[(String, Long, Long)]]
      it.foreach { row =>
        // max-heap on the INVERSE order: the head is the worst kept row
        val pq = best.getOrElseUpdate(row._1,
          scala.collection.mutable.PriorityQueue.empty(ord))
        pq.enqueue(row)
        if (pq.size > k) pq.dequeue()
      }
      best.valuesIterator.flatMap(_.iterator)
    }
    val typed = Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
    val locals = typed.mapPartitions(localTopK)
    // phase 2: locals are ≤ k·groups·partitions rows — re-reduce once
    locals.repartition(col("_1"))
      .mapPartitions(localTopK)
      .toDF("source", "doc_id", "n_chars")
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))))
  }

  /** The ONE definition of the held-out eval slice (doc_id ≡ 0 mod
    * 37) shared by every decontamination entry point (c5, c15, c17 and
    * the memoized candidate build) — the candidate-side and token-side
    * splits MUST agree or the verify inner joins silently drop pairs,
    * so the predicate is defined exactly once. */
  private def isEvalDoc: Column = pmod(col("doc_id"), lit(37L)) === 0

  /** c5: benchmark-contamination check — the decontamination pass every
    * pretraining pipeline runs before training: flag training docs that
    * share ≥ 3 distinct word 3-grams with any held-out eval doc
    * (doc_id ≡ 0 mod 37 plays the benchmark set). Scale shape: shingles
    * are hashed and joined shingle-to-shingle (a bucketed equi-join,
    * never doc×doc), then counted per (train, eval) pair — the same
    * never-all-pairs discipline as the LSH dedup path. */
  /** Distinct word-3-gram shingles of a (doc_id, text) frame. */
  private def shinglesOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokenize(col("text")).as("tk"))
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("tk")) - 2, lit(1))),
        i => concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
        .as("shingle"))

  /** Generic benchmark decontamination for ARBITRARY train/eval frames
    * (the c5 core, exposed through [[graft.api.Graft]]): flagged
    * (train_id, eval_id) pairs sharing >= minShared distinct word
    * 3-grams — a shingle-keyed equi-join, never doc×doc, under a
    * per-shingle partner budget (`postingCap`, default the LSH
    * family's [[DedupOps.bucketCliqueCap]]): each shingle's train
    * posting list is ranked by train_id and only the first cap
    * entries join — the stop-shingle discipline that keeps a template
    * mega-cluster's shared 3-grams from multiplying every matching
    * eval doc by the full cluster membership (the quadratic
    * intermediate the round-8 SCALE_LEDGER exposed inside c15).
    *
    * What the cap does and does NOT preserve — the asymmetry callers
    * must know (it is restated on [[graft.api.Graft.contamination]]):
    *  - EVAL-side detection is preserved: a contaminated eval doc
    *    still matches the surviving slots of its shingles, so "is this
    *    benchmark clean?" stays answerable.
    *  - TRAIN-side attribution is NOT complete above the cap: a train
    *    doc ranked past `postingCap` in ALL of its shared shingles
    *    (possible when every shared 3-gram is a common/template
    *    shingle) is never paired, so pruning contaminated TRAIN docs
    *    from the flagged pairs alone under-reports; rank-by-train_id
    *    is an arbitrary-but-deterministic survivor choice. Pass
    *    `postingCap <= 0` to disable the cap (exact enumeration —
    *    fine for small corpora; at 100 TB the uncapped join is the
    *    quadratic the ledger flagged). */
  private[graft] def contaminationFor(train: DataFrame, eval: DataFrame,
      minShared: Long,
      postingCap: Int = DedupOps.bucketCliqueCap): DataFrame =
    contaminationFromPostings(
      rankedTrainPostings(train, postingCap), eval, minShared)

  /** The capped train posting-list table of [[contaminationFor]]:
    * one (train_id, shingle) row per surviving posting slot. Split
    * out so the in-repo queries can MEMOIZE it — c5 and c15's exact
    * lens share one ranked table instead of each paying the
    * per-shingle window sort (the round-8 d5/c5 bench regression). */
  private def rankedTrainPostings(train: DataFrame,
      postingCap: Int): DataFrame = {
    val posted = shinglesOf(train)
      .select(col("doc_id").as("train_id"), col("shingle"))
    if (postingCap <= 0) posted
    else {
      val wSh = Window.partitionBy(col("shingle")).orderBy(col("train_id"))
      posted.withColumn("rk", row_number().over(wSh))
        .filter(col("rk") <= postingCap)
        .drop("rk")
    }
  }

  /** Join a (train_id, shingle) posting table against an eval frame's
    * shingles and fold to flagged pairs — the verify half of
    * [[contaminationFor]], shared by c5 and c15 over the memoized
    * posting table. */
  private def contaminationFromPostings(postings: DataFrame,
      eval: DataFrame, minShared: Long): DataFrame =
    postings
      .join(shinglesOf(eval).select(col("doc_id").as("eval_id"),
        col("shingle")), "shingle")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(countDistinct(col("shingle")).as("shared_ct"))
      .filter(col("shared_ct") >= minShared)

  /** Ranked train posting lists for the standing c5/c15
    * decontamination pass (train = !isEvalDoc): at 100 TB this is a
    * staging table maintained next to the eval registry, built once per
    * release gate — both lenses read it. */
  private val trainPostings = Standing.frame("train_postings",
    Set("c5_contamination", "c15_decontam_report")) { (s, dir) =>
    rankedTrainPostings(Tables(s, dir, "documents").filter(!isEvalDoc),
      DedupOps.bucketCliqueCap)
  }

  private def contamination(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    contaminationFromPostings(trainPostings(s, dir),
      d.filter(isEvalDoc), 3L)
  }

  /** Stop-shingle document-frequency cap for c30: a 3-gram appearing
    * in more than this many TRAIN docs is template/boilerplate and
    * carries no contamination signal. */
  val stopShingleDf = 20L

  /** c30 (beyond-reference): DF-based exact decontamination — the
    * rank-cap-free alternative lens the round-8 advisor asked for.
    * c5 bounds the quadratic by truncating EVERY shingle's posting
    * list at its first [[DedupOps.bucketCliqueCap]] docs — eval-side
    * detection preserved, train-side attribution lossy above the cap.
    * c30 instead drops whole STOP SHINGLES (train document frequency
    * > [[stopShingleDf]]) and keeps every posting of the informative
    * rest: on surviving shingles the (train, eval) pair enumeration is
    * EXACT — a contaminated train doc is always paired — and the
    * quadratic risk is gone structurally, since a surviving shingle's
    * posting list is ≤ the DF cap by definition (candidates per
    * shingle ≤ df × its eval matches). The trade: a pair sharing ONLY
    * template shingles is invisible here, where c5 still counts its
    * first-cap slots — a release gate runs both lenses, like
    * exact + fuzzy. Scale shape: df rides a window on the SAME
    * shingle Exchange the eval join needs (one Exchange serves both),
    * so the whole lens costs c5's join plus one partition-local
    * count. */
  /** t30 (beyond-reference): shingle document-frequency spectrum — the
    * tuning table for BOTH posting-list disciplines (c5's rank cap,
    * c30's stop-shingle DF threshold): per power-of-two DF bucket, how
    * many distinct 3-gram shingles live there and how much posting
    * MASS they carry (sum of df — the join cost a decontamination or
    * near-dup pass pays on that bucket). Reading it top-down answers
    * "what does a stop threshold of 2^k cut?" without re-running the
    * join per candidate threshold — the same curve-over-the-knob shape
    * as d9's Jaccard sweep. One shingle-keyed aggregate + a ≤~16-row
    * fold. */
  private def shingleDfSpectrum(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables(s, dir, "documents"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .select(floor(log2(col("df"))).cast(LongType).as("b"), col("df"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("shingle_ct"), sum(col("df")).as("posting_ct"))
      .select(pow(lit(2.0), col("b")).cast(LongType).as("df_bucket_lo"),
        col("shingle_ct"), col("posting_ct"))

  /** The c30 core over ARBITRARY (doc_id, text) train/eval frames —
    * exposed as [[graft.api.Graft.contaminationByDf]], the companion
    * lens to the rank-capped [[contaminationFor]]. */
  private[graft] def dfContaminationFor(train: DataFrame, eval: DataFrame,
      minShared: Long, maxDf: Long): DataFrame = {
    val posted = shinglesOf(train)
      .select(col("doc_id").as("train_id"), col("shingle"))
    val wSh = Window.partitionBy(col("shingle"))
    posted
      .withColumn("df", count(lit(1)).over(wSh))
      .filter(col("df") <= maxDf)
      .join(shinglesOf(eval)
        .select(col("doc_id").as("eval_id"), col("shingle")), "shingle")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(countDistinct(col("shingle")).as("shared_ct"))
      .filter(col("shared_ct") >= minShared)
  }

  private def dfDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    dfContaminationFor(d.filter(!isEvalDoc), d.filter(isEvalDoc), 3L,
      stopShingleDf)
  }

  /** Generic FUZZY decontamination for arbitrary train/eval frames (the
    * c17 core, exposed through [[graft.api.Graft]]): near-duplicate
    * train×eval pairs found by MinHash-LSH banding — each side is
    * signed independently (the small eval side pays only its own
    * signature cost), candidates come from a (band_no, band_sig) bucket
    * equi-join, and every candidate is verified by exact distinct-token
    * Jaccard ≥ threshold. Never corpus×corpus at any stage. Fully LAZY
    * like every other facade entry point — nothing runs until the
    * caller takes an action. */
  private[graft] def fuzzyContaminationFor(train: DataFrame,
      eval: DataFrame, threshold: Double): DataFrame =
    fuzzyVerify(
      bandCandidates(DedupOps.stackedBands(train),
        DedupOps.stackedBands(eval)),
      train, eval, threshold, pruneToks = false)

  /** (train_id, eval_id) LSH candidates from two band tables — a
    * (band_no, band_sig) bucket equi-join, never train×eval, under the
    * [[DedupOps.bucketCliqueCap]] budget on the TRAIN side: each eval
    * doc meets at most cap train partners per bucket (ranked by
    * train_id), so a template mega-cluster in the training corpus no
    * longer multiplies every colliding eval doc by its full membership
    * (89× shuffle growth across a 10× input step in the round-8
    * SCALE_LEDGER run). Detection is doc-level-preserved: an eval doc
    * colliding with a hot bucket still meets the bucket's first cap
    * members — near-identical by construction of the hot bucket — and
    * flags on any of them; only the quadratic (train, eval) pair
    * ENUMERATION is bounded. */
  private def bandCandidates(trainBands: DataFrame,
      evalBands: DataFrame): DataFrame = {
    val wTr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_no"), col("band_sig"))
      .orderBy(col("train_id"))
    trainBands
      .select(col("doc_id").as("train_id"), col("band_no"), col("band_sig"))
      .withColumn("rk", row_number().over(wTr))
      .filter(col("rk") <= DedupOps.bucketCliqueCap)
      .join(evalBands
        .select(col("doc_id").as("eval_id"), col("band_no"), col("band_sig")),
        Seq("band_no", "band_sig"))
      .select(col("train_id"), col("eval_id")).distinct()
  }

  /** The SHARED c15/c17 candidate list: the standing [[DedupOps
    * .docBands]] table split by the eval predicate (signatures are
    * per-doc, so the filter is identical to re-signing each side) and
    * bucket-joined. Both decontamination queries read one build (at
    * 100 TB: a staging table maintained next to the signature table),
    * and the candidate plan stays visible to the PerfSpec band-bucket
    * guard inside the cached relation. */
  private val decontamCandidates = Standing.frame("decontam_cand",
    Set("c15_decontam_report", "c17_fuzzy_contamination")) { (s, dir) =>
    val bands = DedupOps.docBands(s, dir)
    val isEval = isEvalDoc
    bandCandidates(bands.filter(!isEval), bands.filter(isEval))
  }

  /** Exact-Jaccard verify over a candidate list. Per-SIDE token
    * tables: the two frames may use overlapping doc_id spaces (each
    * corpus its own id sequence), so a unioned table keyed on doc_id
    * alone would join each candidate against BOTH sides' text and emit
    * duplicate, wrong-jaccard rows. With `pruneToks` each side is
    * semi-join pruned to the docs that actually appear in a candidate
    * pair BEFORE tokenizing — the verify stage pays tokenize+md5 only
    * on the (band-collision-bounded) candidate sliver, not the whole
    * train corpus; at 100 TB that is the difference between re-reading
    * a few GB and re-tokenizing the full corpus a second time. AQE
    * turns the id-set semi joins into broadcasts at runtime. Used with
    * pruneToks only when `cand` is a materialized (memoized) table, so
    * the prune doesn't replay the candidate build per consumer. */
  private def fuzzyVerify(cand: DataFrame, train: DataFrame,
      eval: DataFrame, threshold: Double, pruneToks: Boolean): DataFrame = {
    def toksOf(df: DataFrame, ids: DataFrame) = {
      val src = if (pruneToks) df.join(ids, Seq("doc_id"), "left_semi") else df
      src.select(col("doc_id"),
        array_distinct(tokenize(col("text"))).as("elems"))
    }
    val trainToks = toksOf(train, cand.select(col("train_id").as("doc_id")))
    val evalToks = toksOf(eval, cand.select(col("eval_id").as("doc_id")))
    cand
      .join(trainToks.as("fta"), col("train_id") === col("fta.doc_id"))
      .join(evalToks.as("fte"), col("eval_id") === col("fte.doc_id"))
      .select(col("train_id"), col("eval_id"),
        size(array_intersect(col("fta.elems"), col("fte.elems")))
          .as("inter_ct"),
        size(col("fta.elems")).as("na"), size(col("fte.elems")).as("nb"))
      .select(col("train_id"), col("eval_id"),
        (col("inter_ct").cast(DoubleType) /
          (col("na") + col("nb") - col("inter_ct"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** c17: fuzzy benchmark decontamination — the NEAR-DUP complement of
    * c5's exact 3-gram overlap (GPT-3's appendix-C decontamination and
    * every successor pipeline run both lenses: exact n-gram hits catch
    * verbatim quotes, MinHash catches paraphrased/reformatted copies
    * that share few exact shingles). Same eval slice as c5
    * (doc_id ≡ 0 mod 37); flagged pairs are LSH band candidates that
    * survive an exact unigram-Jaccard ≥ 0.5 verify. The banding is the
    * production d2 signature stage ([[DedupOps.stackedBands]], native
    * one-pass minhash Expression); at 100 TB the eval side is tiny, so
    * its band table broadcasts and the train corpus pays exactly one
    * signature scan — the candidate join is bucket-keyed, never
    * train×eval. */
  private def fuzzyContamination(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val isEval = isEvalDoc
    fuzzyVerify(decontamCandidates(s, dir),
      d.filter(!isEval), d.filter(isEval), 0.5, pruneToks = true)
  }

  /** c15: per-eval-doc decontamination report — the release-gate
    * verdict table that composes BOTH lenses the GPT-3 appendix-C
    * lineage runs: c5's exact 3-gram overlap (verbatim quotes) and
    * c17's MinHash-LSH near-dup verify (paraphrased copies). One row
    * per eval doc (dense — a missing row would read as "not checked"),
    * with the train-doc hit count under each lens and the verdict:
    * `exact` dominates `fuzzy` dominates `clean`. Scale: both inputs
    * are the same shingle/band joins c5/c17 already pay (eval side
    * tiny → broadcast); the report adds two |eval|-sized rollups and
    * two left joins on eval_id. */
  private def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val isEval = isEvalDoc
    val train = d.filter(!isEval)
    val ev = d.filter(isEval)
    val exact = contaminationFromPostings(trainPostings(s, dir), ev, 3L)
      .groupBy(col("eval_id")).agg(count(lit(1)).as("e_ct"))
    val fuzzy = fuzzyVerify(decontamCandidates(s, dir), train, ev, 0.5,
        pruneToks = true)
      .groupBy(col("eval_id")).agg(count(lit(1)).as("f_ct"))
    ev.select(col("doc_id").as("eval_id"))
      .join(exact, Seq("eval_id"), "left_outer")
      .join(fuzzy, Seq("eval_id"), "left_outer")
      .select(col("eval_id"),
        coalesce(col("e_ct"), lit(0L)).as("exact_ct"),
        coalesce(col("f_ct"), lit(0L)).as("fuzzy_ct"),
        when(coalesce(col("e_ct"), lit(0L)) > 0, "exact")
          .when(coalesce(col("f_ct"), lit(0L)) > 0, "fuzzy")
          .otherwise("clean").as("verdict"))
  }

  /** c21: data-constrained epoch plan — the repetition allocator from
    * the data-constrained scaling recipe (Muennighoff et al., NeurIPS
    * 2023: up to ~4 epochs of a constrained source are nearly as good
    * as fresh tokens; beyond that returns decay): given a token budget
    * of 2× the corpus and a uniform per-source target, each source
    * plans epochs = min(4, target/available) and contributes
    * min(target, 4×available) tokens, surfacing the unfilled remainder
    * the mixer must re-allocate. All integer math except the epoch
    * ratio (exact integer division per engine — `div`/`//` parity);
    * one per-source aggregation + a broadcast 1-row total. */
  /** c29 (beyond-reference): one-step domain reweighting — the
    * DoReMi-shaped mixture update (Xie et al., NeurIPS 2023: upweight
    * domains with EXCESS loss over a reference) computed from corpus
    * statistics alone: each source's "loss" proxy is the mean token
    * surprisal −ln(corpus token frequency) (rare-vocabulary sources
    * score high), the excess is vs the corpus-wide mean, and the new
    * mixture weight is the baseline token share scaled by
    * exp(η·excess) and renormalized. Output per source: token share,
    * loss, excess, and the normalized next-round weight — the knob a
    * data mixer turns between training runs. Scale shape: one
    * token-keyed frequency aggregation (bounded by the vocabulary
    * after map-side combine), one join riding the same token key, one
    * per-source rollup, a broadcast 1-row total. Float discipline:
    * per-token ln values round(·,9)→DECIMAL before the cross-row sum
    * (the t13 entropy pattern), exp/normalization on 6-dp-rounded
    * per-source scalars. */
  val reweightEta = 0.5

  private def domainReweight(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val toks = Tables(s, dir, "documents")
      .select(col("source"), explode(TextOps.tokenize(col("text")))
        .as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tok_ct"))
    val total = freq.agg(sum(col("tok_ct")).cast(LongType).as("n_total"))
    val surprisal = toks.join(freq, "tok").crossJoin(broadcast(total))
      .select(col("source"),
        round(-log(col("tok_ct").cast(DoubleType) / col("n_total")), 9)
          .cast(DecimalType(28, 9)).as("surp_q"))
    // the per-source sums STAY DECIMAL through the corpus rollup —
    // exact and order-independent at every aggregation level; doubles
    // appear only in the final one-shot divisions
    val perSrc = surprisal.groupBy(col("source"))
      .agg(count(lit(1)).as("src_tokens"),
        sum(col("surp_q")).as("surp_dec"))
      .withColumn("loss",
        round(col("surp_dec").cast(DoubleType) / col("src_tokens"), 6))
    val corpus = perSrc.agg(
      sum(col("src_tokens")).cast(LongType).as("all_tokens"),
      round(sum(col("surp_dec")).cast(DoubleType) /
        sum(col("src_tokens")).cast(DoubleType), 6).as("corpus_loss"))
    val scored = perSrc.crossJoin(broadcast(corpus))
      .withColumn("token_share",
        round(col("src_tokens").cast(DoubleType) / col("all_tokens"), 6))
      .withColumn("excess", round(col("loss") - col("corpus_loss"), 6))
      .withColumn("raw_w",
        round(col("token_share") * exp(lit(reweightEta) * col("excess")),
          6))
    val z = scored.agg(round(sum(col("raw_w")), 6).as("z"))
    scored.crossJoin(broadcast(z))
      .select(col("source"), col("src_tokens"), col("token_share"),
        col("loss"), col("excess"),
        round(col("raw_w") / col("z"), 6).as("next_weight"))
  }

  private def epochPlan(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(size(tokenize(col("text"))).cast(LongType))
        .as("src_tokens"))
    val tot = t.agg(sum(col("src_tokens")).as("total"),
      count(lit(1)).as("nsrc"))
    t.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("(2 * total) div nsrc"))
      .select(col("source"), col("src_tokens"), col("target_tokens"),
        round(least(lit(4.0), col("target_tokens").cast(DoubleType) /
          col("src_tokens")), 6).as("epochs"),
        least(col("target_tokens"), lit(4L) * col("src_tokens"))
          .as("planned_tokens"),
        greatest(lit(0L), col("target_tokens") -
          lit(4L) * col("src_tokens")).as("unfilled_tokens"))
  }

  /** c18: corpus snapshot diff — the release-to-release change report
    * every versioned dataset publishes (and the input to incremental
    * re-processing: only `added`+`changed` docs need re-embedding /
    * re-scoring). Two snapshots are derived deterministically from the
    * stored corpus (old: doc_id ≢ 0 mod 5; new: doc_id ≢ 0 mod 7, with
    * docs ≡ 0 mod 11 edited in the new snapshot), then diffed BY
    * CONTENT FINGERPRINT, not by text: each side carries only
    * (doc_id, source, md5 fp), so the full-outer join that classifies
    * added / removed / changed / unchanged shuffles 3 narrow columns
    * per row regardless of document size — the CDC-derivation shape
    * for 100 TB snapshots where shipping text into a diff join would
    * dominate. */
  /** The c18 core over ARBITRARY old/new (doc_id, source, text) frames —
    * exposed through [[graft.api.Graft.snapshotDiff]]. */
  /** The ONE per-row classified-diff stage both c18 and c25 aggregate
    * from (the reconciliation between the two reports is structural,
    * not copy-maintained): full-outer fingerprint join on doc_id, one
    * row per (source, change ∈ added/removed/changed/unchanged) with
    * the NEW-side token count (0 for removed rows). Text never enters
    * the join; Catalyst prunes the tokenize column for consumers that
    * don't read it (c18). */
  private def classifiedDiff(oldSnap: DataFrame,
      newSnap: DataFrame): DataFrame = {
    val old = oldSnap
      .select(col("doc_id").as("o_id"), col("source").as("o_src"),
        fingerprint(col("text")).as("o_fp"))
    val nw = newSnap
      .select(col("doc_id").as("n_id"), col("source").as("n_src"),
        fingerprint(col("text")).as("n_fp"),
        size(tokenize(col("text"))).cast(LongType).as("nt"))
    old.join(nw, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("o_src"), col("n_src")).as("source"),
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_fp") =!= col("n_fp"), "changed")
          .otherwise("unchanged").as("change"),
        coalesce(col("nt"), lit(0L)).as("n_tokens"))
  }

  private[graft] def snapshotDiffFor(oldSnap: DataFrame,
      newSnap: DataFrame): DataFrame =
    classifiedDiff(oldSnap, newSnap)
      .groupBy(col("source"))
      .agg(sum(when(col("change") === "added", 1L).otherwise(0L))
        .as("added_ct"),
        sum(when(col("change") === "removed", 1L).otherwise(0L))
          .as("removed_ct"),
        sum(when(col("change") === "changed", 1L).otherwise(0L))
          .as("changed_ct"),
        sum(when(col("change") === "unchanged", 1L).otherwise(0L))
          .as("unchanged_ct"))

  /** The shared c18/c25 synthetic two-snapshot fixture: old = docs not
    * ≡0 mod 5, new = docs not ≡0 mod 7 with an edit planted on ≡0 mod
    * 11 — one definition so the two reports diff the SAME pair of
    * snapshots by construction. */
  private def snapshotFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    (d.filter(pmod(col("doc_id"), lit(5L)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
        .select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(11L)) === 0,
            concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text")))
  }

  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshotFixture(s, dir)
    snapshotDiffFor(oldSnap, newSnap)
  }

  /** c25: incremental reprocessing plan — the work-list c18's diff
    * exists to feed: per source (the recompute partition unit), how
    * many new-snapshot docs there are, how many changes of ANY kind
    * dirty the partition (added/changed/removed all invalidate derived
    * aggregates — a removed doc must be SUBTRACTED, which is exactly
    * the retraction k8's incremental maintenance consumes), the token
    * mass that actually needs re-running (added+changed docs only —
    * unchanged docs' derived rows are still valid), and the
    * skip/recompute verdict. At 100 TB this plan is what turns a crawl
    * refresh from a full re-run into touching only dirty partitions:
    * the diff join is fingerprint-keyed on doc_id (text never enters
    * the join), the plan output is partition-count-sized. Same
    * snapshot fixture as c18, so the two reports reconcile row by
    * row. */
  private[graft] def reprocessPlanFor(oldSnap: DataFrame,
      newSnap: DataFrame): DataFrame =
    classifiedDiff(oldSnap, newSnap)
      .groupBy(col("source"))
      .agg(
        sum(when(col("change") =!= "removed", 1L).otherwise(0L))
          .as("new_doc_ct"),
        sum(when(col("change").isin("added", "changed", "removed"), 1L)
          .otherwise(0L)).as("dirty_ct"),
        sum(when(col("change").isin("added", "changed"), col("n_tokens"))
          .otherwise(0L)).as("reprocess_tokens"))
      .select(col("source"), col("new_doc_ct"), col("dirty_ct"),
        col("reprocess_tokens"),
        when(col("dirty_ct") > 0, "recompute").otherwise("skip")
          .as("verdict"))

  private def reprocessPlan(s: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshotFixture(s, dir)
    reprocessPlanFor(oldSnap, newSnap)
  }

  /** c6: deterministic stratified sampling — per-source keep rates
    * applied via the same md5 bucket as c3 (leakage-free, re-shard- and
    * engine-stable; rates derived from the source name so the config
    * rides the data). The per-source funnel report is the sampling
    * audit a 100 TB mixture build publishes. */
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val bucket = md5Bucket
    val ratePct = lit(40) + pmod(length(col("source")), lit(3)) * 30
    d.select(col("source"), col("doc_id"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"),
        (bucket < ratePct).as("kept"), ratePct.as("rate_pct"))
      .groupBy(col("source"))
      .agg(max(col("rate_pct")).as("rate_pct"),
        count(lit(1)).as("total_ct"),
        count(when(col("kept"), 1)).as("sampled_ct"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("sampled_tokens"))
  }

  /** c7: token-budget mixture sampling — the training-data "recipe"
    * builder: each source has a token budget (derived from the source
    * name so the config rides the data) and docs fill it in
    * deterministic md5 order (a stable shuffle — re-runs and re-shards
    * pick the identical subset, unlike RNG sampling). One window pass
    * per source (cumulative tokens under the hash total order), then
    * the per-source audit: docs/tokens taken vs budget. */
  private def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = lit(2000L) + pmod(length(col("source")), lit(3)) * 1000L
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(tokenize(col("text"))).cast(LongType).as("n_tokens"),
        budget.as("budget"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("budget"))
      .groupBy(col("source"))
      .agg(max(col("budget")).as("budget"),
        count(lit(1)).as("taken_ct"),
        max(col("cum_tokens")).as("taken_tokens"))
  }

  /** c14: canonical-copy selection — for every near-dup cluster, pick
    * the member to KEEP by data quality rather than the arbitrary
    * min-id rule c2 inherits from the label itself: rank members by
    * (quality_score DESC, pair-graph degree DESC, doc_id) and take the
    * top. Degree is the cheap centrality proxy (the full PageRank
    * variant is c12); the `quality_rule_differs` flag counts the
    * clusters where quality-based selection disagrees with min-id —
    * the documents a min-id pipeline would have thrown away wrongly.
    * Scale: reuses the memoized labels and pair table; one rank window
    * partitioned by cluster label (bounded by cluster size), one
    * member-count aggregation — both shuffle on the label key. */
  private def canonicalSelection(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(s, dir)
    val pairs = DedupOps.nearDupPairs(s, dir).select(col("a_id"), col("b_id"))
    val deg = pairs.select(col("a_id").as("d_id"))
      .union(pairs.select(col("b_id")))
      .groupBy(col("d_id")).agg(count(lit(1)).as("deg"))
    val quality = qualityCols(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("quality_score"))
    val members = labels
      .join(deg, col("id") === col("d_id"))
      .join(quality, col("id") === col("doc_id"))
      .select(col("id"), col("label"), col("deg"), col("quality_score"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("quality_score").desc, col("deg").desc, col("id"))
    val canon = members.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("label").as("c_label"), col("id").as("canonical_id"),
        round(col("quality_score"), 6).as("canonical_quality"),
        col("deg").as("canonical_deg"))
    labels.groupBy(col("label"))
      .agg(count(lit(1)).as("member_ct"))
      .join(canon, col("label") === col("c_label"))
      .select(col("label").as("cluster_id"), col("member_ct"),
        col("canonical_id"), col("canonical_quality"), col("canonical_deg"),
        (col("canonical_id") =!= col("label")).as("quality_rule_differs"))
  }

  /** c16: the per-source DATA CARD — the one-page summary a curation
    * run publishes with its corpus: volume (docs, tokens, languages),
    * dedup exposure (exact-dup members, near-dup graph members), the
    * funnel survivor count (same keep rule as c2, so the two queries
    * cross-check), and mean quality. Composes the SHARED memoized
    * intermediates (quality scan, cluster labels) — one scan of
    * documents, one label join, one aggregation keyed by source; the
    * quality mean is a DECIMAL-quantized sum so the card is bit-stable
    * at any parallelism. */
  private def dataCard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val q = qualityCols(d)
    val keeperW = Window.partitionBy(col("fp"))
    val scored = q.withColumn("keeper_id", min(col("doc_id")).over(keeperW))
    val lab = clusterLabels(s, dir)
      .select(col("id"), col("label"))
    val langs = d.select(col("doc_id").as("l_did"), col("lang"))
    val j = scored
      .join(lab, col("doc_id") === col("id"), "left_outer")
      .join(langs, col("doc_id") === col("l_did"))
    val kept = col("doc_id") === col("keeper_id") &&
      col("quality_score") >= qualityThreshold &&
      (col("label").isNull || col("label") === col("doc_id"))
    j.groupBy(col("source"))
      .agg(count(lit(1)).as("doc_ct"),
        sum(col("n_tokens")).as("token_sum"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("doc_id") =!= col("keeper_id"), 1L).otherwise(0L))
          .as("exact_dup_ct"),
        sum(when(col("label").isNotNull, 1L).otherwise(0L))
          .as("near_dup_member_ct"),
        sum(when(kept, 1L).otherwise(0L)).as("kept_ct"),
        round(sum(round(col("quality_score"), 9).cast(DecimalType(28, 9)))
          .cast(DoubleType) / count(lit(1)), 6).as("quality_mean"))
  }

  /** c24: cross-source exact-duplicate overlap matrix — the provenance
    * audit behind source weighting and dedup planning ("which sources
    * copy from which, and how much"). Per-source DISTINCT fingerprints
    * first (one shuffle on (source, fp)), then the distinct spine
    * equi-joins ITSELF on fp with src_a < src_b — each fingerprint
    * contributes at most C(#sources, 2) pairs, so join output is bounded
    * by #distinct_fp × a small constant, never doc × doc. Overlap is
    * normalized by the smaller side's distinct count (the overlap /
    * containment coefficient), so a small source fully swallowed by a
    * large one reads 1.0 rather than being diluted. The output is the
    * FULL pair matrix including zero-overlap rows — "A does not copy
    * from B" is a finding the audit must state, not an absent row (and
    * the driver's testdata plants dups within-source only, so the
    * all-zero column is the true answer there).
    * At 100 TB: one fp-keyed shuffle for the shared counts; the pair
    * spine is #sources × #sources rows built from two broadcast copies
    * of the per-source totals — the big table is scanned once. */
  private def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val sf = d.select(col("source"), fingerprint(col("text")).as("fp"))
      .distinct()
    val perSrc = sf.groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"))
    val shared = sf.select(col("source").as("sa"), col("fp"))
      .join(sf.select(col("source").as("sb"), col("fp").as("fp_b")),
        col("fp") === col("fp_b") && col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("shared_ct"))
    perSrc.select(col("source").as("src_a"),
        col("n_distinct").as("a_distinct"))
      .join(broadcast(perSrc.select(col("source").as("src_b"),
        col("n_distinct").as("b_distinct"))),
        col("src_a") < col("src_b"))
      .join(broadcast(shared),
        col("src_a") === col("sa") && col("src_b") === col("sb"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("shared_ct"), lit(0L)).as("shared_fp_ct"),
        col("a_distinct"), col("b_distinct"),
        round(coalesce(col("shared_ct"), lit(0L)).cast(DoubleType) /
          least(col("a_distinct"), col("b_distinct")).cast(DoubleType), 6)
          .as("overlap_coef"))
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "c16_data_card" -> dataCard,
    "c14_canonical_selection" -> canonicalSelection,
    "c12_pagerank_authority" -> pagerankAuthority,
    "c24_cross_source_overlap" -> crossSourceOverlap,
    "c11_temperature_mix" -> temperatureMix,
    "c27_temperature_sweep" -> temperatureSweep,
    "c7_token_budget" -> tokenBudget,
    "c5_contamination" -> contamination,
    "c30_df_decontam" -> dfDecontam,
    "t30_shingle_df" -> shingleDfSpectrum,
    "c15_decontam_report" -> decontamReport,
    "c17_fuzzy_contamination" -> fuzzyContamination,
    "c21_epoch_plan" -> epochPlan,
    "c29_domain_reweight" -> domainReweight,
    "c18_snapshot_diff" -> snapshotDiff,
    "c25_reprocess_plan" -> reprocessPlan,
    "c19_curriculum_phases" -> curriculumPhases,
    "c20_release_manifest" -> releaseManifest,
    "c22_dedup_waterfall" -> dedupWaterfall,
    "c6_stratified_sample" -> stratifiedSample,
    "c1_dedup_clusters" -> dedupClusters,
    "c26_cluster_size_dist" -> clusterSizeDist,
    "c2_kept_corpus" -> keptCorpus,
    "c3_hash_split" -> hashSplit,
    "c23_cluster_split" -> clusterSplit,
    "c10_weighted_sample" -> weightedSample,
    "c4_topk_per_group" -> topkPerGroup,
    // the heap twin is oracle-checked against the SAME SQL as c4: two
    // physically different plans (rank window vs two-phase mapPartitions
    // heap), one semantic contract
    "x3_topk_heap" -> ((s, dir) => topkPerGroupHeap(s, dir)))

  // ---- oracles ----------------------------------------------------------

  /** Transitive closure of the (symmetric) verified-pair graph → per-node
    * component label. DuckDB's recursive UNION deduplicates, so the
    * closure terminates; min over reached nodes = component min. */
  private val labelCte: String =
    s"""${DedupOps.verifiedPairsCte},
       |edges AS MATERIALIZED (
       |  SELECT a_id AS src, b_id AS dst FROM ndp
       |  UNION ALL SELECT b_id, a_id FROM ndp),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
       |lab AS MATERIALIZED (SELECT id, min(r) AS label FROM reach GROUP BY id)""".stripMargin

  private def hex4ToIntSql(x: String): String =
    s"""CAST(list_aggregate(list_transform(range(1, 5),
       |      i -> (strpos('0123456789abcdef', substr(md5($x), i, 1)) - 1)
       |           * (CAST(1 AS BIGINT) << (4 * (4 - i)))), 'sum') AS BIGINT)""".stripMargin

  val oracles = Map(
    "c24_cross_source_overlap" ->
      """WITH sf AS (
        |  SELECT DISTINCT source,
        |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
        |           AS fp
        |  FROM documents),
        |ps AS (SELECT source, count(*) AS n_distinct FROM sf GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS shared_ct
        |  FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pa.source AS src_a, pb.source AS src_b,
        |       CAST(COALESCE(pr.shared_ct, 0) AS BIGINT) AS shared_fp_ct,
        |       pa.n_distinct AS a_distinct, pb.n_distinct AS b_distinct,
        |       round(CAST(COALESCE(pr.shared_ct, 0) AS DOUBLE) /
        |             least(pa.n_distinct, pb.n_distinct), 6)
        |         AS overlap_coef
        |FROM ps pa
        |JOIN ps pb ON pa.source < pb.source
        |LEFT JOIN pr ON pr.sa = pa.source AND pr.sb = pb.source""".stripMargin,
    "c12_pagerank_authority" -> {
      // DuckDB numeric literals are DECIMAL — every scalar is cast to
      // DOUBLE so the recurrence replays Spark's IEEE ops bit-for-bit
      // (including (1 - 0.85) ≠ 0.15 in binary)
      val iters = (1 to 3).map { k =>
        val prev = if (k == 1) "pr0" else s"pr${k - 1}"
        s"""c$k AS (
           |  SELECT u.dst, CAST(round(p.pr / p.deg, 12) AS DECIMAL(28,12))
           |           AS c
           |  FROM und u JOIN $prev p ON u.src = p.id),
           |pr$k AS (
           |  SELECT s.dst AS id, d.deg,
           |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           |           / CAST(nn.n AS DOUBLE)
           |           + CAST(0.85 AS DOUBLE) * CAST(s.sc AS DOUBLE) AS pr,
           |         nn.n
           |  FROM (SELECT dst, sum(c) AS sc FROM c$k GROUP BY 1) s
           |  JOIN deg d ON s.dst = d.src CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupOps.verifiedPairsCte},
         |und AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM ndp
         |        UNION ALL SELECT b_id, a_id FROM ndp),
         |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |pr0 AS (SELECT src AS id, deg,
         |               CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS pr, n
         |        FROM deg CROSS JOIN nn),
         |$iters
         |SELECT id AS doc_id, deg, round(pr, 9) AS pagerank FROM pr3""".stripMargin
    },
    "c27_temperature_sweep" ->
      s"""WITH perSrc AS (
        |  SELECT source,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |           AS src_tokens
        |  FROM documents GROUP BY 1),
        |taus AS (
        |  SELECT source, src_tokens, tau,
        |         CAST(round(pow(CAST(src_tokens AS DOUBLE), tau), 9)
        |              AS DECIMAL(28,9)) AS wq
        |  FROM perSrc
        |  CROSS JOIN (SELECT unnest([${mixTaus.mkString(", ")}])
        |                AS tau)),
        |tsum AS (SELECT tau AS t_tau, sum(wq) AS sumw FROM taus
        |         GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot
        |        FROM perSrc)
        |SELECT source, tau, src_tokens,
        |       round(CAST(wq AS DOUBLE) / CAST(sumw AS DOUBLE), 6)
        |         AS weight,
        |       round(CAST(wq AS DOUBLE) / CAST(sumw AS DOUBLE)
        |             / (CAST(src_tokens AS DOUBLE) / CAST(tot AS DOUBLE)),
        |             6) AS boost
        |FROM taus JOIN tsum ON tau = t_tau CROSS JOIN tot""".stripMargin,
    "c11_temperature_mix" -> {
      val u = s"(${hex4ToIntSql("CAST(doc_id AS VARCHAR)")} / 65536.0)"
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |ps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
         |       FROM d GROUP BY 1),
         |psw AS (SELECT *, CAST(round(sqrt(CAST(src_tokens AS DOUBLE)), 9)
         |                       AS DECIMAL(28,9)) AS wq FROM ps),
         |tot AS (SELECT sum(wq) AS sumw,
         |               CAST(sum(src_tokens) AS BIGINT) AS tot FROM psw),
         |rates AS (
         |  SELECT source AS r_source, src_tokens,
         |         least(1.0, CAST(tot AS DOUBLE) * 0.5 * CAST(wq AS DOUBLE)
         |               / CAST(sumw AS DOUBLE)
         |               / CAST(src_tokens AS DOUBLE)) AS rate
         |  FROM psw CROSS JOIN tot),
         |k AS (SELECT d.doc_id, d.source, d.n_tokens, r.src_tokens, r.rate,
         |             $u AS u
         |      FROM d JOIN rates r ON d.source = r.r_source)
         |SELECT source, CAST(max(src_tokens) AS BIGINT) AS src_tokens,
         |       round(max(rate), 6) AS rate,
         |       CAST(count(CASE WHEN u < rate THEN 1 END) AS BIGINT)
         |         AS kept_ct,
         |       CAST(sum(CASE WHEN u < rate THEN n_tokens ELSE 0 END)
         |            AS BIGINT) AS kept_tokens
         |FROM k GROUP BY 1""".stripMargin
    },
    "c7_token_budget" ->
      """WITH b AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         2000 + (length(source) % 3) * 1000 AS budget
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM b)
        |SELECT source, CAST(max(budget) AS BIGINT) AS budget,
        |       count(*) AS taken_ct,
        |       CAST(max(cum_tokens) AS BIGINT) AS taken_tokens
        |FROM c WHERE cum_tokens <= budget GROUP BY 1""".stripMargin,
    "c22_dedup_waterfall" ->
      s"""WITH RECURSIVE $labelCte,
         |wq AS (
         |  SELECT doc_id, source, text,
         |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
         |           AS fp,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |wk AS (
         |  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper_id
         |  FROM wq),
         |wek AS (SELECT doc_id, source, n_tokens, text FROM wk
         |        WHERE doc_id = keeper_id),
         |wkept AS (
         |  SELECT wek.doc_id, wek.source, wek.n_tokens, wek.text
         |  FROM wek LEFT JOIN lab ON wek.doc_id = lab.id
         |  WHERE lab.label IS NULL OR lab.label = wek.doc_id),
         |wtk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM wkept),
         |wg AS (
         |  SELECT doc_id,
         |         unnest(range(1, len(tk) - 3)) AS start,
         |         unnest(list_transform(range(1, len(tk) - 3),
         |           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
         |                          tk[i+4]))) AS gram
         |  FROM wtk WHERE len(tk) >= 5),
         |wdg AS (SELECT gram FROM wg GROUP BY 1 HAVING count(*) >= 2),
         |wsp AS (SELECT doc_id, start, start + 4 AS e
         |        FROM wg JOIN wdg USING (gram)),
         |wisl AS (
         |  SELECT doc_id, start, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS pme
         |  FROM wsp),
         |wbrk AS (
         |  SELECT doc_id, start, e,
         |         CASE WHEN pme IS NULL OR start > pme THEN 1 ELSE 0 END
         |           AS brk
         |  FROM wisl),
         |wext AS (
         |  SELECT doc_id, start, e,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS island
         |  FROM wbrk),
         |wex2 AS (
         |  SELECT doc_id, island, max(e) - min(start) + 1 AS elen
         |  FROM wext GROUP BY 1, 2),
         |wcuts AS (SELECT doc_id, CAST(sum(elen) AS BIGINT) AS dup_tokens
         |          FROM wex2 GROUP BY 1),
         |wpk AS (
         |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_neardup,
         |         CAST(sum(coalesce(dup_tokens, 0)) AS BIGINT)
         |           AS cut_tokens
         |  FROM wkept LEFT JOIN wcuts USING (doc_id) GROUP BY 1),
         |wtot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT)
         |           AS tok_total FROM wq GROUP BY 1),
         |wex AS (SELECT source, CAST(sum(n_tokens) AS BIGINT)
         |          AS tok_exact FROM wek GROUP BY 1)
         |SELECT wtot.source, tok_total, tok_exact, tok_neardup,
         |       cut_tokens, tok_neardup - cut_tokens AS tok_final
         |FROM wtot JOIN wex USING (source) JOIN wpk USING (source)""".stripMargin,
    "c20_release_manifest" -> {
      val fpint = DedupOps.hexToIntSql(
        "trim(regexp_replace(lower(text), ' +', ' ', 'g'))")
      s"""WITH b AS (
         |  SELECT source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         $fpint AS fpint,
         |         ${hex4ToIntSql("CAST(doc_id AS VARCHAR)")} % 100
         |           AS bucket
         |  FROM documents),
         |sp AS (
         |  SELECT CASE WHEN bucket < 70 THEN 'train'
         |              WHEN bucket < 85 THEN 'val'
         |              ELSE 'test' END AS split,
         |         source, n_tokens, fpint
         |  FROM b)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS doc_ct,
         |       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
         |       CAST(bit_xor(fpint) AS BIGINT) AS content_checksum
         |FROM sp GROUP BY 1, 2""".stripMargin
    },
    "c19_curriculum_phases" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         len(list_filter(toks,
        |             x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
        |           AS stop_ct
        |  FROM t),
        |sc AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(stop_ct AS DOUBLE) / n_tokens * 0.3 +
        |           CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.7 AS q
        |  FROM m),
        |ph AS (
        |  SELECT doc_id, n_tokens, q,
        |         ntile(4) OVER (ORDER BY q, md5(CAST(doc_id AS VARCHAR)),
        |                        doc_id) AS phase
        |  FROM sc)
        |SELECT phase, CAST(count(*) AS BIGINT) AS doc_ct,
        |       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
        |       round(CAST(sum(CAST(round(q, 9) AS DECIMAL(28,9)))
        |                  AS DOUBLE) / count(*), 6) AS mean_quality
        |FROM ph GROUP BY 1""".stripMargin,
    "c25_reprocess_plan" ->
      """WITH o AS (
        |  SELECT doc_id AS o_id, source AS o_src,
        |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
        |           AS o_fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |n0 AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0),
        |n AS (
        |  SELECT doc_id AS n_id, source AS n_src,
        |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
        |           AS n_fp,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM n0),
        |cl AS (
        |  SELECT coalesce(o_src, n_src) AS source,
        |         CASE WHEN o_id IS NULL THEN 'added'
        |              WHEN n_id IS NULL THEN 'removed'
        |              WHEN o_fp <> n_fp THEN 'changed'
        |              ELSE 'unchanged' END AS change,
        |         coalesce(n_tokens, 0) AS n_tokens
        |  FROM o FULL OUTER JOIN n ON o_id = n_id)
        |SELECT source,
        |       CAST(sum(CASE WHEN change <> 'removed' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS new_doc_ct,
        |       CAST(sum(CASE WHEN change IN ('added','changed','removed')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS dirty_ct,
        |       CAST(sum(CASE WHEN change IN ('added','changed')
        |                     THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS reprocess_tokens,
        |       CASE WHEN sum(CASE WHEN change IN ('added','changed',
        |                          'removed') THEN 1 ELSE 0 END) > 0
        |            THEN 'recompute' ELSE 'skip' END AS verdict
        |FROM cl GROUP BY 1""".stripMargin,
    "c18_snapshot_diff" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
        |           AS fp,
        |         md5(trim(regexp_replace(lower(
        |           CASE WHEN doc_id % 11 = 0 THEN text || ' rev2'
        |                ELSE text END), ' +', ' ', 'g'))) AS fp2
        |  FROM documents),
        |o AS (SELECT doc_id AS o_id, source AS o_src, fp AS o_fp
        |      FROM f WHERE doc_id % 5 <> 0),
        |n AS (SELECT doc_id AS n_id, source AS n_src, fp2 AS n_fp
        |      FROM f WHERE doc_id % 7 <> 0),
        |cl AS (
        |  SELECT coalesce(o_src, n_src) AS source,
        |         CASE WHEN o_id IS NULL THEN 'added'
        |              WHEN n_id IS NULL THEN 'removed'
        |              WHEN o_fp <> n_fp THEN 'changed'
        |              ELSE 'unchanged' END AS change
        |  FROM o FULL OUTER JOIN n ON o_id = n_id)
        |SELECT source,
        |       CAST(sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS added_ct,
        |       CAST(sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS removed_ct,
        |       CAST(sum(CASE WHEN change = 'changed' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS changed_ct,
        |       CAST(sum(CASE WHEN change = 'unchanged' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS unchanged_ct
        |FROM cl GROUP BY 1""".stripMargin,
    "c17_fuzzy_contamination" ->
      s"""WITH ${DedupOps.candidateCte},
         |tr AS (SELECT doc_id AS train_id, band_no, band_sig,
         |       row_number() OVER (PARTITION BY band_no, band_sig
         |         ORDER BY doc_id) AS rk
         |       FROM stacked WHERE doc_id % 37 <> 0),
         |ev AS (SELECT doc_id AS eval_id, band_no, band_sig FROM stacked
         |       WHERE doc_id % 37 = 0),
         |fcand AS (SELECT DISTINCT train_id, eval_id
         |          FROM tr JOIN ev USING (band_no, band_sig)
         |          WHERE rk <= ${DedupOps.bucketCliqueCap}),
         |fsizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
         |finter AS (
         |  SELECT train_id, eval_id, count(*) AS inter_ct
         |  FROM fcand
         |  JOIN toks fta ON train_id = fta.doc_id
         |  JOIN toks ftb ON eval_id = ftb.doc_id AND fta.tok = ftb.tok
         |  GROUP BY 1, 2)
         |SELECT train_id, eval_id,
         |       CAST(inter_ct AS DOUBLE) / (sa.n + sb.n - inter_ct)
         |         AS jaccard
         |FROM finter
         |JOIN fsizes sa ON train_id = sa.doc_id
         |JOIN fsizes sb ON eval_id = sb.doc_id
         |WHERE CAST(inter_ct AS DOUBLE) / (sa.n + sb.n - inter_ct)
         |      >= 0.5""".stripMargin,
    "c15_decontam_report" ->
      s"""WITH ${DedupOps.candidateCte},
         |sh0 AS (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 1) + 1),
         |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
         |  FROM sh0),
         |extr AS (SELECT train_id, shingle FROM (
         |           SELECT doc_id AS train_id, shingle,
         |                  row_number() OVER (PARTITION BY shingle
         |                    ORDER BY doc_id) AS rk
         |           FROM sh WHERE doc_id % 37 <> 0)
         |         WHERE rk <= ${DedupOps.bucketCliqueCap}),
         |exev AS (SELECT doc_id AS eval_id, shingle FROM sh
         |         WHERE doc_id % 37 = 0),
         |expairs AS (
         |  SELECT train_id, eval_id FROM extr JOIN exev USING (shingle)
         |  GROUP BY 1, 2 HAVING count(DISTINCT shingle) >= 3),
         |ect AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS e_ct
         |        FROM expairs GROUP BY 1),
         |ftr AS (SELECT doc_id AS train_id, band_no, band_sig,
         |        row_number() OVER (PARTITION BY band_no, band_sig
         |          ORDER BY doc_id) AS rk
         |        FROM stacked WHERE doc_id % 37 <> 0),
         |fev AS (SELECT doc_id AS eval_id, band_no, band_sig FROM stacked
         |        WHERE doc_id % 37 = 0),
         |fcand AS (SELECT DISTINCT train_id, eval_id
         |          FROM ftr JOIN fev USING (band_no, band_sig)
         |          WHERE rk <= ${DedupOps.bucketCliqueCap}),
         |fsz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
         |fint AS (
         |  SELECT train_id, eval_id, count(*) AS inter_ct
         |  FROM fcand
         |  JOIN toks ta ON train_id = ta.doc_id
         |  JOIN toks tb ON eval_id = tb.doc_id AND ta.tok = tb.tok
         |  GROUP BY 1, 2),
         |fct AS (
         |  SELECT eval_id, CAST(count(*) AS BIGINT) AS f_ct
         |  FROM fint
         |  JOIN fsz sa ON train_id = sa.doc_id
         |  JOIN fsz sb ON eval_id = sb.doc_id
         |  WHERE CAST(inter_ct AS DOUBLE) / (sa.n + sb.n - inter_ct) >= 0.5
         |  GROUP BY 1)
         |SELECT d.doc_id AS eval_id,
         |       coalesce(e_ct, 0) AS exact_ct,
         |       coalesce(f_ct, 0) AS fuzzy_ct,
         |       CASE WHEN coalesce(e_ct, 0) > 0 THEN 'exact'
         |            WHEN coalesce(f_ct, 0) > 0 THEN 'fuzzy'
         |            ELSE 'clean' END AS verdict
         |FROM documents d
         |LEFT JOIN ect ON d.doc_id = ect.eval_id
         |LEFT JOIN fct ON d.doc_id = fct.eval_id
         |WHERE d.doc_id % 37 = 0""".stripMargin,
    "c21_epoch_plan" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |           AS src_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS nsrc FROM t)
        |SELECT source, src_tokens,
        |       CAST((2 * total) // nsrc AS BIGINT) AS target_tokens,
        |       round(least(4.0,
        |         CAST((2 * total) // nsrc AS DOUBLE) / src_tokens), 6)
        |         AS epochs,
        |       CAST(least((2 * total) // nsrc, 4 * src_tokens) AS BIGINT)
        |         AS planned_tokens,
        |       CAST(greatest(0, (2 * total) // nsrc - 4 * src_tokens)
        |            AS BIGINT) AS unfilled_tokens
        |FROM t CROSS JOIN tot""".stripMargin,
    "c29_domain_reweight" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |freq AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS tok_ct
         |  FROM toks GROUP BY 1),
         |total AS (SELECT CAST(sum(tok_ct) AS BIGINT) AS n_total
         |          FROM freq),
         |surp AS (
         |  SELECT source,
         |         CAST(round(-ln(CAST(tok_ct AS DOUBLE) / n_total), 9)
         |              AS DECIMAL(28,9)) AS surp_q
         |  FROM toks JOIN freq USING (tok) CROSS JOIN total),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS src_tokens,
         |         sum(surp_q) AS surp_dec
         |  FROM surp GROUP BY 1),
         |per2 AS (
         |  SELECT *, round(CAST(surp_dec AS DOUBLE) / src_tokens, 6)
         |           AS loss
         |  FROM per),
         |corpus AS (
         |  SELECT CAST(sum(src_tokens) AS BIGINT) AS all_tokens,
         |         round(CAST(sum(surp_dec) AS DOUBLE)
         |               / CAST(sum(src_tokens) AS DOUBLE), 6)
         |           AS corpus_loss
         |  FROM per2),
         |sc AS (
         |  SELECT source, src_tokens,
         |         round(CAST(src_tokens AS DOUBLE) / all_tokens, 6)
         |           AS token_share,
         |         loss, round(loss - corpus_loss, 6) AS excess,
         |         round(round(CAST(src_tokens AS DOUBLE) / all_tokens, 6)
         |               * exp($reweightEta
         |                     * round(loss - corpus_loss, 6)), 6)
         |           AS raw_w
         |  FROM per2 CROSS JOIN corpus),
         |zz AS (SELECT round(sum(raw_w), 6) AS z FROM sc)
         |SELECT source, src_tokens, token_share, loss, excess,
         |       round(raw_w / z, 6) AS next_weight
         |FROM sc CROSS JOIN zz""".stripMargin,
    "c5_contamination" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
         |            FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 1) + 1),
         |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
         |  FROM tk),
         |tr AS (SELECT train_id, shingle FROM (
         |         SELECT doc_id AS train_id, shingle,
         |                row_number() OVER (PARTITION BY shingle
         |                  ORDER BY doc_id) AS rk
         |         FROM sh WHERE doc_id % 37 <> 0)
         |       WHERE rk <= ${DedupOps.bucketCliqueCap}),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh
         |       WHERE doc_id % 37 = 0)
         |SELECT train_id, eval_id, count(DISTINCT shingle) AS shared_ct
         |FROM tr JOIN ev USING (shingle)
         |GROUP BY 1, 2 HAVING count(DISTINCT shingle) >= 3""".stripMargin,
    "c30_df_decontam" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
         |            FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 2, 1) + 1),
         |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
         |  FROM tk),
         |tr AS (SELECT train_id, shingle FROM (
         |         SELECT doc_id AS train_id, shingle,
         |                count(*) OVER (PARTITION BY shingle) AS df
         |         FROM sh WHERE doc_id % 37 <> 0)
         |       WHERE df <= $stopShingleDf),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh
         |       WHERE doc_id % 37 = 0)
         |SELECT train_id, eval_id, count(DISTINCT shingle) AS shared_ct
         |FROM tr JOIN ev USING (shingle)
         |GROUP BY 1, 2 HAVING count(DISTINCT shingle) >= 3""".stripMargin,
    "t30_shingle_df" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 2, 1) + 1),
        |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
        |  FROM tk),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |b AS (SELECT CAST(floor(log2(df)) AS BIGINT) AS b, df FROM df)
        |SELECT CAST(power(2, b) AS BIGINT) AS df_bucket_lo,
        |       CAST(count(*) AS BIGINT) AS shingle_ct,
        |       CAST(sum(df) AS BIGINT) AS posting_ct
        |FROM b GROUP BY b""".stripMargin,
    "c6_stratified_sample" ->
      s"""WITH b AS (
         |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
         |         ${hex4ToIntSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |         40 + (length(source) % 3) * 30 AS rate_pct
         |  FROM documents)
         |SELECT source, max(rate_pct) AS rate_pct, count(*) AS total_ct,
         |       count(CASE WHEN bucket < rate_pct THEN 1 END) AS sampled_ct,
         |       CAST(COALESCE(sum(CASE WHEN bucket < rate_pct
         |                               THEN n_tokens ELSE 0 END), 0)
         |            AS BIGINT) AS sampled_tokens
         |FROM b GROUP BY 1""".stripMargin,
    "c1_dedup_clusters" ->
      s"""WITH RECURSIVE $labelCte
         |SELECT label AS cluster_id, count(*) AS member_ct,
         |       max(id) AS max_member_id
         |FROM lab GROUP BY 1""".stripMargin,
    "c26_cluster_size_dist" ->
      s"""WITH RECURSIVE $labelCte,
         |hist AS (
         |  SELECT sz, CAST(count(*) AS BIGINT) AS cluster_ct
         |  FROM (SELECT label, CAST(count(*) AS BIGINT) AS sz
         |        FROM lab GROUP BY 1)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |labeled AS (SELECT CAST(count(*) AS BIGINT) AS n_labeled FROM lab),
         |all_h AS (
         |  SELECT * FROM hist
         |  UNION ALL
         |  SELECT 1, n_docs - n_labeled FROM tot, labeled)
         |SELECT sz AS cluster_size, cluster_ct,
         |       sz * cluster_ct AS doc_ct,
         |       round(CAST(sz * cluster_ct AS DOUBLE) / n_docs, 6)
         |         AS doc_share
         |FROM all_h, tot
         |ORDER BY cluster_size""".stripMargin,
    "c16_data_card" ->
      s"""WITH RECURSIVE $labelCte,
         |q AS (
         |  SELECT doc_id, source, lang,
         |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '),
         |             x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |           AS stop_ct
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, source, lang, n_tokens,
         |         min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
         |         CAST(stop_ct AS DOUBLE) / n_tokens * 0.3 +
         |           CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.7
         |           AS quality_score
         |  FROM q),
         |j AS (
         |  SELECT scored.*, lab.label
         |  FROM scored LEFT JOIN lab ON doc_id = lab.id)
         |SELECT source, count(*) AS doc_ct,
         |       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
         |       count(DISTINCT lang) AS n_langs,
         |       CAST(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS exact_dup_ct,
         |       CAST(sum(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS near_dup_member_ct,
         |       CAST(sum(CASE WHEN doc_id = keeper_id
         |                      AND quality_score >= $qualityThreshold
         |                      AND (label IS NULL OR label = doc_id)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_ct,
         |       round(CAST(sum(CAST(round(quality_score, 9)
         |                           AS DECIMAL(28,9))) AS DOUBLE)
         |             / count(*), 6) AS quality_mean
         |FROM j GROUP BY 1""".stripMargin,
    "c14_canonical_selection" ->
      s"""WITH RECURSIVE $labelCte,
         |und AS (SELECT a_id AS src FROM ndp
         |        UNION ALL SELECT b_id FROM ndp),
         |deg AS (SELECT src AS d_id, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |q AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '),
         |             x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
         |           AS DOUBLE) / len(string_split(text, ' ')) * 0.3 +
         |         CAST(least(len(string_split(text, ' ')), 100)
         |           AS DOUBLE) / 100.0 * 0.7 AS quality_score
         |  FROM documents),
         |m AS (
         |  SELECT lab.id, lab.label, deg.deg, q.quality_score
         |  FROM lab JOIN deg ON lab.id = deg.d_id
         |           JOIN q ON lab.id = q.doc_id),
         |canon AS (
         |  SELECT label AS c_label, id AS canonical_id,
         |         round(quality_score, 6) AS canonical_quality,
         |         deg AS canonical_deg
         |  FROM (SELECT *, row_number() OVER (PARTITION BY label
         |          ORDER BY quality_score DESC, deg DESC, id) AS rk
         |        FROM m) WHERE rk = 1),
         |mc AS (SELECT label, count(*) AS member_ct FROM lab GROUP BY 1)
         |SELECT mc.label AS cluster_id, mc.member_ct, canonical_id,
         |       canonical_quality, canonical_deg,
         |       canonical_id <> mc.label AS quality_rule_differs
         |FROM mc JOIN canon ON mc.label = canon.c_label""".stripMargin,
    "c2_kept_corpus" ->
      s"""WITH RECURSIVE $labelCte,
         |q AS (
         |  SELECT doc_id, source,
         |         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '),
         |             x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS stop_ct
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, source,
         |         min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
         |         CAST(stop_ct AS DOUBLE) / n_tokens * 0.3 +
         |           CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 * 0.7
         |           AS quality_score
         |  FROM q),
         |reasons AS (
         |  SELECT source,
         |         CASE WHEN doc_id <> keeper_id THEN 'exact_dup'
         |              WHEN quality_score < $qualityThreshold THEN 'low_quality'
         |              WHEN label IS NOT NULL AND label <> doc_id THEN 'near_dup'
         |              ELSE 'kept' END AS reason
         |  FROM scored LEFT JOIN lab ON doc_id = lab.id)
         |SELECT source, count(*) AS total_ct,
         |       count(CASE WHEN reason = 'kept' THEN 1 END) AS kept_ct,
         |       count(CASE WHEN reason = 'exact_dup' THEN 1 END) AS drop_exact_ct,
         |       count(CASE WHEN reason = 'low_quality' THEN 1 END) AS drop_quality_ct,
         |       count(CASE WHEN reason = 'near_dup' THEN 1 END) AS drop_neardup_ct
         |FROM reasons GROUP BY 1""".stripMargin,
    "c3_hash_split" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         |         ${hex4ToIntSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents)
         |SELECT CASE WHEN bucket < 70 THEN 'train'
         |            WHEN bucket < 85 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS doc_ct, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
         |       count(DISTINCT source) AS source_ct
         |FROM b GROUP BY 1""".stripMargin,
    "c23_cluster_split" ->
      s"""WITH RECURSIVE $labelCte,
         |d AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         coalesce(lab.label, doc_id) AS glabel
         |  FROM documents LEFT JOIN lab ON documents.doc_id = lab.id),
         |b AS (
         |  SELECT doc_id, n_tokens, glabel,
         |         ${hex4ToIntSql("CAST(glabel AS VARCHAR)")} % 100 AS gb,
         |         ${hex4ToIntSql("CAST(doc_id AS VARCHAR)")} % 100 AS db
         |  FROM d),
         |sp AS (
         |  SELECT doc_id, n_tokens, glabel,
         |         CASE WHEN gb < 70 THEN 'train'
         |              WHEN gb < 85 THEN 'val' ELSE 'test' END AS split,
         |         CASE WHEN db < 70 THEN 'train'
         |              WHEN db < 85 THEN 'val' ELSE 'test' END AS doc_split
         |  FROM b)
         |SELECT split, count(*) AS doc_ct,
         |       count(DISTINCT glabel) AS cluster_ct,
         |       CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
         |       CAST(sum(CASE WHEN split <> doc_split THEN 1 ELSE 0 END)
         |            AS BIGINT) AS moved_ct
         |FROM sp GROUP BY 1""".stripMargin,
    "c4_topk_per_group" -> topkSql,
    "x3_topk_heap" -> topkSql,
    "c10_weighted_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         |         (${hex4ToIntSql("CAST(doc_id AS VARCHAR)")} + 1.0)
         |           / 65536.0 AS u
         |  FROM documents)
         |SELECT doc_id, source, n_tokens,
         |       round(ln(u) / n_tokens, 9) AS skey
         |FROM b ORDER BY skey DESC, doc_id LIMIT 200""".stripMargin)

  private lazy val topkSql: String =
    """SELECT source, doc_id, n_chars, rk FROM (
      |  SELECT source, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents) WHERE rk <= 3""".stripMargin
}
