package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Standing, Tables}
import graft.operators.TextOps.{fingerprint, tokenize}

/** Near-duplicate detection for training-data curation — the scale path
  * beyond the reference's keyed exact dedup (A7,
  * DwsTradeSkuOrderWindow.java:190-223): exact hash dedup, MinHash + LSH
  * banding, Jaccard verification, and SimHash.
  *
  * Design (100 TB): the classic three-stage near-dup pipeline —
  *   1. per-doc signature (map-side only: tokenize → K minhashes),
  *   2. LSH banding: docs sharing any band signature land in the same
  *      shuffle bucket (groupBy band-key) → candidate pairs are generated
  *      per bucket, never via a global cross join,
  *   3. exact Jaccard verification restricted to candidates.
  * MinHash uses the classic universal-hash permutation family: one base
  * hash per token (first 8 md5 hex chars as a 32-bit int), then K linear
  * permutations h_k(x) = (a_k·x + b_k) mod p over a 32-bit prime — one
  * string hash + K integer ops per token (vs K string hashes), all
  * engine-portable integer math. Banding is partitioned by source (a
  * dedup shard); dropping the source key from the band bucket makes it a
  * global LSH with identical code.
  */
object DedupOps extends QueryModule {

  /** Number of minhash permutations and rows per LSH band: 12 hashes in 4
    * bands of 3 → P(candidate | J) = 1-(1-J^3)^4; J=0.8 → 0.94 recall.
    * Aliases [[graft.plans.MinhashSignature.DefaultK]] — the value a SQL
    * `minhash_sig(hashes)` call gets when k is omitted — so the internal
    * pipeline and the catalog function can never drift apart. */
  val numHashes: Int = graft.plans.MinhashSignature.DefaultK
  val bandSize = 3
  val numBands: Int = numHashes / bandSize
  val jaccardThreshold = 0.8

  /** Per-bucket candidate budget — the mega-cluster guard. A band
    * bucket with k ≤ cap members emits its full pair clique (exact LSH
    * semantics, identical to the uncapped join); a hotter bucket emits
    * the clique of its first cap members (by doc_id) plus ONE star
    * edge from each remaining member to the bucket pivot (the min
    * doc_id), so a bucket contributes O(cap² + k) candidates instead
    * of O(k²) while every member stays connected for the clustering /
    * dedup-decision path (the pivot edge verifies whenever the bucket
    * is a true duplicate cluster — and hot buckets ARE the
    * template/boilerplate clusters: the round-8 SCALE_LEDGER run
    * measured the uncapped join's shuffle growing 79× across a 10×
    * input step, driven by a ~2600-doc near-identical cluster at
    * sf0.1; capped, candidate growth is ~linear). Cross-side joins
    * (crawl-vs-store, train-vs-eval decontamination) apply the same
    * budget by ranking the STORE/TRAIN side per bucket and keeping the
    * first cap partners — per-doc detection is preserved (every probe
    * doc still meets the bucket), only the quadratic pair enumeration
    * is bounded. This is the standard production mitigation for LSH
    * over corpora with mega-clusters (empty pages, boilerplate): no
    * pipeline materializes an O(k²) clique of a million-document
    * duplicate cluster. */
  val bucketCliqueCap = 20

  /** Universal-hash constants — single source of truth lives with the
    * native expression ([[graft.plans.MinhashSignature]]); re-exported
    * here for the oracle SQL builders. */
  val P: Long = graft.plans.MinhashSignature.P
  def aK(k: Int): Long = graft.plans.MinhashSignature.aK(k)
  def bK(k: Int): Long = graft.plans.MinhashSignature.bK(k)

  /** mh_k as composed builtins (array_min ∘ transform) — kept as the
    * spec twin of the native [[graft.plans.MinhashSignature]] expression
    * that production [[stackedBands]] actually runs: K traversals + K
    * transformed array allocations per row vs the expression's single
    * fused loop. Identical values (same Long arithmetic). */
  private[graft] def mh(k: Int): Column =
    array_min(transform(col("hs"),
      h => (h * lit(aK(k)) + lit(bK(k))) % lit(P))).as(s"mh$k")

  /** Queries whose plan reads the candidate/verified-pair intermediate
    * (NOT d8 — it reads only the band table below). */
  private val nearDupReaders: Set[String] = Set(
    "d2_lsh_candidates", "d3_near_dup_pairs", "d5_shingle_jaccard",
    "d7_minhash_estimate", "d9_threshold_sweep", "d11_lsh_tuning",
    "c1_dedup_clusters", "c12_pagerank_authority",
    "c14_canonical_selection", "c16_data_card", "c22_dedup_waterfall")

  /** Candidate pairs from LSH banding (distinct over bands, a < b) — the
    * shared upstream of d2/d3/d5; a real dedup pipeline materializes it
    * once (at 100 TB: a checkpointed intermediate table) instead of
    * recomputing the minhash scan per query. Built by the near-dup
    * stage on its way. */
  private val candidatePairs = Standing.frame("candidates", nearDupReaders,
    prestaged = false)((s, dir) => pairsFromRanked(docBands(s, dir)))

  override def standings: Seq[Standing[_]] = Seq(docBands, candidatePairs,
    nearDupPairs, docShingles, simhashSig, crawlCandidates)

  /** Stacked LSH band rows for an arbitrary (doc_id, source, text)
    * frame — the per-shard signature stage, shared by the batch
    * candidate build and the incremental streaming dedup
    * ([[graft.streaming.IncrementalDedup]]): one md5 per distinct
    * token, K integer permutations, one row per (doc, band). */
  private[graft] def stackedBands(docs: DataFrame): DataFrame = {
    // One-pass native signature ([[graft.plans.MinhashSignature]]),
    // computed in its OWN projection. Referencing `sig[k]` twelve times
    // from one collapsed projection would inline — and re-evaluate —
    // the full K-permutation pass per reference (CollapseProject folds
    // adjacent projects, and Generate input expressions get no
    // subexpression elimination; measured 2.5× slower than even the
    // composed builtins). The explode of the band INDEX sits between
    // the sig projection and the band-string projection, and a Generate
    // is a collapse barrier: downstream reads `sig` as a plain
    // attribute — the signature runs exactly once per document.
    val sig = graft.plans.MinhashSignature.minhashSig(docs.sparkSession,
      col("hs"), numHashes)
    docs.select(col("doc_id"), col("source"),
        transform(array_distinct(tokenize(col("text"))),
          t => conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)).as("hs"))
      .select(col("doc_id"), col("source"), sig.as("sig"))
      .select(col("doc_id"), col("source"), col("sig"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band_no"))
      .select(col("doc_id"), col("source"), col("band_no"),
        md5(concat_ws("|", (0 until bandSize).map(i =>
          element_at(col("sig"), col("band_no") * bandSize + i + 1)
            .cast(StringType)): _*)).as("band_sig"))
  }

  /** LSH candidate pairs for an arbitrary (doc_id, source, text) frame —
    * the generic form behind d2 and the [[graft.api.Graft]] facade. */
  private[graft] def candidatePairsFor(docs: DataFrame): DataFrame =
    bandPairs(stackedBands(docs))

  /** Band-bucket self-join over an already-stacked band table, under
    * the [[bucketCliqueCap]] budget: one rank/pivot window on the
    * bucket key (co-partitioned with the join — the same Exchange
    * serves both), the clique join restricted to ranks ≤ cap, and the
    * over-cap tail star-joined to the bucket pivot map-side. Shared
    * with the streaming incremental dedup (its within-batch stage). */
  private[graft] def bandPairs(stacked: DataFrame): DataFrame =
    pairsFromRanked(rankBands(stacked))

  /** The rank/pivot window of [[bandPairs]], separated so the STANDING
    * band table can persist it once ([[docBands]]) — ranking belongs
    * to the signature stage, not to each consumer: the round-8 ledger
    * fix paid this window inside every candidate build that read the
    * memo (batch cliques, and it is the sort the d5/c5 regression
    * traced to); ranked-in-the-memo, the window's sort happens exactly
    * once per corpus, at signing time — at 100 TB, in the ingest job
    * that maintains the band table. */
  private[graft] def rankBands(stacked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = Seq(col("source"), col("band_no"), col("band_sig"))
    stacked
      .withColumn("rk", row_number().over(Window.partitionBy(bucket: _*)
        .orderBy(col("doc_id"))))
      .withColumn("pivot",
        min(col("doc_id")).over(Window.partitionBy(bucket: _*)))
  }

  /** Clique + pivot-star pair enumeration over an already-RANKED band
    * table ([[rankBands]] columns rk/pivot present). */
  private[graft] def pairsFromRanked(ranked: DataFrame): DataFrame = {
    val core = ranked.filter(col("rk") <= bucketCliqueCap)
    val clique = core.as("l").join(core.as("r"),
        col("l.source") === col("r.source") &&
        col("l.band_no") === col("r.band_no") &&
        col("l.band_sig") === col("r.band_sig") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        col("l.source").as("source"))
    // pivot = min(doc_id) and rk > cap > 1 ⇒ pivot < doc_id, so star
    // edges are already in canonical (a_id < b_id) order
    val stars = ranked.filter(col("rk") > bucketCliqueCap)
      .select(col("pivot").as("a_id"), col("doc_id").as("b_id"),
        col("source"))
    clique.unionByName(stars).distinct()
  }

  /** The stacked band table over the testdata documents — the STANDING
    * signature table of the dedup family, persisted RANKED
    * ([[rankBands]]: rk + pivot per (source, band_no, band_sig)
    * bucket): at 100 TB this is a maintained intermediate (appended
    * per crawl shard, re-ranked in the ingest job), not something each
    * consumer recomputes — the batch candidate build reads the rank
    * directly ([[pairsFromRanked]]); the d8/decontamination builds
    * rank their OWN bucket keys (store-only / train-only subsets)
    * but reuse the signatures. */
  /** Read by the candidate consumers transitively (through the pair
    * build), by d8 directly, and by the two decontamination queries,
    * which split it by the eval predicate (band signatures are per-doc,
    * so filtering the standing table is identical to re-signing each
    * side). */
  private[operators] val docBands = Standing.frame("bands",
    nearDupReaders ++ Set("d8_crawl_dedup", "d12_bucket_skew",
      "c15_decontam_report", "c17_fuzzy_contamination")) { (s, dir) =>
    rankBands(stackedBands(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)))
  }

  /** Generic near-dup verify for arbitrary docs (the d3 pipeline shape). */
  private[graft] def nearDupPairsFor(docs: DataFrame,
      threshold: Double): DataFrame = {
    val docToks = docs.select(col("doc_id"),
      array_distinct(tokenize(col("text"))).as("elems"))
    verifyByJaccard(candidatePairsFor(docs), docToks, "jaccard", threshold)
  }

  /** d2: LSH candidate-pair counts per source (the bucketed shuffle). */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("candidate_ct"))

  /** Verify candidate pairs by exact set Jaccard, set-as-array style: each
    * doc carries its distinct-element array; intersection is a codegen'd
    * `array_intersect` per pair. Versus the explode + double-equi-join
    * formulation this removes the |pairs|×|elements/doc| row blowup (378k
    * pairs × ~54 shingles ≈ 20M-row shuffle at sf0.1) — the only shuffled
    * relation is the candidate table itself, and the element arrays ride
    * along two doc_id joins that AQE turns into broadcasts at bench scale
    * (at 100 TB they are plain shuffle joins on doc_id, still linear). */
  private def verifyByJaccard(cand: DataFrame, docElems: DataFrame,
      outCol: String, threshold: Double): DataFrame =
    cand
      .join(docElems.as("ea"), col("a_id") === col("ea.doc_id"))
      .join(docElems.as("eb"), col("b_id") === col("eb.doc_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("ea.elems"), col("eb.elems")))
          .as("inter_ct"),
        size(col("ea.elems")).as("na"), size(col("eb.elems")).as("nb"))
      .select(col("a_id"), col("b_id"),
        (col("inter_ct").cast(DoubleType) /
          (col("na") + col("nb") - col("inter_ct"))).as(outCol))
      .filter(col(outCol) >= threshold)

  /** d3: full near-dup pipeline — candidates verified by exact unigram
    * Jaccard ≥ 0.8. Output is the verified duplicate pair list. Shared
    * downstream by FOUR consumers (d3 itself, CurationOps clustering,
    * the c12 pagerank graph, the c14 degree table), so the verified
    * table is memoized + persisted like the candidate table — a real
    * pipeline materializes the verified pair list once (at 100 TB: a
    * checkpointed table) rather than re-running the verify join per
    * consumer. */
  private[operators] val nearDupPairs = Standing.frame("neardup",
    nearDupReaders) { (s, dir) =>
    val d = Tables(s, dir, "documents")
    val docToks = d.select(col("doc_id"),
      array_distinct(tokenize(col("text"))).as("elems"))
    verifyByJaccard(candidatePairs(s, dir), docToks,
      "jaccard", jaccardThreshold)
  }

  /** Per-doc distinct HASHED word-bigram (2-shingle) arrays — the
    * verify-side element table d5 joins against the candidate pairs.
    * Shingles are stored as 32-bit md5-prefix hashes (the family's one
    * token-hash definition), not strings: the verify joins then move
    * compact long arrays instead of the raw bigram text (~5× fewer
    * bytes through the pair joins at sf0.1) and the per-pair
    * `array_intersect` compares longs instead of hashing strings —
    * hashing the shingle universe before set ops is the standard
    * shingling move (the minhash stage already lives on these hashes).
    * A hash collision inside one pair's union shifts that pair's
    * Jaccard; the DuckDB oracle replays the identical hash, so the
    * check stays exact. A standing table like the band/candidate
    * tables: in a real pipeline the shingle scan is materialized once
    * next to the signature stage. */
  private val docShingles = Standing.frame("shingles",
    Set("d5_shingle_jaccard")) { (s, dir) =>
    // bind the token array to a named column first so the element_at
    // lambda indexes a materialized array instead of re-splitting text
    Tables(s, dir, "documents")
      .select(col("doc_id"), tokenize(col("text")).as("tk"))
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => conv(substring(md5(concat(element_at(col("tk"), i),
          lit(" "), element_at(col("tk"), i + 1))), 1, 8), 16, 10)
          .cast(LongType))).as("elems"))
  }

  /** d5: word-bigram (2-shingle) Jaccard over the LSH candidates — the
    * n-gram refinement of d3: shingles catch reorderings that unigram
    * sets miss. Same candidate generation, different verify lens. */
  private def shingleJaccard(s: SparkSession, dir: String): DataFrame =
    verifyByJaccard(candidatePairs(s, dir), docShingles(s, dir),
      "shingle_jaccard", 0.35)

  /** d1: exact duplicate groups by normalized fingerprint. */
  private def exactDupGroups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(count(lit(1)).as("dup_ct"), min(col("doc_id")).as("keeper_id"))
      .filter(col("dup_ct") > 1)
  }

  /** Per-doc 32-bit SimHash signature, explode-free: bit b of the
    * signature is the majority vote of the doc's distinct-token hashes
    * (vote sum > 0 ⟺ set-count·2 > token count), each vote a codegen'd
    * size∘filter traversal of the hash array — no row blowup, no
    * 32-column groupBy. Shared, built by the first reader: d4 projects
    * it, d6 self-joins it (two scans of one 5000-row table instead of
    * two runs of the signature pipeline). */
  private val simhashSig = Standing.frame("simhash",
    Set("d4_simhash", "d6_simhash_near_pairs"), prestaged = false) {
    (s, dir) =>
      val d = Tables(s, dir, "documents")
      val withHs = d.select(col("doc_id"),
        transform(array_distinct(tokenize(col("text"))),
          t => conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)).as("hs"))
      val n = size(col("hs"))
      val simhash = (0 until 32).map { b =>
        val setct = size(filter(col("hs"),
          h => shiftright(h, b).bitwiseAND(lit(1L)) === 1L))
        when(setct * 2 > n, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      // documents.parquet is one row group → one input partition; spread
      // the persisted signatures so the d6 broadcast-probe (≈19M pair
      // evaluations at sf0.1) parallelizes instead of running one task
      withHs.select(col("doc_id"), simhash.as("simhash"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  }

  /** d4: the SimHash signature table with its 8-bit hamming-bucket bands
    * (the LSH layout for d6's candidate generation). */
  private def simhashBuckets(s: SparkSession, dir: String): DataFrame = {
    val hbands = (0 until 4).map(i =>
      shiftright(col("simhash"), i * 8).bitwiseAND(lit(0xffL)).as(s"hband$i"))
    simhashSig(s, dir)
      .select(col("doc_id") +: col("simhash") +: hbands: _*)
  }

  /** Max Hamming distance (of 32 signature bits) for a d6 near-pair. */
  val hammingThreshold = 6

  /** d6: SimHash near-pair histogram — pairs sharing any 8-bit signature
    * band (the standard Hamming-LSH pigeonhole: distance ≤ 6 over 4
    * bands forces ≥ 1 exact band match... candidates generated per band
    * bucket, never via a cross join), verified by the native codegen'd
    * [[graft.plans.HammingDistance]] expression (xor + popcount
    * intrinsic per pair). */
  private def simhashNearPairs(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashBuckets(s, dir)
    val stacked = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band_no"), col(s"hband$i").as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_no"), col("b.bv"))
    val l = stacked.as("l")
    val r = stacked.as("r")
    // hamming filter BEFORE the distinct: the band join emits ~9.5M raw
    // pairs at sf0.1 (band values are 8-bit, similar docs collide), and
    // popcount is one codegen'd instruction — so the cut runs map-side
    // inside the (broadcast) join stage and only true near-pairs reach
    // the distinct's shuffle
    l.join(r,
        col("l.band_no") === col("r.band_no") &&
        col("l.bv") === col("r.bv") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        graft.plans.HammingDistance
          .hammingDist(s, col("l.simhash"), col("r.simhash")).as("hamming"))
      .filter(col("hamming") <= hammingThreshold)
      .distinct()
      .groupBy("hamming").agg(count(lit(1)).as("pair_ct"))
  }

  /** d7: minhash-estimator quality audit — for every LSH candidate
    * pair, the SKETCH's Jaccard estimate (fraction of the K=12
    * signature slots that agree — the unbiased minhash estimator) next
    * to the exact distinct-token Jaccard, with the absolute error.
    * This is the tuning table for choosing K and the band shape: the
    * estimator's observed error distribution at K=12 is exactly what
    * justifies (or indicts) the 4×3 banding. Reuses the memoized
    * candidate table and one signature scan (the same native one-pass
    * Expression the bands are built from) — the audit costs one join
    * more than d2 itself. */
  private def minhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val sig = graft.plans.MinhashSignature.minhashSig(s, col("hs"),
      numHashes)
    val sigs = d.select(col("doc_id"),
        transform(array_distinct(tokenize(col("text"))),
          t => conv(substring(md5(t), 1, 8), 16, 10).cast(LongType))
          .as("hs"))
      .select(col("doc_id"), sig.as("sig"))
    val toks = d.select(col("doc_id"),
      array_distinct(tokenize(col("text"))).as("elems"))
    candidatePairs(s, dir)
      .join(sigs.as("sga"), col("a_id") === col("sga.doc_id"))
      .join(sigs.as("sgb"), col("b_id") === col("sgb.doc_id"))
      .join(toks.as("tka"), col("a_id") === col("tka.doc_id"))
      .join(toks.as("tkb"), col("b_id") === col("tkb.doc_id"))
      .select(col("a_id"), col("b_id"),
        aggregate(zip_with(col("sga.sig"), col("sgb.sig"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L),
          (acc, v) => acc + v).as("agree_ct"),
        size(array_intersect(col("tka.elems"), col("tkb.elems")))
          .as("inter_ct"),
        size(col("tka.elems")).as("na"), size(col("tkb.elems")).as("nb"))
      .select(col("a_id"), col("b_id"), col("agree_ct"),
        round(col("agree_ct").cast(DoubleType) / numHashes, 6)
          .as("est_jaccard"),
        round(col("inter_ct").cast(DoubleType) /
          (col("na") + col("nb") - col("inter_ct")), 6).as("jaccard"))
      .select(col("a_id"), col("b_id"), col("agree_ct"),
        col("est_jaccard"), col("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
  }

  /** d8: incremental crawl dedup, batch form — the oracle-checked twin
    * of [[graft.streaming.IncrementalDedup]]'s new×store discipline:
    * the lexicographically-last source plays "today's crawl"; its docs
    * are signed by the SHARED banding stage ([[stackedBands]], native
    * one-pass minhash) and candidates come from a cross-shard
    * (band_no, band_sig) bucket join against the accumulated store
    * shards ONLY — the new batch pays its own signature cost and its
    * own collision work, never store×store. Exact unigram-Jaccard ≥ 0.8
    * verify; per new doc, the dup count and its best store match
    * (max rounded-jaccard, min store id on ties — a total order).
    * At 100 TB the store side keeps a standing band table and each
    * crawl day joins into it — here both sides read the memoized
    * [[docBands]] standing table (the build is priced by the prestage
    * line, like every family intermediate), so the query measures what
    * the incremental step actually pays: the cross-shard bucket join
    * plus its own verify work. */
  /** The d8 cross-shard candidate list — new-crawl×store band-bucket
    * collisions off the standing [[docBands]] table. A standing like the
    * other family intermediates (the verify stage references it twice:
    * the token id-prune and the verify join — one build serves both, its
    * plan stays visible to the PerfSpec band-bucket guard inside the
    * cached relation, and the blocks go away with the family release). */
  private val crawlCandidates = Standing.frame("crawl_cand",
    Set("d8_crawl_dedup")) { (s, dir) =>
    val newSrc = Tables(s, dir, "documents").agg(
      max(col("source")).as("new_src"))
    val bands = docBands(s, dir).crossJoin(broadcast(newSrc))
    val newB = bands.filter(col("source") === col("new_src"))
      .select(col("doc_id").as("a_id"), col("band_no"), col("band_sig"))
    // the STORE side carries the same per-bucket budget as the batch
    // clique join ([[bucketCliqueCap]]): each new doc meets at most
    // cap store partners per band — "is this already in the corpus,
    // and what does it best match among the bucket's first members"
    // stays answerable, while a mega-cluster store bucket (2.6k docs
    // at sf0.1) no longer multiplies every colliding new doc by its
    // full membership (the 384× shuffle growth the round-8
    // SCALE_LEDGER measured on this query)
    val wOld = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_no"), col("band_sig"))
      .orderBy(col("b_id"))
    val oldB = bands.filter(col("source") =!= col("new_src"))
      .select(col("doc_id").as("b_id"), col("band_no"), col("band_sig"))
      .withColumn("rk", row_number().over(wOld))
      .filter(col("rk") <= bucketCliqueCap)
      .drop("rk")
    newB.join(oldB, Seq("band_no", "band_sig"))
      .select(col("a_id"), col("b_id")).distinct()
  }

  private def crawlDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // The token table is semi-join pruned to docs that actually appear
    // in a candidate — the incremental step tokenizes the collision
    // sliver, not the whole store (at 100 TB the store text is never
    // re-read in full).
    val cand = crawlCandidates(s, dir)
    val ids = cand.select(explode(array(col("a_id"), col("b_id")))
      .as("doc_id"))
    val toks = d.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(tokenize(col("text"))).as("elems"))
    verifyByJaccard(cand, toks, "jaccard", jaccardThreshold)
      .groupBy(col("a_id").as("new_id"))
      .agg(count(lit(1)).as("dup_ct"),
        max(struct(round(col("jaccard"), 6).as("j"),
          (-col("b_id")).as("nb"))).as("best"))
      .select(col("new_id"), col("dup_ct"),
        col("best.j").as("best_jaccard"),
        (-col("best.nb")).as("best_store_id"))
  }

  /** Banding shapes for the d11 sweep: every (bands, rows) factoring
    * of the K=12 signature budget. Pure data — the shape grid both
    * engines iterate. */
  private[graft] val lshShapes: Seq[(Int, Int)] =
    Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))

  /** Analytic LSH S-curve recall 1-(1-J^r)^b, computed ONCE in Scala
    * and injected as a literal on BOTH engines (libm pow can differ by
    * an ulp across engines — a literal can't). */
  private def sCurve(b: Int, r: Int, j: Double): Double =
    BigDecimal(1.0 - math.pow(1.0 - math.pow(j, r), b))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** d11 (beyond-reference): LSH banding-shape tuning sweep — the
    * table that justifies (or indicts) the family's 4×3 banding on
    * THIS corpus, not on folklore: for every (bands × rows) factoring
    * of the K=12 minhash budget, the analytic S-curve recall at
    * J ∈ {0.5, 0.8, 0.9} next to the MEASURED collision structure —
    * bucket count, colliding buckets, and the exact candidate-pair
    * mass the shape would generate. Scale shape: the pair mass is
    * counted WITHOUT enumerating a single pair — candidates per
    * bucket are k·(k−1)/2 of the bucket's member COUNT, so the sweep
    * is one signature scan + one (shape, bucket)-keyed count + a
    * 6-row fold, immune to the mega-cluster blowup the enumeration
    * path needs [[bucketCliqueCap]] for (the 2.6k-doc cluster is just
    * k=2600 in one counted bucket). Reading recall next to pair mass
    * answers "is 4×3 on the knee?" — the d9/t30 curve-over-the-knob
    * discipline applied to the banding itself. */
  private def lshTuning(s: SparkSession, dir: String): DataFrame =
    lshShapeSweepFor(Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")),
      // the MEMOIZED d3 verified pairs — the same ground truth the
      // d3/d9 consumers read, built once per (session, dir)
      Some(nearDupPairs(s, dir)))

  /** The d11 core over an ARBITRARY (doc_id, source, text) frame —
    * exposed as [[graft.api.Graft.lshShapeSweep]]. `truePairsOpt`
    * supplies the verified near-dup ground truth for the measured
    * recall column (defaults to running the d3 verify pipeline over
    * `docs`).
    *
    * `measured_recall_j08` = fraction of the d3-VERIFIED pairs
    * (exact unigram Jaccard ≥ 0.8 over LSH candidates) that would
    * collide in ≥1 band under each shape — the empirical number to
    * read NEXT TO the analytic S-curve. Honest caveat, stated where
    * the number is made: the ground truth is itself discovered
    * through the family's 4×3 banding, so 4×3 scores 1.0 by
    * construction and the column measures recall RELATIVE to the
    * 4×3-discovered pair set (what switching shapes would LOSE or
    * re-find), not absolute recall over all true pairs — the
    * analytic columns carry the absolute story. NULL when the corpus
    * has no verified pairs (zero is an answer; a ratio of 0/0 is
    * not). */
  private[graft] def lshShapeSweepFor(docs: DataFrame,
      truePairsOpt: Option[DataFrame] = None): DataFrame = {
    val s = docs.sparkSession
    val sig = graft.plans.MinhashSignature.minhashSig(s, col("hs"),
      numHashes)
    val sigs = docs
      .select(col("doc_id"), col("source"),
        transform(array_distinct(tokenize(col("text"))),
          t => conv(substring(md5(t), 1, 8), 16, 10).cast(LongType))
          .as("hs"))
      .select(col("doc_id"), col("source"), sig.as("sig"))
    // one struct per (shape, band): bands/rows/band signature — all
    // static per element, so the md5 slice width is compile-time
    val shapeBands = lshShapes.flatMap { case (b, r) =>
      (0 until b).map { bn =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(bn).as("band_no"),
          md5(concat_ws("|", (0 until r).map(i =>
            element_at(col("sig"), bn * r + i + 1).cast(StringType)): _*))
            .as("band_sig"))
      }
    }
    def recallCase(j: Double): Column = {
      val items = lshShapes.map { case (b, r) => b -> sCurve(b, r, j) }
      items.tail.foldLeft(
        when(col("bands") === items.head._1, lit(items.head._2))) {
        case (acc, (b, v)) => acc.when(col("bands") === b, lit(v))
      }
    }
    val (r05, r08, r09) = (recallCase(0.5), recallCase(0.8),
      recallCase(0.9))
    val bandTable = sigs
      .select(col("doc_id"), col("source"),
        explode(array(shapeBands: _*)).as("sb"))
      .select(col("doc_id"), col("source"), col("sb.bands"),
        col("sb.rows_per_band"), col("sb.band_no"), col("sb.band_sig"))
    // measured recall: does a VERIFIED pair share ≥1 band per shape?
    // |true pairs| is tiny next to the band table — broadcast the
    // pair list through two doc-keyed joins (band sigs are per-doc,
    // and verified pairs are same-source, so (bands, band_no,
    // band_sig) equality is the bucket-collision test)
    val truePairs = truePairsOpt
      .getOrElse(nearDupPairsFor(docs, jaccardThreshold))
      .select(col("a_id"), col("b_id"))
    val tpCt = truePairs.agg(count(lit(1)).as("true_pairs"))
    val hits = broadcast(truePairs)
      .join(bandTable.as("ba"), col("a_id") === col("ba.doc_id"))
      .join(bandTable.as("bb"),
        col("b_id") === col("bb.doc_id") &&
          col("ba.bands") === col("bb.bands") &&
          col("ba.band_no") === col("bb.band_no") &&
          col("ba.band_sig") === col("bb.band_sig"))
      .groupBy(col("ba.bands").as("m_bands"))
      .agg(count_distinct(col("a_id"), col("b_id")).as("hit_pairs"))
    bandTable
      .groupBy(col("bands"), col("rows_per_band"), col("source"),
        col("band_no"), col("band_sig"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("bucket_ct"),
        sum(when(col("k") >= 2, 1L).otherwise(0L))
          .as("colliding_bucket_ct"),
        // ADVICE round-9: k(k−1) summed as exact integers, ONE halving
        // of the (even) total — Column `/` is double division and
        // loses exactness past 2^53 (a ~95M-member bucket)
        sum(col("k") * (col("k") - lit(1L))).as("kk2"))
      .join(broadcast(hits), col("bands") === col("m_bands"),
        "left_outer")
      .crossJoin(broadcast(tpCt))
      .select(col("bands"), col("rows_per_band"),
        r05.as("recall_j05"), r08.as("recall_j08"), r09.as("recall_j09"),
        when(col("true_pairs") === 0,
            lit(null).cast(org.apache.spark.sql.types.DoubleType))
          .otherwise(round(
            coalesce(col("hit_pairs"), lit(0L)).cast(
              org.apache.spark.sql.types.DoubleType) /
              col("true_pairs"), 6))
          .as("measured_recall_j08"),
        col("bucket_ct"), col("colliding_bucket_ct"),
        expr("kk2 DIV 2").as("candidate_pairs"))
  }

  /** d12 (beyond-reference): band-bucket skew report — the
    * mega-cluster evidence behind [[bucketCliqueCap]], quantified:
    * the bucket-size distribution of the STANDING 4×3 band table
    * (bucket size = max rank, already in the ranked memo — no new
    * window), folded to the singleton/colliding split, the exact p99
    * bucket size (rank-picked via [[WindowAggs.globalRank]] over the
    * metadata-sized size distribution), the max, and the doc mass
    * past the clique cap (the rows the pivot-star path carries). The
    * table that says whether the cap is a safety net or a daily tax
    * on THIS corpus — read next to d11's shape sweep. */
  private def bucketSkew(s: SparkSession, dir: String): DataFrame = {
    val buckets = docBands(s, dir)
      .groupBy(col("source"), col("band_no"), col("band_sig"))
      .agg(max(col("rk")).cast(LongType).as("k"))
    val ranked = WindowAggs.globalRank(buckets, col("k"), desc = false,
        Seq(col("source"), col("band_no"), col("band_sig")))
      .withColumnRenamed("__rank", "rn")
      .withColumnRenamed("__n", "n")
    def pick(q: Double) = max(when(
      col("rn") === greatest(ceil(lit(q) * col("n")).cast("long"), lit(1L)),
      col("k")))
    ranked.agg(max(col("n")).as("bucket_ct"),
      sum(when(col("k") === 1, 1L).otherwise(0L)).as("singleton_ct"),
      sum(when(col("k") >= 2, 1L).otherwise(0L)).as("colliding_ct"),
      pick(0.99).as("p99_bucket"),
      max(col("k")).as("max_bucket"),
      sum(greatest(col("k") - bucketCliqueCap, lit(0L)))
        .as("overcap_docs"))
  }

  /** d9: threshold-sweep curve — the tuning table for THE dedup knob:
    * exact unigram Jaccard for every LSH candidate (unthresholded),
    * bucketed to 0.1-wide bands with the count per band and the
    * cumulative pair count at-or-above each band's lower edge. Reading
    * the curve top-down answers "how many pairs does each candidate
    * threshold keep?" without re-running the verify join per
    * threshold. One verify pass over the memoized candidates + a
    * ≤ 10-row window. */
  private def thresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val toks = d.select(col("doc_id"),
      array_distinct(tokenize(col("text"))).as("elems"))
    val j = candidatePairs(s, dir)
      .join(toks.as("sta"), col("a_id") === col("sta.doc_id"))
      .join(toks.as("stb"), col("b_id") === col("stb.doc_id"))
      .select(
        size(array_intersect(col("sta.elems"), col("stb.elems")))
          .as("inter_ct"),
        size(col("sta.elems")).as("na"), size(col("stb.elems")).as("nb"))
      .select(round(col("inter_ct").cast(DoubleType) /
        (col("na") + col("nb") - col("inter_ct")), 6).as("jac"))
    val bands = j
      .select(least(floor(col("jac") * 10).cast(LongType), lit(9L))
        .as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("pair_ct"))
    // dense 0..9 spine: an EMPTY band must still appear (pair_ct 0) —
    // the curve is read by threshold, and a hole reads as "not
    // measured" rather than "nothing in this band"
    val spine = s.range(0, 10).select(col("id").as("band"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    spine.join(bands, Seq("band"), "left_outer")
      .select(col("band"), coalesce(col("pair_ct"), lit(0L)).as("pair_ct"))
      .withColumn("cum_ct", sum(col("pair_ct")).over(w))
      .select((col("band").cast(DoubleType) / 10.0).as("threshold_lo"),
        col("pair_ct"), col("cum_ct"))
  }

  /** d10 (beyond-reference): content-defined chunk dedup — the
    * LBFS/rsync boundary trick applied to corpus text: a chunk ends
    * wherever a token's hash ≡ 0 (mod 16), so boundaries are decided by
    * CONTENT, not position, and an insertion near a document's head
    * shifts no downstream chunk identity (the failure mode of c13's
    * fixed-stride tiles; Muthitacharoen et al., SOSP'01). Expected
    * chunk length = 16 tokens with no tuning. Per source: chunk count,
    * distinct chunk fingerprints, duplicated-chunk count/ratio and mean
    * chunk length — the sub-document dedup table that catches shared
    * passages exact-dup (d1) misses and span-cut (t19) prices
    * differently. Scale shape: chunking is ENTIRELY map-side
    * (higher-order functions over the token array — no explode until
    * chunks exist, text never shuffles whole); the only shuffles are
    * the (source)-keyed count-distinct rollup. The md5-prefix token
    * hash is the d2 family's — one hash definition corpus-wide. */
  /** Content-defined chunk rows for an ARBITRARY (doc_id, source, text)
    * frame — the generic core behind d10 and [[graft.api.Graft
    * .cdcChunks]]: one row per chunk with its content fingerprint and
    * token length, boundaries decided by token hash ≡ 0 (mod 16). */
  private[graft] def cdcChunkRows(docs: DataFrame): DataFrame = {
    val th = (t: Column) =>
      conv(substring(md5(t), 1, 8), 16, 10).cast(LongType)
    docs
      .select(col("doc_id"), col("source"),
        tokenize(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("bounds",
        concat(array(lit(0)),
          filter(sequence(lit(1), col("n")),
            i => pmod(th(element_at(col("toks"), i)), lit(16L)) === 0),
          array(col("n"))))
      .withColumn("pair", explode(filter(
        transform(sequence(lit(1), size(col("bounds")) - 1),
          j => struct(element_at(col("bounds"), j).as("a"),
            element_at(col("bounds"), j + 1).as("b"))),
        p => p.getField("b") > p.getField("a"))))
      .select(col("doc_id"), col("source"), col("pair.a").as("chunk_start"),
        slice(col("toks"), col("pair.a") + 1,
          col("pair.b") - col("pair.a")).as("chunk"))
      .select(col("doc_id"), col("source"), col("chunk_start"),
        md5(concat_ws(" ", col("chunk"))).as("fp"),
        size(col("chunk")).cast(LongType).as("len"))
  }

  private def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunkRows(Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("chunk_ct"),
        countDistinct(col("fp")).as("distinct_ct"),
        sum(col("len")).as("token_sum"))
      .select(col("source"), col("chunk_ct"), col("distinct_ct"),
        (col("chunk_ct") - col("distinct_ct")).as("dup_chunk_ct"),
        round((col("chunk_ct") - col("distinct_ct")).cast(DoubleType)
          / col("chunk_ct"), 6).as("dup_ratio"),
        round(col("token_sum").cast(DoubleType) / col("chunk_ct"), 6)
          .as("mean_chunk_len"))

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "d11_lsh_tuning" -> lshTuning,
    "d10_cdc_chunks" -> cdcChunks,
    "d12_bucket_skew" -> bucketSkew,
    "d8_crawl_dedup" -> crawlDedup,
    "d9_threshold_sweep" -> thresholdSweep,
    "d7_minhash_estimate" -> minhashEstimate,
    "d1_exact_dup_groups" -> exactDupGroups,
    "d2_lsh_candidates" -> lshCandidates,
    "d3_near_dup_pairs" -> nearDupPairs,
    "d4_simhash" -> simhashBuckets,
    "d5_shingle_jaccard" -> shingleJaccard,
    "d6_simhash_near_pairs" -> simhashNearPairs)

  // ---- oracles ----------------------------------------------------------

  /** Oracle twin of Spark's conv(substr(md5(x),1,8),16,10). */
  private[operators] def hexToIntSql(x: String): String =
    s"""CAST(list_aggregate(list_transform(range(1, 9),
       |      i -> (strpos('0123456789abcdef', substr(md5($x), i, 1)) - 1)
       |           * (CAST(1 AS BIGINT) << (4 * (8 - i)))), 'sum') AS BIGINT)""".stripMargin

  private def mhSql(k: Int) =
    s"min((h * ${aK(k)} + ${bK(k)}) % $P) AS mh$k"
  private def bandSql(b: Int) = {
    val parts = (0 until bandSize)
      .map(i => s"CAST(mh${b * bandSize + i} AS VARCHAR)")
    s"md5(${parts.mkString(" || '|' || ")}) AS band$b"
  }

  /** Shared oracle CTEs: distinct tokens → signatures → stacked bands →
    * candidate pairs (mirrors the Spark plan stage for stage). */
  private[operators] val candidateCte: String = {
    val mhs = (0 until numHashes).map(mhSql).mkString(",\n        ")
    val bands = (0 until numBands).map(bandSql).mkString(",\n        ")
    val bandUnion = (0 until numBands)
      .map(b => s"SELECT doc_id, source, $b AS band_no, band$b AS band_sig FROM sig")
      .mkString("\n        UNION ALL ")
    // MATERIALIZED on every multi-referenced stage: DuckDB inlines CTEs
    // by default, so `sig` would be recomputed once PER BAND inside the
    // stacked union and the whole signature pipeline once per consumer —
    // at sf0.1 that inflation peaked >100 GB in the c12 oracle.
    // Materialization pins each stage to one evaluation (exactly how
    // the Spark side memoizes the shared band/candidate tables).
    s"""toks AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, source, ${hexToIntSql("tok")} AS h FROM toks),
       |mhs AS (
       |  SELECT doc_id, source,
       |        $mhs
       |  FROM hashed GROUP BY doc_id, source),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, source,
       |        $bands
       |  FROM mhs),
       |stacked AS (
       |        $bandUnion),
       |rb AS MATERIALIZED (
       |  SELECT doc_id, source, band_no, band_sig,
       |         row_number() OVER (PARTITION BY source, band_no, band_sig
       |           ORDER BY doc_id) AS rk,
       |         min(doc_id) OVER (PARTITION BY source, band_no, band_sig)
       |           AS pvt
       |  FROM stacked),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a_id, b_id, source FROM (
       |    SELECT l.doc_id AS a_id, r.doc_id AS b_id, l.source AS source
       |    FROM rb l JOIN rb r
       |      ON l.source = r.source AND l.band_no = r.band_no
       |     AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
       |    WHERE l.rk <= $bucketCliqueCap AND r.rk <= $bucketCliqueCap
       |    UNION ALL
       |    SELECT pvt AS a_id, doc_id AS b_id, source
       |    FROM rb WHERE rk > $bucketCliqueCap) u)""".stripMargin
  }

  /** candidateCte extended with the exact-unigram-Jaccard verify: `ndp`
    * is the verified near-dup pair list (a_id, b_id, jaccard) — the
    * oracle twin of [[nearDupPairs]], shared with CurationOps. */
  private[operators] val verifiedPairsCte: String =
    s"""$candidateCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
       |inter AS (
       |  SELECT a_id, b_id, count(*) AS inter_ct
       |  FROM cand
       |  JOIN toks ta ON a_id = ta.doc_id
       |  JOIN toks tb ON b_id = tb.doc_id AND ta.tok = tb.tok
       |  GROUP BY 1, 2),
       |ndp AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |         CAST(inter_ct AS DOUBLE) / (sa.n + sb.n - inter_ct) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON a_id = sa.doc_id
       |  JOIN sizes sb ON b_id = sb.doc_id
       |  WHERE CAST(inter_ct AS DOUBLE) / (sa.n + sb.n - inter_ct)
       |        >= $jaccardThreshold)""".stripMargin

  val oracles = Map(
    "d11_lsh_tuning" -> {
      val mhs = (0 until numHashes).map(mhSql).mkString(",\n        ")
      val shapeSel = lshShapes.flatMap { case (b, r) =>
        (0 until b).map { bn =>
          val parts = (0 until r)
            .map(i => s"CAST(mh${bn * r + i} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"SELECT doc_id, source, $b AS bands, $r AS rows_per_band, " +
            s"$bn AS band_no, md5($parts) AS band_sig FROM mhs"
        }
      }.mkString("\n        UNION ALL ")
      // recall literals generated by the SAME Scala code the query
      // injects (libm pow may differ across engines; a literal can't)
      def recallCase(pick: ((Double, Double, Double)) => Double) =
        "CASE sh.bands " + lshShapes.map { case (b, r) =>
          val v = pick((sCurve(b, r, 0.5), sCurve(b, r, 0.8),
            sCurve(b, r, 0.9)))
          f"WHEN $b THEN CAST($v%.6f AS DOUBLE) "
        }.mkString + "END"
      s"""WITH $verifiedPairsCte,
         |st AS MATERIALIZED (
         |        $shapeSel),
         |bk AS (
         |  SELECT bands, rows_per_band, source, band_no, band_sig,
         |         count(*) AS k
         |  FROM st GROUP BY 1, 2, 3, 4, 5),
         |sh AS (
         |  SELECT bands, rows_per_band,
         |         CAST(count(*) AS BIGINT) AS bucket_ct,
         |         CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS colliding_bucket_ct,
         |         CAST(sum(k * (k - 1)) AS BIGINT) // 2
         |           AS candidate_pairs
         |  FROM bk GROUP BY 1, 2),
         |hitp AS (
         |  SELECT sa.bands,
         |         CAST(count(DISTINCT CAST(ndp.a_id AS VARCHAR) || '|' ||
         |           CAST(ndp.b_id AS VARCHAR)) AS BIGINT) AS hit_pairs
         |  FROM ndp
         |  JOIN st sa ON ndp.a_id = sa.doc_id
         |  JOIN st sb ON ndp.b_id = sb.doc_id AND sa.bands = sb.bands
         |    AND sa.band_no = sb.band_no AND sa.band_sig = sb.band_sig
         |  GROUP BY 1),
         |tc AS (SELECT count(*) AS true_pairs FROM ndp)
         |SELECT sh.bands, sh.rows_per_band,
         |       ${recallCase(_._1)} AS recall_j05,
         |       ${recallCase(_._2)} AS recall_j08,
         |       ${recallCase(_._3)} AS recall_j09,
         |       CASE WHEN tc.true_pairs = 0 THEN NULL
         |         ELSE round(CAST(coalesce(hitp.hit_pairs, 0) AS DOUBLE)
         |                    / tc.true_pairs, 6) END
         |         AS measured_recall_j08,
         |       sh.bucket_ct, sh.colliding_bucket_ct, sh.candidate_pairs
         |FROM sh LEFT JOIN hitp ON sh.bands = hitp.bands
         |CROSS JOIN tc""".stripMargin
    },
    // d10 replays the boundary rule exactly: same md5-prefix token
    // hash (hexToIntSql), same mod-16 cut, same [0, cuts..., n] bound
    // list, same md5 chunk fingerprint over the space-joined slice.
    "d12_bucket_skew" ->
      s"""WITH $candidateCte,
         |bks AS (
         |  SELECT source, band_no, band_sig, CAST(max(rk) AS BIGINT) AS k
         |  FROM rb GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT k,
         |         row_number() OVER (ORDER BY k, source, band_no,
         |                            band_sig) AS rn,
         |         count(*) OVER () AS n
         |  FROM bks)
         |SELECT CAST(max(n) AS BIGINT) AS bucket_ct,
         |       CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS singleton_ct,
         |       CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS colliding_ct,
         |       CAST(max(CASE WHEN rn = greatest(
         |                  CAST(ceil(0.99 * n) AS BIGINT), 1)
         |                THEN k END) AS BIGINT) AS p99_bucket,
         |       CAST(max(k) AS BIGINT) AS max_bucket,
         |       CAST(sum(greatest(k - $bucketCliqueCap, 0)) AS BIGINT)
         |         AS overcap_docs
         |FROM r""".stripMargin,
    "d10_cdc_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks,
         |         len(string_split(text, ' ')) AS n
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, source, toks, n,
         |         [CAST(0 AS BIGINT)] ||
         |           list_filter(range(1, n + 1),
         |             p -> (${hexToIntSql("toks[p]")}) % 16 = 0) ||
         |           [CAST(n AS BIGINT)] AS bounds
         |  FROM t),
         |ch AS (
         |  SELECT source,
         |         md5(array_to_string(
         |           list_slice(toks, bounds[j] + 1, bounds[j + 1]), ' '))
         |           AS fp,
         |         CAST(bounds[j + 1] - bounds[j] AS BIGINT) AS len
         |  FROM b, unnest(range(1, len(bounds))) AS u(j)
         |  WHERE bounds[j + 1] > bounds[j])
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS chunk_ct,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_ct,
         |       CAST(count(*) - count(DISTINCT fp) AS BIGINT)
         |         AS dup_chunk_ct,
         |       round(CAST(count(*) - count(DISTINCT fp) AS DOUBLE)
         |             / count(*), 6) AS dup_ratio,
         |       round(CAST(sum(len) AS DOUBLE) / count(*), 6)
         |         AS mean_chunk_len
         |FROM ch GROUP BY source""".stripMargin,
    "d8_crawl_dedup" ->
      s"""WITH $candidateCte,
         |ns AS (SELECT max(source) AS new_src FROM documents),
         |ro AS (
         |  SELECT doc_id AS b_id, band_no, band_sig,
         |         row_number() OVER (PARTITION BY band_no, band_sig
         |           ORDER BY doc_id) AS rk
         |  FROM stacked CROSS JOIN ns WHERE source <> ns.new_src),
         |cand8 AS (
         |  SELECT DISTINCT l.doc_id AS a_id, ro.b_id
         |  FROM stacked l
         |  CROSS JOIN ns
         |  JOIN ro ON l.band_no = ro.band_no
         |         AND l.band_sig = ro.band_sig
         |  WHERE l.source = ns.new_src AND ro.rk <= $bucketCliqueCap),
         |sz8 AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
         |in8 AS (
         |  SELECT a_id, b_id, count(*) AS inter_ct
         |  FROM cand8
         |  JOIN toks ta ON a_id = ta.doc_id
         |  JOIN toks tb ON b_id = tb.doc_id AND ta.tok = tb.tok
         |  GROUP BY 1, 2),
         |ver8 AS (
         |  SELECT a_id, b_id,
         |         round(CAST(inter_ct AS DOUBLE)
         |               / (sa.n + sb.n - inter_ct), 6) AS j
         |  FROM in8
         |  JOIN sz8 sa ON a_id = sa.doc_id
         |  JOIN sz8 sb ON b_id = sb.doc_id
         |  WHERE CAST(inter_ct AS DOUBLE) / (sa.n + sb.n - inter_ct)
         |        >= $jaccardThreshold),
         |best8 AS (
         |  SELECT a_id, b_id, j, row_number() OVER
         |    (PARTITION BY a_id ORDER BY j DESC, b_id) AS rn
         |  FROM ver8),
         |ct8 AS (SELECT a_id, CAST(count(*) AS BIGINT) AS dup_ct
         |        FROM ver8 GROUP BY 1)
         |SELECT ct8.a_id AS new_id, dup_ct, j AS best_jaccard,
         |       b_id AS best_store_id
         |FROM ct8 JOIN best8 ON ct8.a_id = best8.a_id AND rn = 1""".stripMargin,
    "d9_threshold_sweep" ->
      s"""WITH $candidateCte,
         |tsz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
         |tin AS (
         |  SELECT a_id, b_id, count(*) AS inter_ct
         |  FROM cand
         |  JOIN toks ta ON a_id = ta.doc_id
         |  JOIN toks tb ON b_id = tb.doc_id AND ta.tok = tb.tok
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT round(CAST(coalesce(inter_ct, 0) AS DOUBLE)
         |               / (sa.n + sb.n - coalesce(inter_ct, 0)), 6)
         |           AS jac
         |  FROM cand
         |  LEFT JOIN tin ON cand.a_id = tin.a_id AND cand.b_id = tin.b_id
         |  JOIN tsz sa ON cand.a_id = sa.doc_id
         |  JOIN tsz sb ON cand.b_id = sb.doc_id),
         |bands AS (
         |  SELECT least(CAST(floor(jac * 10) AS BIGINT), 9) AS band,
         |         CAST(count(*) AS BIGINT) AS pair_ct
         |  FROM jac GROUP BY 1),
         |dense AS (
         |  SELECT sp.band, CAST(coalesce(pair_ct, 0) AS BIGINT)
         |           AS pair_ct
         |  FROM range(0, 10) sp(band) LEFT JOIN bands USING (band))
         |SELECT CAST(band AS DOUBLE) / 10.0 AS threshold_lo, pair_ct,
         |       CAST(sum(pair_ct) OVER (ORDER BY band DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS cum_ct
         |FROM dense""".stripMargin,
    "d7_minhash_estimate" -> {
      val agree = (0 until numHashes)
        .map(k => s"CASE WHEN ma.mh$k = mb.mh$k THEN 1 ELSE 0 END")
        .mkString("\n         + ")
      s"""WITH $candidateCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
         |inter AS (
         |  SELECT a_id, b_id, count(*) AS inter_ct
         |  FROM cand
         |  JOIN toks ta ON a_id = ta.doc_id
         |  JOIN toks tb ON b_id = tb.doc_id AND ta.tok = tb.tok
         |  GROUP BY 1, 2),
         |ag AS (
         |  SELECT a_id, b_id,
         |         CAST($agree AS BIGINT) AS agree_ct
         |  FROM cand JOIN mhs ma ON a_id = ma.doc_id
         |            JOIN mhs mb ON b_id = mb.doc_id),
         |j AS (
         |  SELECT ag.a_id, ag.b_id, agree_ct,
         |         round(CAST(agree_ct AS DOUBLE) / $numHashes, 6)
         |           AS est_jaccard,
         |         round(CAST(coalesce(inter_ct, 0) AS DOUBLE)
         |               / (sa.n + sb.n - coalesce(inter_ct, 0)), 6)
         |           AS jaccard
         |  FROM ag
         |  LEFT JOIN inter ON ag.a_id = inter.a_id AND ag.b_id = inter.b_id
         |  JOIN sizes sa ON ag.a_id = sa.doc_id
         |  JOIN sizes sb ON ag.b_id = sb.doc_id)
         |SELECT a_id, b_id, agree_ct, est_jaccard, jaccard,
         |       round(abs(est_jaccard - jaccard), 6) AS abs_err
         |FROM j""".stripMargin
    },
    "d1_exact_dup_groups" ->
      """WITH f AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT fp, count(*) AS dup_ct, min(doc_id) AS keeper_id
        |FROM f GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "d2_lsh_candidates" ->
      s"""WITH $candidateCte
         |SELECT source, count(*) AS candidate_ct FROM cand GROUP BY 1""".stripMargin,
    "d3_near_dup_pairs" ->
      s"""WITH $verifiedPairsCte
         |SELECT a_id, b_id, jaccard FROM ndp""".stripMargin,
    "d5_shingle_jaccard" ->
      s"""WITH $candidateCte,
         |shraw AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, len(string_split(text, ' '))),
         |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS s
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, ${hexToIntSql("s")} AS sh FROM shraw),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a_id, b_id, count(*) AS inter_ct
         |  FROM cand
         |  JOIN sh sa ON a_id = sa.doc_id
         |  JOIN sh sb ON b_id = sb.doc_id AND sa.sh = sb.sh
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id,
         |       CAST(inter_ct AS DOUBLE) / (za.n + zb.n - inter_ct) AS shingle_jaccard
         |FROM inter
         |JOIN sizes za ON a_id = za.doc_id
         |JOIN sizes zb ON b_id = zb.doc_id
         |WHERE CAST(inter_ct AS DOUBLE) / (za.n + zb.n - inter_ct) >= 0.35""".stripMargin,
    "d4_simhash" -> {
      val hbands = (0 until 4).map(i =>
        s"(simhash >> ${i * 8}) & 255 AS hband$i").mkString(", ")
      s"""WITH $simhashCte
         |SELECT doc_id, simhash, $hbands FROM sig""".stripMargin
    },
    "d6_simhash_near_pairs" -> {
      val stacked = (0 until 4)
        .map(i => s"SELECT doc_id, simhash, $i AS band_no, " +
          s"(simhash >> ${i * 8}) & 255 AS bv FROM sig")
        .mkString("\n        UNION ALL ")
      s"""WITH $simhashCte,
         |stackedh AS (
         |        $stacked),
         |candh AS (
         |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
         |         CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
         |  FROM stackedh l JOIN stackedh r
         |    ON l.band_no = r.band_no AND l.bv = r.bv
         |   AND l.doc_id < r.doc_id
         |  WHERE bit_count(xor(l.simhash, r.simhash)) <= $hammingThreshold)
         |SELECT hamming, count(*) AS pair_ct
         |FROM candh GROUP BY 1""".stripMargin
    })

  /** Shared simhash-signature CTE (oracle twin of [[simhashBuckets]]'
    * vote stage): distinct tokens → 32-bit hash → per-bit majority vote
    * → packed BIGINT signature. */
  private lazy val simhashCte: String = {
    val hexToInt = hexToIntSql("tok")
    val votes = (0 until 32).map(b =>
      s"CAST(SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$b")
      .mkString(",\n        ")
    val sig = (0 until 32).map(b =>
      s"(CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, $hexToInt AS h FROM toks),
       |votes AS (SELECT doc_id,
       |        $votes
       |  FROM h GROUP BY 1),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM votes)""".stripMargin
  }
}
