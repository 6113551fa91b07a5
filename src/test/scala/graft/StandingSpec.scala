package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The [[Standing]] lifecycle (build once per key under racing readers,
  * release, rebuild; a throwing build leaves nothing behind) and two pins
  * on what the harnesses derive from the declarations: the prestage
  * stages and the bench's release schedule. No Spark job runs here. */
class StandingSpec extends SparkSuite {

  private def race[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to n).map(_ => pool.submit(new Callable[T] {
        def call(): T = { go.await(); f }
      }))
      go.countDown()
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("racing first readers build once; release cleans up; next get rebuilds") {
    val builds = new AtomicInteger
    val cleanups = new AtomicInteger
    val st = Standing.stored("spec_store", Set.empty[String]) { (_, dir, sd) =>
      builds.incrementAndGet()
      Thread.sleep(100) // hold the build open while the others arrive
      Files.writeString(Paths.get(sd, "part"), dir)
      sd
    } { (_, _, _) => cleanups.incrementAndGet() }
    val got = race(8)(st(spark, "k1"))
    assert(builds.get == 1 && got.toSet.size == 1, got)
    val sd = got.head
    assert(Files.readString(Paths.get(sd, "part")) == "k1")
    // another key is another build, into another dir
    val other = st(spark, "k2")
    assert(builds.get == 2 && other != sd)

    st.release()
    assert(cleanups.get == 2)
    assert(!Files.exists(Paths.get(sd)) && !Files.exists(Paths.get(other)))
    val again = st(spark, "k1")
    assert(builds.get == 3 && again != sd && Files.exists(Paths.get(again)))
    st.release()
    assert(!Files.exists(Paths.get(again)))
  }

  test("nested builds of different standings do not wait on each other") {
    val inner = Standing("spec_inner", Set.empty[String]) { (_, dir) =>
      Thread.sleep(50); s"inner:$dir"
    }(_ => ())
    val outer = Standing("spec_outer", Set.empty[String]) { (s, dir) =>
      s"outer(${inner(s, dir)})"
    }(_ => ())
    val got = race(8)((outer(spark, "k"), inner(spark, "k")))
    assert(got.toSet == Set(("outer(inner:k)", "inner:k")))
  }

  test("a throwing build leaves no entry and no dir; a retry builds") {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val fail = new java.util.concurrent.atomic.AtomicBoolean(true)
    val st = Standing.stored("spec_fail", Set.empty[String]) { (_, _, sd) =>
      dirs.add(sd)
      Files.writeString(Paths.get(sd, "part"), "x")
      if (fail.get) throw new IllegalStateException("boom")
      sd
    } { (_, _, _) => () }
    // every racer sees the failure (a waiter retries the build itself)
    race(4)(intercept[IllegalStateException](st(spark, "k")))
    val failed = dirs.toArray.toSeq
    assert(failed.nonEmpty)
    failed.foreach(d => assert(!Files.exists(Paths.get(d.toString)), d))
    fail.set(false)
    val sd = st(spark, "k")
    assert(Files.exists(Paths.get(sd, "part")) && !failed.contains(sd))
    st.release()
    assert(!Files.exists(Paths.get(sd)))
  }

  /** The prestage table as it stood when it was a hand-kept list: stage
    * name → the SparkEntry queries its gate selects. */
  private val handKeptStages: Map[String, Set[String]] = Map(
    "bands" -> Set("c12_pagerank_authority", "c14_canonical_selection",
      "c15_decontam_report", "c16_data_card", "c17_fuzzy_contamination",
      "c1_dedup_clusters", "c22_dedup_waterfall", "d11_lsh_tuning",
      "d12_bucket_skew", "d2_lsh_candidates", "d3_near_dup_pairs",
      "d5_shingle_jaccard", "d7_minhash_estimate", "d8_crawl_dedup",
      "d9_threshold_sweep"),
    "neardup" -> Set("c12_pagerank_authority", "c14_canonical_selection",
      "c16_data_card", "c1_dedup_clusters", "c22_dedup_waterfall",
      "d11_lsh_tuning", "d2_lsh_candidates", "d3_near_dup_pairs",
      "d5_shingle_jaccard", "d7_minhash_estimate", "d9_threshold_sweep"),
    "shingles" -> Set("d5_shingle_jaccard"),
    "lloyd" -> Set("v10_embed_outliers", "v11_semdedup", "v17_davies_bouldin",
      "v9_kmeans_assign"),
    "ivfpq" -> Set("v21_ivfpq_topk", "v22_index_health", "v24_quant_error"),
    "grow_index" -> Set("v25_index_grow_topk", "v26_index_delete_topk"),
    "labels" -> Set("c14_canonical_selection", "c16_data_card",
      "c1_dedup_clusters", "c22_dedup_waterfall", "c23_cluster_split",
      "c26_cluster_size_dist", "c2_kept_corpus"),
    "crawl_cand" -> Set("d8_crawl_dedup"),
    "decontam_cand" -> Set("c15_decontam_report", "c17_fuzzy_contamination"),
    "train_postings" -> Set("c15_decontam_report", "c5_contamination"),
    "dpp_store" -> Set("x9_dpp_prune"),
    "zorder_assign" -> Set("x4_zorder_layout", "x8_skip_stats"),
    "agg_nav_summary" -> Set("x14_agg_rewrite", "x15_rollup_navigate",
      "x16_rollup_sets_navigate", "x18_avg_navigate"),
    "agg_nav_events" -> Set("x17_events_navigate", "x20_hll_navigate",
      "x22_bitmap_distinct_navigate", "x24_bitmap_overlap",
      "x26_bitmap_retention"),
    "skip_store" -> Set("x23_skipscan_prune"),
    "part_skip_store" -> Set("x25_part_skipscan"),
    "nested_skip_store" -> Set("x28_nested_skipscan"),
    "nav_month_summary" -> Set("x27_summary_skipscan"),
    "agg_nav_lineitem" -> Set("x19_dim_join_navigate"),
    "agg_nav_cust" -> Set("x21_province_navigate"),
    "topic_log" -> Set("g5_baselog_routes"),
    "topic_order_env" -> Set("p4_status_transitions", "p9_column_pruning",
      "s2_cdc_parse"),
    "topic_db_routes" -> Set("g6_basedb_routes"),
    "topic_db_dim" -> Set("k12_dim_scd2_history"),
    "bucket_tables" -> Set("sql_dwd_order_detail_bucketed", "x11_bucket_join"))

  test("derived Prestage.stages: the same 25 names, each gating the same queries") {
    val keys = SparkEntry.queries.keys.toSeq
    val derived = Prestage.stages.map { case (n, gate, _) =>
      n -> keys.filter(gate).toSet }
    assert(derived.size == 25 && derived.map(_._1).toSet.size == 25)
    assert(derived.toMap == handKeptStages)
  }

  test("derived release schedule over the sorted suite: one point per module") {
    import graft.operators._
    val order = SparkEntry.queries.keys.toSeq.sorted
    // the hand-kept schedule released EnvelopeOps after
    // s2_debezium_snapshot, the query sorted right after s2_cdc_parse;
    // it reads no envelope standing (it parses its own supplier op
    // log), so the last reader is s2_cdc_parse and both points leave
    // every query the same standing state
    assert(order.dropWhile(_ != "s2_cdc_parse").take(2) ==
      Seq("s2_cdc_parse", "s2_debezium_snapshot"))
    assert(Prestage.releaseAfter(order) == Map(
      "c5_contamination" -> Seq(CurationOps),
      "d9_threshold_sweep" -> Seq(DedupOps),
      "s2_cdc_parse" -> Seq(EnvelopeOps),
      "k12_dim_scd2_history" -> Seq(ComposedApps),
      "v9_kmeans_assign" -> Seq(VectorOps),
      "x9_dpp_prune" -> Seq(ScalePatterns)))
    // a selection moves each point to the module's last SELECTED reader
    assert(Prestage.releaseAfter(Seq("d2_lsh_candidates", "v10_embed_outliers",
      "x2_salted_distinct")) == Map(
      "d2_lsh_candidates" -> Seq(DedupOps),
      "v10_embed_outliers" -> Seq(VectorOps)))
  }
}
