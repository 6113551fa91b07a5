package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Invariants for the curation layer (CurationOps) and the new DWD SQL
  * apps — structural properties the oracle value-compare can't state. */
class CurationSpec extends SparkSuite {

  test("c1 clusters partition the pair-graph nodes; id = min member") {
    val pairs = q("d3_near_dup_pairs")
    val nodes = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct().count()
    val clusters = q("c1_dedup_clusters")
    // every node is in exactly one cluster
    assert(clusters.agg(sum(col("member_ct"))).head.getLong(0) == nodes)
    // cluster_id is itself a member, and is the minimum member id
    assert(clusters.filter(col("cluster_id") > col("max_member_id")).count() == 0)
    assert(clusters.filter(col("member_ct") < 2).count() == 0,
      "every component has >= 2 members by construction")
  }

  test("c1 large-star/small-star converges in O(log² n) rounds") {
    operators.CurationOps.standings.foreach(_.release()) // force a fresh computation
    val labels = operators.CurationOps.clusterLabels(spark, sf)
    val n = labels.count()
    val rounds = operators.CurationOps.lastRounds
    val logn = math.max(1.0, math.log(n.toDouble + 1) / math.log(2))
    // +2: one round to detect the fixpoint, one slack round
    assert(rounds <= math.ceil(logn * logn).toInt + 2,
      s"rounds=$rounds for n=$n nodes — not the O(log² n) contract")
    assert(rounds >= 1 || n == 0)
  }

  test("c1 cluster ids are closed under the pair relation") {
    // both endpoints of every verified pair land in the same cluster
    val labels = operators.CurationOps.clusterLabels(spark, sf)
    val pairs = q("d3_near_dup_pairs")
    val mismatched = pairs
      .join(labels.select(col("id"), col("label").as("la")),
        col("a_id") === col("id"))
      .drop("id")
      .join(labels.select(col("id"), col("label").as("lb")),
        col("b_id") === col("id"))
      .filter(col("la") =!= col("lb"))
    assert(mismatched.count() == 0)
  }

  test("c12 pagerank: mass conserved, positive, covers the pair graph") {
    val r = q("c12_pagerank_authority")
    val nodes = q("d3_near_dup_pairs")
      .select(col("a_id").as("id"))
      .union(q("d3_near_dup_pairs").select(col("b_id").as("id")))
      .distinct().count()
    assert(r.count() == nodes, "one rank per graph node")
    assert(r.filter(col("pagerank") <= 0).count() == 0)
    // no dangling nodes (symmetrized graph) → total mass stays 1 up to
    // the per-edge 12-dp quantization
    val mass = r.agg(sum(col("pagerank"))).head.getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-5, s"pagerank mass drifted: $mass")
  }

  test("c14 canonical is a max-quality member of its own cluster") {
    val c14 = q("c14_canonical_selection")
    val labels = q("c1_dedup_clusters")
      .select(col("cluster_id").as("l_cid"), col("member_ct").as("l_ct"))
    // one row per c1 cluster, same member counts
    assert(c14.count() == labels.count())
    assert(c14.join(labels, col("cluster_id") === col("l_cid"))
      .filter(col("member_ct") =!= col("l_ct")).count() == 0)
    // near-dup clusters always have >= 2 members
    assert(c14.filter(col("member_ct") < 2).count() == 0)
    // the flag is exactly (canonical != min-id label)
    assert(c14.filter(col("quality_rule_differs") =!=
      (col("canonical_id") =!= col("cluster_id"))).count() == 0)
  }

  test("c16 data card agrees with the c2 funnel and conserves documents") {
    val card = q("c16_data_card")
    val funnel = q("c2_kept_corpus")
      .select(col("source").as("f_src"), col("kept_ct").as("f_kept"),
        col("total_ct").as("f_total"))
    val j = card.join(funnel, col("source") === col("f_src"))
    assert(j.count() == funnel.count())
    // same keep rule -> same survivors; same scan -> same totals
    assert(j.filter(col("kept_ct") =!= col("f_kept")).count() == 0)
    assert(j.filter(col("doc_ct") =!= col("f_total")).count() == 0)
    // dedup exposure counts stay within the doc count
    assert(card.filter(col("exact_dup_ct") + col("kept_ct") > col("doc_ct"))
      .count() == 0)
    assert(card.filter(col("near_dup_member_ct") > col("doc_ct"))
      .count() == 0)
    assert(card.filter(col("quality_mean") <= 0 || col("quality_mean") > 1)
      .count() == 0)
  }

  test("c2 funnel counts are consistent and exhaustive") {
    val f = q("c2_kept_corpus")
    val bad = f.filter(col("total_ct") =!=
      col("kept_ct") + col("drop_exact_ct") + col("drop_quality_ct") +
        col("drop_neardup_ct"))
    assert(bad.count() == 0, "reasons must partition each source")
    val total = f.agg(sum(col("total_ct"))).head.getLong(0)
    assert(total == Tables(spark, sf, "documents").count())
  }

  test("c3 split is deterministic, exhaustive, and stable across runs") {
    val a = q("c3_hash_split").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = q("c3_hash_split").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.sum == Tables(spark, sf, "documents").count())
  }

  test("c4 emits at most k rows per group, ranked without gaps") {
    val t = q("c4_topk_per_group")
    assert(t.groupBy("source").count().filter(col("count") > 3).count() == 0)
    // ranks within each group are exactly 1..n
    val bad = t.groupBy("source")
      .agg(max(col("rk")).as("mx"), count(lit(1)).as("n"),
        min(col("rk")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(bad.count() == 0)
  }

  test("refund-pay wide: dual dic aliases resolve independently") {
    val df = q("sql_dwd_refund_pay_wide")
    // the two lookups hit different codes on some rows
    assert(df.filter(col("payment_type_name") =!= col("refund_type_name"))
      .count() > 0)
    // every code resolved (inner lookup join, bounded dictionary)
    assert(df.filter(col("payment_type_name").isNull ||
      col("refund_type_name").isNull).count() == 0)
  }

  test("cart-add keeps inserts and rising updates only, delta positive") {
    val df = q("sql_dwd_cart_add")
    assert(df.filter(col("sku_num_delta") <= 0).count() == 0)
  }

  test("j10 as-of: one row per purchase, match at-or-before, gap >= 0") {
    val purchases = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase").count()
    val df = q("j10_asof_attribution")
    assert(df.count() == purchases)
    assert(df.filter(col("v_us") > col("p_us")).count() == 0)
    assert(df.filter(col("gap_us") < 0).count() == 0)
    // the matched view time is the MAX view time <= purchase time:
    // no other view event sits strictly between v_us and p_us
    val views = Tables(spark, sf, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id").as("vu"),
        graft.functions.Fns.nsToUs(col("ts")).as("wus"))
    val between = df.filter(col("v_us").isNotNull).join(views,
      col("user_id") === col("vu") &&
        col("wus") > col("v_us") && col("wus") <= col("p_us"))
    assert(between.count() == 0)
  }

  test("a13 cube emits all four grouping sets consistently") {
    val df = q("a13_cube_revenue").cache()
    val detail = df.filter(col("order_month").isNotNull &&
      col("o_orderpriority").isNotNull)
    val byMonth = df.filter(col("order_month").isNotNull &&
      col("o_orderpriority").isNull)
    val byPrio = df.filter(col("order_month").isNull &&
      col("o_orderpriority").isNotNull)
    val grand = df.filter(col("order_month").isNull &&
      col("o_orderpriority").isNull)
    assert(grand.count() == 1)
    val total = Tables(spark, sf, "orders").count()
    assert(grand.head.getAs[Long]("order_ct") == total)
    assert(byMonth.agg(sum(col("order_ct"))).head.getLong(0) == total)
    assert(byPrio.agg(sum(col("order_ct"))).head.getLong(0) == total)
    assert(detail.agg(sum(col("order_ct"))).head.getLong(0) == total)
  }

  test("v6 sign-LSH candidates share the query's bucket and rank <= 5") {
    val df = q("v6_ann_signlsh_topk")
    assert(df.groupBy("q_id").count().filter(col("count") > 5).count() == 0)
    assert(df.filter(col("cos") < -1.000001 || col("cos") > 1.000001)
      .count() == 0)
    assert(df.filter(col("rk") < 1 || col("rk") > 5).count() == 0)
  }

  test("c4 heap twin: two-phase mapPartitions top-k equals the window form") {
    val heap = operators.CurationOps.topkPerGroupHeap(spark, sf)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
    val window = q("c4_topk_per_group")
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
    assert(heap.exceptAll(window).count() == 0 &&
      window.exceptAll(heap).count() == 0)
  }

  test("c17 fuzzy decontamination: split honored, d3 straddlers caught") {
    val r = q("c17_fuzzy_contamination")
    assert(r.count() > 0)
    assert(r.filter(pmod(col("train_id"), lit(37L)) === 0 ||
      pmod(col("eval_id"), lit(37L)) =!= 0).count() == 0)
    assert(r.filter(col("jaccard") < 0.5 || col("jaccard") > 1.000001)
      .count() == 0)
    // every verified near-dup pair (d3, J >= 0.8) that straddles the
    // split must have its EVAL DOC flagged: c17's band join covers d3's
    // buckets (no same-source requirement, lower threshold), and the
    // bucketCliqueCap budget preserves doc-level detection — an eval
    // doc in a hot bucket still meets the bucket's first cap train
    // members. The PAIR-level superset no longer holds by design: a
    // mega-cluster's quadratic (train, eval) enumeration is exactly
    // what the cap exists to bound (round-8 scale-ledger finding).
    val straddleEval = q("d3_near_dup_pairs")
      .select(col("a_id"), col("b_id"))
      .filter((pmod(col("a_id"), lit(37L)) === 0) =!=
        (pmod(col("b_id"), lit(37L)) === 0))
      .select(
        when(pmod(col("a_id"), lit(37L)) === 0, col("a_id"))
          .otherwise(col("b_id")).as("eval_id"))
      .distinct()
    assert(straddleEval.exceptAll(r.select("eval_id").distinct())
      .count() == 0,
      "a d3 straddler's eval doc escaped c17's fuzzy detection")
  }

  test("c15 decontam report: dense over eval, verdicts reconcile with c5/c17") {
    val r = q("c15_decontam_report")
    // dense: one row per eval doc, clean or not
    val evalCt = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(37L)) === 0).count()
    assert(r.count() == evalCt)
    // counts reconcile with the single-lens queries
    val exact = q("c5_contamination").groupBy(col("eval_id"))
      .agg(count(lit(1)).as("want_e"))
    assert(r.join(exact, Seq("eval_id"))
      .filter(col("exact_ct") =!= col("want_e")).count() == 0)
    val fuzzy = q("c17_fuzzy_contamination").groupBy(col("eval_id"))
      .agg(count(lit(1)).as("want_f"))
    assert(r.join(fuzzy, Seq("eval_id"))
      .filter(col("fuzzy_ct") =!= col("want_f")).count() == 0)
    // verdict precedence: exact > fuzzy > clean
    assert(r.filter(col("verdict") === "exact" && col("exact_ct") === 0)
      .count() == 0)
    assert(r.filter(col("verdict") === "fuzzy" &&
      (col("fuzzy_ct") === 0 || col("exact_ct") > 0)).count() == 0)
    assert(r.filter(col("verdict") === "clean" &&
      (col("exact_ct") > 0 || col("fuzzy_ct") > 0)).count() == 0)
  }

  test("c21 epoch plan: caps honored, budget accounting closes") {
    val r = q("c21_epoch_plan").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (src, target) = (row.getLong(1), row.getLong(2))
      val epochs = row.getDouble(3)
      val (planned, unfilled) = (row.getLong(4), row.getLong(5))
      assert(epochs > 0 && epochs <= 4.0)
      assert(planned == math.min(target, 4 * src))
      // planned + unfilled covers the target exactly when capped
      assert(planned + unfilled == math.max(target, planned))
      assert(unfilled == math.max(0L, target - 4 * src))
    }
    // targets are equal across sources (uniform mix) up to int division
    assert(r.map(_.getLong(2)).distinct.length == 1)
  }

  test("d8 crawl dedup: new-shard discipline, d3 cross-shard agreement") {
    val r = q("d8_crawl_dedup")
    val newSrc = Tables(spark, sf, "documents")
      .agg(max(col("source"))).head.getString(0)
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"))
    // every reported new_id is in the crawl shard; every best match is
    // in the store
    assert(r.join(docs, col("new_id") === col("doc_id"))
      .filter(col("source") =!= newSrc).count() == 0)
    assert(r.join(docs, col("best_store_id") === col("doc_id"))
      .filter(col("source") === newSrc).count() == 0)
    assert(r.filter(col("best_jaccard") < 0.8 ||
      col("best_jaccard") > 1.000001).count() == 0)
    assert(r.filter(col("dup_ct") <= 0).count() == 0)
  }

  test("c18 snapshot diff conserves documents and sees every class") {
    val r = q("c18_snapshot_diff")
    // union of the two snapshots per source = sum of the four classes
    val d = Tables(spark, sf, "documents")
    val union = d.filter(pmod(col("doc_id"), lit(5L)) =!= 0 ||
        pmod(col("doc_id"), lit(7L)) =!= 0)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumnRenamed("source", "s2")
    assert(r.join(union, col("source") === col("s2"))
      .filter(col("added_ct") + col("removed_ct") + col("changed_ct") +
        col("unchanged_ct") =!= col("n")).count() == 0)
    // the planted edit/add/remove rules actually fire
    val tot = r.agg(sum(col("added_ct")), sum(col("removed_ct")),
      sum(col("changed_ct")), sum(col("unchanged_ct"))).head
    (0 until 4).foreach(i => assert(tot.getLong(i) > 0,
      s"class $i empty"))
  }

  test("c25 reprocess plan reconciles with the c18 diff row by row") {
    val plan = q("c25_reprocess_plan")
    val diff = q("c18_snapshot_diff")
      .withColumnRenamed("source", "s2")
    val j = plan.join(diff, col("source") === col("s2"))
    // the join covers BOTH reports completely — a source lost by
    // either side would otherwise drop out and pass vacuously
    assert(j.count() == plan.count() && j.count() == diff.count())
    // dirty = any change class; new docs = everything still present
    assert(j.filter(col("dirty_ct") =!= col("added_ct") +
      col("changed_ct") + col("removed_ct")).count() == 0)
    assert(j.filter(col("new_doc_ct") =!= col("added_ct") +
      col("changed_ct") + col("unchanged_ct")).count() == 0)
    // verdict is exactly the dirty_ct predicate, and the planted edits
    // guarantee at least one recompute row exists
    assert(plan.filter((col("dirty_ct") > 0) =!=
      (col("verdict") === "recompute")).count() == 0)
    assert(plan.filter(col("verdict") === "recompute").count() > 0)
    // token mass to re-run: positive wherever something was added or
    // changed (every doc has >= 1 token) and bounded by the new
    // snapshot's own per-source token mass
    assert(j.filter(col("added_ct") + col("changed_ct") > 0 &&
      col("reprocess_tokens") <= 0).count() == 0)
    val newMass = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(7L)) =!= 0)
      .select(col("source"),
        (size(TextOps.tokenize(col("text"))) +
          when(pmod(col("doc_id"), lit(11L)) === 0, 1L).otherwise(0L))
          .cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("mass"))
      .withColumnRenamed("source", "s3")
    assert(plan.join(newMass, col("source") === col("s3"))
      .filter(col("reprocess_tokens") > col("mass")).count() == 0)
  }

  test("d7 estimator audit: band floor, ranges, d3 agreement") {
    val r = q("d7_minhash_estimate")
    assert(r.count() > 0)
    // every LSH candidate shares at least one full band = 3 slots
    assert(r.filter(col("agree_ct") < 3 || col("agree_ct") > 12)
      .count() == 0)
    assert(r.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1 ||
      col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    assert(r.filter(abs(col("est_jaccard") -
      round(col("agree_ct") / 12.0, 6)) > 1e-9).count() == 0)
    // the exact-jaccard column agrees with d3 on the verified pairs
    val d3 = q("d3_near_dup_pairs")
      .select(col("a_id"), col("b_id"),
        round(col("jaccard"), 6).as("j3"))
    assert(r.join(d3, Seq("a_id", "b_id"))
      .filter(abs(col("jaccard") - col("j3")) > 1e-9).count() == 0)
  }

  test("c19 curriculum: balanced phases with monotone mean quality") {
    val rows = q("c19_curriculum_phases").orderBy("phase").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val cts = rows.map(r => r.getLong(r.fieldIndex("doc_ct")))
    assert(cts.max - cts.min <= 1) // ntile balance
    val means = rows.map(r => r.getDouble(r.fieldIndex("mean_quality")))
    assert(means.sliding(2).forall(p => p(0) <= p(1)),
      s"phase means not ascending: ${means.toSeq}")
  }

  test("c20 manifest: agrees with c3 splits, checksum is layout-free") {
    val r = q("c20_release_manifest")
    // split doc totals agree with c3's split report
    val bySplit = r.groupBy("split").agg(sum(col("doc_ct")).as("n"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    q("c3_hash_split").collect().foreach { row =>
      assert(bySplit(row.getString(0)) ==
        row.getLong(row.fieldIndex("doc_ct")))
    }
    // the xor checksum is identical under a different partition layout
    val again = SparkEntry.queries("c20_release_manifest")(spark, sf)
      .repartition(17)
    val a = r.orderBy("split", "source").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(4)))
    val b = again.orderBy("split", "source").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(4)))
    assert(a.sameElements(b))
  }

  test("c22 waterfall: stage masses are monotone and stages all bite") {
    val r = q("c22_dedup_waterfall")
    assert(r.count() > 0)
    assert(r.filter(col("tok_total") < col("tok_exact") ||
      col("tok_exact") < col("tok_neardup") ||
      col("tok_neardup") < col("tok_final") ||
      col("tok_final") < 0).count() == 0)
    // the stack as a whole bites (individual stages may be empty at
    // tiny SF — sf0.001 has no exact dups, for instance)
    val t = r.agg(sum(col("tok_total")), sum(col("tok_final"))).head
    assert(t.getLong(0) > t.getLong(1), "dedup stack removed nothing")
    // tok_exact per source equals the d1-keeper token mass
    val d = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"),
        operators.TextOps.fingerprint(col("text")).as("fp"))
    val keepers = d.withColumn("kid",
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))))
      .filter(col("doc_id") === col("kid"))
      .groupBy(col("source")).agg(sum(col("n")).as("expect"))
      .withColumnRenamed("source", "s2")
    assert(r.join(keepers, col("source") === col("s2"))
      .filter(col("tok_exact") =!= col("expect")).count() == 0)
  }

  test("d9 sweep: cumulative curve is monotone and ties out to d3") {
    val r = q("d9_threshold_sweep").orderBy(col("threshold_lo").desc)
      .collect()
    assert(r.nonEmpty)
    val cums = r.map(x => x.getLong(x.fieldIndex("cum_ct")))
    assert(cums.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      "cumulative counts must grow as the threshold drops")
    // pairs at >= 0.8 equal d3's verified pair count
    val at08 = r.find(x => x.getDouble(0) == 0.8)
      .map(x => x.getLong(x.fieldIndex("cum_ct"))).getOrElse(0L)
    assert(at08 == q("d3_near_dup_pairs").count())
  }

  test("t7 quantiles are monotone and bounded by the group extremes") {
    val t = q("t7_length_quantiles")
    assert(t.filter(col("p50") > col("p90") || col("p90") > col("p99"))
      .count() == 0)
    val ext = Tables(spark, sf, "documents").groupBy("source")
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    val bad = t.join(ext, "source")
      .filter(col("p50") < col("mn") || col("p99") > col("mx"))
    assert(bad.count() == 0)
  }

  test("c23: cluster split conserves docs, near-dup pairs never straddle splits") {
    val r = q("c23_cluster_split")
    val total = Tables(spark, sf, "documents").count()
    assert(r.agg(sum(col("doc_ct"))).head.getLong(0) == total)
    // doc totals match the doc-level split universe (same corpus)
    assert(q("c3_hash_split").agg(sum(col("doc_ct"))).head.getLong(0)
      == total)
    // recompute each doc's cluster-level split with the same md5 rule
    // and check (a) the rollup matches, (b) no verified near-dup pair
    // crosses a split boundary
    val labels = graft.operators.CurationOps.clusterLabels(spark, sf)
    def splitCol(c: org.apache.spark.sql.Column) = {
      val b = pmod(conv(substring(md5(c.cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(100L))
      when(b < 70, "train").when(b < 85, "val").otherwise("test")
    }
    val perDoc = Tables(spark, sf, "documents").select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"),
        splitCol(coalesce(col("label"), col("doc_id"))).as("split"))
    val counts = perDoc.groupBy(col("split"))
      .agg(count(lit(1)).as("want_ct")).withColumnRenamed("split", "s2")
    assert(r.join(counts, col("split") === col("s2"))
      .filter(col("doc_ct") =!= col("want_ct")).count() == 0)
    val pairs = q("d3_near_dup_pairs")
    val sa = perDoc.select(col("doc_id").as("pa"), col("split").as("spa"))
    val sb = perDoc.select(col("doc_id").as("pb"), col("split").as("spb"))
    assert(pairs.join(sa, col("a_id") === col("pa"))
      .join(sb, col("b_id") === col("pb"))
      .filter(col("spa") =!= col("spb")).count() == 0)
  }

  test("c26: size histogram reconciles with c1 and covers the corpus") {
    val r = q("c26_cluster_size_dist").collect()
    val nDocs = Tables(spark, sf, "documents").count()
    // every doc lands in exactly one size bucket (singletons included)
    assert(r.map(_.getLong(r.head.fieldIndex("doc_ct"))).sum == nDocs)
    // multi-member rows reconcile with the c1 cluster list
    val clusters = q("c1_dedup_clusters").collect()
    val multi = r.filter(_.getLong(0) >= 2)
    assert(multi.map(_.getLong(1)).sum == clusters.length,
      "cluster_ct over sizes >= 2 must equal the c1 cluster count")
    multi.foreach { row =>
      val sz = row.getLong(0)
      assert(clusters.count(_.getLong(1) == sz) == row.getLong(1))
    }
    // the singleton row is STATED, and shares sum to 1
    assert(r.exists(_.getLong(0) == 1L), "singleton row missing")
    val shareSum = r.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
  }

  test("c27: sweep weights normalize; tau lifts small sources only") {
    val r = q("c27_temperature_sweep").collect()
    val idx = r.head.fieldIndex _
    val sources = Tables(spark, sf, "documents")
      .select(col("source")).distinct().count()
    assert(r.length == 3 * sources)
    r.groupBy(_.getDouble(idx("tau"))).foreach { case (tau, rows) =>
      val wsum = rows.map(_.getDouble(idx("weight"))).sum
      assert(math.abs(wsum - 1.0) < 1e-3, s"tau=$tau weights sum $wsum")
      if (tau == 1.0)
        rows.foreach(x =>
          assert(math.abs(x.getDouble(idx("boost")) - 1.0) < 1e-4))
      else {
        // sub-linear temperature: boost falls as source size grows
        val bySize = rows.sortBy(_.getLong(idx("src_tokens")))
        val boosts = bySize.map(_.getDouble(idx("boost")))
        assert(boosts.sliding(2).forall(p => p.length < 2 ||
          p(0) >= p(1) - 1e-9), s"tau=$tau boost not monotone")
        assert(boosts.head > 1.0 && boosts.last < 1.0,
          s"tau=$tau must lift the smallest source above natural share")
      }
    }
  }

  test("c24: full pair matrix, bounded overlap, totals reconcile") {
    val r = q("c24_cross_source_overlap")
    val srcs = Tables(spark, sf, "documents")
      .select(col("source")).distinct().count()
    // one row per unordered source pair, lexicographically oriented
    assert(r.count() == srcs * (srcs - 1) / 2)
    assert(r.filter(col("src_a") >= col("src_b")).count() == 0)
    // shared mass can't exceed either side's distinct universe, and the
    // coefficient is exactly the reported ratio in [0, 1]
    assert(r.filter(col("shared_fp_ct") >
      least(col("a_distinct"), col("b_distinct"))).count() == 0)
    assert(r.filter(col("overlap_coef") < 0 ||
      col("overlap_coef") > 1).count() == 0)
    assert(r.filter(col("overlap_coef") =!=
      round(col("shared_fp_ct").cast("double") /
        least(col("a_distinct"), col("b_distinct")).cast("double"), 6))
      .count() == 0)
    // per-source distinct totals match an independent recount
    val want = Tables(spark, sf, "documents")
      .select(col("source"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("want_ct")).withColumnRenamed("source", "s2")
    assert(r.join(want, col("src_a") === col("s2"))
      .filter(col("a_distinct") =!= col("want_ct")).count() == 0)
    assert(r.join(want, col("src_b") === col("s2"))
      .filter(col("b_distinct") =!= col("want_ct")).count() == 0)
  }
}
