package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.Fns._
import graft.plans.AggRewrite

/** Materialized-aggregate navigation (plans/AggRewrite.scala): the
  * rewrite must FIRE where derivable (plan scans the summary, not the
  * fact table), produce bit-identical results to the raw plan, and fall
  * through untouched on every non-derivable shape. */
class AggRewriteSpec extends SparkSuite {

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }.toSet

  private lazy val summaryDir = {
    val d = operators.ScalePatterns.navSummaryDir(spark, sf)
    // temp-dir paths come back from the scan as file: URIs
    s"file:$d"
  }
  private def ordersPath = s"file:$sf/orders.parquet"

  /** The plan reads SOME registered orders summary (cost-based
    * selection may pick the month-grain rollup over the day grain once
    * x27's smaller summary is registered in the shared session —
    * either is a correct navigation; the value assert pins truth).
    * Forcing the month build here makes the choice deterministic
    * instead of depending on which spec ran first. */
  private lazy val monthSummaryDir =
    s"file:${operators.ScalePatterns.navMonthDir(spark, sf)}"

  private def scansAnyOrdersSummary(df: DataFrame): Boolean =
    scanPaths(df).exists(p => p.startsWith(summaryDir) ||
      p.startsWith(monthSummaryDir))

  private def rawMonthly: DataFrame = {
    val o = Tables(spark, sf, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    o.filter(substring(day, 1, 4) === "1997")
      .groupBy(substring(day, 1, 7).as("order_month"),
        col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("order_amount"),
        count(lit(1)).as("order_ct"),
        min(money(col("o_totalprice"))).cast(DoubleType).as("min_price"),
        max(money(col("o_totalprice"))).cast(DoubleType).as("max_price"))
  }

  test("x14 rewrite fires: plan scans the summary, not the fact table") {
    summaryDir // force registration
    val nav = AggRewrite.navigate(rawMonthly)
    val paths = scanPaths(nav)
    assert(paths.exists(_.startsWith(summaryDir)),
      s"expected summary scan, got $paths")
    assert(!paths.contains(ordersPath),
      s"fact table still scanned: $paths")
    // and the suite entries go through navigate too
    assert(scanPaths(q("x14_agg_rewrite")).exists(_.startsWith(summaryDir)))
    assert(scanPaths(q("x15_rollup_navigate"))
      .exists(_.startsWith(summaryDir)))
    assert(scanPaths(q("x16_rollup_sets_navigate"))
      .exists(_.startsWith(summaryDir)))
    // x17 navigates THROUGH the events ts-normalization projection —
    // proves the peel/substitution path against the MICROS layout
    val evDir = s"file:${operators.ScalePatterns.navEventsDir(spark, sf)}"
    val x17 = q("x17_events_navigate")
    assert(scanPaths(x17).exists(_.startsWith(evDir)),
      s"x17 did not navigate: ${scanPaths(x17)}")
  }

  test("rewritten results are bit-identical to the raw plan") {
    summaryDir
    val raw = rawMonthly
    val nav = AggRewrite.navigate(raw)
    assert(nav.schema == raw.schema, "schema drift through the rewrite")
    val cols = raw.columns.map(col).toSeq
    val a = raw.sort(cols: _*).collect().toSeq
    val b = nav.sort(cols: _*).collect().toSeq
    assert(a == b)
  }

  test("non-derivable shapes fall through untouched") {
    summaryDir
    val o = Tables(spark, sf, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    // (a) DISTINCT aggregate is not derivable from partials
    val distinctAgg = AggRewrite.navigate(
      o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("custs")))
    assert(scanPaths(distinctAgg).contains(ordersPath))
    // (b) filter on a NON-key expression cannot push onto the summary
    val nonKeyFilter = AggRewrite.navigate(
      o.filter(col("o_totalprice") > 1000.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n")))
    assert(scanPaths(nonKeyFilter).contains(ordersPath))
    // (c) grouping by a non-key column
    val nonKeyGroup = AggRewrite.navigate(
      o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
    assert(scanPaths(nonKeyGroup).contains(ordersPath))
    // (d) an aggregate with no registered partial (avg)
    val noPartial = AggRewrite.navigate(
      o.groupBy(col("o_orderpriority"))
        .agg(avg(col("o_totalprice")).as("m")))
    assert(scanPaths(noPartial).contains(ordersPath))
    // (e) a join between scan and aggregate blocks the peel
    val c = Tables(spark, sf, "customer")
    val joined = AggRewrite.navigate(
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
    assert(scanPaths(joined).contains(ordersPath))
    // (f) a non-deterministic (row-sampling) filter selects base ROWS,
    // never derivable from per-group partials
    val sampled = AggRewrite.navigate(
      o.filter(rand(42) < 0.5)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
    assert(scanPaths(sampled).contains(ordersPath))
    // (f2) count of a foldable-but-NULL expression is a constant zero
    // per group, NOT a row count — must not map to the count partial
    val nullCount = AggRewrite.navigate(
      o.groupBy(col("o_orderpriority"))
        .agg(count(lit(null)).as("z")))
    assert(scanPaths(nullCount).contains(ordersPath))
    assert(nullCount.head.getLong(1) == 0L)
    // (g) an unregistered table navigates to itself
    val sq = Tables(spark, sf, "supplier")
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
    assert(AggRewrite.navigate(sq) eq sq)
  }

  test("count(*) keeps its zero-on-empty, non-null contract") {
    summaryDir
    val o = Tables(spark, sf, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    // a key-only filter selecting nothing: global aggregate over zero
    // rows must still return one row with count 0 after the rewrite
    val empty = AggRewrite.navigate(
      o.filter(substring(day, 1, 4) === "2099")
        .agg(count(lit(1)).as("n")))
    assert(scanPaths(empty).exists(_.startsWith(summaryDir)))
    val r = empty.collect()
    assert(r.length == 1 && !r.head.isNullAt(0) && r.head.getLong(0) == 0L)
  }

  test("derivability sweep: navigate == raw across key/aggregate combos") {
    summaryDir
    val o = Tables(spark, sf, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    // every non-empty subset of groupings (as written by a user who
    // knows the summary grain) x every subset of derivable aggregates
    val groupings = Seq(
      "day" -> day.as("d"),
      "month" -> substring(day, 1, 7).as("m"),
      "priority" -> col("o_orderpriority"))
    val aggsAll = Seq(
      "sum" -> moneySum(col("o_totalprice")).as("s"),
      "cnt" -> count(lit(1)).as("c"),
      "min" -> min(money(col("o_totalprice"))).cast("double").as("lo"),
      "max" -> max(money(col("o_totalprice"))).cast("double").as("hi"),
      "cntcol" -> count(col("o_orderstatus")).as("cc"),
      "avg" -> avg(money(col("o_totalprice"))).cast("double").as("av"))
    var checked = 0
    for {
      gs <- groupings.toSet.subsets(1) ++ groupings.toSet.subsets(2)
      as <- Seq(aggsAll.take(2), aggsAll.drop(2), aggsAll)
    } {
      val g = gs.toSeq.sortBy(_._1).map(_._2)
      val raw = o.groupBy(g: _*).agg(as.head._2, as.tail.map(_._2): _*)
      val nav = AggRewrite.navigate(raw)
      assert(scansAnyOrdersSummary(nav),
        s"not navigated: groups=${gs.map(_._1)} aggs=${as.map(_._1)}")
      val cols = raw.columns.map(col).toSeq
      assert(raw.sort(cols: _*).collect().toSeq ==
        nav.sort(cols: _*).collect().toSeq,
        s"mismatch: groups=${gs.map(_._1)} aggs=${as.map(_._1)}")
      checked += 1
    }
    assert(checked == 18, s"expected 18 combos, swept $checked")
  }

  test("grouping sets navigate: rollup/cube re-root their Expand") {
    summaryDir
    val o = Tables(spark, sf, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    def collectSorted(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.map(col).toSeq
      df.sort(cols: _*).collect().toSeq
    }
    // ROLLUP with a coarsened key, a key filter, and grouping_id
    val roll = o.filter(substring(day, 1, 4) === "1997")
      .rollup(substring(day, 1, 7).as("m"), col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("amt"),
        count(lit(1)).as("n"), grouping_id().as("gid"))
    val rollNav = AggRewrite.navigate(roll)
    assert(scanPaths(rollNav).exists(_.startsWith(summaryDir)),
      s"rollup did not navigate: ${scanPaths(rollNav)}")
    assert(rollNav.schema == roll.schema)
    assert(collectSorted(rollNav) == collectSorted(roll))
    // CUBE over both keys
    val cube = o.cube(col("o_orderpriority"), substring(day, 1, 4).as("y"))
      .agg(count(lit(1)).as("n"),
        max(money(col("o_totalprice"))).cast("double").as("hi"))
    val cubeNav = AggRewrite.navigate(cube)
    assert(scanPaths(cubeNav).exists(_.startsWith(summaryDir)),
      s"cube did not navigate: ${scanPaths(cubeNav)}")
    assert(collectSorted(cubeNav) == collectSorted(cube))
    // non-derivable aggregate under rollup falls through
    val bad = AggRewrite.navigate(
      o.rollup(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("d")))
    assert(scanPaths(bad).contains(ordersPath))
  }

  test("cost-based selection: the smallest derivable summary wins") {
    summaryDir // the fine (day, priority) summary, registered
    val coarse = java.nio.file.Files
      .createTempDirectory("graft_aggrw_coarse_").toString
    try {
      // a second, coarser summary over the SAME base: priority-only
      AggRewrite.materialize(spark, "orders_priority_only",
        Tables(spark, sf, "orders"),
        keys = Seq("o_orderpriority" -> col("o_orderpriority")),
        measures = Seq(
          ("sum_price", "sum", money(col("o_totalprice"))),
          ("cnt", "count_star", lit(1))),
        path = coarse)
      val o = Tables(spark, sf, "orders")
      // priority-only query: BOTH summaries derive it; the 5-row
      // coarse one must win over the ~2300-row (day, priority) grain
      val byPriority = AggRewrite.navigate(
        o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("o_totalprice")).as("amt")))
      assert(scanPaths(byPriority).exists(_.startsWith(s"file:$coarse")),
        s"coarse summary not chosen: ${scanPaths(byPriority)}")
      // day-grained query: only the fine summary derives it
      val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
      val byDay = AggRewrite.navigate(
        o.groupBy(day.as("order_day"))
          .agg(count(lit(1)).as("n")))
      assert(scanPaths(byDay).exists(_.startsWith(summaryDir)),
        s"fine summary not chosen: ${scanPaths(byDay)}")
      // and the coarse answer equals the raw one
      val raw = o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("o_totalprice")).as("amt"))
        .sort("o_orderpriority").collect().toSeq
      assert(byPriority.sort("o_orderpriority").collect().toSeq == raw)
    } finally {
      AggRewrite.unregister(spark, "orders_priority_only")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(coarse))
    }
  }

  test("staleness fence: a changed base falls through to raw truth") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_fresh_").toString
    import spark.implicits._
    def q(facts: org.apache.spark.sql.DataFrame) =
      facts.groupBy(col("k")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s"))
    try {
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      val facts = spark.read.parquet(s"$base/facts")
      AggRewrite.materialize(spark, "fresh_spec", facts,
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary")
      assert(scanPaths(AggRewrite.navigate(q(facts)))
        .exists(_.contains("summary")), "should fire while fresh")
      // the base changes AFTER materialization: serving the summary now
      // would be WRONG — navigation must fall through to the raw scan
      Seq(("a", 100L)).toDF("k", "v")
        .write.mode("append").parquet(s"$base/facts")
      val facts2 = spark.read.parquet(s"$base/facts")
      val nav2 = AggRewrite.navigate(q(facts2))
      assert(scanPaths(nav2).exists(_.contains("facts")),
        s"stale summary served: ${scanPaths(nav2)}")
      val fresh = nav2.filter(col("k") === "a").head
      assert(fresh.getLong(1) == 3L && fresh.getDouble(2) == 103.0)
      // re-materializing restores navigation
      AggRewrite.materialize(spark, "fresh_spec", facts2,
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary2")
      val nav3 = AggRewrite.navigate(q(facts2))
      assert(scanPaths(nav3).exists(_.contains("summary2")))
      assert(nav3.filter(col("k") === "a").head.getLong(1) == 3L)
    } finally {
      AggRewrite.unregister(spark, "fresh_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("fence is snapshot-anchored: registering from a stale DataFrame " +
      "cannot bless rows it never read") {
    // the TOCTOU case: the caller holds a DataFrame whose file listing
    // SNAPSHOTTED before new files landed; a summary (re-)registered
    // from it must sign the snapshot, so live matching detects the gap
    // and navigation falls through instead of serving the stale summary
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_toctou_").toString
    import spark.implicits._
    try {
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      val snapshot = spark.read.parquet(s"$base/facts") // listing pinned
      snapshot.count() // force the FileIndex to list NOW
      // new rows land AFTER the snapshot
      Seq(("a", 100L)).toDF("k", "v")
        .write.mode("append").parquet(s"$base/facts")
      // materialize FROM the stale snapshot: the summary is built from
      // (and signed for) the old files only
      AggRewrite.materialize(spark, "toctou_spec", snapshot,
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary")
      val live = spark.read.parquet(s"$base/facts")
      val nav = AggRewrite.navigate(
        live.groupBy(col("k")).agg(count(lit(1)).as("n"),
          sum(col("v")).cast("double").as("s")))
      assert(scanPaths(nav).exists(_.contains("facts")),
        s"stale snapshot summary was blessed: ${scanPaths(nav)}")
      val a = nav.filter(col("k") === "a").head
      assert(a.getLong(1) == 2L && a.getDouble(2) == 101.0)
    } finally {
      AggRewrite.unregister(spark, "toctou_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("partition refresh: only changed days recompute, reconciled") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_refresh_").toString
    import spark.implicits._
    def facts = spark.read.parquet(s"$base/facts")
    def q = AggRewrite.navigate(
      facts.groupBy(col("day")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s")))
    try {
      Seq(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-02", 10L), ("2024-01-03", 100L))
        .toDF("day", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      AggRewrite.materialize(spark, "refresh_spec", facts,
        keys = Seq("day" -> col("day")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary", partitionBy = Some("day"))
      assert(scanPaths(q).exists(_.contains("summary")))
      // day d2 changes: stale -> falls through
      Seq(("2024-01-02", 20L)).toDF("day", "v")
        .write.mode("append").parquet(s"$base/facts")
      assert(scanPaths(q).exists(_.contains("facts")), "stale must bail")
      // refresh ONLY d2: navigation resumes with the fresh truth
      AggRewrite.refreshPartitions(spark, "refresh_spec", facts,
        Seq("2024-01-02"))
      val nav = q
      assert(scanPaths(nav).exists(_.contains("summary")),
        s"refresh did not resume navigation: ${scanPaths(nav)}")
      // day values are date-SHAPED strings: partition-column type
      // inference on readback would re-type them DATE and drift the
      // navigated schema — the explicit-schema readback must prevent it
      assert(nav.schema("day").dataType ==
        org.apache.spark.sql.types.StringType, nav.schema.toString)
      val d2 = nav.filter(col("day") === "2024-01-02").head
      assert(d2.getLong(1) == 2L && d2.getDouble(2) == 30.0)
      // unrefreshed day d1 still serves its (unchanged) truth
      val d1 = nav.filter(col("day") === "2024-01-01").head
      assert(d1.getLong(1) == 2L && d1.getDouble(2) == 3.0)
      // a change to d3 followed by a refresh of ONLY d2 must be CAUGHT
      // by the count reconciliation and refuse to re-register
      Seq(("2024-01-03", 200L)).toDF("day", "v")
        .write.mode("append").parquet(s"$base/facts")
      val err = intercept[IllegalStateException] {
        AggRewrite.refreshPartitions(spark, "refresh_spec", facts,
          Seq("2024-01-02"))
      }
      assert(err.getMessage.contains("reconciliation"))
      // and navigation keeps serving raw truth (old registration stale)
      val after = q
      assert(scanPaths(after).exists(_.contains("facts")))
      assert(after.filter(col("day") === "2024-01-03").head.getLong(1) == 2L)
    } finally {
      AggRewrite.unregister(spark, "refresh_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("partition refresh in three SQL executions; a day with no " +
      "remaining base rows refuses before anything is written") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_refuse_").toString
    import spark.implicits._
    def facts = spark.read.parquet(s"$base/facts")
    def q = AggRewrite.navigate(
      facts.groupBy(col("day")).agg(count(lit(1)).as("n")))
    // every file under the store, with its bytes
    def storeFiles(): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(s"$base/summary")
      val w = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => root.relativize(f).toString ->
            java.nio.file.Files.readAllBytes(f).toSeq).toMap
      } finally w.close()
    }
    // root SQL executions run from this thread, counted up to a
    // sentinel action (the listener bus delivers in order)
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.logical.toString.contains("graft_refresh_sentinel"))
          sentinel.set(1)
        else executions.incrementAndGet()
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = executions.incrementAndGet()
    }
    def executionsDuring(body: => Unit): Int = {
      executions.set(0); sentinel.set(0)
      body
      spark.range(1).select(lit("graft_refresh_sentinel")).collect()
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(sentinel.get == 1)
      }
      executions.get
    }
    try {
      Seq(("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-02", 3L),
        ("2024-01-03", 4L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      AggRewrite.materialize(spark, "refuse_spec", facts,
        keys = Seq("day" -> col("day")),
        measures = Seq(("cnt", "count_star", lit(1))),
        path = s"$base/summary", partitionBy = Some("day"))
      // a refresh of a changed day: one base scan, one write, one
      // summary scan — registration reuses the summary scan's count
      Seq(("2024-01-03", 5L)).toDF("day", "v")
        .write.mode("append").parquet(s"$base/facts")
      val appended = facts
      spark.listenerManager.register(listener)
      val n = try executionsDuring(AggRewrite.refreshPartitions(spark,
          "refuse_spec", appended, Seq("2024-01-03")))
        finally spark.listenerManager.unregister(listener)
      assert(n == 3, s"refresh ran $n SQL executions")
      assert(scanPaths(q).exists(_.contains("summary")))
      // every base row of 2024-01-02 removed: the base is rewritten
      // without that day, so the registration is stale
      Seq(("2024-01-01", 1L), ("2024-01-03", 4L), ("2024-01-03", 5L))
        .toDF("day", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      val before = storeFiles()
      val err = intercept[IllegalStateException] {
        AggRewrite.refreshPartitions(spark, "refuse_spec", facts,
          Seq("2024-01-02"))
      }
      assert(err.getMessage.contains("no remaining base rows"),
        err.getMessage)
      val after = storeFiles()
      assert(after.keySet == before.keySet)
      assert(after == before, "the refusal must not touch the store")
      // the old registration stays in place and falls through to raw
      val nav = q
      assert(scanPaths(nav).exists(_.contains("facts")),
        s"stale registration must fall through: ${scanPaths(nav)}")
      assert(nav.orderBy("day").collect().map(r =>
        r.getString(0) -> r.getLong(1)).toSeq ==
        Seq("2024-01-01" -> 1L, "2024-01-03" -> 2L))
    } finally {
      AggRewrite.unregister(spark, "refuse_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("streaming maintenance: foreachBatch refresh keeps navigation live") {
    // the reference's loop end-to-end: the stream lands each CDC batch
    // on the fact store, refreshes ONLY the touched day partitions of
    // the summary, and the serving query keeps navigating — never
    // serving stale aggregates in between (the fence covers the gap)
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_stream_").toString
    import spark.implicits._
    val factsDir = s"$root/facts"
    val srcDir = s"$root/src"
    def facts = spark.read.parquet(factsDir)
    def serving = AggRewrite.navigate(
      facts.groupBy(col("day")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s")))
    try {
      // day-0 seed + the initial materialization
      Seq(("d0", 1L), ("d0", 2L)).toDF("day", "v")
        .write.mode("overwrite").parquet(factsDir)
      AggRewrite.materialize(spark, "stream_spec", facts,
        keys = Seq("day" -> col("day")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/summary", partitionBy = Some("day"))
      assert(scanPaths(serving).exists(_.contains("summary")))
      // two day-sharded CDC files, streamed one per micro-batch
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(srcDir))
      Seq(("2024-01-01", 10L), ("2024-01-01", 20L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$srcDir/shard1")
      Seq(("d0", 3L), ("2024-01-02", 100L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$srcDir/shard2")
      val stream = spark.readStream
        .schema("day STRING, v BIGINT")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(srcDir)
      val sq = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            id: Long) =>
          batch.persist()
          batch.write.mode("append").parquet(factsDir)
          val days = batch.select("day").distinct()
            .collect().map(_.getString(0)).toSeq
          AggRewrite.refreshPartitions(spark, "stream_spec", facts, days)
          batch.unpersist()
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination(120000)
      // after the stream drains: navigation fires and equals the raw
      // recompute over everything the stream landed
      val nav = serving
      assert(scanPaths(nav).exists(_.contains("summary")),
        s"post-stream navigation fell through: ${scanPaths(nav)}")
      val got = nav.sort("day").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq(("2024-01-01", 2L, 30.0),
        ("2024-01-02", 1L, 100.0), ("d0", 3L, 6.0)), s"got $got")
    } finally {
      AggRewrite.unregister(spark, "stream_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("avg navigation: DECIMAL derives from sum+count partials, " +
      "DOUBLE falls through") {
    summaryDir
    val o = Tables(spark, sf, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    // x18 itself: plan scans the summary
    val x18 = q("x18_avg_navigate")
    assert(scanPaths(x18).exists(_.startsWith(summaryDir)),
      s"x18 did not navigate: ${scanPaths(x18)}")
    // bit-identical to the raw plan, at the avg's own DECIMAL type
    val raw = o.filter(substring(day, 1, 4) === "1997")
      .groupBy(substring(day, 1, 7).as("m"))
      .agg(avg(money(col("o_totalprice"))).as("a"),
        count(lit(1)).as("n"))
    val nav = AggRewrite.navigate(raw)
    assert(scanPaths(nav).exists(_.startsWith(summaryDir)))
    assert(nav.schema == raw.schema, "avg schema drift")
    assert(raw.sort("m").collect().toSeq == nav.sort("m").collect().toSeq)
    // coarse grain too: priority-only avg re-aggregates the day away
    val byPrio = o.groupBy(col("o_orderpriority"))
      .agg(avg(money(col("o_totalprice"))).as("a"))
    val byPrioNav = AggRewrite.navigate(byPrio)
    assert(scansAnyOrdersSummary(byPrioNav))
    assert(byPrio.sort("o_orderpriority").collect().toSeq ==
      byPrioNav.sort("o_orderpriority").collect().toSeq)
    // the DOUBLE child keeps the FP bail-out
    val dbl = AggRewrite.navigate(
      o.groupBy(col("o_orderpriority"))
        .agg(avg(col("o_totalprice")).as("a")))
    assert(scanPaths(dbl).contains(ordersPath),
      s"double avg must fall through: ${scanPaths(dbl)}")
  }

  test("avg navigation rounds half-up at scale+4 (the oracle contract)") {
    // 0.01 over 32 rows: exact mean 0.0003125 — a tie at DECIMAL(22,6)'s
    // last digit. Spark's Average(decimal) rounds HALF_UP → 0.000313;
    // the x18 DuckDB oracle reconstructs the same (2n+d)//(2d) value.
    // If either engine's rounding mode drifted, this canary and the
    // oracle hash would catch it.
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_avg_").toString
    import spark.implicits._
    try {
      (Seq(("a", "0.01")) ++ Seq.fill(31)(("a", "0.00")))
        .toDF("k", "v")
        .select(col("k"), col("v").cast("decimal(18,2)").as("v"))
        .write.mode("overwrite").parquet(s"$base/facts")
      val facts = spark.read.parquet(s"$base/facts")
      AggRewrite.materialize(spark, "avg_tie_spec", facts,
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("v_cnt", "count", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary")
      val raw = facts.groupBy(col("k")).agg(avg(col("v")).as("a"))
      val nav = AggRewrite.navigate(raw)
      assert(scanPaths(nav).exists(_.contains("summary")))
      val r = raw.head.getDecimal(1)
      val n = nav.head.getDecimal(1)
      assert(r.toPlainString == "0.000313",
        s"Spark avg rounding drifted from HALF_UP: $r")
      assert(n.toPlainString == r.toPlainString, s"nav $n != raw $r")
    } finally {
      AggRewrite.unregister(spark, "avg_tie_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("join navigation: fact⋈dim rewrites the fact side onto the " +
      "summary, keeps the dim verbatim") {
    val lineDir = s"file:${operators.ScalePatterns.navLineDir(spark, sf)}"
    val lineitemPath = s"file:$sf/lineitem.parquet"
    val partPath = s"file:$sf/part.parquet"
    val l = Tables(spark, sf, "lineitem")
    val p = Tables(spark, sf, "part")
    // x19 itself: summary + dim scanned, fact not
    val x19 = q("x19_dim_join_navigate")
    val x19Paths = scanPaths(x19)
    assert(x19Paths.exists(_.startsWith(lineDir)),
      s"x19 did not navigate: $x19Paths")
    assert(x19Paths.contains(partPath), s"dim side dropped: $x19Paths")
    assert(!x19Paths.contains(lineitemPath),
      s"fact table still scanned: $x19Paths")
    // bit-identical to the raw join (count(*) multiplicity included)
    def rawJoin = l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        moneySum(col("l_extendedprice")).as("rev"),
        min(col("p_type")).as("t"),
        max(col("l_quantity")).as("qm"))
    val nav = AggRewrite.navigate(rawJoin)
    assert(nav.schema == rawJoin.schema)
    assert(rawJoin.sort("p_brand").collect().toSeq ==
      nav.sort("p_brand").collect().toSeq)
    // dim-side filter above the join passes through
    val filtered = AggRewrite.navigate(
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(col("p_size") > 20)
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n")))
    assert(scanPaths(filtered).exists(_.startsWith(lineDir)),
      s"dim filter blocked navigation: ${scanPaths(filtered)}")
    val rawFiltered = l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(col("p_size") > 20)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    assert(rawFiltered.sort("p_brand").collect().toSeq ==
      filtered.sort("p_brand").collect().toSeq)
  }

  test("join navigation fall-throughs: non-equi key, non-key fact ref, " +
      "outer join, dim-side multiplicity aggregates") {
    operators.ScalePatterns.navLineDir(spark, sf)
    val lineitemPath = s"file:$sf/lineitem.parquet"
    val l = Tables(spark, sf, "lineitem")
    val p = Tables(spark, sf, "part")
    // (a) join key is NOT a summary key (suppkey grain not registered)
    val wrongKey = AggRewrite.navigate(
      l.join(p, col("l_suppkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n")))
    assert(scanPaths(wrongKey).contains(lineitemPath))
    // (b) non-equi condition over a non-key fact column
    val nonEqui = AggRewrite.navigate(
      l.join(p, col("l_partkey") === col("p_partkey") &&
        col("l_quantity") > col("p_size"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n")))
    assert(scanPaths(nonEqui).contains(lineitemPath))
    // (c) outer joins change null semantics — never navigated
    val outer = AggRewrite.navigate(
      l.join(p, col("l_partkey") === col("p_partkey"), "left")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n")))
    assert(scanPaths(outer).contains(lineitemPath))
    // (d) sum over a DIM column is multiplicity-sensitive: each dim row
    // would count once per summary row instead of once per fact row
    val dimSum = AggRewrite.navigate(
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(sum(col("p_size")).as("s")))
    assert(scanPaths(dimSum).contains(lineitemPath))
    // (e) count of a dim column likewise
    val dimCount = AggRewrite.navigate(
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(col("p_type")).as("c")))
    assert(scanPaths(dimCount).contains(lineitemPath))
    // (f) a non-key fact filter above the join
    val factFilter = AggRewrite.navigate(
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") > 10)
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n")))
    assert(scanPaths(factFilter).contains(lineitemPath))
  }

  test("fence is direction-complete: a plan pinned BEFORE an append + " +
      "re-materialization must not navigate") {
    // the reverse-staleness case: the serving DataFrame's FileIndex
    // listed the base BEFORE new rows landed; the summary was then
    // re-materialized from the live base, so the LIVE listing matches
    // the new registration — but THIS plan would read fewer files than
    // the summary aggregates. The fence compares the candidate's own
    // pinned listing, so navigation falls through to the plan's truth.
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_pinned_").toString
    import spark.implicits._
    try {
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      val pinned = spark.read.parquet(s"$base/facts")
      pinned.count() // force the FileIndex to list NOW
      val servedBefore = pinned.groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("s"))
      // rows land, and the summary is re-materialized from the LIVE base
      Seq(("a", 100L)).toDF("k", "v")
        .write.mode("append").parquet(s"$base/facts")
      AggRewrite.materialize(spark, "pinned_spec",
        spark.read.parquet(s"$base/facts"),
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary")
      // a LIVE plan navigates (its listing == the registration's)
      val live = spark.read.parquet(s"$base/facts")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("s"))
      assert(scanPaths(AggRewrite.navigate(live))
        .exists(_.contains("summary")))
      // the PINNED plan must not: its listing predates the append
      val nav = AggRewrite.navigate(servedBefore)
      assert(scanPaths(nav).exists(_.contains("facts")),
        s"pinned-stale plan navigated: ${scanPaths(nav)}")
      val a = nav.filter(col("k") === "a").head
      assert(a.getLong(1) == 1L && a.getDouble(2) == 1.0,
        "pinned plan must serve its own snapshot truth")
    } finally {
      AggRewrite.unregister(spark, "pinned_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("registering a non-file base raises the intended argument error") {
    import spark.implicits._
    val mem = Seq(("a", 1L)).toDF("k", "v") // LocalRelation, not a file
    val err = intercept[IllegalArgumentException] {
      AggRewrite.register(spark, "nonfile_spec", mem,
        keys = Seq("k" -> col("k")),
        measures = Seq(("cnt", "count_star", lit(1))),
        summary = mem)
    }
    assert(err.getMessage.contains("file-source"))
  }

  test("hll navigation: the estimate re-roots onto sketch partials, " +
      "bit-equal; exact count(DISTINCT) navigates onto the BITMAP " +
      "partial (never the sketch), other distincts fall through") {
    val evDir = s"file:${operators.ScalePatterns.navEventsDir(spark, sf)}"
    val eventsPath = s"file:$sf/events.parquet"
    val e = Tables(spark, sf, "events")
    val hll = udaf(graft.functions.HllSketch)
    def estQ = e.groupBy(col("event_type").as("ch"))
      .agg(hll(col("user_id")).as("uv_est"), count(lit(1)).as("pv"))
    val nav = AggRewrite.navigate(estQ)
    assert(scanPaths(nav).exists(_.startsWith(evDir)),
      s"hll estimate did not navigate: ${scanPaths(nav)}")
    assert(!scanPaths(nav).contains(eventsPath))
    // bit-equal: merged partial registers == direct-pass registers
    assert(estQ.sort("ch").collect().toSeq ==
      nav.sort("ch").collect().toSeq)
    // the x20 suite entry's estimate branch navigates too (its exact-UV
    // checker branch deliberately scans raw)
    val x20 = q("x20_hll_navigate")
    assert(scanPaths(x20).exists(_.startsWith(evDir)))
    // exact distinct navigates onto the stored EXACT bitmap partial
    // (never the sketch) and stays bit-equal to the raw plan — union
    // is idempotent, so merged partials carry precisely the raw id set
    def exactQ = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("uv"))
    val exact = AggRewrite.navigate(exactQ)
    assert(scanPaths(exact).exists(_.startsWith(evDir)),
      s"exact distinct did not navigate: ${scanPaths(exact)}")
    assert(!scanPaths(exact).contains(eventsPath))
    assert(exactQ.sort("event_type").collect().toSeq ==
      exact.sort("event_type").collect().toSeq)
    assert(exact.schema == exactQ.schema)
    // the x22 suite entry's navigated branch reads the summary (its
    // uv_direct twin deliberately scans raw — same exact value)
    assert(scanPaths(q("x22_bitmap_distinct_navigate"))
      .exists(_.startsWith(evDir)))
    // ONLY the registered shape maps: a child with no bitmap partial
    // falls through…
    val otherChild = AggRewrite.navigate(
      e.groupBy(col("event_type"))
        .agg(countDistinct(col("event_id")).as("d")))
    assert(scanPaths(otherChild).contains(eventsPath),
      s"unregistered distinct child must fall through: " +
        s"${scanPaths(otherChild)}")
    // …and a non-count DISTINCT over the bitmapped child falls through
    // (a bitmap is a set — it cannot reproduce sum(DISTINCT))
    val sumD = AggRewrite.navigate(
      e.groupBy(col("event_type"))
        .agg(sum_distinct(col("user_id")).as("s")))
    assert(scanPaths(sumD).contains(eventsPath),
      s"sum(DISTINCT) must fall through: ${scanPaths(sumD)}")
  }

  test("x26: retention curves derive ONLY from stored bitmap partials " +
      "— the fact table is never scanned, counts match the raw self-join") {
    val evDir = s"file:${operators.ScalePatterns.navEventsDir(spark, sf)}"
    val eventsPath = s"file:$sf/events.parquet"
    val x26 = q("x26_bitmap_retention")
    val paths = scanPaths(x26)
    assert(paths.exists(_.startsWith(evDir)),
      s"retention did not navigate onto the summary: $paths")
    assert(!paths.contains(eventsPath),
      s"retention scanned the fact table: $paths")
    // exact against the raw user-level day self-join
    import graft.functions.Fns
    val e = Tables(spark, sf, "events")
      .select(Fns.curDate(Fns.nsToSec(col("ts"))).as("d"), col("user_id"))
      .filter(col("user_id").isNotNull).distinct()
    val raw = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.d").cast("date") >= col("a.d").cast("date") &&
          datediff(col("b.d").cast("date"), col("a.d").cast("date")) <= 7)
      .groupBy(col("a.d").as("cohort_day"),
        datediff(col("b.d").cast("date"), col("a.d").cast("date"))
          .cast("long").as("day_offset"))
      .agg(count(lit(1)).as("retained"))
    val got = x26.select("cohort_day", "day_offset", "retained")
      .filter(col("retained") > 0L).sort("cohort_day", "day_offset")
    assert(got.collect().toSeq ==
      raw.sort("cohort_day", "day_offset").collect().toSeq)
  }

  test("bitmap navigation composes with join navigation: exact UV by " +
      "dim name re-derives through the fact⋈dim rewrite") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_bmjoin_").toString
    import spark.implicits._
    try {
      // uid 20 appears in BOTH regions r1 and r2: per-region exact
      // distinct must keep it in each (a bitmap is per-GROUP state)
      Seq(("d1", 10L, 1L), ("d1", 20L, 1L), ("d2", 20L, 2L),
        ("d2", 30L, 2L), ("d3", 10L, 1L))
        .toDF("day", "uid", "region_id")
        .write.mode("overwrite").parquet(s"$root/facts")
      Seq((1L, "north"), (2L, "south")).toDF("region_id", "region_name")
        .write.mode("overwrite").parquet(s"$root/dim")
      val facts = spark.read.parquet(s"$root/facts")
      val dim = spark.read.parquet(s"$root/dim")
      AggRewrite.materialize(spark, "bmjoin_spec", facts,
        keys = Seq("region_id" -> col("region_id")),
        measures = Seq(("uids", "bitmap", col("uid")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/summary")
      def rawQ = facts
        .join(dim, facts("region_id") === dim("region_id"))
        .groupBy(col("region_name"))
        .agg(countDistinct(col("uid")).as("uv"),
          count(lit(1)).as("rows"))
      val nav = AggRewrite.navigate(rawQ)
      val paths = scanPaths(nav)
      assert(paths.exists(_.contains("summary")),
        s"joined distinct did not navigate: $paths")
      assert(!paths.exists(_.contains("facts")),
        s"fact table still scanned: $paths")
      assert(nav.sort("region_name").collect().toSeq ==
        rawQ.sort("region_name").collect().toSeq)
      // the shared uid counts once per region, never deduped across
      assert(nav.sort("region_name").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq ==
        Seq("north" -> 2L, "south" -> 2L))
    } finally {
      AggRewrite.unregister(spark, "bmjoin_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("summary-on-summary: a coarser materialize navigates its OWN " +
      "build onto the finer summary, partials byte-equal to a base " +
      "build; a stale source falls through") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_rollup_").toString
    import spark.implicits._
    val partial = udaf(graft.functions.BitmapPartial)
    val sketch = udaf(graft.functions.HllSketchPartial)
    try {
      Seq(("2024-01-03", 10L, "5.50"), ("2024-01-04", 20L, "7.25"),
        ("2024-02-01", 10L, "9.00"), ("2024-02-02", 30L, "1.75"))
        .toDF("day", "uid", "amt")
        .select(col("day"), col("uid"),
          col("amt").cast("decimal(18,2)").as("amt"))
        .write.mode("overwrite").parquet(s"$root/facts")
      val facts = spark.read.parquet(s"$root/facts")
      val measures = Seq(
        ("amt_sum", "sum", col("amt")),
        ("amt_cnt", "count", col("amt")),
        ("cnt", "count_star", lit(1)),
        ("uids", "bitmap", col("uid")),
        ("uv", "hll", col("uid")))
      AggRewrite.materialize(spark, "roll_src", facts,
        keys = Seq("day" -> col("day")), measures, s"$root/s_day")
      // the MECHANISM: a coarse partial-building aggregate navigates
      // onto the day summary — including the partial-to-partial
      // bitmap/hll derivations
      def coarseBuild = facts
        .groupBy(substring(col("day"), 1, 7).as("month"))
        .agg(sum(col("amt")).as("amt_sum"),
          count(col("amt")).as("amt_cnt"),
          count(lit(1)).as("cnt"),
          partial(col("uid").cast("long")).as("uids"),
          sketch(col("uid")).as("uv"))
      val nav = AggRewrite.navigate(coarseBuild)
      assert(scanPaths(nav).exists(_.contains("s_day")),
        s"rollup build did not navigate: ${scanPaths(nav)}")
      assert(!scanPaths(nav).exists(_.contains("facts")))
      def rowsOf(df: DataFrame) = df.sort("month").collect().toSeq
        .map(r => (r.getString(0), r.getDecimal(1).toString,
          r.getLong(2), r.getLong(3),
          r.getAs[Array[Byte]](4).toSeq, r.getAs[Array[Byte]](5).toSeq))
      assert(rowsOf(nav) == rowsOf(coarseBuild),
        "summary-derived partials differ from base-built ones")
      // the API: materialize the month grain — its build reads the
      // day summary (mechanism above), its data equals a base build
      AggRewrite.materialize(spark, "roll_month", facts,
        keys = Seq("month" -> substring(col("day"), 1, 7)), measures,
        s"$root/s_month")
      val stored = spark.read.parquet(s"$root/s_month/v0")
      assert(rowsOf(stored.select(coarseBuild.columns.map(col).toSeq: _*))
        == rowsOf(coarseBuild))
      // a coarse serving query picks the SMALLER month summary
      // (cost-based selection) and stays exact
      def monthQ = facts
        .groupBy(substring(col("day"), 1, 7).as("month"))
        .agg(countDistinct(col("uid")).as("uv"),
          sum(col("amt")).as("amt_sum"))
      val served = AggRewrite.navigate(monthQ)
      assert(scanPaths(served).exists(_.contains("s_month")),
        s"coarse query did not pick the rollup: ${scanPaths(served)}")
      assert(served.sort("month").collect().toSeq ==
        monthQ.sort("month").collect().toSeq)
      // STALE source: append to the base — a new rollup build must
      // fall through to base truth, never read the stale day summary
      Seq(("2024-02-03", 40L, "2.00")).toDF("day", "uid", "amt")
        .select(col("day"), col("uid"),
          col("amt").cast("decimal(18,2)").as("amt"))
        .write.mode("append").parquet(s"$root/facts")
      val facts2 = spark.read.parquet(s"$root/facts")
      AggRewrite.materialize(spark, "roll_month2", facts2,
        keys = Seq("month" -> substring(col("day"), 1, 7)), measures,
        s"$root/s_month2")
      val feb = spark.read.parquet(s"$root/s_month2/v0")
        .filter(col("month") === "2024-02").head
      assert(feb.getLong(feb.fieldIndex("cnt")) == 3L,
        "stale-source rollup missed the appended base row")
    } finally {
      AggRewrite.unregister(spark, "roll_src")
      AggRewrite.unregister(spark, "roll_month")
      AggRewrite.unregister(spark, "roll_month2")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("bitmap registration refuses non-integral children") {
    val docs = Tables(spark, sf, "documents")
    val err = intercept[IllegalArgumentException] {
      AggRewrite.register(spark, "bm_nonint_spec", docs,
        keys = Seq("lang" -> col("lang")),
        measures = Seq(("ids", "bitmap", col("source"))),
        summary = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("ids")))
    }
    assert(err.getMessage.contains("integral"))
  }

  test("registry releases cleared registrations (plans weak-reachable " +
      "after clear)") {
    // a long-lived service registers summaries on short-lived child
    // sessions; after clear() the registry must hold NOTHING of the
    // registration — the heavyweight state is the analyzed summary
    // plan (it pins a FileIndex listing and, through its relation, the
    // whole child session). The session SHELL itself can stay briefly
    // thread-local-reachable in local mode (pooled executor threads
    // inherit the active-session InheritableThreadLocal and die after
    // their keepalive), so the spec pins the PLAN: once cleared, the
    // registry was its only holder. Stopped-context sessions are
    // additionally evicted wholesale on the next register().
    val base = java.nio.file.Files
      .createTempDirectory("graft_aggrw_evict_").toString
    // the whole clone lifecycle runs inside a helper FRAME: a local val
    // in the test body (the summary DataFrame, the clone) would keep
    // the plan stack-reachable through the GC loop
    def lifecycle(): java.lang.ref.WeakReference[AnyRef] = {
      val clone = spark.newSession()
      val sess = spark
      import sess.implicits._
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$base/facts")
      AggRewrite.enable(clone)
      val summary = AggRewrite.materialize(clone, "evict_spec",
        clone.read.parquet(s"$base/facts"),
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$base/summary")
      // this analyzed plan object is exactly what register() stored
      val stored = summary.queryExecution.analyzed
      // the registration works on the clone before the clear
      val nav = AggRewrite.navigate(
        clone.read.parquet(s"$base/facts").groupBy(col("k"))
          .agg(count(lit(1)).as("n")))
      assert(scanPaths(nav).exists(_.contains("summary")))
      AggRewrite.clear(clone)
      // and after it: the registration is observably gone
      val after = AggRewrite.navigate(
        clone.read.parquet(s"$base/facts").groupBy(col("k"))
          .agg(count(lit(1)).as("n")))
      assert(scanPaths(after).exists(_.contains("facts")),
        "clear() left a live registration")
      new java.lang.ref.WeakReference(stored)
    }
    try {
      val ref = lifecycle()
      var tries = 0
      while (ref.get != null && tries < 40) {
        System.gc()
        // some collectors need allocation pressure to finish reference
        // processing
        val junk = new Array[Array[Byte]](64)
        var i = 0
        while (i < junk.length) { junk(i) = new Array[Byte](1 << 16); i += 1 }
        Thread.sleep(50)
        tries += 1
      }
      assert(ref.get == null,
        "cleared registration's plan still strongly reachable — the " +
          "registry (or rule wiring) retains it")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
    }
  }

  test("delta maintenance: signed folds equal a from-scratch rebuild " +
      "(inserts, updates, deletes, group drops)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_delta_").toString
    import spark.implicits._
    def navQ(facts: DataFrame) = AggRewrite.navigate(
      facts.groupBy(col("day")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s")))
    try {
      // money-typed measure: the DECIMAL-exact case the fold guarantees
      def money(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      // d5 carries a NULL amt beside a non-null one: deleting the
      // non-null row must fold amt_sum back to NULL, not 0
      Seq(("d1", 1L, Some("10.50")), ("d1", 2L, Some("20.25")),
        ("d2", 3L, Some("5.00")), ("d5", 5L, Some("8.00")),
        ("d5", 6L, None))
        .toDF("day", "id", "amt")
        .select(col("day"), col("id"), money(col("amt")).as("amt"),
          col("id").as("v"))
        .write.mode("overwrite").parquet(s"$root/facts1")
      val facts1 = spark.read.parquet(s"$root/facts1")
      val keys = Seq("day" -> col("day"))
      val measures = Seq(
        ("amt_sum", "sum", money(col("amt"))),
        ("amt_cnt", "count", money(col("amt"))),
        ("v_sum", "sum", col("v")),
        ("v_cnt", "count", col("v")),
        ("cnt", "count_star", lit(1)))
      AggRewrite.materialize(spark, "delta_spec", facts1, keys, measures,
        s"$root/summary", partitionBy = Some("day"))
      // one CDC batch: insert d3, update a d1 row (−old +new), delete
      // ALL of d2 (the group must drop out of the summary), delete
      // d5's only NON-NULL amt (its sum must return to NULL)
      val batch = Seq(
        ("d3", 9L, Some("7.77"), 9L, 1),   // insert
        ("d1", 2L, Some("20.25"), 2L, -1), // update: retract old…
        ("d1", 2L, Some("99.75"), 2L, 1),  // …assert new
        ("d2", 3L, Some("5.00"), 3L, -1),  // delete the only d2 row
        ("d5", 5L, Some("8.00"), 5L, -1))  // d5 keeps only a NULL amt
        .toDF("day", "id", "amt", "v", "sign")
        .select(col("day"), col("id"), money(col("amt")).as("amt"),
          col("v"), col("sign"))
      // the post-batch base truth, landed as the new fact state
      batch.filter(col("sign") === 1).drop("sign")
        .unionByName(facts1
          .join(batch.filter(col("sign") === -1)
            .select(col("day").as("dd"), col("id").as("di"),
              col("amt").as("da")),
            col("day") === col("dd") && col("id") === col("di") &&
              col("amt") === col("da"), "left_anti"))
        .write.mode("overwrite").parquet(s"$root/facts2")
      val facts2 = spark.read.parquet(s"$root/facts2")
      AggRewrite.applyDelta(spark, "delta_spec", facts2, batch,
        "sign", batchId = 1L)
      // folded rows == a from-scratch rebuild over the new base
      val folded = spark.read.parquet(s"$root/summary/d1")
      val scratch = facts2.groupBy(col("day"))
        .agg(sum(money(col("amt"))).as("amt_sum"),
          sum(col("v")).as("v_sum"), count(lit(1)).as("cnt"))
      val a = folded.select(col("day"), col("amt_sum").cast("string"),
        col("v_sum"), col("cnt")).sort("day").collect().toSeq
      val b = scratch.select(col("day"), col("amt_sum").cast("string"),
        col("v_sum"), col("cnt")).sort("day").collect().toSeq
      assert(a == b, s"fold drifted from rebuild:\n$a\n$b")
      assert(folded.filter(col("day") === "d2").isEmpty,
        "emptied group must leave the summary")
      // the all-NULL-after-delete sum is NULL, never 0
      assert(folded.filter(col("day") === "d5")
        .select(col("amt_sum")).head.isNullAt(0),
        "sum over an all-NULL group must fold back to NULL")
      // navigation fires on the new base and serves the folded truth
      val nav = navQ(facts2)
      assert(scanPaths(nav).exists(_.contains("/d1")),
        s"post-delta navigation missed the new version: ${scanPaths(nav)}")
      val d1 = nav.filter(col("day") === "d1").head
      assert(d1.getLong(1) == 2L && d1.getDouble(2) == 3.0)
    } finally {
      AggRewrite.unregister(spark, "delta_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("delta maintenance: INSERT-ONLY batches fold monotone partials " +
      "(min/max/hll/bitmap) bit-equal to a from-scratch rebuild") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_mono_").toString
    import spark.implicits._
    try {
      Seq(("d1", 5L), ("d1", 9L), ("d2", 100L)).toDF("day", "id")
        .write.mode("overwrite").parquet(s"$root/facts1")
      val facts1 = spark.read.parquet(s"$root/facts1")
      val keys = Seq("day" -> col("day"))
      val measures = Seq(
        ("id_min", "min", col("id")),
        ("id_max", "max", col("id")),
        ("uv_hll", "hll", col("id")),
        ("ids", "bitmap", col("id")),
        ("cnt", "count_star", lit(1)))
      AggRewrite.materialize(spark, "mono_spec", facts1, keys, measures,
        s"$root/summary")
      // append-only batch: a new low id on d1, a DUPLICATE id on d1
      // (count grows, the id SET must not), and a brand-new day d3
      val batch = Seq(("d1", 2L, 1), ("d1", 9L, 1), ("d3", 7L, 1))
        .toDF("day", "id", "sign")
      batch.drop("sign").unionByName(facts1)
        .write.mode("overwrite").parquet(s"$root/facts2")
      val facts2 = spark.read.parquet(s"$root/facts2")
      AggRewrite.applyDelta(spark, "mono_spec", facts2, batch,
        "sign", batchId = 1L)
      // folded partials == a from-scratch build over the new base,
      // BYTE-equal for the sketch and the bitmap (register-max and
      // union are canonical)
      val folded = spark.read.parquet(s"$root/summary/d1")
      val scratch = facts2.groupBy(col("day"))
        .agg(min(col("id")).as("id_min"), max(col("id")).as("id_max"),
          udaf(graft.functions.HllSketchPartial).apply(col("id"))
            .as("uv_hll"),
          udaf(graft.functions.BitmapPartial)
            .apply(col("id").cast("long")).as("ids"),
          count(lit(1)).as("cnt"))
      val a = folded.sort("day").collect().toSeq
      val b = scratch.select(folded.columns.map(col).toSeq: _*)
        .sort("day").collect().toSeq
      assert(a.size == b.size && a.zip(b).forall { case (x, y) =>
        x.getString(0) == y.getString(0) &&
          x.getLong(1) == y.getLong(1) && x.getLong(2) == y.getLong(2) &&
          java.util.Arrays.equals(x.getAs[Array[Byte]](3),
            y.getAs[Array[Byte]](3)) &&
          java.util.Arrays.equals(x.getAs[Array[Byte]](4),
            y.getAs[Array[Byte]](4)) &&
          x.getLong(5) == y.getLong(5)
      }, s"monotone fold drifted from rebuild:\n$a\n$b")
      // navigation serves the folded truth: exact distinct + min/max
      def rawQ = facts2.groupBy(col("day"))
        .agg(countDistinct(col("id")).as("uv"),
          min(col("id")).as("lo"), max(col("id")).as("hi"))
      val nav = AggRewrite.navigate(rawQ)
      assert(scanPaths(nav).exists(_.contains("/d1")),
        s"post-fold navigation missed the new version: ${scanPaths(nav)}")
      assert(nav.sort("day").collect().toSeq ==
        rawQ.sort("day").collect().toSeq)
      // the duplicate insert left d1's distinct count untouched
      assert(nav.filter(col("day") === "d1").head.getLong(1) == 3L)
    } finally {
      AggRewrite.unregister(spark, "mono_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("delta maintenance: delete-bearing batches rebuild ONLY the " +
      "touched groups' monotone partials, byte-equal to from-scratch") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_delmono_").toString
    import spark.implicits._
    try {
      // four day-groups; the summary carries min/max/hll/bitmap —
      // every partial class a delete can't invert
      Seq(("d1", 5L), ("d1", 9L), ("d2", 20L), ("d2", 21L),
        ("d3", 30L), ("d3", 31L), ("d4", 40L)).toDF("day", "id")
        .write.mode("overwrite").parquet(s"$root/facts1")
      val facts1 = spark.read.parquet(s"$root/facts1")
      val keys = Seq("day" -> col("day"))
      val measures = Seq(
        ("id_min", "min", col("id")),
        ("id_max", "max", col("id")),
        ("uv_hll", "hll", col("id")),
        ("ids", "bitmap", col("id")),
        ("cnt", "count_star", lit(1)))
      AggRewrite.materialize(spark, "delmono_spec", facts1, keys,
        measures, s"$root/summary", partitionBy = Some("day"))
      // the CDC mix: an insert-only group (d1, folds via the kernels),
      // a delete that REMOVES a group max (d2 loses 21), an update
      // (d3: −31 +35), and an untouched group (d4)
      val batch = Seq(
        ("d1", 2L, 1),   // insert-only group: incremental fold
        ("d2", 21L, -1), // delete the max — only a rescan can lower it
        ("d3", 31L, -1), ("d3", 35L, 1)) // update = −old +new
        .toDF("day", "id", "sign")
      facts1
        .join(Seq(("d2", 21L), ("d3", 31L)).toDF("dd", "di"),
          col("day") === col("dd") && col("id") === col("di"),
          "left_anti")
        .unionByName(batch.filter(col("sign") === 1).drop("sign"))
        .write.mode("overwrite").parquet(s"$root/facts2")
      val facts2 = spark.read.parquet(s"$root/facts2")
      // a wide-delete batch REFUSES past the key cap (before any
      // driver materialization): the message names the cap and routes
      // toward refreshPartitions; the registration is untouched, so
      // the real fold below still runs against the same version
      spark.conf.set("spark.graft.delta.deleteKeyCap", "1")
      val refusal = intercept[IllegalStateException] {
        AggRewrite.applyDelta(spark, "delmono_spec", facts2, batch,
          "sign", batchId = 1L)
      }
      assert(refusal.getMessage.contains("deleteKeyCap") &&
        refusal.getMessage.contains("refreshPartitions"),
        s"refusal must name the cap and the advice: ${refusal.getMessage}")
      spark.conf.unset("spark.graft.delta.deleteKeyCap")
      AggRewrite.applyDelta(spark, "delmono_spec", facts2, batch,
        "sign", batchId = 1L)
      // the rescan was bounded: exactly the 2 delete-touched groups,
      // and the base scan was scoped to their partition-key values
      assert(AggRewrite.lastDeleteFold ==
        Some(AggRewrite.DeleteFoldStats(2L, partitionScoped = true)),
        s"rescan not bounded: ${AggRewrite.lastDeleteFold}")
      // folded partials == a from-scratch build over the new base,
      // BYTE-equal for the sketch and the bitmap
      val folded = spark.read.parquet(s"$root/summary/d1")
      val scratch = facts2.groupBy(col("day"))
        .agg(min(col("id")).as("id_min"), max(col("id")).as("id_max"),
          udaf(graft.functions.HllSketchPartial).apply(col("id"))
            .as("uv_hll"),
          udaf(graft.functions.BitmapPartial)
            .apply(col("id").cast("long")).as("ids"),
          count(lit(1)).as("cnt"))
      val a = folded.select("day", "id_min", "id_max", "uv_hll", "ids",
        "cnt").sort("day").collect().toSeq
      val b = scratch.select("day", "id_min", "id_max", "uv_hll", "ids",
        "cnt").sort("day").collect().toSeq
      assert(a.size == b.size && a.zip(b).forall { case (x, y) =>
        x.getString(0) == y.getString(0) &&
          x.getLong(1) == y.getLong(1) && x.getLong(2) == y.getLong(2) &&
          java.util.Arrays.equals(x.getAs[Array[Byte]](3),
            y.getAs[Array[Byte]](3)) &&
          java.util.Arrays.equals(x.getAs[Array[Byte]](4),
            y.getAs[Array[Byte]](4)) &&
          x.getLong(5) == y.getLong(5)
      }, s"delete fold drifted from rebuild:\n$a\n$b")
      // the delete really lowered d2's max (kernels alone never could)
      assert(folded.filter(col("day") === "d2").head
        .getAs[Long]("id_max") == 20L)
      // navigation serves the folded truth bit-equal to raw
      def rawQ = facts2.groupBy(col("day"))
        .agg(countDistinct(col("id")).as("uv"),
          min(col("id")).as("lo"), max(col("id")).as("hi"))
      val nav = AggRewrite.navigate(rawQ)
      assert(scanPaths(nav).exists(_.contains("/d1")),
        s"post-fold navigation missed the new version: ${scanPaths(nav)}")
      assert(nav.sort("day").collect().toSeq ==
        rawQ.sort("day").collect().toSeq)
      // a group emptied by deletes leaves the summary entirely
      val batch2 = Seq(("d4", 40L, -1)).toDF("day", "id", "sign")
      facts2.filter(col("day") =!= "d4")
        .write.mode("overwrite").parquet(s"$root/facts3")
      val facts3 = spark.read.parquet(s"$root/facts3")
      AggRewrite.applyDelta(spark, "delmono_spec", facts3, batch2,
        "sign", batchId = 2L)
      assert(spark.read.parquet(s"$root/summary/d2")
        .filter(col("day") === "d4").isEmpty,
        "a group whose every base row was deleted must leave the summary")
      // the introspection stat always describes the MOST RECENT fold:
      // a delete-free fold resets it to None (no stale stats from the
      // delete-bearing batch above)
      assert(AggRewrite.lastDeleteFold.isDefined)
      val batch3 = Seq(("d1", 7L, 1)).toDF("day", "id", "sign")
      facts3.unionByName(batch3.drop("sign"))
        .write.mode("overwrite").parquet(s"$root/facts4")
      AggRewrite.applyDelta(spark, "delmono_spec",
        spark.read.parquet(s"$root/facts4"), batch3, "sign", batchId = 3L)
      assert(AggRewrite.lastDeleteFold.isEmpty,
        "a delete-free fold must reset lastDeleteFold to None")
    } finally {
      AggRewrite.unregister(spark, "delmono_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("delta fold == from-scratch rebuild on RANDOM signed batches " +
      "(generative: mixed inserts/deletes/updates, overlapping groups, " +
      "all four partial classes)") {
    // the split logic (delete-key anti-join, group-grain rebuild,
    // full-outer stitch, NULL restoration, emptied-group drop) has
    // enough branches that fixed fixtures cannot walk them all — a
    // seeded generator drives random base/batch shapes through the
    // SAME byte-equality contract the fixture tests pin
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i =>
        g.apply(Gen.Parameters.default, Seed(1400L + i)))
    val rowGen = for {
      day <- Gen.oneOf("d1", "d2", "d3", "d4")
      id <- Gen.chooseNum(0L, 15L) // small domain → overlapping groups
      v <- Gen.option(Gen.chooseNum(-9L, 9L)) // nulls exercise the
      // sum-NULL-restoration path (a delete removing the last
      // non-null v must fold the sum back to NULL, not 0)
    } yield (day, id, v)
    val caseGen = for {
      nBase <- Gen.chooseNum(6, 16)
      base <- Gen.listOfN(nBase, rowGen)
      nDel <- Gen.chooseNum(0, math.min(6, nBase))
      delIdx <- Gen.pick(nDel, base.indices)
      nIns <- Gen.chooseNum(0, 5)
      ins <- Gen.listOfN(nIns, rowGen)
    } yield (base, delIdx.toSet, ins)
    samples(caseGen, 6).zipWithIndex.foreach {
      case ((base, delIdx, ins), i) =>
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_prop_fold_$i").toString
        val name = s"prop_fold_$i"
        try {
          def frame(rows: Seq[(String, Long, Option[Long])]) =
            rows.map { case (d, id, v) => (d, id, v.map(Long.box).orNull) }
              .toDF("day", "id", "v")
              .select(col("day"), col("id"), col("v").cast("long"))
          frame(base).write.mode("overwrite").parquet(s"$root/facts1")
          val keys = Seq("day" -> col("day"))
          val measures = Seq(
            ("id_min", "min", col("id")),
            ("id_max", "max", col("id")),
            ("v_min", "min", col("v")),
            ("v_sum", "sum", col("v")),
            ("v_cnt", "count", col("v")),
            ("uv_hll", "hll", col("id")),
            ("ids", "bitmap", col("id")),
            ("cnt", "count_star", lit(1)))
          AggRewrite.materialize(spark, name,
            spark.read.parquet(s"$root/facts1"), keys, measures,
            s"$root/summary", partitionBy = Some("day"))
          val kept = base.indices.filterNot(delIdx).map(base)
          val facts2 = kept ++ ins
          frame(facts2).write.mode("overwrite").parquet(s"$root/facts2")
          val batch = frame(delIdx.toSeq.sorted.map(base))
            .withColumn("sign", lit(-1))
            .unionByName(frame(ins).withColumn("sign", lit(1)))
          AggRewrite.applyDelta(spark, name,
            spark.read.parquet(s"$root/facts2"), batch, "sign",
            batchId = 1L)
          val scratchDf = frame(facts2).groupBy(col("day"))
            .agg(min(col("id")).as("id_min"), max(col("id")).as("id_max"),
              min(col("v")).as("v_min"), sum(col("v")).as("v_sum"),
              count(col("v")).as("v_cnt"),
              udaf(graft.functions.HllSketchPartial).apply(col("id"))
                .as("uv_hll"),
              udaf(graft.functions.BitmapPartial)
                .apply(col("id").cast("long")).as("ids"),
              count(lit(1)).as("cnt"))
          // applyDelta always lands version d<batchId> (even a no-op
          // batch re-folds into a new version); explicit schema so an
          // all-deleted (empty) store still reads
          val folded = spark.read.schema(scratchDf.schema)
            .parquet(s"$root/summary/d1")
            .select(scratchDf.columns.map(col).toSeq: _*) // a
            // partitioned read appends the partition column last —
            // realign to the scratch column order for positional diff
            .sort("day").collect().toSeq
          val scratch = scratchDf.sort("day").collect().toSeq
          assert(folded.size == scratch.size,
            s"case $i: group sets drifted\nfold=$folded\nscratch=$scratch")
          folded.zip(scratch).foreach { case (a, b) =>
            (0 until a.length).foreach { j =>
              val eq = (a.get(j), b.get(j)) match {
                case (x: Array[Byte], y: Array[Byte]) =>
                  java.util.Arrays.equals(x, y)
                case (x, y) => x == y
              }
              assert(eq, s"case $i col ${a.schema(j).name}: " +
                s"fold=${a.get(j)} scratch=${b.get(j)}\n$a\n$b")
            }
          }
        } finally {
          AggRewrite.unregister(spark, name)
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete()
          }
          rm(new java.io.File(root))
        }
    }
  }

  test("delta maintenance self-heals: replay is a no-op, a torn fold " +
      "re-folds deterministically") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_heal_").toString
    import spark.implicits._
    try {
      Seq(("d1", 1L), ("d1", 2L), ("d2", 10L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$root/facts1")
      val facts1 = spark.read.parquet(s"$root/facts1")
      val keys = Seq("day" -> col("day"))
      val measures = Seq(("v_sum", "sum", col("v")),
        ("v_cnt", "count", col("v")),
        ("cnt", "count_star", lit(1)))
      AggRewrite.materialize(spark, "heal_spec", facts1, keys, measures,
        s"$root/summary")
      val batch = Seq(("d2", 5L, 1)).toDF("day", "v", "sign")
      facts1.unionByName(batch.drop("sign"))
        .write.mode("overwrite").parquet(s"$root/facts2")
      val facts2 = spark.read.parquet(s"$root/facts2")
      // TORN fold: garbage lands in the target version dir (a crash
      // mid-write), and the registration was never re-signed
      Seq(("dX", 999L, 999L, 999L)).toDF("day", "v_sum", "v_cnt", "cnt")
        .write.mode("overwrite").parquet(s"$root/summary/d7")
      // the replayed batch re-folds from the still-registered v0 into
      // the SAME dir and blesses it — self-healed
      AggRewrite.applyDelta(spark, "heal_spec", facts2, batch, "sign", 7L)
      val healed = spark.read.parquet(s"$root/summary/d7")
        .select("day", "v_sum", "cnt").sort("day").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(healed == Seq(("d1", 3L, 2L), ("d2", 15L, 2L)), s"$healed")
      // a SECOND replay of the same batch id is a no-op even with a
      // poisoned payload (already-folded guard)
      val poison = Seq(("d1", 1000000L, 1)).toDF("day", "v", "sign")
      AggRewrite.applyDelta(spark, "heal_spec", facts2, poison, "sign", 7L)
      val after = spark.read.parquet(s"$root/summary/d7")
        .agg(sum(col("v_sum"))).head.getLong(0)
      assert(after == 18L, "replayed batch must not double-fold")
      // drifted deltas (count mismatch) refuse the blessing
      val drift = Seq(("d9", 1L, 1)).toDF("day", "v", "sign")
      val err = intercept[IllegalStateException] {
        AggRewrite.applyDelta(spark, "heal_spec", facts2, drift, "sign", 8L)
      }
      assert(err.getMessage.contains("reconciliation"))
    } finally {
      AggRewrite.unregister(spark, "heal_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("streaming delta maintenance: foreachBatch folds keep the " +
      "summary equal to a from-scratch rebuild after every batch") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_sdelta_").toString
    import spark.implicits._
    val factsDir = s"$root/facts"
    val srcDir = s"$root/src"
    def facts = spark.read.parquet(factsDir)
    def serving = AggRewrite.navigate(
      facts.groupBy(col("day")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s")))
    try {
      Seq(("d0", 1L), ("d0", 2L)).toDF("day", "v")
        .write.mode("overwrite").parquet(factsDir)
      AggRewrite.materialize(spark, "sdelta_spec", facts,
        keys = Seq("day" -> col("day")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("v_cnt", "count", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/summary", partitionBy = Some("day"))
      assert(scanPaths(serving).exists(_.contains("summary")))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(srcDir))
      Seq(("2024-01-01", 10L), ("2024-01-01", 20L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$srcDir/shard1")
      Seq(("d0", 3L), ("2024-01-02", 100L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$srcDir/shard2")
      val perBatchChecks =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val stream = spark.readStream
        .schema("day STRING, v BIGINT")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(srcDir)
      val sq = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.persist()
          batch.write.mode("append").parquet(factsDir)
          // the k8 algebra: an append-only CDC batch is all +1 rows
          AggRewrite.applyDelta(spark, "sdelta_spec", facts,
            batch.withColumn("sign", lit(1)), "sign", id)
          batch.unpersist()
          // after EVERY fold: summary == from-scratch rebuild
          val scratch = facts.groupBy(col("day"))
            .agg(sum(col("v")).as("v_sum"), count(lit(1)).as("cnt"))
            .sort("day").collect().toSeq
          val nav = serving
          if (!scanPaths(nav).exists(_.contains("summary")))
            perBatchChecks.add(s"batch $id: navigation fell through")
          val got = nav.sort("day").collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          val want = scratch.map(r => (r.getString(0), r.getLong(2)))
          if (got != want)
            perBatchChecks.add(s"batch $id: $got != $want")
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination(120000)
      assert(perBatchChecks.isEmpty,
        perBatchChecks.toArray.mkString("\n"))
      val got = serving.sort("day").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq(("2024-01-01", 2L, 30.0),
        ("2024-01-02", 1L, 100.0), ("d0", 3L, 6.0)), s"got $got")
    } finally {
      AggRewrite.unregister(spark, "sdelta_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("partition stitch: a touched day serves summary ∪ raw instead " +
      "of falling through whole") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_stitch_").toString
    import spark.implicits._
    val schema = "v BIGINT, tier STRING, day STRING"
    // explicit schema: partition-value inference would re-type the day
    // dirs and the stitch (correctly) refuses un-parseable literals
    def facts = spark.read.schema(schema).parquet(s"$root/facts")
    // countDistinct exercises the bitmap partial THROUGH the stitch:
    // the summary branch serves stored bytes, the raw branch builds
    // fresh ones, and the final merge unions across both — idempotence
    // keeps it exact even when an id repeats across touched and
    // untouched days
    def rawQ = facts.groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("s"),
        countDistinct(col("v")).as("dv"))
    def navQ = AggRewrite.navigate(rawQ)
    try {
      Seq((1L, "gold", "d1"), (2L, "std", "d1"), (10L, "gold", "d2"),
        (20L, "std", "d3"))
        .toDF("v", "tier", "day")
        .write.partitionBy("day").mode("overwrite")
        .parquet(s"$root/facts")
      AggRewrite.materialize(spark, "stitch_spec", facts,
        keys = Seq("day" -> col("day"), "tier" -> col("tier")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1)),
          ("ids", "bitmap", col("v"))),
        path = s"$root/summary")
      // fresh: summary only
      val fresh = navQ
      assert(scanPaths(fresh).exists(_.contains("summary")))
      assert(!scanPaths(fresh).exists(_.contains("facts")))
      // touch ONE day (append into d2): the plan must now scan BOTH —
      // the summary for d1/d3 and the raw store for d2
      Seq((100L, "gold", "d2")).toDF("v", "tier", "day")
        .write.partitionBy("day").mode("append").parquet(s"$root/facts")
      val stitched = navQ
      val paths = scanPaths(stitched)
      assert(paths.exists(_.contains("summary")),
        s"summary branch missing: $paths")
      assert(paths.exists(_.contains("facts")),
        s"raw branch missing: $paths")
      // and the stitched result equals the all-raw twin (groups span
      // touched and untouched days — the union re-aggregates across)
      assert(stitched.sort("tier").collect().toSeq ==
        rawQ.sort("tier").collect().toSeq)
      // a NEW day stitches the same way
      Seq((7L, "std", "d9")).toDF("v", "tier", "day")
        .write.partitionBy("day").mode("append").parquet(s"$root/facts")
      val withNew = navQ
      assert(scanPaths(withNew).exists(_.contains("facts")))
      assert(withNew.sort("tier").collect().toSeq ==
        rawQ.sort("tier").collect().toSeq)
      // a DELETED day: its rows leave both branches
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(s"$root/facts/day=d3"))
      val afterDelete = navQ
      assert(scanPaths(afterDelete).exists(_.contains("summary")))
      assert(afterDelete.sort("tier").collect().toSeq ==
        rawQ.sort("tier").collect().toSeq)
      // day-grouped query through the stitch: the touched day's row
      // comes from raw, untouched days from the summary
      val byDay = AggRewrite.navigate(
        facts.groupBy(col("day")).agg(sum(col("v")).as("sv")))
      assert(scanPaths(byDay).exists(_.contains("summary")))
      assert(byDay.sort("day").collect().toSeq ==
        facts.groupBy(col("day")).agg(sum(col("v")).as("sv"))
          .sort("day").collect().toSeq)
      // re-materializing restores a pure-summary plan
      AggRewrite.materialize(spark, "stitch_spec", facts,
        keys = Seq("day" -> col("day"), "tier" -> col("tier")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1)),
          ("ids", "bitmap", col("v"))),
        path = s"$root/summary2")
      val back = navQ
      assert(scanPaths(back).exists(_.contains("summary2")))
      assert(!scanPaths(back).exists(_.contains("facts")))
    } finally {
      AggRewrite.unregister(spark, "stitch_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("partition stitch stays sound where it can't reason: " +
      "unpartitioned bases and filtered queries") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_stitch2_").toString
    import spark.implicits._
    try {
      // unpartitioned base: any change is a whole-listing fall-through
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "v")
        .write.mode("overwrite").parquet(s"$root/flat")
      AggRewrite.materialize(spark, "stitch_flat",
        spark.read.parquet(s"$root/flat"),
        keys = Seq("day" -> col("day")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/fsum")
      Seq(("d2", 5L)).toDF("day", "v")
        .write.mode("append").parquet(s"$root/flat")
      val flatNav = AggRewrite.navigate(
        spark.read.parquet(s"$root/flat").groupBy(col("day"))
          .agg(count(lit(1)).as("n")))
      assert(!scanPaths(flatNav).exists(_.contains("fsum")),
        s"unpartitioned stale base must fall through: ${scanPaths(flatNav)}")
      // partitioned base, KEY-filtered query across the stitch: the
      // filter applies above the union, so both branches obey it
      val schema = "v BIGINT, day STRING"
      def facts = spark.read.schema(schema).parquet(s"$root/facts")
      Seq((1L, "d1"), (2L, "d2"), (3L, "d3")).toDF("v", "day")
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/facts")
      AggRewrite.materialize(spark, "stitch_filter", facts,
        keys = Seq("day" -> col("day")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/psum")
      Seq((10L, "d2")).toDF("v", "day")
        .write.partitionBy("day").mode("append").parquet(s"$root/facts")
      def fq = facts.filter(col("day") =!= "d3")
        .groupBy(col("day")).agg(sum(col("v")).cast("double").as("s"))
      val nav = AggRewrite.navigate(fq)
      assert(scanPaths(nav).exists(_.contains("psum")) &&
        scanPaths(nav).exists(_.contains("facts")),
        s"filtered stitch shape: ${scanPaths(nav)}")
      assert(nav.sort("day").collect().toSeq ==
        fq.sort("day").collect().toSeq)
    } finally {
      AggRewrite.unregister(spark, "stitch_flat")
      AggRewrite.unregister(spark, "stitch_filter")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("stitched plans converge under the session-wide route (the raw " +
      "branch is tagged, not re-stitched forever)") {
    // the raw branch is itself a derivable Aggregate over the (still
    // Touched) base — without the StitchedTag the fixed-point batch
    // re-stitches it every iteration ('Max iterations (100) reached',
    // a ~100-deep nested Union; a hard failure in errorOnExceed
    // batches). With the tag the second iteration is a no-op.
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_conv_").toString
    val clone = spark.newSession()
    import spark.implicits._
    try {
      Seq((1L, "d1"), (2L, "d2")).toDF("v", "day")
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/facts")
      val schema = "v BIGINT, day STRING"
      def facts = clone.read.schema(schema).parquet(s"$root/facts")
      AggRewrite.enable(clone)
      AggRewrite.materialize(clone, "conv_spec", facts,
        keys = Seq("day" -> col("day")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/summary")
      Seq((10L, "d2")).toDF("v", "day")
        .write.partitionBy("day").mode("append").parquet(s"$root/facts")
      // NO navigate() call — the session-wide rule plans this query
      val q = facts.groupBy(col("day"))
        .agg(sum(col("v")).cast("double").as("s"))
      val optimized = q.queryExecution.optimizedPlan
      val unions = optimized.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }
      assert(unions.size == 1,
        s"stitch did not converge: ${unions.size} Unions in\n$optimized")
      val got = q.sort("day").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == Seq(("d1", 1.0), ("d2", 12.0)), s"$got")
    } finally {
      AggRewrite.clear(clone)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("a same-named dim column (or an alias of one) never maps onto " +
      "a fact key or partial") {
    // fact and dim SHARE the column name 'region': canonical forms
    // mark attributes by NAME, so the guard must test the RESOLVED
    // expression — an above-join alias of dim('region') otherwise
    // slips past and the query silently groups by the FACT's values
    val root = java.nio.file.Files
      .createTempDirectory("graft_aggrw_collide_").toString
    import spark.implicits._
    try {
      Seq((1L, "fr-A", 10L), (1L, "fr-A", 20L), (2L, "fr-B", 5L))
        .toDF("fid", "region", "v")
        .write.mode("overwrite").parquet(s"$root/facts")
      Seq((1L, "dim-X"), (2L, "dim-Y")).toDF("did", "region")
        .write.mode("overwrite").parquet(s"$root/dim")
      val facts = spark.read.parquet(s"$root/facts")
      val dim = spark.read.parquet(s"$root/dim")
      AggRewrite.materialize(spark, "collide_spec", facts,
        keys = Seq("fid" -> col("fid"), "region" -> col("region")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("v_cnt", "count", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$root/summary")
      def joined = facts.join(dim, col("fid") === col("did"))
      // alias the DIM's region above the join, group by it
      val q = joined.select(dim("region").as("r"), col("v"))
        .groupBy(col("r")).agg(count(lit(1)).as("n"))
      val nav = AggRewrite.navigate(q)
      val want = q.sort("r").collect().toSeq
      assert(nav.sort("r").collect().toSeq == want,
        "aliased dim column mapped onto the same-named fact key")
      assert(want.map(_.getString(0)).toSet == Set("dim-X", "dim-Y"),
        "fixture must group by DIM values")
      // min over the dim's region likewise stays the dim's
      val qm = joined.groupBy(col("fid"))
        .agg(min(dim("region")).as("m"))
      val navM = AggRewrite.navigate(qm)
      assert(navM.sort("fid").collect().toSeq ==
        qm.sort("fid").collect().toSeq)
      assert(navM.sort("fid").collect().map(_.getString(1)).toSet ==
        Set("dim-X", "dim-Y"))
    } finally {
      AggRewrite.unregister(spark, "collide_spec")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("dim-chain navigation: fact⋈customer⋈nation navigates through " +
      "the inner-join spine; composite dim sides stay verbatim") {
    val custDir = s"file:${operators.ScalePatterns.navCustDir(spark, sf)}"
    val o = Tables(spark, sf, "orders")
    val c = Tables(spark, sf, "customer")
    val n = Tables(spark, sf, "nation")
    // x21 itself: summary + both dims scanned, fact not
    val x21 = q("x21_province_navigate")
    val paths = scanPaths(x21)
    assert(paths.exists(_.startsWith(custDir)),
      s"x21 did not navigate: $paths")
    assert(paths.contains(s"file:$sf/customer.parquet") &&
      paths.contains(s"file:$sf/nation.parquet"), s"dims dropped: $paths")
    assert(!paths.contains(ordersPath), s"fact still scanned: $paths")
    // bit-identical to the raw three-way join (two-hop multiplicity)
    def rawChain = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("order_ct"),
        moneySum(col("o_totalprice")).as("amt"),
        avg(money(col("o_totalprice"))).as("av"))
    val nav = AggRewrite.navigate(rawChain)
    assert(nav.schema == rawChain.schema)
    assert(rawChain.sort("n_name").collect().toSeq ==
      nav.sort("n_name").collect().toSeq)
    // a COMPOSITE dim side (pre-joined customer⋈nation behind a
    // projection — its internal join is NOT on the spine) stays
    // verbatim and the rewrite still fires
    val geo = c.join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("g_custkey"), col("n_name"))
    def rawComposite = o.join(geo, col("o_custkey") === col("g_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("order_ct"),
        moneySum(col("o_totalprice")).as("amt"))
    val navC = AggRewrite.navigate(rawComposite)
    assert(scanPaths(navC).exists(_.startsWith(custDir)),
      s"composite dim blocked navigation: ${scanPaths(navC)}")
    assert(rawComposite.sort("n_name").collect().toSeq ==
      navC.sort("n_name").collect().toSeq)
    // an OUTER join anywhere on the spine falls the whole query through
    val outerSpine = AggRewrite.navigate(
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_name")).agg(count(lit(1)).as("ct")))
    assert(scanPaths(outerSpine).contains(ordersPath),
      s"outer spine must fall through: ${scanPaths(outerSpine)}")
  }

  test("SQL-text serving queries navigate too (temp view over the fact)") {
    summaryDir
    Tables(spark, sf, "orders").createOrReplaceTempView("nav_orders")
    try {
      val sqlQ = spark.sql(
        """SELECT substring(date_format(o_orderdate, 'yyyy-MM-dd'), 1, 7)
          |         AS order_month,
          |       count(1) AS order_ct,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         AS order_amount
          |FROM nav_orders GROUP BY 1""".stripMargin)
      val nav = AggRewrite.navigate(sqlQ)
      assert(scansAnyOrdersSummary(nav),
        s"SQL route did not navigate: ${scanPaths(nav)}")
      val a = sqlQ.sort("order_month").collect().toSeq
      val b = nav.sort("order_month").collect().toSeq
      assert(a == b)
    } finally spark.catalog.dropTempView("nav_orders")
  }

  test("session-wide route: GraftExtensions rewrites without navigate") {
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(ext => new graft.plans.GraftExtensions().apply(ext))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      assert(s2 ne shared)
      val sd = java.nio.file.Files
        .createTempDirectory("graft_aggrw_spec_").toString
      try {
        AggRewrite.materialize(s2, "spec_summary",
          s2.read.parquet(s"$sf/orders.parquet"),
          operators.ScalePatterns.navKeys,
          operators.ScalePatterns.navMeasures, sd)
        val o = s2.read.parquet(s"$sf/orders.parquet")
        val auto = o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("o_totalprice")).as("amt"))
        // NO navigate call: the injected optimizer rule does the swap
        assert(scanPaths(auto).exists(_.startsWith(s"file:$sd")),
          s"injected rule did not fire: ${scanPaths(auto)}")
        val direct = o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("o_totalprice")).as("amt"))
          .sort("o_orderpriority").collect().toSeq
        // results equal those of the unextended shared session
        val expect = Tables(shared, sf, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("o_totalprice")).as("amt"))
          .sort("o_orderpriority").collect().toSeq
        assert(direct == expect)
      } finally {
        AggRewrite.clear(s2)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        rm(new java.io.File(sd))
      }
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
    }
  }
}
