package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.{QueryModule, Standing, Tables}
import graft.functions.{Fns, Oracle}

/** Skew- and shuffle-management patterns that only matter at cluster
  * scale, expressed so they stay oracle-checkable (the rewrite must be
  * semantically invisible).
  *
  *  - Salted two-phase aggregation: the events table has only 5
  *    event_type keys — at 100 TB a plain groupBy(event_type) funnels the
  *    whole table through 5 reducers. Phase 1 aggregates on
  *    (key, salt = hash(row) % N) spreading each hot key over N
  *    reducers; phase 2 merges the N partials per key. Catalyst's
  *    map-side partial aggregation already does this for algebraic aggs —
  *    the explicit salt matters for the non-algebraic ones
  *    (exact distinct sets, collect_list) where partial-agg can't help.
  *  - Two-phase exact distinct: countDistinct under salt =
  *    distinct (key, salt, user) partials → merge — the same rewrite
  *    Spark plans for count(DISTINCT) via Expand, written explicitly so
  *    the shuffle keys are visible and tunable.
  */
object ScalePatterns extends QueryModule {
  import Fns._

  private val SALT_BUCKETS = 16

  /** Salted two-phase sum/count over a 5-key (maximally skewed) space. */
  private def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val salted = e.select(col("event_type").as("ch"),
        pmod(col("event_id"), lit(SALT_BUCKETS.toLong)).as("salt"),
        col("value"), col("user_id"))
      .groupBy("ch", "salt") // phase 1: hot keys spread over 16 reducers
      .agg(count(lit(1)).as("pv_part"),
        sum(money(col("value"))).as("amt_part"))
    salted.groupBy("ch") // phase 2: 16 partials per key
      .agg(sum(col("pv_part")).as("pv_ct"),
        sum(col("amt_part")).cast("double").as("amount_sum"))
  }

  /** Salted exact-distinct: user sets per hot key without a single-reducer
    * distinct (the explicit form of Spark's Expand-based rewrite). */
  private def saltedDistinct(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val partials = e.select(col("event_type").as("ch"),
        pmod(col("user_id"), lit(SALT_BUCKETS.toLong)).as("salt"),
        col("user_id"))
      .distinct() // (ch, salt, user) — dedup spread over salt buckets
      .groupBy("ch", "salt")
      .agg(count(lit(1)).as("uv_part"))
    partials.groupBy("ch")
      .agg(sum(col("uv_part")).as("uv_ct")) // salts partition users → sum is exact
  }

  /** Auto-salting aggregate — the connection between x10's diagnosis and
    * x1's rewrite: measure the key skew first (ONE map-side-combinable
    * stat pass, the planning-time ANALYZE a platform would persist),
    * then plan either the plain one-shuffle aggregate or the two-phase
    * salted form. Threshold is x10's skew factor (hottest key's rows ÷
    * average key's rows); the default 4.0 means "the hot key carries at
    * least 4× its fair share" — below that AQE's skew handling and plain
    * hash aggregation absorb the imbalance, above it one reducer owns
    * the key and salting is the fix. Only decomposable aggregates are
    * accepted (sum/count/min/max — the ones whose partials merge
    * exactly), so the salted result is bit-equal to the plain one under
    * ANY salt assignment; sums are cast back to the single-pass result
    * type (a second DECIMAL sum would otherwise widen the precision).
    * `aggs` rows are (output name, function, input column). */
  private[graft] def autoSaltedAgg(df: DataFrame, keys: Seq[String],
      aggs: Seq[(String, String, Column)],
      saltBuckets: Int = SALT_BUCKETS,
      skewThreshold: Double = 4.0): DataFrame = {
    require(keys.nonEmpty, "saltedAgg needs at least one group key")
    require(aggs.nonEmpty, "saltedAgg needs at least one aggregate")
    require(aggs.map(_._1).distinct.size == aggs.size,
      "saltedAgg output names must be distinct: " +
        aggs.map(_._1).diff(aggs.map(_._1).distinct).mkString(","))
    val supported = Set("sum", "count", "min", "max")
    require(aggs.forall(a => supported(a._2)),
      s"saltedAgg supports ${supported.mkString("/")} (exactly " +
        "decomposable partials); got " +
        aggs.map(_._2).filterNot(supported).mkString(","))
    def plainExpr(kind: String, c: Column): Column = kind match {
      case "sum" => sum(c)
      case "count" => count(c)
      case "min" => min(c)
      case "max" => max(c)
    }
    val st = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("ct"))
      .agg(sum(col("ct")).cast(LongType).as("n_rows"),
        count(lit(1)).as("n_keys"), max(col("ct")).as("max_ct"))
      .head()
    val skew =
      if (st.isNullAt(0) || st.getLong(0) == 0L) 1.0
      else st.getLong(2).toDouble * st.getLong(1) / st.getLong(0)
    if (skew < skewThreshold)
      df.groupBy(keys.map(col): _*)
        .agg(plainExpr(aggs.head._2, aggs.head._3).as(aggs.head._1),
          aggs.tail.map(a => plainExpr(a._2, a._3).as(a._1)): _*)
    else {
      // analysis-only probe of the single-pass result types, so the
      // salted schema is indistinguishable from the plain one
      val plainTypes = df
        .select(aggs.map(a => plainExpr(a._2, a._3).as(a._1)): _*)
        .schema.map(f => f.name -> f.dataType).toMap
      // DETERMINISTIC salt (hash of the hashable columns), never
      // monotonically_increasing_id: a nondeterministic salt re-deals
      // rows to different (key, salt) groups when a lost map task is
      // recomputed after some reducers already fetched its output —
      // silently double-counting/dropping rows, the classic
      // nondeterministic-expression-under-retry failure. Identical rows
      // sharing a salt costs a little spread, not correctness (the
      // partials merge exactly under any assignment). MapType columns
      // (anywhere in a nested type) are excluded from the hash input —
      // hash() throws on maps; the group keys are always groupable types
      // so at least they remain.
      def hashable(dt: org.apache.spark.sql.types.DataType): Boolean =
        dt match {
          case _: org.apache.spark.sql.types.MapType => false
          case a: org.apache.spark.sql.types.ArrayType =>
            hashable(a.elementType)
          case st: org.apache.spark.sql.types.StructType =>
            st.fields.forall(f => hashable(f.dataType))
          case _ => true
        }
      val hashCols = df.schema.fields
        .filter(f => hashable(f.dataType)).map(f => col(f.name))
      // internal column names checked against the input frame AND the
      // requested output names — the public Graft.saltedAgg API accepts
      // arbitrary frames, where a user's own __salt/__p_* column would
      // otherwise be silently shadowed
      val reserved = (df.columns ++ aggs.map(_._1)).toSet
      def freshName(base: String): String = Iterator.from(0)
        .map(i => if (i == 0) base else s"$base$i")
        .find(n => !reserved.contains(n)).get
      val saltName = freshName("__salt")
      val pPrefix = Iterator.from(0)
        .map(i => if (i == 0) "__p_" else s"__p${i}_")
        .find(p => aggs.forall(a => !reserved.contains(p + a._1))).get
      val phase1 = df
        .withColumn(saltName, pmod(hash(hashCols: _*), lit(saltBuckets)))
        .groupBy((keys :+ saltName).map(col): _*)
        .agg(plainExpr(aggs.head._2, aggs.head._3)
            .as(s"$pPrefix${aggs.head._1}"),
          aggs.tail.map(a => plainExpr(a._2, a._3)
            .as(s"$pPrefix${a._1}")): _*)
      def mergeExpr(a: (String, String, Column)): Column = (a._2 match {
        case "sum" | "count" => sum(col(s"$pPrefix${a._1}"))
        case "min" => min(col(s"$pPrefix${a._1}"))
        case "max" => max(col(s"$pPrefix${a._1}"))
      }).cast(plainTypes(a._1)).as(a._1)
      phase1.groupBy(keys.map(col): _*)
        .agg(mergeExpr(aggs.head), aggs.tail.map(mergeExpr): _*)
    }
  }

  /** x10: shuffle-key skew diagnosis — the report that DECIDES when x1's
    * salting (or AQE skew-join splitting) is worth turning on, instead
    * of guessing: for each shuffle-key candidate, total rows, distinct
    * keys, the hottest key's row count, its share of the table, and the
    * skew factor (hottest ÷ average — 1.0 means perfectly uniform; the
    * events.event_type row shows the 5-key hot space x1 exists for,
    * user_id/l_suppkey show healthy high-cardinality keys). Cost: one
    * map-side-combinable count per key column and a 1-row rollup each —
    * at 100 TB this is the cheap ANALYZE-style pass a platform runs
    * before picking partition counts and salt buckets; output is
    * O(columns audited). Integer counts with two final one-shot
    * divisions (engine-exact). */
  private def skewReport(s: SparkSession, dir: String): DataFrame = {
    def rowFor(label: String, df: DataFrame, key: Column): DataFrame =
      df.groupBy(key).agg(count(lit(1)).as("ct"))
        .agg(sum(col("ct")).cast(LongType).as("n_rows"),
          count(lit(1)).as("n_keys"), max(col("ct")).as("max_key_ct"))
        .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_key_ct"))
    rowFor("events.event_type", Tables(s, dir, "events"), col("event_type"))
      .unionByName(rowFor("events.user_id",
        Tables(s, dir, "events"), col("user_id")))
      .unionByName(rowFor("lineitem.l_suppkey",
        Tables(s, dir, "lineitem"), col("l_suppkey")))
      .select(col("key_col"), col("n_rows"), col("n_keys"),
        col("max_key_ct"),
        round(col("max_key_ct").cast(DoubleType) / col("n_rows"), 6)
          .as("top1_share"),
        round(col("max_key_ct").cast(DoubleType) * col("n_keys")
          / col("n_rows"), 6).as("skew_factor"))
  }

  /** x12 (beyond-reference): partition/bucket planner — the sizing
    * decision every ingest job makes before writing a table: estimate
    * the table's payload bytes from its schema (string columns at
    * actual length, fixed-width columns at 8 bytes, the embedding
    * vector at 4 bytes/dim), divide by the target partition size, and
    * round the bucket recommendation up to a power of two (so future
    * bucket-join co-partitioning can split/merge cleanly). One
    * map-side-combinable aggregate per table, O(tables) output — the
    * planning pass that keeps spark.sql.files.maxPartitionBytes and
    * bucket counts honest at 100 TB. The target here is scaled to the
    * synthetic corpus (256 KiB); production uses 128 MiB with the
    * identical arithmetic. */
  val plannerTargetBytes = 262144L

  /** (table, string columns priced by length, fixed bytes/row). */
  private[operators] val plannerTables
      : Seq[(String, Seq[String], Long)] = Seq(
    ("lineitem", Seq("l_returnflag", "l_linestatus"), 72L),
    ("orders", Seq("o_orderstatus", "o_orderpriority"), 32L),
    ("events", Seq("event_type", "props"), 32L),
    ("documents", Seq("text", "lang", "source"), 16L),
    ("embeddings", Seq.empty, 272L))

  private def partitionPlanner(s: SparkSession, dir: String): DataFrame =
    plannerTables.map { case (t, strs, fixed) =>
      val strBytes =
        if (strs.isEmpty) lit(0L)
        else strs.map(c => coalesce(length(col(c)).cast(LongType), lit(0L)))
          .reduce(_ + _)
      Tables(s, dir, t)
        .agg(count(lit(1)).as("n_rows"),
          sum(strBytes + lit(fixed)).cast(LongType).as("est_bytes"))
        .select(lit(t).as("table_name"), col("n_rows"), col("est_bytes"))
    }.reduce(_ unionByName _)
      .withColumn("target_bytes", lit(plannerTargetBytes))
      .withColumn("n_partitions", greatest(
        ceil(col("est_bytes").cast(DoubleType) / plannerTargetBytes)
          .cast(LongType), lit(1L)))
      .withColumn("bucket_count",
        pow(lit(2.0), ceil(log2(col("n_partitions").cast(DoubleType))))
          .cast(LongType))
      .withColumn("avg_partition_bytes",
        expr("est_bytes DIV n_partitions"))

  /** Apply an x12-style partition plan to an arbitrary frame — the
    * audit→repair step for LAYOUT (the pattern k9→k10 applies to SCD2
    * chains): derive the partition count from the frame's own estimated
    * payload (`ceil(sum(estBytes) / targetBytes)`, the exact x12
    * arithmetic), then write one file per planned partition. Two modes:
    *  - "bucket": hash-repartition on `key` — the co-located-join
    *    layout (x11's shape, sized by the plan instead of a constant);
    *  - "range":  range-repartition on `key` — the scan-prune layout:
    *    files carry non-overlapping `key` extents, so parquet footer
    *    stats skip whole files for range predicates (x8's win, applied).
    * The size estimate is a planning-time aggregate (one map-side
    * combinable pass, like x12 itself); at 100 TB this is the ingest
    * job's write step, not a query-time cost. Returns the planned
    * partition count; the landed FILE count is <= that plan — hash or
    * range repartitioning leaves empty partitions (which write no
    * file) when the key's cardinality is below the plan or badly
    * skewed, exactly like a real table writer (Delta's optimized
    * writes make the same no-empty-files promise). Exposed as
    * [[graft.api.Graft.applyLayout]]; ApiSpec proves file count ==
    * plan on a well-spread key, file count <= plan on a degenerate
    * one, and the range mode's non-overlapping extents. */
  private[graft] def applyLayoutFor(df: DataFrame, key: Column,
      estBytes: Column, targetBytes: Long, outDir: String,
      mode: String = "bucket"): Int = {
    require(targetBytes > 0, s"targetBytes must be > 0 (got $targetBytes)")
    require(mode == "bucket" || mode == "range",
      s"layout mode must be bucket|range (got $mode)")
    // the frame is scanned twice (sizing aggregate, then the write) —
    // persist across the passes so the caller's upstream (at 100 TB:
    // the ingest job's transform) runs once. Only OUR persist is
    // unpersisted: Spark's CacheManager uncaches by PLAN, so dropping
    // an already-cached caller frame here would silently evict the
    // caller's own memo and every later consumer would rebuild it.
    val wasCached =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached = if (wasCached) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val totalRow = cached.agg(sum(estBytes).cast(LongType).as("t")).head()
      val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
      val n = math.max(1L, math.ceil(total.toDouble / targetBytes).toLong)
        .toInt
      val laid =
        if (mode == "bucket") cached.repartition(n, key)
        else cached.repartitionByRange(n, key)
      laid.write.mode("overwrite").parquet(outDir)
      n
    } finally {
      if (!wasCached) cached.unpersist(false)
      ()
    }
  }

  /** Shared x13 stage: per-row layout assignment under x12's plan for
    * the events table — the estimated row bytes (x12's model), the
    * planned partition count from the SAME single-scan aggregate
    * (broadcast back, no driver action), and the target bucket via the
    * engine-stable md5 hash ([[Fns.hex4]]), so DuckDB replays the
    * assignment bit-for-bit. */
  private def layoutBucketRows(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events").select(col("event_id"),
      (coalesce(length(col("event_type")).cast(LongType), lit(0L)) +
        coalesce(length(col("props")).cast(LongType), lit(0L)) +
        lit(32L)).as("est_bytes"))
    val plan = e.agg(greatest(
      ceil(sum(col("est_bytes")).cast(DoubleType) / plannerTargetBytes)
        .cast(LongType), lit(1L)).as("n_parts"))
    e.crossJoin(broadcast(plan))
      .withColumn("bucket", pmod(Fns.hex4(col("event_id")), col("n_parts")))
  }

  /** x13 (beyond-reference): layout-plan APPLICATION audit — the check
    * that x12's recommendation, once applied, actually lands partitions
    * near the target size: rows are assigned to the planned bucket
    * count by the stable hash, per-bucket estimated bytes roll up, and
    * ONE report row states the spread (min/max/avg bucket bytes, the
    * worst bucket's fill vs target, and the within-2× verdict — hash
    * layouts balance to small deviations unless the key is degenerate,
    * which is exactly what this audit would catch). Cost: one scan +
    * one bucket-keyed aggregation; at 100 TB the same audit runs over
    * the written table's file listing. */
  private def layoutAudit(s: SparkSession, dir: String): DataFrame =
    layoutBucketRows(s, dir)
      .groupBy(col("n_parts"), col("bucket"))
      .agg(sum(col("est_bytes")).as("bucket_bytes"))
      .groupBy(col("n_parts"))
      .agg(count(lit(1)).as("used_parts"),
        min(col("bucket_bytes")).as("min_bucket_bytes"),
        max(col("bucket_bytes")).as("max_bucket_bytes"),
        sum(col("bucket_bytes")).as("total_bytes"))
      .select(col("n_parts"), col("used_parts"),
        col("min_bucket_bytes"), col("max_bucket_bytes"),
        expr("total_bytes DIV used_parts").as("avg_bucket_bytes"),
        round(col("max_bucket_bytes").cast(DoubleType)
          / plannerTargetBytes, 6).as("max_fill"),
        (col("max_bucket_bytes") <= lit(2L * plannerTargetBytes))
          .as("within_tolerance"))

  /** x4: Z-order (Morton-curve) layout clustering — the multi-dimensional
    * file-layout lever behind Delta/Iceberg `OPTIMIZE ZORDER BY`: rows
    * sorted by the bit-interleave of (o_custkey, o_orderdate-days) land
    * in buckets whose min/max extents are tight on BOTH dimensions, so
    * parquet row-group stats prune scans filtered on either one. The
    * query materializes the evidence: the same 32-bucket split under a
    * Z-value order vs a plain date order, with each bucket's custkey and
    * date spans. Bucketing is exact ntile over the unique (key,
    * orderkey) total order so the oracle replays it exactly — via
    * [[WindowAggs.exactNtile]] (zval DIV 64 / date-day offset buckets,
    * both domain-bounded: ≤1024 cells / the date range), never a
    * single-task sort of the orders table; the production form is
    * `repartitionByRange($"zval")` + write — a distributed range
    * sort, no global window (the x12/x13 applyLayout path). The interleave itself is four mask-shift
    * rounds (standard Morton magic numbers), pure codegen'd integer
    * arithmetic, identical in both engines. This shared stage emits the
    * per-row (layout, bucket, ck, dt) assignment; x4 aggregates spans
    * from it and x8 prices the file skipping it buys — so it is
    * a standing frame like the Lloyd assignment (a production pipeline
    * lands the layout ONCE before pricing it). */
  private val zorderBucketRows = Standing.frame("zorder_assign",
    Set("x4_zorder_layout", "x8_skip_stats"))(zorderBucketRowsCompute)

  /** 8-bit Morton spread (standard magic numbers). Both dimensions are
    * first min-max normalized to 8 bits — interleaving RAW values lets
    * the wider-ranged dimension's high bits dominate the curve and the
    * "z-order" degenerates to a single-dim sort (Delta's OPTIMIZE
    * normalizes via per-column range ids for the same reason). ONE
    * definition shared by the x4/x8 assignment and the x23 landed
    * store — the layout priced and the layout written must stay the
    * same curve. */
  private def mortonSpread(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0FL))
    val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333L))
    b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555L))
  }

  private def mortonNorm(c: Column, lo: Column, hi: Column): Column =
    floor((c - lo) * lit(255.0) / greatest(hi - lo, lit(1L)))
      .cast(org.apache.spark.sql.types.LongType)

  private def zorderBucketRowsCompute(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val raw = Tables(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey").cast(LongType).as("ck"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast(LongType)
        .as("dt"))
    val mm = raw.agg(min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
      min(col("dt")).as("dt_min"), max(col("dt")).as("dt_max"))
    val base = raw.crossJoin(broadcast(mm))
      .select(col("o_orderkey"), col("ck"), col("dt"),
        mortonNorm(col("ck"), col("ck_min"), col("ck_max")).as("ckn"),
        mortonNorm(col("dt"), col("dt_min"), col("dt_max")).as("dtn"))
    val z = base.withColumn("zval",
      mortonSpread(col("ckn"))
        .bitwiseOR(shiftleft(mortonSpread(col("dtn")), 1)))
    val zb = WindowAggs.exactNtile(z, 32,
        expr("zval DIV 64"), desc = false,
        Seq(col("zval"), col("o_orderkey")), "bucket")
      .select(lit("zorder").as("layout"), col("bucket"),
        col("ck"), col("dt"))
    val db = WindowAggs.exactNtile(z, 32, col("dt"), desc = false,
        Seq(col("o_orderkey")), "bucket")
      .select(lit("bydate").as("layout"), col("bucket"),
        col("ck"), col("dt"))
    zb.unionAll(db)
  }

  private def zorderLayout(s: SparkSession, dir: String): DataFrame =
    zorderBucketRows(s, dir)
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("row_ct"),
        (max(col("ck")) - min(col("ck"))).as("ck_span"),
        (max(col("dt")) - min(col("dt"))).as("dt_span"))

  /** x8: file-skipping estimator — the number x4's layout exercise is
    * FOR: treat each of the 32 buckets as a file with (ck, dt) min-max
    * extents (exactly the parquet footer stats a scan planner prunes
    * on), sweep a 4×4 grid of two-dimensional predicates (customer
    * quartile × date quartile, integer-exact bounds from the data
    * domain), and count the files each layout actually reads (extent
    * overlaps the predicate box) vs skips. The date-sorted layout
    * prunes only the date dimension — its ck extents span the whole
    * domain, so every date-matching file is read; the z-order layout
    * keeps BOTH extents narrow and skips the off-quartile files. Dense
    * over (layout × predicate); at 100 TB this is the same arithmetic
    * over the real file-stats catalog — metadata-sized, never data. */
  private def skipStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val ext = zorderBucketRows(s, dir)
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("row_ct"),
        min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
        min(col("dt")).as("dt_min"), max(col("dt")).as("dt_max"))
    val dom = ext.agg(
      min(col("ck_min")).as("cklo"), max(col("ck_max")).as("ckhi"),
      min(col("dt_min")).as("dtlo"), max(col("dt_max")).as("dthi"))
    def lo(q: Column, l: Column, step: Column): Column = l + q * step
    def hi(q: Column, l: Column, h: Column, step: Column): Column =
      when(q === 3, h).otherwise(l + (q + 1) * step - 1)
    val grid = s.range(0, 4).select(col("id").as("ck_q"))
      .crossJoin(s.range(0, 4).select(col("id").as("dt_q")))
    val preds = grid.crossJoin(broadcast(dom))
      .withColumn("ck_step", expr("(ckhi - cklo + 1) div 4"))
      .withColumn("dt_step", expr("(dthi - dtlo + 1) div 4"))
      .select(col("ck_q"), col("dt_q"),
        lo(col("ck_q"), col("cklo"), col("ck_step")).as("pck_lo"),
        hi(col("ck_q"), col("cklo"), col("ckhi"), col("ck_step"))
          .as("pck_hi"),
        lo(col("dt_q"), col("dtlo"), col("dt_step")).as("pdt_lo"),
        hi(col("dt_q"), col("dtlo"), col("dthi"), col("dt_step"))
          .as("pdt_hi"))
    val read = broadcast(preds).join(ext,
        col("ck_min") <= col("pck_hi") && col("ck_max") >= col("pck_lo") &&
          col("dt_min") <= col("pdt_hi") && col("dt_max") >= col("pdt_lo"))
      .groupBy(col("layout").as("r_layout"), col("ck_q").as("r_ckq"),
        col("dt_q").as("r_dtq"))
      .agg(count(lit(1)).as("buckets_read"),
        sum(col("row_ct")).as("rows_read"))
    val bcnt = ext.groupBy(col("layout"))
      .agg(count(lit(1)).as("bucket_ct"))
    bcnt.crossJoin(grid)
      .join(read, col("layout") === col("r_layout") &&
        col("ck_q") === col("r_ckq") && col("dt_q") === col("r_dtq"),
        "left_outer")
      .select(col("layout"), col("ck_q"), col("dt_q"), col("bucket_ct"),
        coalesce(col("buckets_read"), lit(0L)).as("buckets_read"),
        (col("bucket_ct") - coalesce(col("buckets_read"), lit(0L)))
          .as("buckets_skipped"),
        coalesce(col("rows_read"), lit(0L)).as("rows_read"),
        round((col("bucket_ct") -
            coalesce(col("buckets_read"), lit(0L))).cast("double") /
          col("bucket_ct").cast("double"), 6).as("skip_frac"))
  }

  /** Double-hash inputs for the bloom sketch: two independent 32-bit
    * slices of md5(key), h2 forced odd so the k probe positions never
    * collapse onto one bit (Kirsch–Mitzenstein double hashing). Shared
    * by the build side (Aggregator input) and the probe side. */
  private[operators] def bloomH1(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast(LongType)
  private[operators] def bloomH2(key: Column): Column =
    conv(substring(md5(key), 9, 8), 16, 10).cast(LongType) * 2 + 1

  /** Bloom membership probe over the HEX image of the bitset, written
    * entirely in codegen'd builtins (substr + conv + arithmetic): bit
    * position_i = (h1 + i*h2) mod m; byte = two hex chars at
    * floor(pos/8); bit = floor(byte / 2^(pos mod 8)) mod 2. The bit
    * arithmetic mirrors [[graft.functions.BloomSketch.reduce]] exactly
    * (little-endian bit order within each byte). */
  private def mightContain(hexCol: Column, h1: Column, h2: Column): Column = {
    val pow2 = array((0 until 8).map(i => lit(1 << i)): _*)
    (0 until graft.functions.BloomSketch.numProbes).map { i =>
      val pos = pmod(h1 + lit(i.toLong) * h2,
        lit(graft.functions.BloomSketch.mBits.toLong))
      val byteVal = conv(hexCol.substr(
        (floor(pos / 8) * 2 + 1).cast(IntegerType), lit(2)), 16, 10)
        .cast(IntegerType)
      val divisor = element_at(pow2, pmod(pos, lit(8L)).cast(IntegerType) + 1)
      pmod(floor(byteVal / divisor), lit(2L)) === 1L
    }.reduce(_ && _)
  }

  private def bloomKeyed(s: SparkSession, dir: String): DataFrame = {
    val key = concat_ws(":", col("lang"), col("n_chars"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), key.as("k"))
      .withColumn("h1", bloomH1(col("k")))
      .withColumn("h2", bloomH2(col("k")))
  }

  /** Bloom-surviving new-side rows (doc_id, k) — exposed for the spec,
    * which asserts the prefilter is sound (superset of the exact match
    * set) and useful (prunes a large share of the new batch). */
  private[graft] def bloomCandidates(s: SparkSession, dir: String): DataFrame = {
    val keyed = bloomKeyed(s, dir)
    val old = keyed.filter(col("source") =!= "src0")
    val bloomUdaf = udaf(graft.functions.BloomSketch)
    val bloomDf = old.agg(bloomUdaf(col("h1"), col("h2")).as("bloom"))
    keyed.filter(col("source") === "src0")
      .crossJoin(broadcast(bloomDf))
      .withColumn("bhex", hex(col("bloom")))
      .filter(mightContain(col("bhex"), col("h1"), col("h2")))
      .select(col("doc_id"), col("k"))
  }

  /** x5: bloom-prefiltered incremental dedup — the new batch (src0) is
    * checked against the accumulated store (all other sources) for
    * exact-key duplicates. Instead of shuffling the WHOLE batch into the
    * join, a 4 KB bloom bitset aggregated over the store is broadcast
    * and prunes non-matching rows map-side; only bloom survivors pay the
    * exact join, which also removes the bloom's false positives — so the
    * output is byte-identical to the plain join (the oracle) while the
    * shuffle carries only the candidate sliver. At 100 TB this is the
    * standard "is this crawl row already in the corpus?" gate: the bloom
    * rides a broadcast variable, the store-side join input is pruned by
    * the same sketch, and the exact join stays for correctness. */
  private def bloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val old = bloomKeyed(s, dir).filter(col("source") =!= "src0")
      .select(col("k").as("ok"), col("doc_id").as("old_id"))
    bloomCandidates(s, dir)
      .join(old, col("k") === col("ok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("old_match_ct"))
  }

  /** Target compaction bin size in (simulated) bytes — sized so sf0.01
    * partitions pack several day-files per bin. */
  val compactTarget = 2048L

  /** x6: small-file compaction planner — the OPTIMIZE/auto-compaction
    * planning pass every partitioned lakehouse table needs: within each
    * month partition, day-files (size = deterministic per-row byte
    * estimate) are packed in day order into target-sized output bins by
    * the greedy cumulative rule `bin = floor(bytes_before / target)` —
    * exactly the size-based coalescing Spark's own file combiner and
    * Delta OPTIMIZE use (a bin may overshoot by at most one file; no
    * bin but the last undershoots). The plan is pure window arithmetic:
    * one (partition)-keyed window sort over the FILE LISTING — never
    * the data — so at 100 TB the planner's input is the metadata table
    * (files × sizes), a few MB per million files. Output per partition:
    * file count, bytes, bin count, the largest planned bin, and the
    * mean fill fraction vs target. Integer-only except the final
    * fraction. */
  private def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = Tables(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part_month"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("file_day"))
      .agg((count(lit(1)) * 40L +
        sum(length(col("o_orderpriority")) + length(col("o_orderstatus"))))
        .as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part_month")).orderBy(col("file_day"))
    val binned = files
      .withColumn("before", coalesce(sum(col("bytes")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"before div $compactTarget"))
    val bins = binned.groupBy(col("part_month"), col("bin"))
      .agg(sum(col("bytes")).as("bin_bytes"))
    // n_bins counts DISTINCT occupied bins — a single file ≥ 2× target
    // skips bin indices, and empty indices produce no output file
    binned.groupBy(col("part_month"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
        countDistinct(col("bin")).as("n_bins"))
      .join(bins.groupBy(col("part_month").as("bp"))
        .agg(max(col("bin_bytes")).as("max_bin_bytes")),
        col("part_month") === col("bp"))
      .select(col("part_month"), col("n_files"), col("total_bytes"),
        col("n_bins"), col("max_bin_bytes"),
        round(col("total_bytes").cast(org.apache.spark.sql.types.DoubleType)
          / (col("n_bins") * compactTarget), 6).as("fill_frac"))
  }

  /** x7: table-statistics collection — the ANALYZE TABLE / CBO input
    * every lakehouse maintains per column: row count, null count, exact
    * NDV, min/max. One full-scan aggregation computes every column's
    * stats in a single pass (all map-side combinable except the
    * countDistincts, which Spark plans as one expand + partial
    * aggregate — still one scan), then the wide stats row unpivots to
    * the (column, stats) catalog shape. Values are stringified through
    * engine-stable casts only (integers, strings, DECIMAL(18,2) for the
    * money column — never raw DOUBLE→VARCHAR, whose formatting is
    * engine-specific). At 100 TB this is the nightly stats job: cost =
    * one scan, output = a catalog row per column; the CBO reads it to
    * pick broadcast sides and join orders.
    *
    * This is the generic core over an ARBITRARY frame and column list
    * (exposed through [[graft.api.Graft.tableStats]]; x7 binds it to
    * the orders table). Pass pre-cast Columns for types whose
    * stringification is engine-specific (DOUBLE). */
  private[graft] def tableStatsFor(df: DataFrame,
      statCols: Seq[(String, Column)]): DataFrame = {
    // Round 15: the exact stats run as ONE SINGLE-DISTINCT AGGREGATE
    // PER COLUMN, unioned — not one wide multi-countDistinct pass. A
    // multi-distinct aggregate plans through Expand (each input row
    // replicated once per distinct column + once for the plain aggs:
    // 6x rows here through a wide (gid, value)-keyed hash aggregate),
    // measured 2.28 s vs 0.64 s for the union at sf0.1. A
    // single-distinct aggregate needs no Expand: it partially
    // aggregates map-side to the column's own distinct values, and the
    // parquet scans are column-pruned, so the 5 scans together read
    // the same bytes one full-width scan would — the standard
    // per-column ANALYZE decomposition at 100 TB.
    val exact = statCols.map { case (n, c) =>
      df.agg(lit(n).as("column_name"),
        count(lit(1)).as("row_ct"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("null_ct"),
        countDistinct(c).as("ndv"),
        min(c).cast(org.apache.spark.sql.types.StringType).as("min_val"),
        max(c).cast(org.apache.spark.sql.types.StringType).as("max_val"))
    }.reduce(_ unionByName _)
    // the 100 TB twin: a real ANALYZE runs approx NDV, and the
    // within-5% flag (3σ for m=4096) is the contract the report
    // carries — the exact column stays because it IS the oracle.
    // The sketches run in their OWN single-group pass (any wide-buffer
    // aggregate mixed into a distinct aggregate lands behind the
    // Expand with one sketch buffer per distinct value — measured 8.6x
    // for the object sketch, tens of GB of registers for HLL++), then
    // attach to the per-column rows as a broadcast 1-row map lookup.
    // xxhash64 never returns null (a null hashes to the seed), so an
    // all-null column costs the estimate at most one pseudo-id
    val sketchAggs = statCols.map { case (n, c) =>
      udaf(graft.functions.HllSketch).apply(xxhash64(c))
        .as(s"${n}_andv")
    }
    val sketches = df.agg(sketchAggs.head, sketchAggs.tail: _*)
      .select(map(statCols.flatMap { case (n, _) =>
        Seq(lit(n), col(s"${n}_andv")) }: _*).as("andv_by_col"))
    exact.crossJoin(broadcast(sketches))
      .select(col("column_name"), col("row_ct"), col("null_ct"),
        col("ndv"),
        (abs(element_at(col("andv_by_col"), col("column_name"))
          - col("ndv"))
          .cast(org.apache.spark.sql.types.DoubleType) <=
          greatest(col("ndv")
            .cast(org.apache.spark.sql.types.DoubleType) * lit(0.05),
            lit(1.0))).as("ndv_approx_ok"),
        col("min_val"), col("max_val"))
  }

  private def tableStats(s: SparkSession, dir: String): DataFrame =
    tableStatsFor(Tables(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(c => (c, col(c))) :+
        ("o_totalprice", col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))))

  /** x9: dynamic partition pruning, exercised against a REAL partitioned
    * store (x4/x8 reason over layout arithmetic; this one makes Catalyst
    * do the pruning). The fact side is the orders rollup written
    * `partitionBy(order_month)` (80 partitions, one compacted file each
    * via a pre-write repartition on the partition key); the dim side —
    * the top-3 months by urgent-order count — is only knowable at
    * runtime, so static partition pruning is impossible and Catalyst
    * injects a `dynamicpruning` subquery on the fact scan's partition
    * column (asserted in PerfSpec): the scan opens 3 of 80 partition
    * directories. At 100 TB this is THE difference between touching
    * ~4 TB and touching all of it — the join itself broadcasts the
    * 3-row dim. At 100 TB the month-partitioned rollup is a STANDING
    * table the DPP query reads, not something the query itself writes:
    * the store build runs in the Bench prestage (its own printed line,
    * outside the timed loop); outside Bench it is charged to the first
    * x9 caller. */
  private val dppStoreDir = Standing.stored("dpp_store",
    Set("x9_dpp_prune")) { (s, dir, sd) =>
    Tables(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        col("o_orderkey"), money(col("o_totalprice")).as("amount"))
      .repartition(col("order_month")) // one compacted file per partition
      .write.mode("overwrite").partitionBy("order_month").parquet(sd)
    sd
  }((_, _, _) => ())

  /** Release of a summary registered with AggRewrite as `<table>@<dir>`. */
  private def unregisterNav(table: String): (SparkSession, String, Any) => Unit =
    (s, dir, _) => graft.plans.AggRewrite.unregister(s, s"$table@$dir")

  /** Release of a zone-map index registered as `<table>@<dir>`. */
  private def unregisterSkip(table: String): (SparkSession, String, Any) => Unit =
    (s, dir, _) => graft.plans.SkipIndex.unregister(s, s"$table@$dir")

  /** The runtime-only dim: months ranked by urgent-order count. */
  private[operators] def dppTopMonths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("urgent_ct"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("urgent_ct").desc, col("order_month"))))
      .filter(col("rk") <= 3)
      .select(col("order_month"), col("urgent_ct"))
  }

  private def dppPrune(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, dppStoreDir(s, dir))
      .join(broadcast(dppTopMonths(s, dir)), "order_month")
      .groupBy(col("order_month"), col("urgent_ct"))
      .agg(count(lit(1)).as("order_ct"),
        sum(col("amount")).cast("double").as("amount_sum"))

  // ---- x14/x15: materialized-aggregate navigation (AggRewrite) --------
  //
  // The reference's DWS/ADS split (day-grain pre-aggregates in Doris,
  // serving SQL reads the summary BY NAME — TradeStatsMapper.java:16-22)
  // made automatic: the query keeps raw-table semantics, the optimizer
  // proves derivability and swaps the scan. The summary is a STANDING
  // table at 100 TB (built once per day-partition by the streaming DWS
  // job); here its one-pass build is a prestaged standing like the x9
  // DPP store, and the queries opt in explicitly via AggRewrite.navigate
  // so the other 200+ queries' recorded plans stay byte-stable (the
  // session-wide route via GraftExtensions is spec-covered separately).

  private[graft] def navKeys: Seq[(String, Column)] = Seq(
    "order_day" -> date_format(col("o_orderdate"), "yyyy-MM-dd"),
    "o_orderpriority" -> col("o_orderpriority"))

  private[graft] def navMeasures: Seq[(String, String, Column)] = Seq(
    ("sum_price", "sum", money(col("o_totalprice"))),
    ("cnt", "count_star", lit(1)),
    ("cnt_status", "count", col("o_orderstatus")),
    // the non-null count of the MONEY child itself: with the sum_price
    // partial it makes avg(money) derivable (x18) — AVG needs both
    // partials of the SAME child expression
    ("price_cnt", "count", money(col("o_totalprice"))),
    ("min_price", "min", money(col("o_totalprice"))),
    ("max_price", "max", money(col("o_totalprice"))))

  /** Materialize + register the (day, priority) orders summary once per
    * (session, dir); the value is the summary path. */
  private[graft] val navSummaryDir = Standing.stored("agg_nav_summary",
    Set("x14_agg_rewrite", "x15_rollup_navigate",
      "x16_rollup_sets_navigate", "x18_avg_navigate")) { (s, dir, sd) =>
    graft.plans.AggRewrite.materialize(s, s"orders_day_priority@$dir",
      Tables(s, dir, "orders"), navKeys, navMeasures, sd)
    sd
  }(unregisterNav("orders_day_priority"))

  /** x14: monthly serving rollup written against the RAW orders table —
    * AggRewrite proves the month is a coarsening of the summary's day
    * key, the year filter touches only key-derived expressions, and
    * every aggregate re-aggregates from partials (SUM→SUM of sums,
    * COUNT→SUM of counts, MIN/MAX→MIN/MAX); the plan scans the
    * metadata-sized summary instead of the fact table (plan shape
    * asserted in AggRewriteSpec; results oracle-checked against the raw
    * table, which is the whole point). */
  private def aggRewriteMonthly(s: SparkSession, dir: String): DataFrame = {
    navSummaryDir(s, dir)
    val o = Tables(s, dir, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val raw = o.filter(substring(day, 1, 4) === "1997")
      .groupBy(substring(day, 1, 7).as("order_month"),
        col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("order_amount"),
        count(lit(1)).as("order_ct"),
        min(money(col("o_totalprice"))).cast(DoubleType).as("min_price"),
        max(money(col("o_totalprice"))).cast(DoubleType).as("max_price"))
    graft.plans.AggRewrite.navigate(raw)
      .orderBy("order_month", "o_orderpriority")
  }

  /** x17: navigation THROUGH the events ts-normalization projection —
    * the peel/substitution path in production use: Tables(events)
    * interposes a Project rewriting the MICROS timestamp to the
    * library's epoch-nanos contract, and both the summary definitions
    * and the candidate query phrase their day key over that projected
    * column. Summary grain (day, event_type); the serving query asks
    * channel totals for one day range. */
  private[graft] val navEventsDir = Standing.stored("agg_nav_events",
    Set("x17_events_navigate", "x20_hll_navigate",
      "x22_bitmap_distinct_navigate", "x24_bitmap_overlap",
      "x26_bitmap_retention")) { (s, dir, sd) =>
    graft.plans.AggRewrite.materialize(s, s"events_day_channel@$dir",
      Tables(s, dir, "events"),
      keys = Seq(
        "event_day" -> curDate(nsToSec(col("ts"))),
        "event_type" -> col("event_type")),
      measures = Seq(
        ("value_sum", "sum", money(col("value"))),
        ("cnt", "count_star", lit(1)),
        ("user_min", "min", col("user_id")),
        ("user_max", "max", col("user_id")),
        // per-group HLL registers: the approximate-UV partial x20
        // navigates onto (merge is register-max — estimate bit-equal)
        ("uv_sketch", "hll", col("user_id")),
        // per-group EXACT id bitmap (the reference's Doris
        // BITMAP_UNION UV column): idempotent union makes
        // count(DISTINCT user_id) re-derivable bit-exactly — x22
        ("uv_bitmap", "bitmap", col("user_id"))),
      path = sd)
    sd
  }(unregisterNav("events_day_channel"))

  private def eventsNavigate(s: SparkSession, dir: String): DataFrame = {
    navEventsDir(s, dir)
    val e = Tables(s, dir, "events")
    val day = curDate(nsToSec(col("ts")))
    val raw = e.filter(day >= "2024-01-08" && day <= "2024-01-21")
      .groupBy(col("event_type").as("ch"))
      .agg(count(lit(1)).as("pv_ct"),
        moneySum(col("value")).as("value_sum"),
        min(col("user_id")).as("first_user"),
        max(col("user_id")).as("last_user"))
    graft.plans.AggRewrite.navigate(raw).orderBy("ch")
  }

  /** x18: AVG navigation — the serving query asks a monthly mean of the
    * money column and the optimizer re-derives it from the (day,
    * priority) summary's sum + count partials: avg(x) over the months'
    * base rows == checkedDecimalDivide(SUM(sum_partial),
    * SUM(count_partial)) re-aggregated across the month's day rows,
    * bit-equal because DECIMAL addition is exact and the divide is
    * reconstructed with Average's own operand types (the exact case of
    * the reference's money columns, DwdTradeOrderDetail.java:40-41;
    * DOUBLE child keeps the documented fall-through — FP re-ordering).
    * Cross-engine contract: DuckDB's native avg is a binary DOUBLE
    * (different bits than the decimal-exact mean), so the oracle
    * reconstructs Spark's round-half-up-at-scale-6 DECIMAL in exact
    * HUGEINT arithmetic; both engines then correctly-round the SAME
    * exact decimal to the final DOUBLE — bit-equal. */
  private def avgNavigate(s: SparkSession, dir: String): DataFrame = {
    navSummaryDir(s, dir)
    val o = Tables(s, dir, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val raw = o.filter(substring(day, 1, 4) === "1997")
      .groupBy(substring(day, 1, 7).as("order_month"))
      .agg(avg(money(col("o_totalprice")))
        .cast(DoubleType).as("avg_price"),
        count(lit(1)).as("order_ct"))
    graft.plans.AggRewrite.navigate(raw).orderBy("order_month")
  }

  // ---- x19: navigation THROUGH a fact⋈dim join --------------------

  private[graft] def navLineKeys: Seq[(String, Column)] =
    Seq("l_partkey" -> col("l_partkey"))

  private[graft] def navLineMeasures: Seq[(String, String, Column)] = Seq(
    ("rev_sum", "sum", money(col("l_extendedprice"))),
    ("line_cnt", "count_star", lit(1)),
    ("qty_max", "max", col("l_quantity")))

  /** Materialize + register the part-grain lineitem summary once per
    * (session, dir) — the fact side of the x19 join navigation. */
  private[graft] val navLineDir = Standing.stored("agg_nav_lineitem",
    Set("x19_dim_join_navigate")) { (s, dir, sd) =>
    graft.plans.AggRewrite.materialize(s, s"lineitem_by_part@$dir",
      Tables(s, dir, "lineitem"), navLineKeys, navLineMeasures, sd)
    sd
  }(unregisterNav("lineitem_by_part"))

  /** x19: the reference's /province serving shape (the Flink job
    * denormalizes province_name before the Doris write —
    * DwsTradeProvinceOrderWindow → TradeStatsMapper.java:20-22) kept
    * RAW: the query joins the fact table to the dimension and groups by
    * the dim name; AggRewrite proves the join key is a summary key and
    * every fact reference key-derivable, swaps the fact scan for the
    * part-grain summary, and keeps the dim subtree verbatim — at 100 TB
    * the join's probe side shrinks from the 6 B-row fact table to the
    * 200 M-row summary (≈30× fewer rows) BEFORE the broadcast-hash
    * join, and the aggregates re-derive from partials (count(*) from
    * the summed count_star partial, so dim-join multiplicity stays
    * exact; min over the dim column passes through — multiplicity-
    * insensitive). Oracle: the raw join in DuckDB. */
  private def dimJoinNavigate(s: SparkSession, dir: String): DataFrame = {
    navLineDir(s, dir)
    val l = Tables(s, dir, "lineitem")
    val p = Tables(s, dir, "part")
    val raw = l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("line_ct"),
        moneySum(col("l_extendedprice")).as("revenue"),
        min(col("p_type")).as("first_type"),
        max(col("l_quantity")).as("qty_max"))
    graft.plans.AggRewrite.navigate(raw).orderBy("p_brand")
  }

  /** x20: approximate-distinct navigation — the serving query asks
    * per-channel UV via the library's own [[graft.functions.HllSketch]]
    * (the a16 estimator) and the optimizer re-roots it onto the events
    * summary's stored sketch partials, merging registers instead of
    * re-hashing every fact row. Register-max merging makes the merged
    * registers IDENTICAL to a direct pass over the base, so the
    * navigated estimate is bit-equal — approximate in VALUE, exact in
    * REWRITE. At 100 TB this is the Doris bitmap-UV pattern
    * (DwsTrafficVcChArIsNewPageViewWindow keeps per-window UV state)
    * with sketches as the re-aggregable currency. The exact-UV checker
    * column deliberately stays an un-navigated raw count(DISTINCT) —
    * and the spec proves a navigated one maps ONLY onto the EXACT
    * bitmap partial (x22), never silently onto a sketch estimate.
    * Oracle contract: a16's — exact UV from DuckDB plus the
    * within-5% flag (3σ for m=4096) expected TRUE. */
  private def hllNavigate(s: SparkSession, dir: String): DataFrame = {
    navEventsDir(s, dir)
    val e = Tables(s, dir, "events")
    val hll = udaf(graft.functions.HllSketch)
    val est = graft.plans.AggRewrite.navigate(
      e.groupBy(col("event_type").as("ch"))
        .agg(hll(col("user_id")).as("uv_est"),
          count(lit(1)).as("pv_ct")))
    val exact = e.groupBy(col("event_type").as("ch"))
      .agg(countDistinct(col("user_id")).as("exact_uv"))
    est.join(exact, "ch")
      .select(col("ch"), col("pv_ct"), col("exact_uv"),
        (abs(col("uv_est") - col("exact_uv")).cast(DoubleType) <=
          col("exact_uv") * lit(0.05)).as("hll_ok"))
      .orderBy("ch")
  }

  /** x22: EXACT-distinct navigation — the serving query asks per-channel
    * UV as a plain `count(DISTINCT user_id)` against the RAW events
    * table, and the optimizer re-derives it from the events summary's
    * stored roaring-bitmap partials (the reference's Doris
    * `BITMAP_UNION` UV column, DwsTradeProvinceOrderWindow's
    * order_id set made a first-class re-aggregable measure): bitmap
    * union is idempotent, so the merged partial carries PRECISELY the
    * id set a direct pass over the base rows would, and the navigated
    * count is bit-equal — the one distinct aggregate every sketch must
    * refuse, served exactly. At 100 TB the fact pass becomes a
    * summary-row read whose per-group state is a compressed id set
    * (2 B/id sparse, 8 KiB per 64 Ki-id block dense) merged in
    * container strides instead of a row-per-id Expand + exchange. The
    * `uv_direct` twin runs [[graft.functions.BitmapDistinct]] over the
    * raw rows un-navigated — same exact value, proving the aggregator
    * against both the optimizer path and the DuckDB oracle. */
  private def bitmapNavigate(s: SparkSession, dir: String): DataFrame = {
    navEventsDir(s, dir)
    val e = Tables(s, dir, "events")
    val nav = graft.plans.AggRewrite.navigate(
      e.groupBy(col("event_type").as("ch"))
        .agg(countDistinct(col("user_id")).as("uv_exact"),
          count(lit(1)).as("pv_ct")))
    val direct = e.groupBy(col("event_type").as("ch"))
      .agg(udaf(graft.functions.BitmapDistinct)
        .apply(col("user_id")).as("uv_direct"))
    nav.join(direct, "ch").orderBy("ch")
  }

  // ---- x23: zone-map file skipping, EXECUTED (plans/SkipIndex) ------

  /** Land the Z-ORDERED orders store ONCE per (session, dir) and
    * register its zone-map index — the x4/x12 "range" layout actually
    * written (`repartitionByRange` on the Morton value + a within-file
    * sort), then one registration-time stats pass (per-file min/max/
    * null-count on the filter columns — what Delta logs at commit
    * time). Same rows as the orders table, just placed so that files
    * carry tight extents on BOTH (o_custkey, o_orderdate); returns the
    * store path. */
  private[graft] val skipStoreDir = Standing.stored("skip_store",
    Set("x23_skipscan_prune")) { (s, dir, sd) =>
    val store = s"$sd/orders_z"
    // the x4 interleave ([[mortonSpread]]/[[mortonNorm]] — one shared
    // definition with the x8 pricing): pure codegen'd integer math
    val o = Tables(s, dir, "orders")
    val raw = o.withColumn("__ck", col("o_custkey").cast(LongType))
      .withColumn("__dt",
        datediff(col("o_orderdate"), lit("1992-01-01")).cast(LongType))
    val mm = raw.agg(
      min(col("__ck")).as("ck_min"), max(col("__ck")).as("ck_max"),
      min(col("__dt")).as("dt_min"), max(col("__dt")).as("dt_max"))
    raw.crossJoin(broadcast(mm))
      .withColumn("__zval",
        mortonSpread(mortonNorm(col("__ck"), col("ck_min"),
            col("ck_max")))
          .bitwiseOR(shiftleft(
            mortonSpread(mortonNorm(col("__dt"), col("dt_min"),
              col("dt_max"))), 1)))
      .repartitionByRange(16, col("__zval"))
      .sortWithinPartitions("__zval")
      .select(o.columns.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(store)
    graft.plans.SkipIndex.register(s, s"orders_z@$dir", store,
      Seq("o_custkey", "o_orderdate"))
    sd
  }(unregisterSkip("orders_z"))

  /** x23: the x8 skip estimator EXECUTED — a two-dimensional box
    * predicate (customer range × one order year) over the z-ordered
    * store, and [[graft.plans.SkipIndex]] prunes the files whose
    * zone-map extents provably miss the box at PLANNING time: the scan
    * schedules tasks only for surviving files, before any footer is
    * opened (Delta/Iceberg data skipping; at 100 TB a day-scoped query
    * on a million-file table schedules thousands of tasks, not a
    * million). The rewrite only ever REMOVES provably-empty files and
    * any staleness falls through to the unpruned scan, so the result
    * is bit-equal to the raw plan — the oracle replays the same box on
    * the RAW orders table (the store is the same rows re-placed).
    * SkipIndexSpec asserts the plan-level file count actually drops. */
  private def skipScanPrune(s: SparkSession, dir: String): DataFrame = {
    val store = s"${skipStoreDir(s, dir)}/orders_z"
    val q = Tables.parquet(s, store)
      .filter(col("o_custkey") <= 75 &&
        col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") <= "1995-12-31")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_ct"),
        moneySum(col("o_totalprice")).as("order_amount"),
        countDistinct(col("o_custkey")).as("cust_ct"))
    graft.plans.SkipIndex.navigate(q).orderBy("o_orderpriority")
  }

  // ---- x25: zone maps OVER a partitioned store (SkipIndex ∘ Catalyst
  // partition pruning) ------------------------------------------------

  /** Land the MONTH-partitioned, custkey-clustered orders store ONCE
    * per (session, dir) and register its zone-map index — the
    * reference's serving layout exactly (`partition parYYYYMMDD`,
    * gmall2024-publisher TradeStatsMapper.java:16-22: every Doris
    * serving table is day-partitioned BY CONSTRUCTION, and data
    * skipping has to compose with that, not replace it). Within each
    * month partition the rows are range-placed on o_custkey, so each
    * partition's files carry tight disjoint custkey extents — Catalyst
    * prunes the PARTITIONS from the directory values, the zone maps
    * prune FILES inside the surviving partitions from the registered
    * per-file stats. Returns the store parent dir. */
  private[graft] val partSkipStoreDir = Standing.stored("part_skip_store",
    Set("x25_part_skipscan")) { (s, dir, sd) =>
    val store = s"$sd/orders_part"
    val o = Tables(s, dir, "orders")
      .withColumn("o_month",
        date_format(col("o_orderdate"), "yyyy-MM"))
    // ~4 files per month partition: range-place on (month, custkey)
    // so each task's slice lands in one (or two adjacent) months
    // with a tight custkey extent — the within-partition clustering
    // an ingest job would write anyway (x12's range layout per day)
    val months = o.agg(countDistinct(col("o_month"))).head.getLong(0)
    o.repartitionByRange((months * 4).toInt.max(4),
        col("o_month"), col("o_custkey"))
      .sortWithinPartitions("o_month", "o_custkey")
      .write.mode("overwrite").partitionBy("o_month").parquet(store)
    graft.plans.SkipIndex.register(s, s"orders_part@$dir", store,
      Seq("o_custkey"))
    sd
  }(unregisterSkip("orders_part"))

  /** x25: file skipping composed WITH partition pruning — a quarter-
    * scoped, customer-bounded box over the month-partitioned store.
    * Catalyst's own partition pruning keeps only the three 1995-Q1
    * month directories (the scan's PartitionFilters — directories
    * never listed into tasks); [[graft.plans.SkipIndex]] then prunes,
    * INSIDE the surviving partitions, every file whose custkey extent
    * provably misses `o_custkey <= 75` — at 100 TB this is the real
    * serving shape: day-partition first (thousands of partitions),
    * zone-map second (thousands of files per partition), tasks
    * scheduled only for the intersection. Both prunings are visible in
    * the physical scan's numFiles (SkipIndexSpec asserts each level
    * drops it). The oracle replays the same box on the RAW orders
    * table — the store is the same rows re-placed, so a hash match
    * proves both prunings semantically invisible. */
  private def partSkipScan(s: SparkSession, dir: String): DataFrame = {
    val store = s"${partSkipStoreDir(s, dir)}/orders_part"
    val q = Tables.parquet(s, store)
      .filter(col("o_month") >= "1995-01" && col("o_month") <= "1995-03" &&
        col("o_custkey") <= 75)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_ct"),
        moneySum(col("o_totalprice")).as("order_amount"),
        countDistinct(col("o_custkey")).as("cust_ct"))
    graft.plans.SkipIndex.navigate(q).orderBy("o_orderpriority")
  }

  // ---- x28: zone maps over a MULTI-LEVEL partitioned store
  // (SkipIndex ∘ nested Catalyst partition pruning) -------------------

  /** Land the (year, month)-NESTED, custkey-clustered orders store
    * ONCE per (session, dir) and register its zone-map index — the
    * reference's real store layouts nest the date dimension
    * (yyyy/MM/dd HDFS trees; x25 proved the single-level compose).
    * Catalyst prunes BOTH directory levels from the path values; the
    * zone maps then prune files inside the surviving leaf partitions
    * from the registered per-file custkey extents. The per-file stats
    * pass and the fence are layout-agnostic (they key on leaf files),
    * so multi-level stores ride the same catalog. Returns the store
    * parent dir. */
  private[graft] val nestedSkipStoreDir = Standing.stored(
    "nested_skip_store", Set("x28_nested_skipscan")) { (s, dir, sd) =>
    val store = s"$sd/orders_nested"
    val o = Tables(s, dir, "orders")
      .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
      .withColumn("o_mm", date_format(col("o_orderdate"), "MM"))
    // ~4 files per (year, month) leaf: range-place on the partition
    // keys + custkey so each leaf's files carry tight disjoint
    // custkey extents (the ingest layout x12 plans per day)
    val leaves = o.agg(countDistinct(col("o_year"), col("o_mm")))
      .head.getLong(0)
    o.repartitionByRange((leaves * 4).toInt.max(4),
        col("o_year"), col("o_mm"), col("o_custkey"))
      .sortWithinPartitions("o_year", "o_mm", "o_custkey")
      .write.mode("overwrite").partitionBy("o_year", "o_mm")
      .parquet(store)
    graft.plans.SkipIndex.register(s, s"orders_nested@$dir", store,
      Seq("o_custkey"))
    sd
  }(unregisterSkip("orders_nested"))

  /** x28: file skipping composed with TWO-LEVEL partition pruning — a
    * quarter-scoped, customer-bounded box over the (year, month)-
    * nested store. Catalyst keeps the 1995 year directory and its
    * Q1 month subdirectories (nested PartitionFilters — the other
    * years' subtrees are never even listed into tasks); SkipIndex
    * then prunes, inside the surviving leaves, every file whose
    * custkey extent provably misses `o_custkey <= 75`. At 100 TB this
    * is the lakehouse norm: stores nest yyyy/MM (or deeper), and data
    * skipping has to compose with the whole directory algebra, not
    * just one level. Both prunings are asserted in the physical
    * scan's numFiles (SkipIndexSpec); the oracle replays the box on
    * the RAW orders table — same rows re-placed, so a hash match
    * proves both prunings semantically invisible. */
  private def nestedSkipScan(s: SparkSession, dir: String): DataFrame = {
    val store = s"${nestedSkipStoreDir(s, dir)}/orders_nested"
    val q = Tables.parquet(s, store)
      .filter(col("o_year") === "1995" &&
        col("o_mm") >= "01" && col("o_mm") <= "03" &&
        col("o_custkey") <= 75)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_ct"),
        moneySum(col("o_totalprice")).as("order_amount"),
        countDistinct(col("o_custkey")).as("cust_ct"))
    graft.plans.SkipIndex.navigate(q).orderBy("o_orderpriority")
  }

  // ---- x27: the serving stack COMPOSED — navigation onto a
  // CLUSTERED summary, zone maps pruning the summary scan -----------

  /** Materialize + register the (month, priority) orders summary ONCE
    * per (session, dir), range-CLUSTERED on the month key, and
    * register a zone-map index over its store. At 100 TB a summary is
    * itself a large table (a user-grain DWS runs hundreds of millions
    * of rows); clustering the summary on its serving key is what lets
    * data skipping prune the SUMMARY scan — Doris sorts its aggregate
    * tables on the key prefix for exactly this reason. */
  private[graft] val navMonthDir = Standing.stored("nav_month_summary",
    Set("x27_summary_skipscan")) { (s, dir, sd) =>
    graft.plans.AggRewrite.materialize(s,
      s"orders_month_priority@$dir", Tables(s, dir, "orders"),
      keys = Seq(
        "order_month" -> substring(
          date_format(col("o_orderdate"), "yyyy-MM-dd"), 1, 7),
        "o_orderpriority" -> col("o_orderpriority")),
      measures = Seq(
        ("amount_sum", "sum", money(col("o_totalprice"))),
        ("price_cnt", "count", money(col("o_totalprice"))),
        ("order_ct", "count_star", lit(1))),
      path = sd, clusterBy = Seq("order_month"))
    graft.plans.SkipIndex.register(s, s"orders_month_sum@$dir",
      s"$sd/v0", Seq("order_month"))
    sd
  } { (s, dir, sd) =>
    unregisterNav("orders_month_priority")(s, dir, sd)
    unregisterSkip("orders_month_sum")(s, dir, sd)
  }

  /** x27: BOTH rewrites in one query — the serving stack composed.
    * A half-year priority report against the RAW orders table first
    * NAVIGATES onto the month-grain summary (the fact scan becomes a
    * metadata-sized summary read, filter re-phrased over the month
    * key), then [[graft.plans.SkipIndex]] prunes the summary's OWN
    * files by their clustered month extents — at 100 TB this is the
    * full Doris serving path: aggregate table instead of fact table,
    * sorted-key data skipping inside the aggregate table, tasks
    * scheduled only for the six months asked about. Each layer keeps
    * its own staleness fence, so any drift falls through one level
    * (skip → unpruned summary; navigation → raw facts) — never a
    * wrong answer. Oracle replays the report on the RAW orders
    * table. */
  private def summarySkipScan(s: SparkSession, dir: String): DataFrame = {
    navMonthDir(s, dir)
    val o = Tables(s, dir, "orders")
    val month = substring(
      date_format(col("o_orderdate"), "yyyy-MM-dd"), 1, 7)
    val q = o.filter(month >= "1995-01" && month <= "1995-06")
      .groupBy(col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("order_amount"),
        count(lit(1)).as("order_ct"))
    graft.plans.SkipIndex.navigate(graft.plans.AggRewrite.navigate(q))
      .orderBy("o_orderpriority")
  }

  /** x24: exact audience overlap from STORED id sets — the Doris
    * `BITMAP_AND_COUNT` serving pattern. The per-channel segment
    * bitmaps are a partial-building aggregate that NAVIGATES onto the
    * events summary's stored bitmap partials (partial-to-partial
    * union, round 12's rollup algebra), so the segment frame reads
    * metadata-sized summary rows — never the fact table. The pairwise
    * overlap matrix then runs codegen'd intersection kernels
    * ([[graft.plans.MergeExprs.bitmapAndCount]]) over a fixed tiny
    * channels² grid: at 100 TB the whole report is |segments|² kernel
    * calls over partials the DWS layer already maintains, the exact
    * answer Doris serves with BITMAP_AND_COUNT(lhs, rhs) — no re-scan,
    * no pairwise user-level join. Jaccard is ONE IEEE division of
    * exact longs, bit-identical across engines. Oracle: the raw
    * pairwise user-level join in DuckDB. */
  private def bitmapOverlap(s: SparkSession, dir: String): DataFrame = {
    navEventsDir(s, dir)
    val e = Tables(s, dir, "events")
    // ONE facade (Graft.overlapMatrix) serves the public API and this
    // query: the per-segment pass navigates onto the events summary's
    // stored bitmap partials, the grid runs the codegen'd kernels, and
    // the jaccard guard (0.0 for two empty segments) lives in exactly
    // one place
    graft.api.Graft.overlapMatrix(e, col("event_type"), col("user_id"))
      .select(col("seg_a").as("ch_a"), col("seg_b").as("ch_b"),
        col("uv_a"), col("uv_b"), col("overlap"), col("jaccard"))
      .orderBy("ch_a", "ch_b")
  }

  /** x26: N-day retention curves from STORED bitmap partials — the
    * canonical query the x24 kernels exist for (Doris
    * `BITMAP_INTERSECT` / orthogonal-bitmap retention serving). The
    * per-day active-user bitmaps NAVIGATE onto the events summary's
    * stored (day, channel) bitmap partials — union across channels is
    * idempotent, so the day-grain set re-derives bit-exactly without
    * touching the fact table (AggRewriteSpec asserts the plan never
    * scans events). The (cohort day × offset 0..7) grid is then
    * |days|×8 codegen'd intersection kernel calls over that
    * metadata-sized frame: at 100 TB the whole retention report reads
    * partials the DWS layer already maintains — no user-level
    * self-join, no fact re-scan, and the counts are EXACT (the one
    * aggregate every sketch must refuse). Retention is one IEEE
    * division of exact longs, bit-identical across engines. Oracle:
    * the raw user-level day self-join in DuckDB over the full grid. */
  private def bitmapRetention(s: SparkSession, dir: String): DataFrame = {
    navEventsDir(s, dir)
    val e = Tables(s, dir, "events")
    // ONE facade (Graft.retentionCurves) serves the public API and
    // this query — the per-day bitmap build navigates, the grid runs
    // the kernels, the empty-cohort guard lives in exactly one place
    graft.api.Graft.retentionCurves(e,
        curDate(nsToSec(col("ts"))), col("user_id"), maxOffset = 7)
      // the facade's cohort is DATE-typed (day-grain normalized);
      // the oracle keys on the day STRING — format back losslessly
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("offset").as("day_offset"),
        col("cohort_uv"), col("retained"), col("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  // ---- x21: navigation THROUGH a multi-hop dim chain ---------------

  /** Materialize + register the customer-grain orders summary once per
    * (session, dir) — the fact side of x21's dim-chain navigation (the
    * user-grain DWS table of a real deployment; ~10 orders/customer =
    * 10× compression at every scale). */
  private[graft] val navCustDir = Standing.stored("agg_nav_cust",
    Set("x21_province_navigate")) { (s, dir, sd) =>
    graft.plans.AggRewrite.materialize(s, s"orders_by_cust@$dir",
      Tables(s, dir, "orders"),
      keys = Seq("o_custkey" -> col("o_custkey")),
      measures = Seq(
        ("sum_price", "sum", money(col("o_totalprice"))),
        ("price_cnt", "count", money(col("o_totalprice"))),
        ("cnt", "count_star", lit(1))),
      path = sd)
    sd
  }(unregisterNav("orders_by_cust"))

  /** x21: the reference's /province serving query in its LITERAL shape
    * — revenue by geography dim NAME, two dimension hops from the fact
    * (orders⋈customer⋈nation; TradeStatsMapper.java:20-22 reads it
    * denormalized from Doris). The optimizer walks the inner-join
    * SPINE, proves every fact reference is a summary key (o_custkey),
    * swaps the fact scan for the customer-grain summary, and keeps the
    * whole dim chain verbatim — count(*) stays exact through the
    * two-hop multiplicity because it re-derives from the SUMMED
    * count_star partial. At 100 TB the chain's probe side shrinks ~10×
    * (orders→customers) before any dim join runs. Oracle: the raw
    * three-way join in DuckDB. */
  private def provinceNavigate(s: SparkSession, dir: String): DataFrame = {
    navCustDir(s, dir)
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val raw = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("order_ct"),
        moneySum(col("o_totalprice")).as("order_amount"),
        avg(money(col("o_totalprice"))).cast(DoubleType)
          .as("avg_order"))
    graft.plans.AggRewrite.navigate(raw).orderBy("n_name")
  }

  /** x16: grouping-sets navigation — a ROLLUP over (month, priority)
    * written against the RAW orders table; AggRewrite re-roots the
    * analyzer's Expand onto the summary (group slots onto keys, base
    * pass-through replaced by the partial-measure columns, null/
    * grouping-id slots untouched), so every grain of the rollup
    * re-aggregates from partials. The subtotal and grand-total rows
    * come out bit-equal to the raw plan — DuckDB's native ROLLUP is
    * the oracle. */
  private def rollupSetsNavigate(s: SparkSession, dir: String): DataFrame = {
    navSummaryDir(s, dir)
    val o = Tables(s, dir, "orders")
    val day = date_format(col("o_orderdate"), "yyyy-MM-dd")
    val raw = o.filter(substring(day, 1, 4) === "1997")
      .rollup(substring(day, 1, 7).as("order_month"),
        col("o_orderpriority"))
      .agg(moneySum(col("o_totalprice")).as("order_amount"),
        count(lit(1)).as("order_ct"))
    graft.plans.AggRewrite.navigate(raw)
      .orderBy(col("order_month").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** x15: coarser grain + partial-count derivation — priority-only
    * grouping (day key re-aggregated away entirely), an IN filter on the
    * surviving key pushed onto the summary, and count(column) served
    * from the summary's non-null partial count. */
  private def rollupNavigate(s: SparkSession, dir: String): DataFrame = {
    navSummaryDir(s, dir)
    val o = Tables(s, dir, "orders")
    val raw = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_ct"),
        count(col("o_orderstatus")).as("status_ct"),
        moneySum(col("o_totalprice")).as("order_amount"))
    graft.plans.AggRewrite.navigate(raw).orderBy("o_orderpriority")
  }

  /** x11: bucketed co-located join — the STANDING-LAYOUT answer to the
    * shuffle x1/x2 mitigate at runtime: both join sides are written ONCE
    * as bucketed tables (`bucketBy(8, key)`, one compacted file per
    * bucket via a pre-write hash repartition on the same key), after
    * which EVERY key-equi-join between them runs with ZERO Exchange on
    * either side — Catalyst sees matching HashPartitioning from the
    * bucket spec and plans scan → sort → SortMergeJoin directly. At
    * 100 TB this converts the recurring fact⋈fact shuffle (the single
    * most expensive operator in a daily pipeline) into a one-time
    * layout cost, exactly like x9 converts scan cost into partition
    * layout; PerfSpec asserts the executed plan carries a
    * SortMergeJoin with only the final aggregation's Exchange. The
    * merge hint only pins the join STRATEGY (a broadcast at this test
    * scale would dodge the exchange question); it adds nothing at real
    * scale where SMJ is what Catalyst picks anyway. Tables are
    * registered in the session catalog against a temp-dir path (the
    * metastore analog) by the shared prestage, one build per
    * (session, sf). */
  val x11Buckets = 8

  // keyed on the SHARED catalog state, not the session: two sessions
  // over one catalog (spark.newSession()) must reuse one build — a
  // per-session key would let the second build DROP/rewrite the table
  // out from under the first session's live plans. The build is
  // DESTRUCTIVE (DROP + rewrite of the catalog tables), so a racing
  // caller must wait for the one build rather than run its own — the
  // per-key build lock. Release DROPs the tables in the creating
  // session; the temp dir then goes with the standing, since DROP only
  // decatalogs an external table.
  private[graft] val bucketTables = Standing.stored("bucket_tables",
    Set("x11_bucket_join", "sql_dwd_order_detail_bucketed"),
    keyOf = (s, dir) => (s.sharedState, dir)) { (s, dir, base) =>
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val lt = s"graft_x11_lineitem_$tag"
    val ot = s"graft_x11_orders_$tag"
    s.sql(s"DROP TABLE IF EXISTS $lt")
    s.sql(s"DROP TABLE IF EXISTS $ot")
    // the standing layout carries every column the co-located join
    // family needs (x11's rollup AND the DWD order-detail wide table)
    // — parquet column pruning keeps each consumer's scan narrow, so
    // one layout serves all fact⋈fact joins on the order key
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
      .repartition(x11Buckets, col("l_orderkey"))
      .write.mode("overwrite").bucketBy(x11Buckets, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$base/lineitem")
      .saveAsTable(lt)
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(x11Buckets, col("o_orderkey"))
      .write.mode("overwrite").bucketBy(x11Buckets, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$base/orders")
      .saveAsTable(ot)
    (lt, ot)
  } { case (s, _, (lt, ot)) =>
    scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $lt"))
    scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $ot"))
  }

  private def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketTables(s, dir)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("line_ct"),
        sum(col("l_quantity").cast(LongType)).as("qty_sum"),
        moneySum(col("l_extendedprice")).as("revenue"))
  }

  override def standings: Seq[Standing[_]] = Seq(dppStoreDir,
    zorderBucketRows, navSummaryDir, navEventsDir, skipStoreDir,
    partSkipStoreDir, nestedSkipStoreDir, navMonthDir, navLineDir,
    navCustDir, bucketTables)

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "x7_table_stats" -> tableStats,
    "x1_salted_agg" -> saltedAgg,
    "x10_skew_report" -> skewReport,
    "x2_salted_distinct" -> saltedDistinct,
    "x5_bloom_prefilter" -> bloomPrefilter,
    "x6_compaction_plan" -> compactionPlan,
    "x8_skip_stats" -> skipStats,
    "x9_dpp_prune" -> dppPrune,
    "x11_bucket_join" -> bucketJoin,
    "x12_partition_planner" -> partitionPlanner,
    "x13_layout_audit" -> layoutAudit,
    "x4_zorder_layout" -> zorderLayout,
    "x14_agg_rewrite" -> aggRewriteMonthly,
    "x15_rollup_navigate" -> rollupNavigate,
    "x16_rollup_sets_navigate" -> rollupSetsNavigate,
    "x17_events_navigate" -> eventsNavigate,
    "x18_avg_navigate" -> avgNavigate,
    "x19_dim_join_navigate" -> dimJoinNavigate,
    "x20_hll_navigate" -> hllNavigate,
    "x21_province_navigate" -> provinceNavigate,
    "x22_bitmap_distinct_navigate" -> bitmapNavigate,
    "x23_skipscan_prune" -> skipScanPrune,
    "x24_bitmap_overlap" -> bitmapOverlap,
    "x25_part_skipscan" -> partSkipScan,
    "x26_bitmap_retention" -> bitmapRetention,
    "x27_summary_skipscan" -> summarySkipScan,
    "x28_nested_skipscan" -> nestedSkipScan)

  val oracles = Map(
    // x14/x15's oracle runs on the RAW orders table — a hash match is the
    // proof the materialized-aggregate rewrite is semantically invisible
    "x14_agg_rewrite" ->
      s"""SELECT substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7)
         |         AS order_month,
         |       o_orderpriority,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       count(*) AS order_ct,
         |       CAST(min(${Oracle.money("o_totalprice")}) AS DOUBLE)
         |         AS min_price,
         |       CAST(max(${Oracle.money("o_totalprice")}) AS DOUBLE)
         |         AS max_price
         |FROM orders
         |WHERE substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 4) = '1997'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x15_rollup_navigate" ->
      s"""SELECT o_orderpriority,
         |       count(*) AS order_ct,
         |       count(o_orderstatus) AS status_ct,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount
         |FROM orders
         |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x17_events_navigate" ->
      s"""SELECT event_type AS ch,
         |       count(*) AS pv_ct,
         |       ${Oracle.moneySum("\"value\"")} AS value_sum,
         |       min(user_id) AS first_user,
         |       max(user_id) AS last_user
         |FROM events
         |WHERE ${Oracle.fmtDate(Oracle.sec())} >= '2024-01-08'
         |  AND ${Oracle.fmtDate(Oracle.sec())} <= '2024-01-21'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x18's oracle reconstructs Spark's avg(DECIMAL(18,2)) — round-
    // half-up at scale 6 — in exact HUGEINT arithmetic, because
    // DuckDB's native avg is a binary DOUBLE and could differ in the
    // last printed digit: round_half_up(n/d) = (2n + d) // (2d) on the
    // 10^6-scaled integer numerator (prices are positive), then scaled
    // back into a DECIMAL(28,6) by exact decimal multiplication
    "x18_avg_navigate" ->
      s"""SELECT substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7)
         |         AS order_month,
         |       CAST(CAST(CAST((2 * CAST(SUM(${Oracle.money("o_totalprice")})
         |                           * 1000000 AS HUGEINT)
         |                  + COUNT(*)) // (2 * COUNT(*))
         |                 AS DECIMAL(22,0))
         |            * CAST(0.000001 AS DECIMAL(7,6))
         |            AS DECIMAL(28,6)) AS DOUBLE) AS avg_price,
         |       count(*) AS order_ct
         |FROM orders
         |WHERE substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 4) = '1997'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x20: a16's error-bound contract — DuckDB supplies the exact UV
    // and the within-5% flag is expected TRUE; the navigated estimate
    // itself is bit-equal to the raw estimator (spec-proven), so the
    // approximation is in the VALUE, never in the rewrite
    "x20_hll_navigate" ->
      s"""SELECT event_type AS ch, count(*) AS pv_ct,
         |       count(DISTINCT user_id) AS exact_uv,
         |       true AS hll_ok
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // x21: the /province shape raw — avg reconstructed like x18 (the
    // HUGEINT half-up mean of the money child); count/sum on the raw
    // three-way join prove the TWO-hop multiplicity stays exact
    "x21_province_navigate" ->
      s"""SELECT n_name,
         |       count(*) AS order_ct,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       CAST(CAST(CAST((2 * CAST(SUM(${Oracle.money("o_totalprice")})
         |                           * 1000000 AS HUGEINT)
         |                  + COUNT(*)) // (2 * COUNT(*))
         |                 AS DECIMAL(22,0))
         |            * CAST(0.000001 AS DECIMAL(7,6))
         |            AS DECIMAL(28,6)) AS DOUBLE) AS avg_order
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x19's oracle runs the RAW fact⋈dim join — the hash match proves
    // the summary⋈dim rewrite preserves join multiplicity exactly
    "x19_dim_join_navigate" ->
      s"""SELECT p_brand,
         |       count(*) AS line_ct,
         |       ${Oracle.moneySum("l_extendedprice")} AS revenue,
         |       min(p_type) AS first_type,
         |       max(l_quantity) AS qty_max
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x24: the raw pairwise user-level join IS the oracle — a hash
    // match proves the stored-partial intersection kernels exact, and
    // the jaccard column (one IEEE division of exact longs) bit-equal
    "x24_bitmap_overlap" ->
      s"""WITH ch AS (SELECT DISTINCT event_type AS ch FROM events),
         |s AS (SELECT DISTINCT event_type AS ch, user_id FROM events),
         |uv AS (SELECT ch, CAST(count(user_id) AS BIGINT) AS uv
         |       FROM s GROUP BY 1),
         |ov AS (SELECT a.ch AS ch_a, b.ch AS ch_b,
         |              CAST(count(*) AS BIGINT) AS overlap
         |       FROM s a JOIN s b
         |         ON a.user_id = b.user_id AND a.ch < b.ch
         |       GROUP BY 1, 2)
         |SELECT p.ch_a, p.ch_b, ua.uv AS uv_a, ub.uv AS uv_b,
         |       CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
         |       CASE WHEN ua.uv + ub.uv - coalesce(ov.overlap, 0) = 0
         |            THEN 0.0
         |            ELSE CAST(coalesce(ov.overlap, 0) AS DOUBLE) /
         |              (ua.uv + ub.uv - coalesce(ov.overlap, 0)) END
         |         AS jaccard
         |FROM (SELECT a.ch AS ch_a, b.ch AS ch_b
         |      FROM ch a JOIN ch b ON a.ch < b.ch) p
         |JOIN uv ua ON ua.ch = p.ch_a
         |JOIN uv ub ON ub.ch = p.ch_b
         |LEFT JOIN ov ON ov.ch_a = p.ch_a AND ov.ch_b = p.ch_b
         |ORDER BY 1, 2""".stripMargin,
    // x22: EXACT distinct — the hash match against DuckDB's native
    // count(DISTINCT) on the RAW table proves both the navigated
    // bitmap-merge AND the direct bitmap aggregator are exact (no
    // error-bound contract needed, unlike x20)
    "x22_bitmap_distinct_navigate" ->
      s"""SELECT event_type AS ch,
         |       count(DISTINCT user_id) AS uv_exact,
         |       count(*) AS pv_ct,
         |       count(DISTINCT user_id) AS uv_direct
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // x23's oracle replays the box on the RAW orders table: the
    // z-ordered store is the same rows re-placed, so a hash match
    // proves the planning-time file pruning semantically invisible
    "x23_skipscan_prune" ->
      s"""SELECT o_orderpriority,
         |       count(*) AS order_ct,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       count(DISTINCT o_custkey) AS cust_ct
         |FROM orders
         |WHERE o_custkey <= 75
         |  AND o_orderdate >= '1995-01-01'
         |  AND o_orderdate <= '1995-12-31'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x25's oracle replays the quarter×custkey box on the RAW orders
    // table: the partitioned store is the same rows re-placed, so a
    // hash match proves partition pruning + file skipping both
    // semantically invisible
    "x25_part_skipscan" ->
      s"""SELECT o_orderpriority,
         |       count(*) AS order_ct,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       count(DISTINCT o_custkey) AS cust_ct
         |FROM orders
         |WHERE o_custkey <= 75
         |  AND substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7)
         |        BETWEEN '1995-01' AND '1995-03'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x27's oracle replays the half-year priority report on the RAW
    // orders table — a hash match proves navigation + summary-side
    // data skipping jointly semantically invisible
    "x27_summary_skipscan" ->
      s"""SELECT o_orderpriority,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       count(*) AS order_ct
         |FROM orders
         |WHERE substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7)
         |        BETWEEN '1995-01' AND '1995-06'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x28's oracle replays the quarter×custkey box on the RAW orders
    // table: the nested (year, month) store is the same rows
    // re-placed, so a hash match proves two-level partition pruning +
    // file skipping both semantically invisible
    "x28_nested_skipscan" ->
      s"""SELECT o_orderpriority,
         |       count(*) AS order_ct,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       count(DISTINCT o_custkey) AS cust_ct
         |FROM orders
         |WHERE o_custkey <= 75
         |  AND strftime(o_orderdate, '%Y') = '1995'
         |  AND strftime(o_orderdate, '%m') BETWEEN '01' AND '03'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x26's oracle is the raw user-level day self-join over the FULL
    // (cohort day × observed day ≤ 7 ahead) grid — a hash match proves
    // the stored-partial intersection counts exact and the retention
    // ratio (one IEEE division of exact longs) bit-equal
    "x26_bitmap_retention" -> {
      val day = Oracle.fmtDate(Oracle.sec())
      // FULL (cohort × offset 0..7) grid, like the Spark side: an
      // offset whose target day has no activity reports retained = 0
      s"""WITH d AS (SELECT DISTINCT $day AS d FROM events),
         |s AS (SELECT DISTINCT $day AS d, user_id FROM events
         |      WHERE user_id IS NOT NULL),
         |uv AS (SELECT d, CAST(count(user_id) AS BIGINT) AS uv
         |       FROM s GROUP BY 1),
         |grid AS (SELECT d.d AS cohort_day, o.o AS day_offset
         |         FROM d CROSS JOIN
         |           (SELECT UNNEST(range(0, 8)) AS o) o),
         |ov AS (SELECT a.d AS cohort_day,
         |              date_diff('day', CAST(a.d AS DATE),
         |                        CAST(b.d AS DATE)) AS day_offset,
         |              CAST(count(*) AS BIGINT) AS retained
         |       FROM s a JOIN s b ON a.user_id = b.user_id
         |       WHERE CAST(b.d AS DATE) >= CAST(a.d AS DATE)
         |         AND date_diff('day', CAST(a.d AS DATE),
         |                       CAST(b.d AS DATE)) <= 7
         |       GROUP BY 1, 2)
         |SELECT g.cohort_day,
         |       CAST(g.day_offset AS BIGINT) AS day_offset,
         |       CAST(coalesce(ua.uv, 0) AS BIGINT) AS cohort_uv,
         |       CAST(coalesce(ov.retained, 0) AS BIGINT) AS retained,
         |       CASE WHEN coalesce(ua.uv, 0) = 0 THEN 0.0
         |            ELSE CAST(coalesce(ov.retained, 0) AS DOUBLE)
         |                 / coalesce(ua.uv, 0) END AS retention
         |FROM grid g
         |LEFT JOIN uv ua ON ua.d = g.cohort_day
         |LEFT JOIN ov ON ov.cohort_day = g.cohort_day
         |            AND ov.day_offset = g.day_offset
         |ORDER BY 1, 2""".stripMargin
    },
    "x16_rollup_sets_navigate" ->
      s"""SELECT substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7)
         |         AS order_month,
         |       o_orderpriority,
         |       ${Oracle.moneySum("o_totalprice")} AS order_amount,
         |       count(*) AS order_ct
         |FROM orders
         |WHERE substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 4) = '1997'
         |GROUP BY ROLLUP (
         |  substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7),
         |  o_orderpriority)
         |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,
    "x13_layout_audit" -> {
      s"""WITH e AS (
         |  SELECT event_id,
         |         CAST(coalesce(length(event_type), 0)
         |              + coalesce(length(props), 0) + 32 AS BIGINT)
         |           AS est_bytes
         |  FROM events),
         |p AS (
         |  SELECT greatest(CAST(ceil(CAST(sum(est_bytes) AS DOUBLE)
         |                 / $plannerTargetBytes) AS BIGINT), 1)
         |           AS n_parts
         |  FROM e),
         |assigned AS (
         |  SELECT n_parts,
         |         ${Oracle.hex4("CAST(event_id AS VARCHAR)")} % n_parts
         |           AS bucket,
         |         est_bytes
         |  FROM e CROSS JOIN p),
         |bk AS (
         |  SELECT n_parts, bucket,
         |         CAST(sum(est_bytes) AS BIGINT) AS bucket_bytes
         |  FROM assigned GROUP BY 1, 2)
         |SELECT n_parts, CAST(count(*) AS BIGINT) AS used_parts,
         |       min(bucket_bytes) AS min_bucket_bytes,
         |       max(bucket_bytes) AS max_bucket_bytes,
         |       CAST(sum(bucket_bytes) AS BIGINT) // count(*)
         |         AS avg_bucket_bytes,
         |       round(CAST(max(bucket_bytes) AS DOUBLE)
         |             / $plannerTargetBytes, 6) AS max_fill,
         |       max(bucket_bytes) <= ${2L * plannerTargetBytes}
         |         AS within_tolerance
         |FROM bk GROUP BY 1""".stripMargin
    },
    "x12_partition_planner" -> {
      val perTable = plannerTables.map { case (t, strs, fixed) =>
        val strBytes =
          if (strs.isEmpty) "0"
          else strs.map(c => s"COALESCE(length($c), 0)").mkString(" + ")
        s"""SELECT '$t' AS table_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum($strBytes + $fixed) AS BIGINT) AS est_bytes
           |FROM $t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH u AS (
         |$perTable
         |),
         |p AS (
         |  SELECT *, CAST($plannerTargetBytes AS BIGINT) AS target_bytes,
         |         greatest(CAST(ceil(CAST(est_bytes AS DOUBLE)
         |                  / $plannerTargetBytes) AS BIGINT), 1)
         |           AS n_partitions
         |  FROM u)
         |SELECT table_name, n_rows, est_bytes, target_bytes, n_partitions,
         |       CAST(pow(2, ceil(log2(CAST(n_partitions AS DOUBLE))))
         |            AS BIGINT) AS bucket_count,
         |       est_bytes // n_partitions AS avg_partition_bytes
         |FROM p""".stripMargin
    },
    "x10_skew_report" ->
      """SELECT 'events.event_type' AS key_col,
        |       CAST(sum(ct) AS BIGINT) AS n_rows,
        |       count(*) AS n_keys,
        |       CAST(max(ct) AS BIGINT) AS max_key_ct,
        |       round(CAST(max(ct) AS DOUBLE) / sum(ct), 6) AS top1_share,
        |       round(CAST(max(ct) AS DOUBLE) * count(*) / sum(ct), 6)
        |         AS skew_factor
        |FROM (SELECT count(*) AS ct FROM events GROUP BY event_type)
        |UNION ALL
        |SELECT 'events.user_id',
        |       CAST(sum(ct) AS BIGINT), count(*), CAST(max(ct) AS BIGINT),
        |       round(CAST(max(ct) AS DOUBLE) / sum(ct), 6),
        |       round(CAST(max(ct) AS DOUBLE) * count(*) / sum(ct), 6)
        |FROM (SELECT count(*) AS ct FROM events GROUP BY user_id)
        |UNION ALL
        |SELECT 'lineitem.l_suppkey',
        |       CAST(sum(ct) AS BIGINT), count(*), CAST(max(ct) AS BIGINT),
        |       round(CAST(max(ct) AS DOUBLE) / sum(ct), 6),
        |       round(CAST(max(ct) AS DOUBLE) * count(*) / sum(ct), 6)
        |FROM (SELECT count(*) AS ct FROM lineitem GROUP BY l_suppkey)""".stripMargin,
    // x11's bucketed tables are a byte-identical re-layout of two raw
    // tables (projection + hash bucketing changes no values), so the
    // oracle joins the raw tables directly — a defective bucket layout
    // (a row hashed into the wrong bucket never meets its match) shows
    // up as missing join rows here.
    "x11_bucket_join" ->
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS line_ct,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |            AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // x9's store is a byte-identical re-layout of the orders rollup, so
    // the oracle reads the raw table directly — any pruning defect
    // (a partition wrongly skipped) shows up as missing rows here.
    "x9_dpp_prune" ->
      """WITH f AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS amount
        |  FROM orders),
        |u AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |         count(*) AS urgent_ct
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |t AS (
        |  SELECT order_month, urgent_ct
        |  FROM (SELECT *, row_number() OVER
        |          (ORDER BY urgent_ct DESC, order_month) AS rk FROM u)
        |  WHERE rk <= 3)
        |SELECT f.order_month, urgent_ct, count(*) AS order_ct,
        |       CAST(sum(amount) AS DOUBLE) AS amount_sum
        |FROM f JOIN t ON f.order_month = t.order_month
        |GROUP BY 1, 2""".stripMargin,
    "x7_table_stats" -> {
      val cols = Seq(
        ("o_orderkey", "o_orderkey"),
        ("o_custkey", "o_custkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_orderpriority", "o_orderpriority"),
        ("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"))
      cols.map { case (n, e) =>
        s"""SELECT '$n' AS column_name,
           |       CAST(count(*) AS BIGINT) AS row_ct,
           |       CAST(sum(CASE WHEN $e IS NULL THEN 1 ELSE 0 END)
           |            AS BIGINT) AS null_ct,
           |       CAST(count(DISTINCT $e) AS BIGINT) AS ndv,
           |       true AS ndv_approx_ok,
           |       CAST(min($e) AS VARCHAR) AS min_val,
           |       CAST(max($e) AS VARCHAR) AS max_val
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")
    },
    "x6_compaction_plan" ->
      s"""WITH files AS (
         |  SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
         |         strftime(o_orderdate, '%Y-%m-%d') AS file_day,
         |         CAST(count(*) * 40 +
         |              sum(length(o_orderpriority) + length(o_orderstatus))
         |              AS BIGINT) AS bytes
         |  FROM orders GROUP BY 1, 2),
         |b AS (
         |  SELECT part_month, file_day, bytes,
         |         coalesce(sum(bytes) OVER (PARTITION BY part_month
         |           ORDER BY file_day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           // $compactTarget AS bin
         |  FROM files),
         |bins AS (
         |  SELECT part_month, bin, CAST(sum(bytes) AS BIGINT) AS bin_bytes
         |  FROM b GROUP BY 1, 2),
         |per AS (
         |  SELECT part_month, CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |         CAST(count(DISTINCT bin) AS BIGINT) AS n_bins
         |  FROM b GROUP BY 1)
         |SELECT per.part_month, n_files, total_bytes, n_bins,
         |       CAST(max(bin_bytes) AS BIGINT) AS max_bin_bytes,
         |       round(CAST(total_bytes AS DOUBLE)
         |             / (n_bins * $compactTarget), 6) AS fill_frac
         |FROM per JOIN bins ON per.part_month = bins.part_month
         |GROUP BY 1, 2, 3, 4""".stripMargin,
    // The bloom prefilter is semantically invisible (false positives are
    // removed by the exact join, false negatives don't exist), so the
    // oracle is the PLAIN exact join — any bloom defect shows up as a
    // row/hash mismatch here.
    "x5_bloom_prefilter" ->
      """WITH k AS (
        |  SELECT doc_id, source,
        |         concat_ws(':', lang, CAST(n_chars AS VARCHAR)) AS k
        |  FROM documents),
        |n AS (SELECT doc_id, k FROM k WHERE source = 'src0'),
        |o AS (SELECT doc_id, k FROM k WHERE source <> 'src0')
        |SELECT n.doc_id, count(*) AS old_match_ct
        |FROM n JOIN o ON n.k = o.k
        |GROUP BY 1""".stripMargin,
    "x1_salted_agg" ->
      s"""SELECT event_type AS ch, count(*) AS pv_ct,
         |       ${Oracle.moneySum("\"value\"")} AS amount_sum
         |FROM events GROUP BY 1""".stripMargin,
    "x2_salted_distinct" ->
      """SELECT event_type AS ch, count(DISTINCT user_id) AS uv_ct
        |FROM events GROUP BY 1""".stripMargin,
    "x4_zorder_layout" ->
      s"""WITH $zorderLayCte
         |SELECT layout, bucket, count(*) AS row_ct,
         |       max(ck) - min(ck) AS ck_span, max(dt) - min(dt) AS dt_span
         |FROM lay GROUP BY 1, 2""".stripMargin,
    "x8_skip_stats" ->
      s"""WITH $zorderLayCte,
         |ext AS (
         |  SELECT layout, bucket, CAST(count(*) AS BIGINT) AS row_ct,
         |         min(ck) AS ck_min, max(ck) AS ck_max,
         |         min(dt) AS dt_min, max(dt) AS dt_max
         |  FROM lay GROUP BY 1, 2),
         |dom AS (
         |  SELECT min(ck_min) AS cklo, max(ck_max) AS ckhi,
         |         min(dt_min) AS dtlo, max(dt_max) AS dthi
         |  FROM ext),
         |grid AS (
         |  SELECT a.r AS ck_q, b.r AS dt_q
         |  FROM range(0, 4) a(r) CROSS JOIN range(0, 4) b(r)),
         |preds AS (
         |  SELECT ck_q, dt_q,
         |         cklo + ck_q * ((ckhi - cklo + 1) // 4) AS pck_lo,
         |         CASE WHEN ck_q = 3 THEN ckhi
         |              ELSE cklo + (ck_q + 1) * ((ckhi - cklo + 1) // 4) - 1
         |         END AS pck_hi,
         |         dtlo + dt_q * ((dthi - dtlo + 1) // 4) AS pdt_lo,
         |         CASE WHEN dt_q = 3 THEN dthi
         |              ELSE dtlo + (dt_q + 1) * ((dthi - dtlo + 1) // 4) - 1
         |         END AS pdt_hi
         |  FROM grid CROSS JOIN dom),
         |rd AS (
         |  SELECT layout AS r_layout, ck_q AS r_ckq, dt_q AS r_dtq,
         |         CAST(count(*) AS BIGINT) AS buckets_read,
         |         CAST(sum(row_ct) AS BIGINT) AS rows_read
         |  FROM preds JOIN ext
         |    ON ck_min <= pck_hi AND ck_max >= pck_lo
         |   AND dt_min <= pdt_hi AND dt_max >= pdt_lo
         |  GROUP BY 1, 2, 3),
         |bcnt AS (
         |  SELECT layout, CAST(count(*) AS BIGINT) AS bucket_ct
         |  FROM ext GROUP BY 1)
         |SELECT layout, CAST(ck_q AS BIGINT) AS ck_q,
         |       CAST(dt_q AS BIGINT) AS dt_q, bucket_ct,
         |       CAST(coalesce(buckets_read, 0) AS BIGINT) AS buckets_read,
         |       bucket_ct - CAST(coalesce(buckets_read, 0) AS BIGINT)
         |         AS buckets_skipped,
         |       CAST(coalesce(rows_read, 0) AS BIGINT) AS rows_read,
         |       round(CAST(bucket_ct - coalesce(buckets_read, 0) AS DOUBLE)
         |             / bucket_ct, 6) AS skip_frac
         |FROM bcnt CROSS JOIN grid
         |LEFT JOIN rd ON layout = r_layout AND ck_q = r_ckq
         |            AND dt_q = r_dtq""".stripMargin)

  /** Shared oracle prefix for x4/x8: min-max normalize to 8 bits, three
    * mask-shift rounds per dimension, interleave, ntile into the two
    * layouts — the exact twin of [[zorderBucketRows]]. */
  private lazy val zorderLayCte: String = {
    val sp =
      """s1 AS (SELECT o_orderkey, ck, dt,
        |  ((ckn | (ckn << 4)) & 3855) AS cka,
        |  ((dtn | (dtn << 4)) & 3855) AS dta FROM n),
        |s2 AS (SELECT *, ((cka | (cka << 2)) & 13107) AS ckb,
        |  ((dta | (dta << 2)) & 13107) AS dtb FROM s1),
        |s3 AS (SELECT *, ((ckb | (ckb << 1)) & 21845) AS ckd,
        |  ((dtb | (dtb << 1)) & 21845) AS dtd FROM s2)""".stripMargin
    s"""b AS (
       |  SELECT o_orderkey, o_custkey AS ck,
       |         date_diff('day', DATE '1992-01-01', o_orderdate) AS dt
       |  FROM orders),
       |mm AS (SELECT min(ck) AS ck_min, max(ck) AS ck_max,
       |              min(dt) AS dt_min, max(dt) AS dt_max FROM b),
       |n AS (
       |  SELECT o_orderkey, ck, dt,
       |    CAST(floor((ck - ck_min) * 255.0
       |               / greatest(ck_max - ck_min, 1)) AS BIGINT) AS ckn,
       |    CAST(floor((dt - dt_min) * 255.0
       |               / greatest(dt_max - dt_min, 1)) AS BIGINT) AS dtn
       |  FROM b CROSS JOIN mm),
       |$sp,
       |zd AS (SELECT o_orderkey, ck, dt,
       |              (ckd | (dtd << 1)) AS zval FROM s3),
       |lay AS (
       |  SELECT 'zorder' AS layout,
       |         ntile(32) OVER (ORDER BY zval, o_orderkey) AS bucket,
       |         ck, dt FROM zd
       |  UNION ALL
       |  SELECT 'bydate' AS layout,
       |         ntile(32) OVER (ORDER BY dt, o_orderkey) AS bucket,
       |         ck, dt FROM zd)""".stripMargin
  }
}
