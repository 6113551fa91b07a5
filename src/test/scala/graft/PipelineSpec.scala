package graft

import org.apache.spark.sql.functions._
import graft.streaming.{BaseLogApp, Topology, VersionedParquetMergeSink}

/** End-to-end streaming pipeline specs: source → transform → multi-sink
  * parquet with checkpointing, read back and reconciled with the batch
  * answers (K1/K2/K4/W10 fidelity). */
class PipelineSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("dwd route sinks: one pass writes 5 routed day-partitioned tables") {
    Topology.withRoot { root =>
      val baselog = Topology.app("baselog")
      BaseLogApp.logLines(spark, sf).write.parquet(s"$root/src/logs.parquet")
      Topology.drain(Topology.start(
        Topology.Inputs(spark, s"$root/src", sf), root, Seq(baselog)))
      val out = Topology.store(root, "baselog")
      // one pass over the log stream → six route tables, each equal in
      // size to its batch twin's route
      baselog.tables(spark, out).foreach { case (route, written) =>
        assert(written.count() == BaseLogApp.batchRoute(spark, sf, route)
          .count(), s"route $route count mismatch")
      }
      // the five DWD routes are day-partitioned on disk (Doris
      // par#{date} analog); the dirty side output is not
      BaseLogApp.routeNames.filter(_ != "dirty").foreach { route =>
        assert(spark.read.parquet(s"$out/$route").columns
          .contains("cur_date"))
        val dirs = new java.io.File(s"$out/$route").listFiles()
          .filter(_.isDirectory).map(_.getName)
        assert(dirs.nonEmpty && dirs.forall(_.startsWith("cur_date=")))
      }
    }
  }

  test("dws window sink: closed windows land day-partitioned, idempotent restart") {
    Topology.withRoot { root =>
      // the traffic-channel store: closed 10 s windows over the events
      // stream, as the (cur_date, ch, uv_ct) table `/ch` serves
      def run(): Unit = Topology.drain(Topology.start(
        Topology.Inputs(spark, sf, sf), root,
        Seq(Topology.app("traffic_channel"))))
      val out = Topology.store(root, "traffic_channel")
      run()
      val first = spark.read.parquet(out)
      val n1 = first.count()
      assert(n1 > 0)
      assert(first.columns.toSet == Set("ch", "uv_ct", "cur_date"))
      val dirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && !f.getName.startsWith("_"))
        .map(_.getName)
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("cur_date=")))
      // restart from the same checkpoint: no new data → no duplicate rows
      run()
      assert(spark.read.parquet(out).count() == n1,
        "restart must be exactly-once")
      // serving read prunes on the partition column
      // partition-column values are directory names → inferred as DATE
      val day = first.select(col("cur_date").cast("string")).head.getString(0)
      val pruned = spark.read.parquet(out).filter(col("cur_date") === day)
      assert(pruned.count() > 0)
    }
  }

  test("dim merge sink applies upserts and deletes across micro-batches") {
    import spark.implicits._
    val store = tmp("dim_store")
    // the DIM maintenance sink (HBaseSinkFunction.java:36-61 ≈ MERGE
    // INTO): one merge per micro-batch, each committing version v<batch>
    val sink = new VersionedParquetMergeSink(store, "id", "seq", "op",
      Seq("payload"))
    def ops(rows: (Long, String, Double, Long)*) =
      rows.toDF("id", "op", "payload", "seq")
    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("payload")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def current() = payloads(sink.current(spark))
    sink.merge(ops((1L, "upsert", 10.0, 1L), (2L, "upsert", 5.0, 2L)), 0L)
    assert(sink.current(spark).count() == 2)
    // batch 2: delete key 1, update key 2, insert key 3
    sink.merge(ops((1L, "delete", 0.0, 3L), (2L, "upsert", 6.0, 4L),
      (3L, "upsert", 7.0, 5L)), 1L)
    val state = current()
    assert(state == Map(2L -> 6.0, 3L -> 7.0), s"bad final dim state: $state")

    // crash-safety slice: a torn version (no _SUCCESS marker) is
    // invisible to readers — current() keeps serving the last COMMITTED
    // version
    val torn = new java.io.File(s"$store/v99")
    torn.mkdirs()
    assert(current() == state, "torn version directory must be skipped")

    // time travel (VERSION AS OF): version 0 is the state after the
    // first micro-batch only — reading it back is a pruned scan of that
    // immutable version directory, not a recompute; a version at/after
    // the latest commit resolves to the current snapshot (k7's batch
    // twin states the same as-of semantics over the op-log prefix)
    val v0 = payloads(sink.snapshotAt(spark, 0L))
    assert(v0 == Map(1L -> 10.0, 2L -> 5.0), s"bad as-of state: $v0")
    assert(payloads(sink.snapshotAt(spark, 98L)) == state, "as-of past the last commit = current")

    // retention (VACUUM analog): keep only the newest version; current()
    // is untouched, but time-travel behind the horizon now fails —
    // exactly a vacuumed Delta table's contract
    val removed = sink.expireVersions(1)
    assert(removed.nonEmpty, "expected at least one expired version")
    assert(current() == state, "retention must not touch current")
    intercept[IllegalArgumentException] {
      sink.snapshotAt(spark, removed.max)
    }
  }

  test("x6 plan executes: one output file per planned bin") {
    import org.apache.spark.sql.functions._
    val t = operators.ScalePatterns.compactTarget
    // re-derive the per-day bin assignment the planner reports, then
    // EXECUTE it: repartition by (month, bin) and write partitioned —
    // every bin's rows share one shuffle partition, so each bin dir
    // holds exactly one file (the compaction contract)
    val files = Tables(spark, sf, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part_month"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("file_day"))
      .agg((count(lit(1)) * 40L + sum(length(col("o_orderpriority")) +
        length(col("o_orderstatus")))).as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part_month")).orderBy(col("file_day"))
    val binned = files.withColumn("before",
        coalesce(sum(col("bytes")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("bin", expr(s"before div $t"))
      .select(col("part_month").as("pm"), col("file_day"), col("bin"))
    val rows = Tables(spark, sf, "orders")
      .withColumn("fd", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .join(binned, col("fd") === col("file_day"))
    val out = tmp("compact")
    rows.repartition(col("pm"), col("bin"))
      .write.partitionBy("pm", "bin").mode("overwrite").parquet(out)
    // dirs == planned bins, one parquet file per dir, rows conserved
    val planned = q("x6_compaction_plan")
      .agg(sum(col("n_bins"))).head.getLong(0)
    val binDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("pm=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("bin="))
    assert(binDirs.length == planned,
      s"planned $planned bins, wrote ${binDirs.length} dirs")
    val multi = binDirs.filter(
      _.listFiles().count(_.getName.endsWith(".parquet")) != 1)
    assert(multi.isEmpty,
      s"bins with != 1 file: ${multi.take(3).mkString(",")}")
    assert(spark.read.parquet(out).count() ==
      Tables(spark, sf, "orders").count())
  }

  test("merge sink evolves schema additively across batches and reopens") {
    import spark.implicits._
    val dir = tmp("evolve")
    // epoch 1: a sink that only knows (name)
    val s1 = new streaming.VersionedParquetMergeSink(dir, "id", "seq",
      "op", Seq("name"))
    s1.merge(Seq((1L, "upsert", "a", 1L), (2L, "upsert", "b", 2L))
      .toDF("id", "op", "name", "seq"), 0L)
    // epoch 2: the schema gains new_attr; the store on disk predates it
    val s2 = new streaming.VersionedParquetMergeSink(dir, "id", "seq",
      "op", Seq("name", "new_attr"))
    // and one producer still emits the OLD shape in the same epoch
    s2.merge(Seq((2L, "upsert", "b2", 3L)).toDF("id", "op", "name", "seq"),
      1L)
    s2.merge(Seq((3L, "upsert", "c", 4L, "x"))
      .toDF("id", "op", "name", "seq", "new_attr"), 2L)
    // an OLD-shape producer updates key 3: its upsert must INHERIT the
    // stored new_attr (Delta UPDATE leaves source-absent columns
    // alone), not wipe it to null
    s2.merge(Seq((3L, "upsert", "c2", 5L)).toDF("id", "op", "name", "seq"),
      3L)
    val cur = s2.current(spark).collect()
      .map(r => r.getLong(r.fieldIndex("id")) ->
        (r.getString(r.fieldIndex("name")),
          Option(r.getString(r.fieldIndex("new_attr"))))).toMap
    assert(cur(1L) == ("a", None))   // pre-evolution row: null new_attr
    assert(cur(2L) == ("b2", None))  // old-shape producer: null
    assert(cur(3L) == ("c2", Some("x"))) // updated name, attr survives
    // reopening with FEWER payload columns must refuse, not drop data
    val s3 = new streaming.VersionedParquetMergeSink(dir, "id", "seq",
      "op", Seq("name"))
    intercept[IllegalArgumentException] {
      s3.merge(Seq((9L, "upsert", "z", 9L)).toDF("id", "op", "name", "seq"),
        9L)
    }
  }

  test("merge sink survives a mid-batch crash: restart replays idempotently (W10)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The reference runs 5 s EXACTLY_ONCE checkpoints (BaseApp.java:35);
    // Spark's equivalent contract is checkpointed offsets + an idempotent
    // per-batchId sink. Crash INJECTED at the worst moment: the merge has
    // committed its version, the query dies before acknowledging the
    // batch — restart must replay the same batchId onto the
    // already-merged store and converge to the uninterrupted answer.
    val store = tmp("crash_store")
    val ck = tmp("crash_ck")
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    def mkSink() = new streaming.VersionedParquetMergeSink(
      store, "id", "seq", "op", Seq("payload"))
    @volatile var crashAfterMerge = false
    def start() = source.toDF().toDF("id", "op", "payload", "seq")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        mkSink().merge(batch, id)
        if (crashAfterMerge) {
          crashAfterMerge = false
          throw new RuntimeException("injected crash after merge commit")
        }
      }
      .start()
    val sq1 = start()
    source.addData((1L, "upsert", 10.0, 1L), (2L, "upsert", 5.0, 2L))
    sq1.processAllAvailable()
    // batch 1 merges, then the query dies before the commit is acked
    crashAfterMerge = true
    source.addData((1L, "delete", 0.0, 3L), (2L, "upsert", 6.0, 4L),
      (3L, "upsert", 7.0, 5L))
    intercept[Exception] { sq1.processAllAvailable() }
    sq1.stop()
    // restart from the checkpoint: batch 1 is replayed with the SAME
    // batchId onto a store that already contains its effects
    val sq2 = start()
    sq2.processAllAvailable(); sq2.stop()
    val recovered = mkSink().current(spark)
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // uninterrupted twin over the same two batches
    val refStore = tmp("crash_ref")
    val ref = new streaming.VersionedParquetMergeSink(
      refStore, "id", "seq", "op", Seq("payload"))
    ref.merge(Seq((1L, "upsert", 10.0, 1L), (2L, "upsert", 5.0, 2L))
      .toDF("id", "op", "payload", "seq"), 0L)
    ref.merge(Seq((1L, "delete", 0.0, 3L), (2L, "upsert", 6.0, 4L),
      (3L, "upsert", 7.0, 5L)).toDF("id", "op", "payload", "seq"), 1L)
    val want = ref.current(spark)
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recovered == want,
      s"post-crash store $recovered != uninterrupted $want")
    assert(recovered == Map(2L -> 6.0, 3L -> 7.0))
  }

  test("SCD2 sink survives a mid-batch crash: restart replays " +
      "idempotently onto the committed version (W10)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // The same worst-moment injection as the type-1 case above, for
    // the close-and-insert sink — which is NOT naturally idempotent:
    // re-applying a committed batch on top of its own result would
    // close chains twice and inflate versions. The sink bases every
    // merge on the latest version STRICTLY BELOW the batchId, so a
    // replayed batch recomputes from the true pre-batch state.
    val store = tmp("scd2_crash_store")
    val ck = tmp("scd2_crash_ck")
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    def mkSink() = new streaming.Scd2ParquetMergeSink(
      store, "id", "seq", "op", Seq("payload"))
    @volatile var crashAfterMerge = false
    def start() = source.toDF().toDF("id", "op", "payload", "seq")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        mkSink().merge(batch, id)
        if (crashAfterMerge) {
          crashAfterMerge = false
          throw new RuntimeException("injected crash after merge commit")
        }
      }
      .start()
    val sq1 = start()
    source.addData((1L, "upsert", 10.0, 1L), (2L, "upsert", 5.0, 2L))
    sq1.processAllAvailable()
    crashAfterMerge = true
    source.addData((1L, "delete", 0.0, 3L), (2L, "upsert", 6.0, 4L),
      (3L, "upsert", 7.0, 5L))
    intercept[Exception] { sq1.processAllAvailable() }
    sq1.stop()
    val sq2 = start()
    sq2.processAllAvailable(); sq2.stop()
    val recovered = mkSink().current(spark)
    // uninterrupted twin over the same two batches
    val refStore = tmp("scd2_crash_ref")
    val ref = new streaming.Scd2ParquetMergeSink(
      refStore, "id", "seq", "op", Seq("payload"))
    ref.merge(Seq((1L, "upsert", 10.0, 1L), (2L, "upsert", 5.0, 2L))
      .toDF("id", "op", "payload", "seq"), 0L)
    ref.merge(Seq((1L, "delete", 0.0, 3L), (2L, "upsert", 6.0, 4L),
      (3L, "upsert", 7.0, 5L)).toDF("id", "op", "payload", "seq"), 1L)
    val want = ref.current(spark)
    val cols = Seq("id", "version", "payload", "op", "valid_from_seq",
      "valid_to_seq", "is_current").map(col)
    assert(recovered.select(cols: _*)
        .exceptAll(want.select(cols: _*)).count() == 0 &&
      want.select(cols: _*)
        .exceptAll(recovered.select(cols: _*)).count() == 0,
      "post-crash SCD2 history != uninterrupted history")
    // the exact expected chains: id 1 upsert closed by its delete
    // (open, not current); id 2 two versions; id 3 one open version
    assert(recovered.count() == 5)
    val audit = graft.api.Graft.scd2Audit(recovered).head()
    assert(audit.getAs[Boolean]("scd2_ok"),
      s"post-crash history failed the k9 audit: $audit")
  }

  test("merge sink: never-seen column keeps its real type once produced") {
    import spark.implicits._
    import org.apache.spark.sql.types.DoubleType
    val dir = tmp("latetype")
    // `score` is declared up front but NO producer emits it yet — the
    // store materializes it as a null placeholder
    val sink = new streaming.VersionedParquetMergeSink(dir, "id", "seq",
      "op", Seq("name", "score"))
    sink.merge(Seq((1L, "upsert", "a", 1L)).toDF("id", "op", "name", "seq"),
      0L)
    sink.merge(Seq((2L, "upsert", "b", 2L)).toDF("id", "op", "name", "seq"),
      1L)
    // first REAL emission arrives as DOUBLE; without the placeholder
    // recast, unionByName would coerce store+batch to STRING and
    // permanently stringify the numeric payload
    sink.merge(Seq((3L, "upsert", "c", 3L, 0.75))
      .toDF("id", "op", "name", "seq", "score"), 2L)
    val cur = sink.current(spark)
    assert(cur.schema("score").dataType == DoubleType,
      s"score must stay DOUBLE, got ${cur.schema("score").dataType}")
    val m = cur.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      (if (r.isNullAt(r.fieldIndex("score"))) None
       else Some(r.getDouble(r.fieldIndex("score"))))).toMap
    assert(m == Map(1L -> None, 2L -> None, 3L -> Some(0.75)))
    // and the type survives a subsequent old-shape batch too
    sink.merge(Seq((1L, "upsert", "a2", 4L)).toDF("id", "op", "name", "seq"),
      3L)
    assert(sink.current(spark).schema("score").dataType == DoubleType)
  }

  test("lakehouse seam: DeltaTable-shaped merge chain == direct sink merge") {
    import spark.implicits._
    val dir = tmp("lake")
    val table: streaming.LakehouseTable =
      new streaming.ParquetLakehouseTable(dir, "id", "seq", "op",
        Seq("payload"))
    // the exact foreachBatch body a Delta deployment would run —
    // compiled against the trait, so the swap is re-binding `table`
    def applyBatch(batch: org.apache.spark.sql.DataFrame): Unit =
      table.merge(batch, "target.id = source.id")
        .whenMatchedDelete("source.op = 'delete'")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    applyBatch(Seq((1L, "upsert", 10.0, 1L), (2L, "upsert", 5.0, 2L))
      .toDF("id", "op", "payload", "seq"))
    applyBatch(Seq((1L, "delete", 0.0, 3L), (3L, "upsert", 7.0, 4L))
      .toDF("id", "op", "payload", "seq"))
    val got = table.toDF(spark)
      .select(col("id"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(2L -> 5.0, 3L -> 7.0), s"merge chain state: $got")
    // time travel + vacuum ride the same seam
    assert(table.versionAsOf(spark, 0L).count() == 2)
    assert(table.vacuum(1).nonEmpty)
    intercept[IllegalArgumentException] {
      table.versionAsOf(spark, 0L).count()
    }
    // the seam is NARROWER than Delta, never wider: unsupported clause
    // combinations fail upfront instead of silently meaning less
    intercept[UnsupportedOperationException] {
      table.merge(Seq((9L, "upsert", 1.0, 9L))
          .toDF("id", "op", "payload", "seq"), "target.id = source.id")
        .whenMatchedUpdateAll().execute()
    }
    intercept[IllegalArgumentException] {
      table.merge(Seq((9L, "upsert", 1.0, 9L))
        .toDF("id", "op", "payload", "seq"), "target.other = source.other")
    }
  }

  test("k14 batch twin == the streaming sink's quarantine over the " +
      "same shuffled arrival") {
    // the same three-batch arrival split k14 models (arrival batch =
    // hex4(id#seq) mod 3), driven through the REAL Scd2ParquetMergeSink
    val ops = q("k6_scd2_history")
      .select(col("id"), col("version").cast("long").as("seq"), col("op"))
      .withColumn("b", pmod(graft.functions.Fns.hex4(
        concat_ws("#", col("id"), col("seq"))), lit(3L)))
    val dir = tmp("k14_sink")
    val sink = new streaming.Scd2ParquetMergeSink(dir, "id", "seq", "op",
      Seq.empty)
    (0L to 2L).foreach(b =>
      sink.merge(ops.filter(col("b") === b).drop("b"), b))
    val got = sink.quarantined(spark)
      .select(col("id"), col("seq"), col("op"), col("open_from_seq"))
    val want = q("k14_ooo_quarantine")
      .select(col("id"), col("seq"), col("op"), col("open_from_seq"))
    assert(got.count() > 0, "arrival split quarantined nothing")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "sink quarantine != k14 batch twin")
    // the sink's maintained chain is audit-clean despite the disorder
    assert(graft.api.Graft.scd2Audit(sink.current(spark)).head()
      .getAs[Boolean]("scd2_ok"))
  }

  test("p17 tombstone ledger: kept + purged = total, broadcast probe") {
    val r = SparkEntry.queries("p17_tombstone_purge")(spark, sf)
    val rows = r.collect()
    assert(rows.length == 3)
    rows.foreach { row =>
      assert(row.getLong(1) == row.getLong(2) + row.getLong(3),
        s"ledger mismatch for ${row.getString(0)}")
    }
    // the fixture plants real deletion requests
    assert(rows.map(_.getLong(2)).sum > 0, "no purged rows anywhere")
    // the tombstone list rides a broadcast — the store is never shuffled
    val plan = SparkEntry.queries("p17_tombstone_purge")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "tombstones must broadcast")
  }

  test("a6 typed aggregator agrees with builtin countDistinct") {
    val typed = q("a6_typed_aggregator").select("cur_date", "ch", "uu_ct")
    val builtin = Tables(spark, sf, "events")
      .select(graft.functions.Fns.curDate(
          graft.functions.Fns.nsToSec(col("ts"))).as("cur_date"),
        col("event_type").as("ch"), col("user_id"))
      .groupBy("cur_date", "ch")
      .agg(countDistinct(col("user_id")).as("uu_ct"))
    assert(typed.exceptAll(builtin).count() == 0 &&
      builtin.exceptAll(typed).count() == 0)
  }

  test("v4 native cosine expression matches composed builtins bit-for-bit") {
    val native = q("v4_ann_native_topk")
    val composed = q("v1_ann_brute_topk")
    assert(native.exceptAll(composed).count() == 0 &&
      composed.exceptAll(native).count() == 0)
  }

  test("tokenize Generator (UDTF) agrees with split+explode") {
    val d = Tables(spark, sf, "documents")
    val viaGenerator = d.select(col("doc_id"),
        graft.plans.TokenizeGenerator.tokens(spark, col("text")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ct"))
    val viaExplode = d.select(col("doc_id"),
        explode(graft.operators.TextOps.tokenize(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ct"))
    assert(viaGenerator.exceptAll(viaExplode).count() == 0 &&
      viaExplode.exceptAll(viaGenerator).count() == 0)
    // it plans as a real Generate node (table function), not a projection
    val p = d.select(graft.plans.TokenizeGenerator.tokens(spark, col("text")))
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"expected a Generate node:\n$p")
  }

  test("CJK Generator agrees with tokenizeMixed on mixed-script text") {
    import spark.implicits._
    val fixtures = Seq("spark 数据仓库 engine", "实时计算", "大数据 分析 fast",
      "all ascii only", "单", "mix数据ed token", "流处理 流处理 query")
      .toDF("text")
    val viaGenerator = fixtures.select(
        graft.plans.TokenizeGenerator.cjkTokens(spark, col("text")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ct"))
    val viaExplode = fixtures.select(
        explode(graft.operators.TextOps.tokenizeMixed(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ct"))
    assert(viaGenerator.exceptAll(viaExplode).count() == 0 &&
      viaExplode.exceptAll(viaGenerator).count() == 0)
    // a CJK run of length n emits n-1 overlapping bigrams
    val bigrams = fixtures.filter(col("text") === "实时计算")
      .select(explode(graft.operators.TextOps.tokenizeMixed(col("text"))))
      .collect().map(_.getString(0))
    assert(bigrams.toSeq == Seq("实时", "时计", "计算"))
  }

  test("HLL sketch: within error bound, partition-order independent") {
    val e = Tables(spark, sf, "events")
    val hll = udaf(graft.functions.HllSketch)
    val exact = e.select(countDistinct(col("user_id"))).head.getLong(0)
    val est = e.select(hll(col("user_id"))).head.getLong(0)
    assert(math.abs(est - exact).toDouble <= 0.05 * exact,
      s"hll=$est exact=$exact")
    // register-max merge is associative/commutative: any partitioning
    // (hence any cluster layout) yields the identical estimate
    val est7 = e.repartition(7).select(hll(col("user_id"))).head.getLong(0)
    val est1 = e.coalesce(1).select(hll(col("user_id"))).head.getLong(0)
    assert(est7 == est && est1 == est)
    // sanity vs Spark's own HLL++ at default precision
    val acd = e.select(approx_count_distinct(col("user_id"))).head.getLong(0)
    assert(math.abs(acd - exact).toDouble <= 0.1 * exact)
  }

  test("HLL error bound holds across cardinality decades") {
    import spark.implicits._
    val hll = udaf(graft.functions.HllSketch)
    // deterministic inputs (splitmix64 inside the sketch does the
    // mixing): exact n distinct keys per decade
    Seq(100L, 1000L, 10000L, 100000L).foreach { n =>
      val est = spark.range(n).select(hll(col("id"))).head.getLong(0)
      val err = math.abs(est - n).toDouble / n
      // p=12 → 1.04/sqrt(4096) ≈ 1.6% stderr; 5% ≈ 3σ
      assert(err <= 0.05, s"n=$n est=$est err=$err")
    }
  }

  test("native cosine evaluates correctly and joins a codegen span") {
    import spark.implicits._
    val got = Seq((Seq(1.0, 2.0), Seq(2.0, 1.0))).toDF("a", "b")
      .select(graft.plans.CosineSimilarity.cosineSim(spark, col("a"), col("b"))
        .as("cos")).head.getDouble(0)
    assert(math.abs(got - 0.8) < 1e-12)
    // a parquet-backed plan (not constant-foldable) must stay codegen'd
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val df = emb.select(graft.plans.CosineSimilarity
      .cosineSim(spark, col("e"), col("e")).as("cos"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("cosinesimilarity")),
      s"cosine not inside a codegen stage:\n$plan")
    assert(df.filter(col("cos") < 0.999999 || col("cos") > 1.000001)
      .count() == 0, "self-cosine must be 1")
  }
}
