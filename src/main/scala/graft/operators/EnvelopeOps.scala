package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Standing, Tables}
import graft.functions.{Fns, Oracle}

/** The ODS→DWD envelope layer: CDC-envelope construction/parsing, dirty
  * data side-output, config-driven column pruning, dynamic multi-way
  * split, and DIM upsert/delete maintenance (SURVEY.md §2.1-2.4, §1.1).
  *
  *  - The Maxwell-format envelope {database, table, type, ts,
  *    data: map, old: map} (BaseSQLApp.java:56-66, FIXTURES.md F1) is
  *    synthesized from the orders table with to_json, then parsed back
  *    with from_json — exercising both directions of S1/S3/P1.
  *  - P1 validity ETL: drop rows failing db/type/data checks
  *    (DimApp.java:149-185).
  *  - P2 dirty side-output: malformed JSON → separate route
  *    (DwdBaseLog.java:88-118); from_json yields null on bad input.
  *  - P3 map-field projection data['id'] (DwdInteractionCommentInfo.java:25-33).
  *  - P5 conditional delta (DwdTradeCartAdd.java:32).
  *  - P9 config-driven column pruning via map_filter
  *    (TableProcessFunction.deleteNotNeedColumns:97-105).
  *  - G3 multi-way split: one cached parent → N filtered routes
  *    (DwdBaseLog.java:192-295); here surfaced as per-route counts.
  *  - K5 DIM upsert/delete: last CDC op per key decides presence
  *    (HBaseSinkFunction.java:36-61) — batch twin of Delta MERGE.
  *
  * Scale notes: envelope parse + filters are pure map-side work inside
  * one whole-stage-codegen span (no shuffle until the count aggregation);
  * the dim-merge twin shuffles once on the entity key. from_json with an
  * explicit StructType (never schema inference) keeps the scan schema
  * fixed at 100 TB.
  */
object EnvelopeOps extends QueryModule {
  import Fns._

  /** Maxwell envelope schema — FIXTURES.md F1 / BaseSQLApp.java:56-66. */
  val odsDbSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("ts", LongType),
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType))))

  /** Debezium envelope schema — FIXTURES.md F2 / DimApp.java:197-227. */
  def debeziumSchema(payload: StructType): StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("before", payload),
    StructField("after", payload),
    StructField("ts_ms", LongType)))

  /** Synthesize a Maxwell-envelope JSON string column from orders: status
    * F→insert, O→update, P→delete, ts = epoch seconds of o_orderdate.
    * Update rows carry a deterministic status transition (even keys
    * 1001→1003 cancel, odd keys 1002→1005 refund) so the P4 extractors
    * read the SAME parsed topic as every other consumer — one parse,
    * many extractors, like the reference's shared topic_db. */
  private def orderEnvelopes(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val typ = when(col("o_orderstatus") === "F", "insert")
      .when(col("o_orderstatus") === "O", "update")
      .otherwise("delete")
    val newStatus = when(col("o_orderstatus") =!= "O", lit("1002"))
      .when(pmod(col("o_orderkey"), lit(2)) === 0, "1003")
      .otherwise("1005")
    val oldStatus = when(pmod(col("o_orderkey"), lit(2)) === 0, "1001")
      .otherwise("1002")
    o.select(to_json(struct(
      lit("gmall2024").as("database"),
      lit("order_info").as("table"),
      typ.as("type"),
      unix_timestamp(col("o_orderdate")).as("ts"),
      map(
        lit("id"), col("o_orderkey").cast(StringType),
        lit("total_amount"), col("o_totalprice").cast(StringType),
        lit("order_status"), newStatus,
        lit("priority"), col("o_orderpriority")).as("data"),
      map(lit("order_status"), oldStatus).as("old"))).as("envelope"))
  }

  /** The queries that parse the order topic — the readers of both
    * envelope standings. */
  private val envelopeReaders =
    Set("p4_status_transitions", "p9_column_pruning", "s2_cdc_parse")

  /** The synthesized order-CDC topic strings — FIXTURE construction
    * (the topic bytes exist upstream of every consumer in a real
    * deployment; this sandbox synthesizes them because it has no
    * broker), standing and prestaged exactly like the g5/g6/k12
    * [[graft.streaming.SyntheticTopics]] logs. The PARSE stays query
    * work: it runs inside the first consumer's timed window via
    * [[parsedEnvelopes]]. */
  private val orderTopic = Standing.frame("topic_order_env",
    envelopeReaders)(orderEnvelopes)

  /** Envelope parse is the shared upstream of the ODS queries —
    * materialized once per (session, dir), the ODS-topic-as-table shape
    * (a real deployment reads the parsed envelope layer once per batch,
    * not once per consumer). Not prestaged: the PARSE cost lands in the
    * first consumer's timing, later consumers measure steady-state reads
    * of the cached table. */
  private[operators] val parsedEnvelopes = Standing.frame("parsed_envelopes",
    envelopeReaders, prestaged = false) { (s, dir) =>
    orderTopic(s, dir).select(from_json(col("envelope"), odsDbSchema).as("e"))
  }

  override def standings: Seq[Standing[_]] = Seq(orderTopic, parsedEnvelopes)

  /** S2/P1/P3: parse the envelope stream, apply the DimApp validity ETL,
    * project map fields, and aggregate per op type. */
  private def cdcParse(s: SparkSession, dir: String): DataFrame = {
    parsedEnvelopes(s, dir)
      .filter(col("e.database") === "gmall2024" &&
        col("e.type").isin("insert", "update", "delete", "bootstrap-insert") &&
        col("e.data").isNotNull)
      .select(col("e.type").as("op_type"),
        col("e.data")("id").cast(LongType).as("id"),
        col("e.data")("total_amount").as("total_amount"),
        curDate(col("e.ts")).as("cur_date"))
      .groupBy("op_type")
      .agg(count(lit(1)).as("op_ct"),
        countDistinct(col("id")).as("id_ct"),
        sum(money(col("total_amount"))).cast("double").as("amount_sum"),
        min(col("cur_date")).as("first_date"),
        max(col("cur_date")).as("last_date"))
  }

  /** P2: dirty-data side output — rows whose payload fails to parse route
    * to the dirty stream; both routes counted from one parent (the batch
    * shape of Flink's side outputs; in streaming this runs as one
    * foreachBatch writing two sinks). Every 97th envelope is truncated to
    * simulate producer corruption. */
  private def dirtySplit(s: SparkSession, dir: String): DataFrame = {
    // deterministic corruption keyed on the payload, not the row position
    val corrupted = Tables(s, dir, "orders").select(
      when(pmod(col("o_orderkey"), lit(97)) === 0,
        substring(to_json(struct(col("o_orderkey"))), 1, 3))
        .otherwise(to_json(struct(
          lit("gmall2024").as("database"), lit("order_info").as("table"),
          lit("insert").as("type"),
          unix_timestamp(col("o_orderdate")).as("ts"),
          map(lit("id"), col("o_orderkey").cast(StringType)).as("data"))))
        .as("raw"))
    val parsed = corrupted.select(
      from_json(col("raw"), odsDbSchema).as("e"), col("raw"))
    parsed.select(
        when(col("e.table").isNull, "dirty").otherwise("clean").as("route"))
      .groupBy("route").agg(count(lit(1)).as("route_ct"))
  }

  /** P5/P7: conditional delta — the cart-add sku_num delta computation
    * (insert → full value, else the increment), stamped per day. */
  private def conditionalDelta(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val sec = nsToSec(col("ts"))
    e.select(curDate(sec).as("cur_date"), col("event_type"), col("value"))
      .withColumn("delta",
        when(col("event_type") === "purchase", money(col("value")))
          .when(col("event_type") === "click", money(col("value")) * lit(-1))
          .otherwise(lit(0)))
      .groupBy("cur_date")
      .agg(sum(col("delta")).cast("double").as("delta_sum"),
        count(lit(1)).as("event_ct"))
  }

  /** P9: config-driven column pruning — keep only the map keys listed in
    * the sink_columns CSV of the (broadcast) config row. */
  private def columnPruning(s: SparkSession, dir: String): DataFrame = {
    val keep = Seq("id", "total_amount") // sink_columns CSV for order_info
    val keepArr = array(keep.map(lit): _*)
    parsedEnvelopes(s, dir)
      .select(map_filter(col("e.data"),
        (k, _) => array_contains(keepArr, k)).as("pruned"))
      .select(explode(col("pruned")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("key_ct"))
  }

  /** G3: multi-way split — route every event exactly once (page/start/
    * err/display/action analog), count per route from a single pass. */
  private def multiWaySplit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val route = when(col("event_type") === "view", "page")
      .when(col("event_type") === "signup", "start")
      .when(col("event_type") === "error", "err")
      .when(col("event_type") === "click", "action")
      .otherwise("display")
    e.select(route.as("route"), col("value"))
      .groupBy("route")
      .agg(count(lit(1)).as("route_ct"), moneySum(col("value")).as("value_sum"))
  }

  /** K5/A7: DIM maintenance twin — apply the CDC op log in order; the
    * final op per key decides presence (delete drops the row) and payload
    * (upsert keeps the last value). lineitem plays the op log on key
    * l_orderkey ordered by l_linenumber; returnflag R plays delete. */
  private def dimMergeSnapshot(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    // the op log can carry duplicate sequence numbers → total order via
    // payload tie-breakers so "last op" is deterministic on any cluster
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").desc, col("l_returnflag").desc,
        col("l_extendedprice").desc, col("l_partkey").desc,
        col("l_suppkey").desc, col("l_quantity").desc)
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("l_returnflag") =!= "R")
      .select(col("l_orderkey").as("id"),
        money(col("l_extendedprice")).cast("double").as("final_price"),
        col("l_linenumber").as("last_op_seq"))
  }

  /** k7: time-travel (as-of) snapshot read — the lakehouse
    * `VERSION AS OF` semantics over the same merge contract as k5: the
    * dimension state as it stood after applying only ops with
    * seq ≤ 3 (an op-log prefix = an earlier committed version of the
    * [[graft.streaming.VersionedParquetMergeSink]] store, whose
    * `snapshotAt` reads exactly this; the spec proves the two agree).
    * Same deterministic last-op-wins total order as k5, restricted to
    * the prefix — at scale this is a partition-pruned read of one
    * version directory, no recompute. */
  private val asOfSeq = 3
  private def asOfSnapshot(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").filter(col("l_linenumber") <= asOfSeq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").desc, col("l_returnflag").desc,
        col("l_extendedprice").desc, col("l_partkey").desc,
        col("l_suppkey").desc, col("l_quantity").desc)
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("l_returnflag") =!= "R")
      .select(col("l_orderkey").as("id"),
        money(col("l_extendedprice")).cast("double").as("final_price"),
        col("l_linenumber").as("last_op_seq"))
  }

  /** G1: array fan-out — per log event, one row per display element,
    * copying the enclosing common/page/ts fields (DwdBaseLog.java:229-266).
    * The displays array is built deterministically from the props payload
    * (k%3+1 elements, item ids rotating mod 7), then exploded. */
  private def explodeDisplays(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    // bind k to a named column BEFORE the lambda references it — an
    // expression inlined into a transform() lambda is re-evaluated per
    // array element, which would re-parse the JSON props k+1 times/row
    val displays = transform(
      sequence(lit(0L), pmod(col("k"), lit(3L))),
      i => struct(i.as("pos_id"),
        concat(lit("item_"), pmod(col("k") + i, lit(7L))).as("item")))
    e.select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .select(col("event_type"), explode(displays).as("d"))
      .groupBy(col("d.item").as("item"))
      .agg(count(lit(1)).as("display_ct"),
        countDistinct(col("event_type")).as("type_ct"))
  }

  /** K5 extension — SCD Type-2 dimension history: every CDC op becomes a
    * closed-or-current version row (valid_from/valid_to from lead() over
    * the per-key op order, delete ops close the record without a
    * successor flag). One window shuffle on the entity key — the batch
    * twin of a Delta MERGE-building history table. Uses the same total
    * order as k5 (testdata carries duplicate (l_orderkey, l_linenumber)
    * pairs, so payload columns break ties deterministically). */
  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    li.withColumn("version", row_number().over(w))
      .withColumn("next_ln", lead(col("l_linenumber"), 1).over(w))
      .select(col("l_orderkey").as("id"), col("version"),
        money(col("l_extendedprice")).cast("double").as("price"),
        when(col("l_returnflag") === "R", "delete").otherwise("upsert")
          .as("op"),
        col("l_linenumber").as("valid_from_seq"),
        col("next_ln").as("valid_to_seq"),
        (col("next_ln").isNull && col("l_returnflag") =!= "R")
          .as("is_current"))
  }

  /** k9 (beyond-reference): SCD2-history integrity audit — the
    * data-quality gate on k6's output contract (and on any
    * merge-maintained type-2 dimension): per dimension key, versions
    * must be gap-free (max(version) = count), exactly ONE row may be
    * open (valid_to NULL), and every closed row must hand off to a
    * successor whose valid_from equals its valid_to (no holes, no
    * overlaps in the validity chain). One global report row with the
    * violation counts and the go/no-go flag — what a nightly pipeline
    * asserts before publishing the dimension. The audit core is
    * generic over any (id, version, valid_from_seq, valid_to_seq,
    * is_current) frame; k9 runs it over k6's own history (a
    * construction-correctness proof the oracle replays independently).
    * Shuffles: ONE id-keyed Exchange serves the chain window and the
    * per-id rollup; the report is a 1-row fold. */
  private[graft] def scd2Audit(h: DataFrame): DataFrame = {
    // valid_from_seq in the sort: with version alone a DAMAGED history
    // carrying duplicate versions would make lead() nondeterministic —
    // on exactly the inputs the audit exists for
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("version"), col("valid_from_seq"))
    val perId = h
      .withColumn("next_from", lead(col("valid_from_seq"), 1).over(wn))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("version_ct"),
        countDistinct(col("version")).as("distinct_versions"),
        max(col("version")).as("max_version"),
        sum(when(col("valid_to_seq").isNull, 1L).otherwise(0L))
          .as("open_ct"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("current_ct"),
        sum(when(col("valid_to_seq").isNotNull &&
          (col("next_from").isNull ||
            col("next_from") =!= col("valid_to_seq")), 1L)
          .otherwise(0L)).as("broken_links"))
    perId.agg(
        count(lit(1)).as("dim_ct"),
        sum(col("version_ct")).as("version_ct"),
        // gap-free ⇔ versions are EXACTLY 1..n: n distinct values with
        // max n (max = count alone is blind to {1,2,2,4}-style damage
        // where a duplicate offsets a hole)
        sum(when(col("max_version") =!= col("version_ct") ||
          col("distinct_versions") =!= col("version_ct"), 1L)
          .otherwise(0L)).as("gap_dim_ct"),
        sum(when(col("open_ct") =!= 1L, 1L).otherwise(0L))
          .as("bad_open_dim_ct"),
        sum(col("broken_links")).as("broken_link_ct"),
        sum(col("current_ct")).as("current_ct"))
      .withColumn("scd2_ok",
        col("gap_dim_ct") === 0 && col("bad_open_dim_ct") === 0 &&
          col("broken_link_ct") === 0)
  }

  private def scd2Integrity(s: SparkSession, dir: String): DataFrame =
    scd2Audit(scd2History(s, dir))

  /** Repair plan for a damaged SCD2 history (the heal k9 only flags):
    * per id the chain is rebuilt under the earliest-successor rule —
    * rows re-ordered by (valid_from_seq, version, valid_to_seq NULLS
    * LAST), version := row_number (fixes gaps AND duplicate versions),
    * valid_to_seq := successor's valid_from_seq (closes dangling opens,
    * re-links handoff breaks; the last row re-opens as the single open
    * version). Payload columns ride along untouched; `new_version` /
    * `new_to` sit beside the originals so callers can diff (the repair
    * ledger) before committing. Same ONE id-keyed shuffle as the audit. */
  private[graft] def scd2RepairFull(h: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("valid_from_seq"), col("version"),
        col("valid_to_seq").asc_nulls_last)
    h.withColumn("new_version", row_number().over(w))
      .withColumn("new_to", lead(col("valid_from_seq"), 1).over(w))
  }

  /** The committed repair: canonical columns swapped to their repaired
    * values. is_current survives only on the (single) open row — a
    * mid-chain row that claimed currency is retired; a re-opened last
    * row keeps its original flag (a tombstoned entity stays tombstoned,
    * k9's open-row rule is about valid_to, not currency). */
  private def commitRepair(full: DataFrame): DataFrame =
    full
      .withColumn("version", col("new_version"))
      .withColumn("is_current", col("new_to").isNull && col("is_current"))
      .withColumn("valid_to_seq", col("new_to"))
      .drop("new_version", "new_to")

  private[graft] def scd2Repair(h: DataFrame): DataFrame =
    commitRepair(scd2RepairFull(h))

  /** Deterministically damaged copy of k6's history — the fixture for
    * k10: ~1/5 of version rows dropped (gaps, lost opens), ~1/7 of the
    * survivors' valid_to nulled (spurious opens), ~1/11 of versions
    * decremented (duplicate versions masking a hole). All three
    * decisions hang off one shared md5 draw over (id '#' version) so
    * the DuckDB oracle replays them bit-for-bit. */
  private def damagedHistory(s: SparkSession, dir: String): DataFrame = {
    val h = scd2History(s, dir)
    val toType = h.schema("valid_to_seq").dataType
    h.withColumn("u", Fns.hex4(concat_ws("#", col("id"), col("version"))))
      .filter(pmod(col("u"), lit(5L)) =!= 0L)
      .withColumn("valid_to_seq",
        when(pmod(col("u"), lit(7L)) === 1L, lit(null).cast(toType))
          .otherwise(col("valid_to_seq")))
      .withColumn("version",
        when(pmod(col("u"), lit(11L)) === 2L && col("version") > 1,
          col("version") - 1).otherwise(col("version")))
      .drop("u")
  }

  /** k10 (beyond-reference): SCD2 repair report — damage k6's history
    * deterministically, repair it, and emit the repair ledger (what
    * changed) fused with the post-repair k9 audit (all-clean proof) as
    * one row.
    *
    * Fusion (the round-7→9 k10 saga): the ledger and the audit both
    * consume the repair output, and Catalyst shares no common subplans
    * across two branches — round 7 ran the repair subtree twice,
    * round 8 materialized it once behind an eager localCheckpoint
    * whose own write cost what the duplicate subtree did (2.8→3.0 s).
    * Round 9 removes the second consumer instead: the k9 audit
    * formulas are per-id aggregates over the REPAIRED columns, and the
    * repair window already partitions by id — so one id-keyed
    * aggregate computes the per-id audit metrics AND the per-id ledger
    * partials in the same pass (the audit's chain-order lead runs as a
    * second Window on the same Exchange, only a partition-local
    * re-sort), and one global fold emits the report row. The repair
    * subtree executes exactly ONCE inside a single linear plan: scan →
    * damage projection → ONE id Exchange → windows → per-id agg →
    * 1-row fold. No checkpoint, nothing runs at construction time, the
    * whole query is visible to the scale ledger. The generic
    * [[scd2Audit]] is unchanged and still what k9 runs over committed
    * stores. */
  private def scd2RepairReport(s: SparkSession, dir: String): DataFrame = {
    val dmg = damagedHistory(s, dir)
    val full = scd2RepairFull(dmg)
    // the k9 audit's successor probe, applied to the repaired chain:
    // lead(valid_from) in (new_version, valid_from) order — the
    // generic audit's sort evaluated on the repaired columns; same id
    // partitioning as the repair window, so no new Exchange
    val wAudit = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("new_version"), col("valid_from_seq"))
    val perId = full
      .withColumn("audit_next_from",
        lead(col("valid_from_seq"), 1).over(wAudit))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("row_ct_id"),
        sum(when(col("version") =!= col("new_version"), 1L).otherwise(0L))
          .as("renum_id"),
        sum(when(col("valid_to_seq").isNull && col("new_to").isNotNull, 1L)
          .otherwise(0L)).as("closed_id"),
        sum(when(col("valid_to_seq").isNotNull && col("new_to").isNull, 1L)
          .otherwise(0L)).as("reopen_id"),
        sum(when(col("valid_to_seq").isNotNull && col("new_to").isNotNull &&
          col("valid_to_seq") =!= col("new_to"), 1L)
          .otherwise(0L)).as("relink_id"),
        // k9 audit per-id metrics over the repaired (committed) columns
        countDistinct(col("new_version")).as("distinct_versions"),
        max(col("new_version")).as("max_version"),
        sum(when(col("new_to").isNull, 1L).otherwise(0L)).as("open_ct"),
        sum(when(col("new_to").isNotNull &&
          (col("audit_next_from").isNull ||
            col("audit_next_from") =!= col("new_to")), 1L)
          .otherwise(0L)).as("broken_links"))
    perId.agg(
        sum(col("row_ct_id")).as("row_ct"),
        sum(col("renum_id")).as("renumbered_ct"),
        sum(col("closed_id")).as("closed_open_ct"),
        sum(col("reopen_id")).as("reopened_ct"),
        sum(col("relink_id")).as("relinked_ct"),
        sum(when(col("max_version") =!= col("row_ct_id") ||
          col("distinct_versions") =!= col("row_ct_id"), 1L)
          .otherwise(0L)).as("gap_dim_ct"),
        sum(when(col("open_ct") =!= 1L, 1L).otherwise(0L))
          .as("bad_open_dim_ct"),
        sum(col("broken_links")).as("broken_link_ct"))
      .withColumn("scd2_ok",
        col("gap_dim_ct") === 0 && col("bad_open_dim_ct") === 0 &&
          col("broken_link_ct") === 0)
  }

  /** k14 (beyond-reference): out-of-order arrival quarantine — the
    * batch twin of [[graft.streaming.Scd2ParquetMergeSink]]'s round-9
    * ordering check. The k6 op log's versions arrive in three shuffled
    * batches (arrival batch = md5 hash of (id '#' seq) mod 3 — a
    * deterministic stand-in for multi-partition CDC topic skew); a
    * seq-ordered SCD2 maintainer admits an op iff its seq is >= its
    * key's OPEN version at merge time (the max admitted seq so far)
    * and quarantines it otherwise — merging it would close the open
    * row at an earlier sequence than it began. The three-batch
    * recursion unrolls into two conditional-max window aggregates on
    * ONE id-keyed Exchange (m0 = open after batch 0, m1 = open after
    * batch 1), each feeding the next batch's admission predicate.
    * Output: the quarantined ops with the open seq each violated —
    * exactly the rows the streaming sink's __quarantine store holds
    * for the same arrival order (PipelineSpec proves the equality by
    * driving the real sink with the same three batches). */
  private def oooQuarantine(s: SparkSession, dir: String): DataFrame = {
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
    scd2History(s, dir)
      .select(col("id"), col("version").cast(LongType).as("seq"),
        col("op"))
      .withColumn("b",
        pmod(Fns.hex4(concat_ws("#", col("id"), col("seq"))), lit(3L)))
      .withColumn("m0", max(when(col("b") === 0, col("seq"))).over(wId))
      .withColumn("adm1",
        col("b") === 1 && (col("m0").isNull || col("seq") >= col("m0")))
      .withColumn("m1",
        max(when(col("b") === 0 || col("adm1"), col("seq"))).over(wId))
      .filter((col("b") === 1 && !col("adm1")) ||
        (col("b") === 2 && col("m1").isNotNull && col("seq") < col("m1")))
      .select(col("id"), col("seq"), col("op"),
        col("b").as("arrival_batch"),
        when(col("b") === 1, col("m0")).otherwise(col("m1"))
          .as("open_from_seq"))
  }

  /** k17 (beyond-reference): SCD2 chain-depth histogram — the
    * monitoring table behind k15's squash decision and k9/k10's
    * per-key window cost: per version-chain depth, how many keys hold
    * a chain that deep and what share of all history rows that depth
    * class owns. A heavy tail here is chain bloat (k15's target) and
    * per-key state pressure at 100 TB. Scale shape: ops reduce to
    * |keys| rows on the id Exchange first; the histogram and its
    * one-row total are metadata-sized. */
  private def chainDepth(s: SparkSession, dir: String): DataFrame = {
    val depths = Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("depth"))
    val total = depths.agg(sum(col("depth")).as("total_rows"))
    depths.groupBy(col("depth"))
      .agg(count(lit(1)).as("key_ct"))
      .crossJoin(broadcast(total))
      .select(col("depth"), col("key_ct"),
        (col("depth") * col("key_ct")).as("row_ct"),
        round((col("depth") * col("key_ct")).cast(DoubleType) /
          col("total_rows"), 6).as("row_share"))
  }

  /** k16 (beyond-reference): quarantine repair-commit ledger — the
    * decision report an operator reads before running
    * [[graft.streaming.Scd2ParquetMergeSink.commitRepaired]] (this
    * round's commit path): per arrival batch, how many ops the
    * ordering contract quarantined, across how many keys, and how far
    * below their key's open version they landed (max + exact mean
    * displacement in sequence units — how stale the disordered
    * deliveries were; the number that decides "repair weekly" vs
    * "repartition the topic"). Rides the k14 construction's single
    * id Exchange; the fold is metadata-sized. */
  private def repairLedger(s: SparkSession, dir: String): DataFrame =
    oooQuarantine(s, dir)
      .groupBy(col("arrival_batch"))
      .agg(count(lit(1)).as("quarantined_ct"),
        count_distinct(col("id")).as("key_ct"),
        max(col("open_from_seq") - col("seq")).as("max_displacement"),
        // exact integer displacement sum, ONE final division — a
        // float accumulation would be partition-order-sensitive
        round(sum(col("open_from_seq") - col("seq")).cast(DoubleType)
          / count(lit(1)), 6).as("mean_displacement"))

  /** k15 (beyond-reference): CDC no-op squash report — the compaction
    * every CDC-fed dimension pipeline wants before a type-2 store: a
    * MySQL UPDATE that touches no tracked column still emits a binlog
    * row, and merging it close-and-inserts a version identical to its
    * predecessor (pure chain bloat — at 100 TB, most of a hot table's
    * history). An op is a NO-OP when it upserts the same payload its
    * key's previous surviving op carried and the previous op was not a
    * delete (re-upserting after a delete is a revival, never squashed;
    * deletes and first-ops always survive). ONE id-keyed window (lag
    * of payload + op in seq order) classifies every op; the report
    * folds to per-op-type totals with the squash ratio. Output is the
    * DECISION ledger — the squashed history itself is k6 over the
    * kept ops. */
  private def noopSquash(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("version"))
    scd2History(s, dir)
      .select(col("id"), col("version"), col("op"), col("price"))
      .withColumn("prev_price", lag(col("price"), 1).over(w))
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("is_noop",
        col("op") === "upsert" && col("prev_op") === "upsert" &&
          col("prev_price").isNotNull &&
          col("price") === col("prev_price"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("op_ct"),
        sum(when(col("is_noop"), 1L).otherwise(0L)).as("noop_ct"),
        // a first op's is_noop is NULL (lag has no predecessor):
        // when/otherwise sends null to kept, matching the SQL CASE
        sum(when(col("is_noop"), 0L).otherwise(1L)).as("kept_ct"))
      .select(col("op"), col("op_ct"), col("noop_ct"), col("kept_ct"),
        round(col("noop_ct").cast(DoubleType) / col("op_ct"), 6)
          .as("squash_ratio"))
  }

  /** k11 (beyond-reference): bitemporal as-of probes — the two-axis
    * time-travel query a versioned dimension store answers: "which
    * version covered VALID time v, as the store KNEW it at transaction
    * time t" (k7's single-axis as-of is the t = ∞ column of this
    * table). Per id the op log is truncated at version ≤ t (what had
    * been recorded), the chain is rebuilt under the same
    * earliest-successor rule as [[scd2Repair]] (the last surviving
    * version re-opens — exactly the store's state at t), and the row
    * covering v is selected. Six (t, v) probes fold to covered-id
    * counts and exact DECIMAL amount sums. The probe table is a 6-row
    * broadcast; one (probe, id)-keyed window. */
  private val bitemporalProbes = Seq((1, 2), (1, 5), (2, 2), (2, 5),
    (4, 2), (4, 5))

  private def bitemporalSnapshot(s: SparkSession, dir: String): DataFrame = {
    val probes = s.range(1).select(explode(array(
        bitemporalProbes.map { case (t, v) =>
          struct(lit(t).as("t_tx"), lit(v).as("v_probe")) }: _*)).as("p"))
      .select(col("p.t_tx").as("t_tx"), col("p.v_probe").as("v_probe"))
    val h = scd2History(s, dir)
      .select(col("id"), col("version"), col("price"),
        col("valid_from_seq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t_tx"), col("v_probe"), col("id"))
      .orderBy(col("valid_from_seq"), col("version"))
    h.crossJoin(broadcast(probes))
      .filter(col("version") <= col("t_tx"))
      .withColumn("next_from", lead(col("valid_from_seq"), 1).over(w))
      .filter(col("valid_from_seq") <= col("v_probe") &&
        (col("next_from").isNull || col("v_probe") < col("next_from")))
      .groupBy(col("t_tx"), col("v_probe"))
      .agg(count(lit(1)).as("covered_ids"),
        sum(col("price").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("amount_sum"))
  }

  /** Data-quality audit — the health gate every warehouse layer runs
    * before publishing: row count, null ratios, key-uniqueness and
    * referential-orphan counts, in two scans + one anti-join (each
    * metric a conditional aggregate, no per-metric pass). */
  private def dqAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val liStats = li.agg(
      count(lit(1)).as("row_ct"),
      count(when(col("l_returnflag").isNull, 1)).as("null_returnflag_ct"),
      countDistinct(col("l_orderkey"), col("l_linenumber"))
        .as("key_distinct_ct"))
      .withColumn("dup_key_ct", col("row_ct") - col("key_distinct_ct"))
      .withColumn("table_name", lit("lineitem"))
    val orphans = li.join(o, col("l_orderkey") === col("o_orderkey"),
      "left_anti")
    val oStats = o.agg(
      count(lit(1)).as("row_ct"),
      count(when(col("o_orderpriority").isNull, 1))
        .as("null_returnflag_ct"),
      countDistinct(col("o_orderkey")).as("key_distinct_ct"))
      .withColumn("dup_key_ct", col("row_ct") - col("key_distinct_ct"))
      .withColumn("table_name", lit("orders"))
    liStats.unionByName(oStats)
      .crossJoin(orphans.agg(count(lit(1)).as("orphan_line_ct")))
      .select(col("table_name"), col("row_ct"), col("null_returnflag_ct"),
        col("key_distinct_ct"), col("dup_key_ct"), col("orphan_line_ct"))
  }

  /** p18: JSON path extraction over a STORED semi-structured column —
    * events.props holds real JSON strings (unlike the inline-built
    * envelopes of s2/g5), so this is the `get_json_object` /
    * `json_extract` parity check on data at rest: extract `$.k`, type
    * it, aggregate per event family. Map-side scalar extraction (one
    * codegen'd JSON path per row), one bounded aggregation — at 100 TB
    * the JSON parse is the scan-time cost and nothing here shuffles
    * more than the group keys. */
  private def propsJsonExtract(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_ct"),
        count(col("k")).as("k_present_ct"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        countDistinct(col("k")).as("k_distinct"))

  /** K8: incremental aggregate maintenance — the real-time-DWS claim
    * stated as algebra. A maintained rollup must be updatable from the
    * CDC delta stream alone: per op transition on a key, emit -old into
    * the old group and +new into the new group (UPDATE semantics when
    * the grouping column itself changes), +new for an insert, -old for
    * a delete. Summing the deltas per group must equal a full recompute
    * over the final merged snapshot. The ENGINE computes only the delta
    * path — one lag() window over the op log (the same entity-key
    * Exchange the k5 merge itself needs) plus one grouped DECIMAL sum —
    * which is what a streaming maintainer pays per batch; the ORACLE
    * recomputes from the k5 last-op-wins snapshot, a different
    * algorithm whose agreement proves the maintenance converges.
    * DECIMAL deltas keep retractions exact (+x then -x cancels to zero
    * bit-for-bit; a double sum would drift under cancellation at
    * scale). Same op log as k5: lineitem keyed by l_orderkey, apply
    * order l_linenumber (full-payload tie-break for a total order),
    * returnflag R plays delete; group = l_partkey mod 7. */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame =
    deltaMaintainFor(
      Tables(s, dir, "lineitem").select(
        col("l_orderkey").as("id"),
        (col("l_returnflag") === "R").as("is_del"),
        pmod(col("l_partkey"), lit(7)).cast(LongType).as("g"),
        money(col("l_extendedprice")).as("v"),
        col("l_linenumber"), col("l_returnflag"), col("l_extendedprice"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity")),
      Seq(col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity")))

  /** The k8 core over an ARBITRARY op log — exposed through
    * [[graft.api.Graft.maintainRollup]]. `ops` must carry `id` (entity
    * key), `is_del` BOOLEAN, `g` (group key), `v` (DECIMAL value), plus
    * whatever columns `orderCols` needs; `orderCols` must be a TOTAL
    * order of each id's ops (ties must be value-identical rows). */
  private[graft] def deltaMaintainFor(ops: DataFrame,
      orderCols: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(orderCols: _*)
    val deltas = ops
      .withColumn("p_del", lag(col("is_del"), 1).over(w))
      .withColumn("p_g", lag(col("g"), 1).over(w))
      .withColumn("p_v", lag(col("v"), 1).over(w))
      // retraction of the previous op's contribution + assertion of this
      // op's: nulls (first op per key / delete side) drop below
      .select(explode(array(
        struct(
          when(col("p_del") === false, col("p_g")).as("dg"),
          when(col("p_del") === false, -col("p_v")).as("dv"),
          when(col("p_del") === false, lit(-1L)).as("dn")),
        struct(
          when(!col("is_del"), col("g")).as("dg"),
          when(!col("is_del"), col("v")).as("dv"),
          when(!col("is_del"), lit(1L)).as("dn")))).as("d"))
      .select(col("d.dg").as("g"), col("d.dv").as("dv"), col("d.dn").as("dn"))
      .filter(col("g").isNotNull)
    deltas.groupBy(col("g"))
      .agg(sum(col("dv")).cast("double").as("amount_sum"),
        sum(col("dn")).as("live_ct"))
      .filter(col("live_ct") > 0)
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "k8_incremental_agg" -> incrementalAgg,
    "p18_props_json" -> propsJsonExtract,
    "p14_dq_audit" -> dqAudit,
    "k6_scd2_history" -> scd2History,
    "k9_scd2_integrity" -> scd2Integrity,
    "k10_scd2_repair" -> scd2RepairReport,
    "k11_bitemporal_snapshot" -> bitemporalSnapshot,
    "k12_dim_scd2_history" -> dimScd2History,
    "k13_dim_restatement" -> dimRestatement,
    "k14_ooo_quarantine" -> oooQuarantine,
    "k15_noop_squash" -> noopSquash,
    "k16_repair_ledger" -> repairLedger,
    "k17_chain_depth" -> chainDepth,
    "g1_explode_displays" -> explodeDisplays,
    "s2_cdc_parse" -> cdcParse,
    "p2_dirty_split" -> dirtySplit,
    "p5_conditional_delta" -> conditionalDelta,
    "p9_column_pruning" -> columnPruning,
    "g3_multiway_split" -> multiWaySplit,
    "k7_asof_snapshot" -> asOfSnapshot,
    "k5_dim_merge_snapshot" -> dimMergeSnapshot)

  /** k13 (beyond-reference): late-arriving dimension correction — the
    * RESTATEMENT report a warehouse publishes when a dim fix lands
    * retroactively (here: customer keys ≡ 0 mod 17 had the wrong
    * nation; the correction reassigns them deterministically). Facts
    * are re-attributed under the corrected dimension and the report
    * states, per nation, the order count and exact DECIMAL amount
    * under the OLD vs CORRECTED attribution with deltas — what
    * downstream dashboards must absorb. Scale shape: ONE orders scan,
    * one broadcast dim join carrying both attributions, two rollups
    * full-outer-joined on the 25-row nation key — the restatement
    * never rescans history per affected key. */
  private def dimRestatement(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").as("nation_old"),
      when(pmod(col("c_custkey"), lit(17)) === 0,
        pmod(col("c_nationkey") + 7, lit(25)))
        .otherwise(col("c_nationkey")).as("nation_new"))
    val j = Tables(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("nation_old"), col("nation_new"),
        money(col("o_totalprice")).as("amt"))
    val before = j.groupBy(col("nation_old").as("nation"))
      .agg(count(lit(1)).as("orders_before"),
        sum(col("amt")).cast("double").as("amount_before"))
    val after = j.groupBy(col("nation_new").as("nation"))
      .agg(count(lit(1)).as("orders_after"),
        sum(col("amt")).cast("double").as("amount_after"))
    before.join(after, Seq("nation"), "full_outer")
      .select(col("nation"),
        coalesce(col("orders_before"), lit(0L)).as("orders_before"),
        coalesce(col("orders_after"), lit(0L)).as("orders_after"),
        (coalesce(col("orders_after"), lit(0L)) -
          coalesce(col("orders_before"), lit(0L))).as("order_delta"),
        coalesce(col("amount_before"), lit(0.0)).as("amount_before"),
        coalesce(col("amount_after"), lit(0.0)).as("amount_after"),
        round(coalesce(col("amount_after"), lit(0.0)) -
          coalesce(col("amount_before"), lit(0.0)), 2).as("amount_delta"))
  }

  /** k12 (round-8): the DIM pipeline's SCD2 output end to end — the
    * full Maxwell-envelope parse → validity ETL → broadcast config
    * probe → sinkColumns prune → type-2 history construction
    * ([[graft.streaming.DimApp.batchScd2History]], the batch twin of
    * the streaming [[graft.streaming.Scd2ParquetMergeSink]] that
    * DimAppSpec proves equal). The oracle replays the op log
    * RELATIONALLY from the customer base table (the envelope synthesis
    * is deterministic), so a defect anywhere in the JSON round-trip,
    * the config probe, or the chain construction shows as a value
    * mismatch. One id-keyed Exchange (window); the config probe is a
    * broadcast. */
  private def dimScd2History(s: SparkSession, dir: String): DataFrame =
    graft.streaming.DimApp.batchScd2History(s, dir, "dim_customer_info")
      .select(col("id"), col("version"), col("op"),
        col("data")("name").as("name"),
        col("valid_from_seq"), col("valid_to_seq"), col("is_current"))

  /** The k14 quarantine-admission statement, shared verbatim by the
    * k14 oracle and (as a derived table) the k16 fold. */
  private lazy val k14Sql: String = {
    val b = Oracle.hex4(
      "CAST(l_orderkey AS VARCHAR) || '#' || CAST(version AS VARCHAR)")
    s"""WITH v AS (
       |  SELECT l_orderkey, l_returnflag,
       |         row_number() OVER w AS version
       |  FROM lineitem
       |  WINDOW w AS (PARTITION BY l_orderkey
       |               ORDER BY l_linenumber, l_returnflag, l_extendedprice,
       |                        l_partkey, l_suppkey, l_quantity)),
       |ops AS (
       |  SELECT l_orderkey AS id, CAST(version AS BIGINT) AS seq,
       |         CASE WHEN l_returnflag = 'R' THEN 'delete'
       |              ELSE 'upsert' END AS op,
       |         ($b) % 3 AS b
       |  FROM v),
       |m0t AS (
       |  SELECT *, max(CASE WHEN b = 0 THEN seq END)
       |           OVER (PARTITION BY id) AS m0
       |  FROM ops),
       |a1t AS (
       |  SELECT *, (b = 1 AND (m0 IS NULL OR seq >= m0)) AS adm1
       |  FROM m0t),
       |m1t AS (
       |  SELECT *, max(CASE WHEN b = 0 OR adm1 THEN seq END)
       |           OVER (PARTITION BY id) AS m1
       |  FROM a1t)
       |SELECT id, seq, op, b AS arrival_batch,
       |       CASE WHEN b = 1 THEN m0 ELSE m1 END AS open_from_seq
       |FROM m1t
       |WHERE (b = 1 AND NOT adm1)
       |   OR (b = 2 AND m1 IS NOT NULL AND seq < m1)""".stripMargin
  }

  val oracles = Map(
    "k13_dim_restatement" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey AS nation_old,
        |         CASE WHEN c_custkey % 17 = 0
        |              THEN (c_nationkey + 7) % 25
        |              ELSE c_nationkey END AS nation_new
        |  FROM customer),
        |j AS (
        |  SELECT nation_old, nation_new,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS amt
        |  FROM orders JOIN cust ON o_custkey = c_custkey),
        |b AS (
        |  SELECT nation_old AS nation,
        |         CAST(count(*) AS BIGINT) AS orders_before,
        |         CAST(sum(amt) AS DOUBLE) AS amount_before
        |  FROM j GROUP BY 1),
        |a AS (
        |  SELECT nation_new AS nation,
        |         CAST(count(*) AS BIGINT) AS orders_after,
        |         CAST(sum(amt) AS DOUBLE) AS amount_after
        |  FROM j GROUP BY 1)
        |SELECT coalesce(b.nation, a.nation) AS nation,
        |       CAST(coalesce(orders_before, 0) AS BIGINT) AS orders_before,
        |       CAST(coalesce(orders_after, 0) AS BIGINT) AS orders_after,
        |       CAST(coalesce(orders_after, 0) - coalesce(orders_before, 0)
        |            AS BIGINT) AS order_delta,
        |       coalesce(amount_before, 0.0) AS amount_before,
        |       coalesce(amount_after, 0.0) AS amount_after,
        |       round(coalesce(amount_after, 0.0)
        |             - coalesce(amount_before, 0.0), 2) AS amount_delta
        |FROM b FULL OUTER JOIN a ON b.nation = a.nation""".stripMargin,
    "k12_dim_scd2_history" ->
      """WITH ops AS (
        |  SELECT CAST(c_custkey AS VARCHAR) AS id, 'upsert' AS op,
        |         CAST(1000 AS BIGINT) AS seq, c_name AS name
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS VARCHAR), 'upsert',
        |         CAST(2000 AS BIGINT), c_name || '_u'
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT CAST(c_custkey AS VARCHAR), 'delete',
        |         CAST(3000 AS BIGINT), NULL
        |  FROM customer WHERE c_custkey % 13 = 0),
        |v AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY id ORDER BY seq)
        |           AS version,
        |         lead(seq) OVER (PARTITION BY id ORDER BY seq)
        |           AS valid_to_seq
        |  FROM ops)
        |SELECT id, version, op, name, seq AS valid_from_seq,
        |       valid_to_seq,
        |       (valid_to_seq IS NULL AND op <> 'delete') AS is_current
        |FROM v""".stripMargin,
    // k8's oracle is deliberately a DIFFERENT algorithm: full recompute
    // over the last-op-wins snapshot (k5's rule), not a replay of the
    // delta stream — agreement proves the incremental maintenance
    // converges to the batch truth.
    "k8_incremental_agg" ->
      """WITH snap AS (
        |  SELECT l_partkey % 7 AS g,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS v
        |  FROM (SELECT *, row_number() OVER
        |          (PARTITION BY l_orderkey ORDER BY l_linenumber DESC,
        |           l_returnflag DESC, l_extendedprice DESC, l_partkey DESC,
        |           l_suppkey DESC, l_quantity DESC) AS rn
        |        FROM lineitem)
        |  WHERE rn = 1 AND l_returnflag <> 'R')
        |SELECT g, CAST(sum(v) AS DOUBLE) AS amount_sum,
        |       count(*) AS live_ct
        |FROM snap GROUP BY g""".stripMargin,
    "p18_props_json" ->
      """SELECT event_type, count(*) AS event_ct,
        |       count(CAST(json_extract(props, '$.k') AS BIGINT))
        |         AS k_present_ct,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS k_sum,
        |       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS k_min,
        |       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS k_max,
        |       count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
        |         AS k_distinct
        |FROM events GROUP BY 1""".stripMargin,
    "p14_dq_audit" ->
      """WITH li AS (
        |  SELECT count(*) AS row_ct,
        |         count(CASE WHEN l_returnflag IS NULL THEN 1 END)
        |           AS null_returnflag_ct,
        |         count(DISTINCT (l_orderkey, l_linenumber))
        |           AS key_distinct_ct,
        |         'lineitem' AS table_name
        |  FROM lineitem),
        |o AS (
        |  SELECT count(*) AS row_ct,
        |         count(CASE WHEN o_orderpriority IS NULL THEN 1 END)
        |           AS null_returnflag_ct,
        |         count(DISTINCT o_orderkey) AS key_distinct_ct,
        |         'orders' AS table_name
        |  FROM orders),
        |orph AS (
        |  SELECT count(*) AS orphan_line_ct FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |u AS (
        |  SELECT table_name, row_ct, null_returnflag_ct, key_distinct_ct
        |  FROM li
        |  UNION ALL
        |  SELECT table_name, row_ct, null_returnflag_ct, key_distinct_ct
        |  FROM o)
        |SELECT table_name, row_ct, null_returnflag_ct, key_distinct_ct,
        |       row_ct - key_distinct_ct AS dup_key_ct, orphan_line_ct
        |FROM u CROSS JOIN orph""".stripMargin,
    "k9_scd2_integrity" ->
      """WITH v AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |         row_number() OVER w AS version,
        |         lead(l_linenumber) OVER w AS next_ln
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_orderkey
        |               ORDER BY l_linenumber, l_returnflag, l_extendedprice,
        |                        l_partkey, l_suppkey, l_quantity)),
        |h AS (
        |  SELECT l_orderkey AS id, version,
        |         l_linenumber AS valid_from_seq, next_ln AS valid_to_seq,
        |         (next_ln IS NULL AND l_returnflag <> 'R') AS is_current,
        |         lead(l_linenumber) OVER
        |           (PARTITION BY l_orderkey ORDER BY version, l_linenumber)
        |           AS next_from
        |  FROM v),
        |per AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS version_ct,
        |         CAST(count(DISTINCT version) AS BIGINT)
        |           AS distinct_versions,
        |         CAST(max(version) AS BIGINT) AS max_version,
        |         CAST(sum(CASE WHEN valid_to_seq IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS open_ct,
        |         CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END)
        |              AS BIGINT) AS current_ct,
        |         CAST(sum(CASE WHEN valid_to_seq IS NOT NULL AND
        |                         (next_from IS NULL
        |                          OR next_from <> valid_to_seq)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS broken_links
        |  FROM h GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS dim_ct,
        |       CAST(sum(version_ct) AS BIGINT) AS version_ct,
        |       CAST(sum(CASE WHEN max_version <> version_ct
        |                       OR distinct_versions <> version_ct
        |                THEN 1 ELSE 0 END) AS BIGINT) AS gap_dim_ct,
        |       CAST(sum(CASE WHEN open_ct <> 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS bad_open_dim_ct,
        |       CAST(sum(broken_links) AS BIGINT) AS broken_link_ct,
        |       CAST(sum(current_ct) AS BIGINT) AS current_ct,
        |       (sum(CASE WHEN max_version <> version_ct
        |                   OR distinct_versions <> version_ct
        |            THEN 1 ELSE 0 END) = 0
        |        AND sum(CASE WHEN open_ct <> 1 THEN 1 ELSE 0 END) = 0
        |        AND sum(broken_links) = 0) AS scd2_ok
        |FROM per""".stripMargin,
    "k11_bitemporal_snapshot" -> {
      val probeRows = bitemporalProbes
        .map { case (t, v) => s"($t, $v)" }.mkString(", ")
      s"""WITH v AS (
         |  SELECT l_orderkey, l_linenumber, l_extendedprice,
         |         row_number() OVER w AS version
         |  FROM lineitem
         |  WINDOW w AS (PARTITION BY l_orderkey
         |               ORDER BY l_linenumber, l_returnflag, l_extendedprice,
         |                        l_partkey, l_suppkey, l_quantity)),
         |h AS (
         |  SELECT l_orderkey AS id, version,
         |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
         |           AS price,
         |         l_linenumber AS valid_from_seq
         |  FROM v),
         |probes AS (SELECT * FROM (VALUES $probeRows)
         |           AS t(t_tx, v_probe)),
         |j AS (
         |  SELECT h.*, p.t_tx, p.v_probe
         |  FROM h CROSS JOIN probes p WHERE version <= t_tx),
         |c AS (
         |  SELECT *, lead(valid_from_seq) OVER
         |           (PARTITION BY t_tx, v_probe, id
         |            ORDER BY valid_from_seq, version) AS next_from
         |  FROM j)
         |SELECT t_tx, v_probe,
         |       CAST(count(*) AS BIGINT) AS covered_ids,
         |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
         |         AS amount_sum
         |FROM c
         |WHERE valid_from_seq <= v_probe
         |  AND (next_from IS NULL OR v_probe < next_from)
         |GROUP BY 1, 2""".stripMargin
    },
    "k10_scd2_repair" ->
      s"""WITH v AS (
         |  SELECT l_orderkey, l_linenumber, l_returnflag,
         |         row_number() OVER w AS version,
         |         lead(l_linenumber) OVER w AS next_ln
         |  FROM lineitem
         |  WINDOW w AS (PARTITION BY l_orderkey
         |               ORDER BY l_linenumber, l_returnflag, l_extendedprice,
         |                        l_partkey, l_suppkey, l_quantity)),
         |h0 AS (
         |  SELECT l_orderkey AS id, version,
         |         l_linenumber AS valid_from_seq, next_ln AS valid_to_seq,
         |         (next_ln IS NULL AND l_returnflag <> 'R') AS is_current
         |  FROM v),
         |d0 AS (
         |  SELECT *, ${Oracle.hex4(
             "CAST(id AS VARCHAR) || '#' || CAST(version AS VARCHAR)")} AS u
         |  FROM h0),
         |dmg AS (
         |  SELECT id,
         |         CASE WHEN u % 11 = 2 AND version > 1 THEN version - 1
         |              ELSE version END AS version,
         |         valid_from_seq,
         |         CASE WHEN u % 7 = 1 THEN NULL ELSE valid_to_seq END
         |           AS valid_to_seq,
         |         is_current
         |  FROM d0 WHERE u % 5 <> 0),
         |r AS (
         |  SELECT *, row_number() OVER w AS new_version,
         |         lead(valid_from_seq) OVER w AS new_to
         |  FROM dmg
         |  WINDOW w AS (PARTITION BY id
         |               ORDER BY valid_from_seq, version,
         |                        valid_to_seq ASC NULLS LAST)),
         |ledger AS (
         |  SELECT CAST(count(*) AS BIGINT) AS row_ct,
         |         CAST(sum(CASE WHEN version <> new_version THEN 1 ELSE 0
         |                  END) AS BIGINT) AS renumbered_ct,
         |         CAST(sum(CASE WHEN valid_to_seq IS NULL
         |                        AND new_to IS NOT NULL THEN 1 ELSE 0
         |                  END) AS BIGINT) AS closed_open_ct,
         |         CAST(sum(CASE WHEN valid_to_seq IS NOT NULL
         |                        AND new_to IS NULL THEN 1 ELSE 0
         |                  END) AS BIGINT) AS reopened_ct,
         |         CAST(sum(CASE WHEN valid_to_seq IS NOT NULL
         |                        AND new_to IS NOT NULL
         |                        AND valid_to_seq <> new_to THEN 1 ELSE 0
         |                  END) AS BIGINT) AS relinked_ct
         |  FROM r),
         |rep AS (
         |  SELECT id, new_version AS version, valid_from_seq,
         |         new_to AS valid_to_seq,
         |         (new_to IS NULL AND is_current) AS is_current,
         |         lead(valid_from_seq) OVER
         |           (PARTITION BY id ORDER BY new_version, valid_from_seq)
         |           AS next_from
         |  FROM r),
         |per AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS version_ct,
         |         CAST(count(DISTINCT version) AS BIGINT)
         |           AS distinct_versions,
         |         CAST(max(version) AS BIGINT) AS max_version,
         |         CAST(sum(CASE WHEN valid_to_seq IS NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS open_ct,
         |         CAST(sum(CASE WHEN valid_to_seq IS NOT NULL AND
         |                         (next_from IS NULL
         |                          OR next_from <> valid_to_seq)
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS broken_links
         |  FROM rep GROUP BY 1),
         |aud AS (
         |  SELECT CAST(sum(CASE WHEN max_version <> version_ct
         |                         OR distinct_versions <> version_ct
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS gap_dim_ct,
         |         CAST(sum(CASE WHEN open_ct <> 1 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS bad_open_dim_ct,
         |         CAST(sum(broken_links) AS BIGINT) AS broken_link_ct,
         |         (sum(CASE WHEN max_version <> version_ct
         |                     OR distinct_versions <> version_ct
         |              THEN 1 ELSE 0 END) = 0
         |          AND sum(CASE WHEN open_ct <> 1 THEN 1 ELSE 0 END) = 0
         |          AND sum(broken_links) = 0) AS scd2_ok
         |  FROM per)
         |SELECT * FROM ledger CROSS JOIN aud""".stripMargin,
    "k6_scd2_history" ->
      """WITH v AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |         row_number() OVER w AS version,
        |         lead(l_linenumber) OVER w AS next_ln
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_orderkey
        |               ORDER BY l_linenumber, l_returnflag, l_extendedprice,
        |                        l_partkey, l_suppkey, l_quantity))
        |SELECT l_orderkey AS id, version,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |       CASE WHEN l_returnflag = 'R' THEN 'delete'
        |            ELSE 'upsert' END AS op,
        |       l_linenumber AS valid_from_seq,
        |       next_ln AS valid_to_seq,
        |       (next_ln IS NULL AND l_returnflag <> 'R') AS is_current
        |FROM v""".stripMargin,
    "k15_noop_squash" ->
      """WITH v AS (
        |  SELECT l_orderkey AS id,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
        |           AS price,
        |         CASE WHEN l_returnflag = 'R' THEN 'delete'
        |              ELSE 'upsert' END AS op,
        |         row_number() OVER w AS version
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_orderkey
        |               ORDER BY l_linenumber, l_returnflag, l_extendedprice,
        |                        l_partkey, l_suppkey, l_quantity)),
        |f AS (
        |  SELECT op,
        |         (op = 'upsert'
        |          AND lag(op) OVER w2 = 'upsert'
        |          AND lag(price) OVER w2 IS NOT NULL
        |          AND price = lag(price) OVER w2) AS is_noop
        |  FROM v
        |  WINDOW w2 AS (PARTITION BY id ORDER BY version))
        |SELECT op, count(*) AS op_ct,
        |       CAST(sum(CASE WHEN is_noop THEN 1 ELSE 0 END) AS BIGINT)
        |         AS noop_ct,
        |       CAST(sum(CASE WHEN is_noop THEN 0 ELSE 1 END) AS BIGINT)
        |         AS kept_ct,
        |       round(CAST(sum(CASE WHEN is_noop THEN 1 ELSE 0 END)
        |             AS DOUBLE) / count(*), 6) AS squash_ratio
        |FROM f GROUP BY op""".stripMargin,
    "k14_ooo_quarantine" -> k14Sql,
    "k17_chain_depth" ->
      """WITH d AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS depth
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(depth) AS total_rows FROM d)
        |SELECT depth, CAST(count(*) AS BIGINT) AS key_ct,
        |       CAST(depth * count(*) AS BIGINT) AS row_ct,
        |       round(CAST(depth * count(*) AS DOUBLE) / max(t.total_rows),
        |             6) AS row_share
        |FROM d CROSS JOIN t
        |GROUP BY depth""".stripMargin,
    // k16 folds the SAME construction — the SQL wraps k14's statement
    // as a derived table so the two can never drift
    "k16_repair_ledger" ->
      s"""SELECT arrival_batch,
         |       CAST(count(*) AS BIGINT) AS quarantined_ct,
         |       CAST(count(DISTINCT id) AS BIGINT) AS key_ct,
         |       CAST(max(open_from_seq - seq) AS BIGINT)
         |         AS max_displacement,
         |       round(CAST(sum(open_from_seq - seq) AS DOUBLE)
         |             / count(*), 6) AS mean_displacement
         |FROM ($k14Sql) q
         |GROUP BY 1""".stripMargin,
    "g1_explode_displays" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |  FROM events),
        |d AS (SELECT event_type, k, unnest(range(0, (k % 3) + 1)) AS i FROM ev)
        |SELECT 'item_' || ((k + i) % 7) AS item, count(*) AS display_ct,
        |       count(DISTINCT event_type) AS type_ct
        |FROM d GROUP BY 1""".stripMargin,
    // The oracle states the SEMANTICS of envelope-build → parse → ETL
    // directly over orders (the JSON round trip must be lossless).
    "s2_cdc_parse" ->
      s"""WITH typed AS (
         |  SELECT CASE WHEN o_orderstatus = 'F' THEN 'insert'
         |              WHEN o_orderstatus = 'O' THEN 'update'
         |              ELSE 'delete' END AS op_type,
         |         o_orderkey AS id,
         |         ${Oracle.money("o_totalprice")} AS amount,
         |         strftime(o_orderdate, '%Y-%m-%d') AS cur_date
         |  FROM orders)
         |SELECT op_type, count(*) AS op_ct, count(DISTINCT id) AS id_ct,
         |       CAST(SUM(amount) AS DOUBLE) AS amount_sum,
         |       min(cur_date) AS first_date, max(cur_date) AS last_date
         |FROM typed GROUP BY 1""".stripMargin,
    "p2_dirty_split" ->
      """SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'dirty' ELSE 'clean' END AS route,
        |       count(*) AS route_ct
        |FROM orders GROUP BY 1""".stripMargin,
    "p5_conditional_delta" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS cur_date,
         |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN ${Oracle.money("\"value\"")}
         |                     WHEN event_type = 'click' THEN -${Oracle.money("\"value\"")}
         |                     ELSE 0 END) AS DOUBLE) AS delta_sum,
         |       count(*) AS event_ct
         |FROM events GROUP BY 1""".stripMargin,
    "p9_column_pruning" ->
      """SELECT k AS "key", count(*) AS key_ct FROM (
        |  SELECT unnest(['id', 'total_amount']) AS k, o_orderkey FROM orders)
        |GROUP BY 1""".stripMargin,
    "g3_multiway_split" ->
      s"""SELECT CASE event_type WHEN 'view' THEN 'page' WHEN 'signup' THEN 'start'
         |            WHEN 'error' THEN 'err' WHEN 'click' THEN 'action'
         |            ELSE 'display' END AS route,
         |       count(*) AS route_ct,
         |       ${Oracle.moneySum("\"value\"")} AS value_sum
         |FROM events GROUP BY 1""".stripMargin,
    "k7_asof_snapshot" ->
      """SELECT l_orderkey AS id,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS final_price,
        |       l_linenumber AS last_op_seq
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY l_orderkey ORDER BY l_linenumber DESC,
        |         l_returnflag DESC, l_extendedprice DESC, l_partkey DESC,
        |         l_suppkey DESC, l_quantity DESC) AS rn
        |      FROM lineitem WHERE l_linenumber <= 3)
        |WHERE rn = 1 AND l_returnflag <> 'R'""".stripMargin,
    "k5_dim_merge_snapshot" ->
      """SELECT l_orderkey AS id,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS final_price,
        |       l_linenumber AS last_op_seq
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY l_orderkey ORDER BY l_linenumber DESC,
        |         l_returnflag DESC, l_extendedprice DESC, l_partkey DESC,
        |         l_suppkey DESC, l_quantity DESC) AS rn
        |      FROM lineitem)
        |WHERE rn = 1 AND l_returnflag <> 'R'""".stripMargin)
}
