package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dimension-store merge seam (K5: HBaseSinkFunction.java:36-61 —
  * upsert/delete per key applied per micro-batch).
  *
  * The CONTRACT is `MERGE INTO`: per micro-batch, the final op per key
  * (by the seq total order) decides presence (delete drops) and payload
  * (upsert keeps the last value). On a lakehouse table format
  * (Delta/Iceberg — SURVEY §7.4's designated substitution) this is
  * literally `MERGE INTO store USING batch ON key WHEN MATCHED AND
  * op='delete' THEN DELETE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
  * THEN INSERT`, with ACID commits and concurrent-writer isolation.
  * [[VersionedParquetMergeSink]] is the dependency-free stand-in this
  * sandbox runs (no Delta jars): each batch commits a new immutable
  * version directory and readers take the latest — the lakehouse commit
  * protocol in miniature, equivalent in merge SEMANTICS (proven by the
  * k5/k6 oracles and PipelineSpec) but WITHOUT the ACID story: no
  * atomic commit file, no concurrent-writer conflict detection, no
  * time-travel retention. Swapping in Delta touches only this class. */
trait MergeSink {
  /** Apply one micro-batch of keyed ops, last-op-wins by seqCol. */
  def merge(batch: DataFrame, batchId: Long): Unit

  /** The current (latest committed) snapshot. */
  def current(s: SparkSession): DataFrame
}

/** Shared committed-version listing for the versioned-parquet sinks:
  * only version dirs whose Hadoop committer wrote the _SUCCESS marker
  * are visible — a torn write (crash mid-commit) leaves a dir without
  * the marker and readers skip it. */
private[streaming] object VersionedStore {
  /** Names of committed version dirs (any naming scheme). */
  def committedNames(storeDir: String): Seq[String] =
    Option(new java.io.File(storeDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(d => new java.io.File(d, "_SUCCESS").exists())
      .map(_.getName)

  /** Plain `v<batchId>` committed versions (the type-1/seam scheme). */
  def committed(storeDir: String): Seq[Long] =
    committedNames(storeDir).filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong)

  /** Decommit-then-delete a version dir: the _SUCCESS marker goes
    * FIRST, so a crash mid-removal can never leave a half-emptied dir
    * that still looks committed (the torn-write invariant in reverse —
    * shared by VACUUM and the quarantine clear). */
  def remove(dir: java.io.File): Unit = {
    val marker = new java.io.File(dir, "_SUCCESS")
    require(!marker.exists() || marker.delete(),
      s"could not decommit $dir")
    val leftovers = Option(dir.listFiles()).getOrElse(Array.empty)
      .filterNot(_.delete()) ++
      (if (dir.delete()) Nil else Seq(dir))
    require(leftovers.isEmpty,
      s"removal of decommitted $dir left undeletable files: " +
        leftovers.map(_.getName).mkString(", "))
  }
}

/** SCD TYPE-2 versioned-parquet MergeSink — the streaming maintenance
  * of a dimension HISTORY table (the reference's HBase store keeps
  * type-1 last-op-wins; this is the lakehouse-era type-2 sibling the
  * k6/k9/k10/k11 batch constructions assume a maintainer for): per
  * arriving CDC op, the key's open version row is CLOSED at the op's
  * sequence and a new version row is INSERTED — `MERGE INTO history
  * USING batch ... WHEN MATCHED AND is_open THEN UPDATE SET valid_to
  * ... ; INSERT (new version)` on a real table format.
  *
  * History contract (identical to the k6 batch construction, proven by
  * DimAppSpec): every op becomes a version row; versions are 1..n per
  * key in sequence order; each row's valid_to_seq is its successor's
  * valid_from_seq (null for the chain's last row); is_current marks the
  * last row unless that op was a delete. The k9 audit passes on the
  * maintained store by construction.
  *
  * Ordering contract: batches must arrive per-key seq-nondecreasing
  * (an append-only CDC op log replayed in order — exactly what a
  * per-key-ordered topic/file stream delivers). The contract is now
  * CHECKED at merge time, not assumed: an op whose seq sorts BELOW its
  * key's open version's valid_from_seq (a multi-partition CDC topic
  * delivering cross-batch out of order) would close the open row at an
  * earlier sequence than it began — a silently wrong chain the k9
  * audit only catches if someone runs it. Such ops are ROUTED TO A
  * QUARANTINE store (`storeDir/__quarantine/v<batchId>`, committed and
  * replay-idempotent like the main versions) instead of being merged;
  * the maintained chain stays k9-clean, [[repaired]] rebuilds the
  * full corrected history from the store's own ops plus the quarantine
  * (the k10 remedy, applied to exactly the ops that need it), and
  * [[commitRepaired]] folds it back as a committed `v<B>r<k>` repair
  * version and clears the quarantine — crash-safe and replay-
  * idempotent (see its doc for the commit order).
  * Within-batch disorder needs no quarantine — the batch window sorts
  * its own ops.
  *
  * Scale shape: ONE key-partitioned window over the batch (order its
  * own ops), one key-equi-join against the store's open rows (the same
  * join detects ordering violations), one against the per-key max
  * version — all on the entity key, the same single-Exchange
  * discipline as the type-1 sink; untouched keys' rows are carried
  * forward (a real MERGE leaves them in place). */
class Scd2ParquetMergeSink(storeDir: String, keyCol: String,
    seqCol: String, opCol: String, payloadCols: Seq[String])
    extends MergeSink {

  /** Version naming: batches commit `v<batchId>`; quarantine-repair
    * commits ([[commitRepaired]]) are `v<batchId>r<k>` — (batchId, k)
    * ordering puts a repair AFTER the batch it repairs and BEFORE the
    * next batch, so an append-only repair never collides with a
    * resumed stream's batchIds (batch B+1's base is the latest
    * version with numeric part < B+1, which IS the repair of B) and a
    * REPLAYED batch B excludes its own repair from its base (numeric
    * B is not < B) while `current` still reads the repair. */
  private val versionName = "^v(\\d+)(?:r(\\d+))?$".r

  /** Committed (batchId, repairIdx) versions, unordered. */
  private def parsedVersions: Seq[(Long, Long)] =
    VersionedStore.committedNames(storeDir).flatMap {
      case versionName(b, r) =>
        Some((b.toLong, Option(r).map(_.toLong).getOrElse(0L)))
      case _ => None
    }

  private def dirOf(v: (Long, Long)): String =
    if (v._2 == 0L) s"$storeDir/v${v._1}" else s"$storeDir/v${v._1}r${v._2}"

  private def quarantineDir = s"$storeDir/__quarantine"

  def merge(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val sel = batch
      .select((Seq(col(keyCol), col(opCol), col(seqCol)) ++
        payloadCols.map(col)): _*)
    // ordering-contract check against the pre-batch snapshot: ops that
    // sort below their key's open valid_from_seq are quarantined, the
    // rest merge normally (detection must precede the batch window —
    // version numbering may not count dropped ops)
    val baseSnap = parsedVersions.filter(_._1 < batchId)
      .maxOption.map(v => graft.Tables.parquet(s, dirOf(v)))
    val admitted = baseSnap match {
      case None =>
        // first batch: no store, no cross-batch order to violate; keep
        // the quarantine ledger dense (one committed version per batch)
        // so readers can distinguish "checked, clean" from "never ran"
        writeQuarantine(sel.filter(lit(false))
          .withColumn("open_from_seq",
            lit(null).cast(sel.schema(seqCol).dataType)), batchId)
        sel
      case Some(hist) =>
        val opens = hist.filter(col("valid_to_seq").isNull)
          .select(col(keyCol).as("__qk"),
            col("valid_from_seq").as("__open_from"))
        val marked = sel
          .join(opens, col(keyCol) === col("__qk"), "left_outer")
        val bad = marked
          .filter(col("__open_from").isNotNull &&
            col(seqCol) < col("__open_from"))
          .withColumn("open_from_seq", col("__open_from"))
          .drop("__qk", "__open_from")
        writeQuarantine(bad, batchId)
        marked.filter(col("__open_from").isNull ||
            col(seqCol) >= col("__open_from"))
          .drop("__qk", "__open_from")
    }
    val wk = Window.partitionBy(col(keyCol)).orderBy(col(seqCol))
    val numbered = admitted
      .withColumn("__rn", row_number().over(wk))
      .withColumn("__next", lead(col(seqCol), 1).over(wk))
    val newRowsBase = (base: DataFrame) => base
      .select((Seq(
        col(keyCol),
        (coalesce(col("__base"), lit(0)) + col("__rn")).as("version")) ++
        payloadCols.map(col) ++ Seq(
        col(opCol),
        col(seqCol).as("valid_from_seq"),
        col("__next").as("valid_to_seq"),
        (col("__next").isNull && col(opCol) =!= "delete")
          .as("is_current"))): _*)
    // Replay idempotence (the W10 exactly-once contract): the base
    // snapshot is the latest version STRICTLY BELOW this batchId — a
    // crash after vN committed but before the batch was acknowledged
    // replays batch N, and reading "the latest" (= vN itself) would
    // close-and-insert the same ops a second time. The type-1 sink
    // gets replay idempotence for free (re-upserting identical ops is
    // a no-op under last-op-wins); close-and-insert does not, so the
    // base must be the pre-batch state. Every merge commits a version
    // for its batchId (even with zero matching rows), so the
    // predecessor is always the true pre-batch snapshot.
    val out = baseSnap match {
      case None =>
        newRowsBase(numbered.withColumn("__base", lit(0)))
      case Some(hist) =>
        // close each touched key's open row at its first new op
        val firstNew = numbered.filter(col("__rn") === 1)
          .select(col(keyCol).as("__k"), col(seqCol).as("__first_seq"))
        val closed = hist
          .join(firstNew, col(keyCol) === col("__k"), "left_outer")
          .withColumn("valid_to_seq",
            when(col("valid_to_seq").isNull && col("__first_seq").isNotNull,
              col("__first_seq")).otherwise(col("valid_to_seq")))
          .withColumn("is_current",
            col("is_current") && col("__first_seq").isNull)
          .drop("__k", "__first_seq")
        val baseV = hist.groupBy(col(keyCol).as("__k2"))
          .agg(max(col("version")).as("__base"))
        val news = newRowsBase(numbered
          .join(baseV, col(keyCol) === col("__k2"), "left_outer")
          .drop("__k2"))
        closed.unionByName(news)
    }
    out.write.mode("overwrite").parquet(s"$storeDir/v$batchId")
    ()
  }

  /** The full maintained history (latest committed version — a repair
    * of batch B outranks v<B> and is outranked by v<B+1>). */
  def current(s: SparkSession): DataFrame = {
    val vs = parsedVersions
    require(vs.nonEmpty, s"no committed version under $storeDir")
    graft.Tables.parquet(s, dirOf(vs.max))
  }

  /** Commit one batch's ordering-contract violators. Same committed-
    * version protocol as the main store (overwrite per batchId →
    * replay-idempotent; _SUCCESS gates visibility), written BEFORE the
    * main version so a crash between the two replays both. */
  private def writeQuarantine(bad: DataFrame, batchId: Long): Unit = {
    bad.write.mode("overwrite").parquet(s"$quarantineDir/v$batchId")
    ()
  }

  /** Every quarantined op across all committed batches, with the open
    * valid_from_seq it violated (`open_from_seq`). A store with
    * committed MAIN versions but no quarantine ledger (merged by
    * pre-ledger code, or cleared by [[commitRepaired]]) reads as an
    * empty, correctly-typed frame — the ledger's absence means "no
    * pending violators", not an error; only a store that never merged
    * anything still fails. */
  def quarantined(s: SparkSession): DataFrame = {
    val vs = VersionedStore.committed(quarantineDir)
    if (vs.isEmpty) {
      require(parsedVersions.nonEmpty,
        s"no committed version under $storeDir — " +
          "has the sink merged at least one batch?")
      current(s).select((Seq(col(keyCol), col(opCol),
          col("valid_from_seq").as(seqCol)) ++ payloadCols.map(col) :+
          col("valid_from_seq").as("open_from_seq")): _*)
        .filter(lit(false))
    } else
      vs.sorted.map(v => graft.Tables.parquet(s, s"$quarantineDir/v$v"))
        .reduce(_ unionByName _)
  }

  /** The corrected FULL history — the k10-style remedy applied to
    * exactly the ops that were quarantined: every maintained version
    * row is itself an op (its valid_from_seq is the op's seq), so the
    * store's ops plus the quarantined ops, renumbered per key in seq
    * order, rebuild the chain a perfectly-ordered replay would have
    * produced. Read-only: [[commitRepaired]] is the write path.
    * Requires seqCol to be per-key UNIQUE (the sink's total-order
    * contract) — duplicate seqs would make the rebuilt version order
    * nondeterministic. The (key, seq) dedup makes the rebuild
    * CONVERGENT: after a crash between a repair commit and its
    * quarantine clear, the surviving quarantine ops are already in
    * the chain and fold to the identical result. */
  def repaired(s: SparkSession): DataFrame = {
    val opProjection = (Seq(col(keyCol), col(opCol),
      col("valid_from_seq").as(seqCol)) ++ payloadCols.map(col))
    val histOps = current(s).select(opProjection: _*)
    val qOps = quarantined(s)
      .select((Seq(col(keyCol), col(opCol), col(seqCol)) ++
        payloadCols.map(col)): _*)
    // (key, seq) dedup as an explicit aggregate (duplicates only exist
    // in the crash-between-commit-and-clear state, and are then exact
    // copies — first() is deterministic over identical rows)
    val all = histOps.unionByName(qOps)
      .groupBy(col(keyCol), col(seqCol))
      .agg(first(col(opCol)).as(opCol),
        payloadCols.map(c => first(col(c)).as(c)): _*)
    val wk = Window.partitionBy(col(keyCol)).orderBy(col(seqCol))
    all
      .withColumn("version", row_number().over(wk))
      .withColumn("__next", lead(col(seqCol), 1).over(wk))
      .select((Seq(
        col(keyCol), col("version")) ++ payloadCols.map(col) ++ Seq(
        col(opCol),
        col(seqCol).as("valid_from_seq"),
        col("__next").as("valid_to_seq"),
        (col("__next").isNull && col(opCol) =!= "delete")
          .as("is_current"))): _*)
  }

  /** COMMIT the repair: write [[repaired]] as a `v<B>r<k>` version
    * (B = the latest version's batchId, k = next repair index) and
    * clear the quarantine — the operator action that folds disordered
    * arrivals back into the maintained history, the weekly ritual of
    * anyone running a DIM pipeline on a multi-partition CDC topic. On
    * a real table format this is one repair MERGE commit.
    *
    * Crash-safe in THIS order, and replay-idempotent:
    *  1. write the repair version (overwrite; _SUCCESS gates
    *     visibility — a torn write is invisible and the re-run
    *     overwrites it);
    *  2. clear the quarantine (decommit-then-delete per version).
    * A crash between 1 and 2 leaves the repair committed AND the
    * quarantine populated with ops that are now ALREADY in the chain:
    * the re-run detects that (anti-join on (key, seq) against the
    * current chain), skips the redundant write, and finishes the
    * clear — converging to the same store. A quarantined op is folded
    * exactly once, ever.
    *
    * Returns the committed repair dir, or None when every quarantined
    * op was already folded (replay / nothing pending). */
  def commitRepaired(s: SparkSession): Option[String] = {
    val vs = parsedVersions
    require(vs.nonEmpty, s"no committed version under $storeDir")
    val pending = quarantined(s).join(
      current(s).select(col(keyCol).as("__rk"),
        col("valid_from_seq").as("__rs")),
      col(keyCol) === col("__rk") && col(seqCol) === col("__rs"),
      "left_anti")
    val target = if (pending.isEmpty) None else {
      val top = vs.max
      val dir = dirOf((top._1, top._2 + 1))
      repaired(s).write.mode("overwrite").parquet(dir)
      Some(dir)
    }
    VersionedStore.committedNames(quarantineDir).foreach(n =>
      VersionedStore.remove(new java.io.File(s"$quarantineDir/$n")))
    target
  }
}

/** Versioned-parquet MergeSink: storeDir/v<batchId> is the snapshot
  * after merging batch <batchId>; `current` reads the max version.
  *
  * @param keyCol      entity key column
  * @param seqCol      total-order column ("last op" tie-break)
  * @param opCol       op column, values in upsert|delete
  * @param payloadCols payload columns carried into the snapshot
  */
class VersionedParquetMergeSink(storeDir: String, keyCol: String,
    seqCol: String, opCol: String, payloadCols: Seq[String])
    extends MergeSink {

  /** Only versions whose Hadoop committer wrote the _SUCCESS marker are
    * visible — a torn write (crash mid-commit) leaves a version dir
    * without the marker and readers skip it, the minimum crash-safety
    * slice of the lakehouse commit protocol (full ACID still needs the
    * real table format — see the class doc). */
  /** Committed versions, exposed for the [[LakehouseTable]] seam's
    * next-version bookkeeping. */
  private[streaming] def committedVersions: Seq[Long] = versions

  private def versions: Seq[Long] = VersionedStore.committed(storeDir)

  /** Additive schema evolution (the Delta `mergeSchema` + `UPDATE SET
    * source-columns-only` behavior):
    *  - a payload column the STORE predates is null-filled with the
    *    type the batch carries it at (never a hardcoded type — a
    *    silent retype would corrupt numeric payloads);
    *  - a payload column a PRODUCER doesn't emit yet INHERITS the
    *    store's current value for that key on upsert (mixed-shape
    *    producers must not wipe each other's attributes — Delta's
    *    UPDATE leaves target columns absent from the source alone);
    *  - a column never seen anywhere is a null placeholder (stored as
    *    STRING) until first produced; each version records which of its
    *    columns are such placeholders (`_NULLCOLS`), and the first batch
    *    that actually produces the column RECASTS the all-null store
    *    side to the produced type — without this, unionByName's
    *    coercion would widen store+batch to STRING and permanently
    *    stringify a numeric payload;
    *  - DROPPING a stored column (reopening with fewer payloadCols)
    *    is an error, exactly like the lakehouse formats. */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val outCols = (Seq(keyCol) ++ payloadCols :+ seqCol).map(col)
    val latest = versions.sorted.lastOption
    val storeOpt = latest.map(v => graft.Tables.parquet(s, s"$storeDir/v$v"))
    // Placeholder tracking: columns the latest version materialized as
    // all-null STRING because no producer had emitted them yet. When the
    // batch now carries such a column with a real type, the store side
    // is RECAST to it (safe: every stored value is null) instead of
    // letting unionByName coerce the union to STRING.
    val storeNullCols: Set[String] =
      latest.map(v => readNullCols(s"$storeDir/v$v")).getOrElse(Set.empty)
    storeOpt.foreach { st =>
      val declared = (Seq(keyCol, seqCol) ++ payloadCols).toSet
      val dropped = st.columns.filterNot(declared.contains)
      require(dropped.isEmpty,
        s"reopening would silently DROP stored columns " +
          s"${dropped.mkString(", ")} — declare them in payloadCols " +
          "(column drops are unsupported, like the lakehouse formats)")
    }
    def dtypeOf(c: String) =
      batch.schema.find(_.name == c).map(_.dataType)
        .orElse(storeOpt.flatMap(_.schema.find(_.name == c)
          .map(_.dataType)))
        .getOrElse(org.apache.spark.sql.types.StringType)
    val missing = payloadCols.filterNot(batch.columns.contains)
    val incoming0 = storeOpt match {
      case Some(st) if missing.nonEmpty =>
        val fromStore = missing.filter(st.columns.contains)
        val inh = st.select((col(keyCol).as("__mk") +:
          fromStore.map(c => col(c).as(s"__inh_$c"))): _*)
        val joined = batch.join(inh, col(keyCol) === col("__mk"),
          "left_outer")
        val filled = missing.foldLeft(joined)((b, c) =>
          b.withColumn(c,
            if (st.columns.contains(c)) col(s"__inh_$c")
            else lit(null).cast(dtypeOf(c))))
        filled.drop("__mk" +: fromStore.map("__inh_" + _): _*)
      case _ =>
        missing.foldLeft(batch)((b, c) =>
          b.withColumn(c, lit(null).cast(dtypeOf(c))))
    }
    val incoming = incoming0.select(
      (Seq(col(keyCol), col(opCol)) ++ payloadCols.map(col) :+ col(seqCol)): _*)
    val all = storeOpt match {
      case Some(st) =>
        val recast = storeNullCols.filter(c => batch.columns.contains(c))
        recast.foldLeft(st)((b, c) => b.withColumn(c,
            col(c).cast(batch.schema(c).dataType)))
          .transform(b => payloadCols.filterNot(b.columns.contains)
            .foldLeft(b)((x, c) =>
              x.withColumn(c, lit(null).cast(dtypeOf(c)))))
          .select((Seq(col(keyCol), lit("upsert").as(opCol)) ++
            payloadCols.map(col) :+ col(seqCol)): _*)
          .unionByName(incoming)
      case None => incoming
    }
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "delete")
      .select(outCols: _*)
      .write.mode("overwrite").parquet(s"$storeDir/v$batchId")
    // Carry the placeholder set forward: still-never-produced columns
    // stay; ones this batch produced leave. Written AFTER the parquet
    // commit — a crash in between leaves a committed version with no
    // _NULLCOLS, which reads as "no placeholders": conservative (the
    // recast is skipped, old union behavior), never corrupting.
    val stillNull = (storeNullCols ++ payloadCols.filterNot(c =>
        batch.columns.contains(c) ||
          storeOpt.exists(st => st.columns.contains(c) &&
            !storeNullCols.contains(c))))
      .filterNot(batch.columns.contains)
    writeNullCols(s"$storeDir/v$batchId", stillNull)
    ()
  }

  /** `_NULLCOLS` sidecar: newline list of placeholder columns in a
    * version (underscore prefix → invisible to parquet readers). */
  private def readNullCols(dir: String): Set[String] = {
    val f = new java.io.File(dir, "_NULLCOLS")
    if (!f.exists()) Set.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    }
  }

  private def writeNullCols(dir: String, cols: Set[String]): Unit =
    if (cols.nonEmpty) {
      val w = new java.io.PrintWriter(new java.io.File(dir, "_NULLCOLS"))
      try cols.toSeq.sorted.foreach(w.println) finally w.close()
    }

  def current(s: SparkSession): DataFrame = {
    val vs = versions
    require(vs.nonEmpty, s"no committed version under $storeDir")
    graft.Tables.parquet(s, s"$storeDir/v${vs.max}")
  }

  /** Time-travel read (`VERSION AS OF`): the latest committed snapshot
    * whose version ≤ `version` — reading history is a pruned scan of one
    * immutable version directory, never a recompute (the Delta/Iceberg
    * contract; their retention/VACUUM knobs are the part this stand-in
    * lacks, see the class doc). */
  def snapshotAt(s: SparkSession, version: Long): DataFrame = {
    val vs = versions.filter(_ <= version)
    require(vs.nonEmpty, s"no committed version <= $version in $storeDir")
    graft.Tables.parquet(s, s"$storeDir/v${vs.max}")
  }

  /** Retention (`VACUUM` analog): drop all but the newest `retain`
    * committed versions. `current` is never touched (retain >= 1 is
    * enforced); `snapshotAt` older than the horizon then fails, exactly
    * like a vacuumed Delta table. Returns the versions removed.
    * Removal is decommit-then-delete ([[VersionedStore.remove]]). */
  def expireVersions(retain: Int): Seq[Long] = {
    require(retain >= 1, "must retain at least the current version")
    val doomed = versions.sorted.dropRight(retain)
    doomed.foreach(v => VersionedStore.remove(
      new java.io.File(s"$storeDir/v$v")))
    doomed
  }
}
