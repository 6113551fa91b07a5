package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExecSubqueryExpression, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Cross-scale growth ledger — the last leg of the 100 TB claim that
  * neither [[PlanBudget]] (plan SHAPE) nor [[TimeBudget]] (sf0.001
  * wall time) can see: per query, the shuffle records/bytes the
  * EXECUTED plan actually moved at two data scales (sf0.01 and sf0.1,
  * a 10× input step), recorded in SCALE_LEDGER.tsv and enforced by
  * PerfSpec.
  *
  * Why: a candidate-pair explosion inside a perfectly legal bucket
  * join — the classic LSH/near-dup failure mode — keeps the plan
  * shape (one equi-join Exchange) and the small-scale timing intact,
  * and only shows up as superlinear WORK growth. The guard here: a
  * query is flagged when its big-scale shuffle-record count exceeds
  * [[maxGrowthFactor]] × the 10× input growth × its small-scale
  * count (and clears an absolute floor, so metadata-sized queries
  * whose 50-row shuffles jitter 20× never false-positive).
  *
  * Measurement is the executed plan's own SQLMetrics — no listener
  * races, no sampling: the post-run [[QueryExecution]] is captured
  * through the public [[QueryExecutionListener]] hook, and the walk
  * descends AQE stages, reused exchanges (deduped by accumulator id,
  * so a ReusedExchange never double-counts), executed subquery plans
  * (DPP), and memoized cache builds (an [[InMemoryTableScanExec]]
  * consumer carries its family build's metrics — deliberate: a
  * quadratic BUILD flags every consumer). Regenerate per round:
  * `sbt "runMain graft.ScaleLedger"` (≈ one bench run per scale). */
object ScaleLedger {

  /** Input rows grow 10× from sf0.01 to sf0.1 (TESTDATA.md). */
  val inputRatio = 10.0

  /** Tolerated superlinearity: big/small shuffle records may reach
    * maxGrowthFactor × the allowed growth base before flagging. 1.3
    * absorbs benign tails (distinct-gram vocabularies, band-bucket
    * jitter) while a genuine quadratic (100×) is far outside. */
  val maxGrowthFactor = 1.3

  /** Queries whose big-scale shuffle stays under this record count are
    * never flagged: at 20k records the absolute work is trivial and
    * ratios of tiny numbers are noise, not scaling evidence. */
  val recordFloor = 20000L

  /** Byte sibling of [[recordFloor]]: byte growth is only flagged once
    * the big-scale shuffle moves a megabyte — below that, ratios track
    * serialization jitter, not row width. */
  val bytesFloor = 1000000L

  /** Single-task exchanges (SinglePartition, or hash/range partitioning
    * on constants — `Window.partitionBy(lit(1))`) above this record
    * count at the big scale are candidates for the GLOBAL flag: a
    * global sort/window is only 100×-safe when the frame it moves is
    * METADATA-sized (domain-bounded buckets, per-distinct-value
    * aggregates, scalar partials), and those stay in the low thousands
    * here by construction. */
  val globalFloor = 2500L

  /** A big single-task frame is tolerated only if it is SATURATED —
    * flat across the 10× input step (a fixed domain: distinct order
    * dates, a 16-bit Z-cell space). Growth past this cap above
    * [[globalFloor]] means the frame tracks the DATA, and the global
    * sort becomes the single-task bottleneck at 100×. */
  val globalGrowthCap = 2.0

  /** GLOBAL flag rule (PerfSpec re-derives from raw columns): the
    * largest single-task exchange is both big and data-tracking. */
  def flaggedGlobal(globSmall: Long, globBig: Long): Boolean =
    globBig > globalFloor &&
      globBig.toDouble / math.max(1L, globSmall) > globalGrowthCap

  /** Recompute the flag PerfSpec asserts from a ledger row's numbers
    * (never trust a stored verdict column). The growth allowance is
    * OUTPUT-SENSITIVE: max(input growth, output-row growth) — a
    * pair-enumeration query (contamination pairs, near-dup audits)
    * cannot shuffle fewer records than the result it must produce, so
    * work that tracks a legitimately-superlinear OUTPUT is optimal,
    * not sick (c5 at sf0.1: 3 → 484 true contaminated pairs across a
    * 10× input step — its 104× shuffle growth is the output, not a
    * bug). What still flags: shuffle growing past both the input and
    * the output — quadratic INTERMEDIATE work hidden behind a small
    * result, the mega-cluster candidate explosion this ledger caught
    * (and [[graft.operators.DedupOps.bucketCliqueCap]] now bounds) on
    * its first round-8 run. */
  def flagged(recSmall: Long, recBig: Long, outSmall: Long,
      outBig: Long): Boolean = {
    val outGrowth = outBig.toDouble / math.max(1L, outSmall)
    recBig > recordFloor &&
      recBig.toDouble / math.max(1L, recSmall) >
        maxGrowthFactor * math.max(inputRatio, outGrowth)
  }

  /** Byte-growth flag under the same output-sensitive allowance —
    * record-only flagging is blind to a row-WIDTH explosion (a payload
    * column accidentally carried through a shuffle, a collect_list of
    * documents): record counts grow linearly while bytes go
    * quadratic. Flags shuffle BYTES growing past the allowance above
    * the [[bytesFloor]]. */
  def flaggedBytes(bytesSmall: Long, bytesBig: Long, outSmall: Long,
      outBig: Long): Boolean = {
    val outGrowth = outBig.toDouble / math.max(1L, outSmall)
    bytesBig > bytesFloor &&
      bytesBig.toDouble / math.max(1L, bytesSmall) >
        maxGrowthFactor * math.max(inputRatio, outGrowth)
  }

  /** Captures EVERY QueryExecution completed while armed — not just
    * the final sink action: a query whose CONSTRUCTION runs jobs
    * (k10's eager localCheckpoint materializes the repair subtree
    * before any consumer executes) must have that work on its ledger
    * row too, or the guard never measures the exact stage the memo
    * exists for. Readers sum across the buffer with one shared
    * accumulator-id set, so a plan fragment visible in several QEs
    * (the checkpoint build and the final plan's scan of it) never
    * double-counts. The listener bus delivery is async — readers poll
    * [[drain]] after the sink action lands at least one QE. */
  private final class Capture extends QueryExecutionListener {
    private val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    @volatile var armed = false
    def reset(): Unit = buf.clear()
    def drain: Seq[QueryExecution] = {
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toSeq
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (armed) { buf.add(qe); () }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Every executed node reachable from `p`: through finalized AQE
    * plans, materialized query stages, expression-embedded subquery
    * plans (scalar + DPP InSubquery), and cached-relation builds. */
  private def flat(p: SparkPlan): Seq[SparkPlan] = {
    val own = p match {
      case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
      case q: QueryStageExec => p +: flat(q.plan)
      case im: InMemoryTableScanExec => p +: flat(im.relation.cachedPlan)
      case _ => p +: p.children.flatMap(flat)
    }
    own ++ p.expressions.flatMap(_.collect {
      case s: ExecSubqueryExpression => flat(s.plan)
    }.flatten)
  }

  /** (shuffle records written, shuffle bytes written, output rows)
    * summed over every captured execution of one query — the final
    * sink action plus any construction-time jobs (eager checkpoints)
    * — each metric accumulator counted once across ALL of them
    * (ReusedExchange shares its original's accumulators; a
    * checkpointed subtree's metrics appear only in its own build QE).
    * Output rows come from the first row-tracking operator in
    * pre-order of the LAST execution — the one nearest the final
    * sink — which is the result cardinality the output-sensitive
    * growth allowance needs. */
  def shuffleTotals(qes: Seq[QueryExecution]): (Long, Long, Long) = {
    val seen = scala.collection.mutable.Set.empty[Long]
    var rec = 0L
    var bytes = 0L
    qes.foreach { qe =>
      flat(qe.executedPlan).foreach {
        case se: ShuffleExchangeLike =>
          se.metrics.get("shuffleRecordsWritten").foreach { m =>
            if (seen.add(m.id)) rec += m.value
          }
          se.metrics.get("shuffleBytesWritten").foreach { m =>
            if (seen.add(m.id)) bytes += m.value
          }
        case _ => ()
      }
    }
    val outRows = qes.lastOption.toSeq
      .flatMap(qe => flat(qe.executedPlan))
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
      .headOption.getOrElse(0L)
    (rec, bytes, outRows)
  }

  /** A partitioning that lands every row on ONE task: an explicit
    * SinglePartition (global sort/limit/final agg), any 1-partition
    * layout, or hash/range partitioning on constant expressions — the
    * `Window.partitionBy(lit(1))` idiom hashes all rows to a single
    * bucket even though the exchange claims N partitions. */
  private def isSingleTask(
      p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical._
    p match {
      case SinglePartition => true
      case h: HashPartitioning => h.expressions.forall(_.foldable)
      case _ => p.numPartitions <= 1
    }
  }

  /** Records written into the LARGEST single-task exchange across a
    * query's captured executions (0 when it has none) — the plan-walk
    * behind the GLOBAL flag: SCALE_LEDGER already proves total shuffle
    * work grows linearly; this column proves no single TASK is handed
    * a data-sized frame to sort. */
  def globalExchangeMax(qes: Seq[QueryExecution]): Long =
    qes.flatMap(qe => flat(qe.executedPlan)).collect {
      case se: ShuffleExchangeLike if isSingleTask(se.outputPartitioning) =>
        se.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(math.max)

  /** Output column name of the fence query — how a drained QE is
    * recognized as the fence rather than measured work. */
  private val fenceCol = "__ledger_fence__"

  private def isFence(qe: QueryExecution): Boolean =
    qe.analyzed.exists(_.output.exists(_.name == fenceCol))

  /** Deterministic listener-bus drain: run a recognizable no-shuffle
    * FENCE action after the measured sink and wait for ITS QE. The
    * execution-listener queue delivers events in posting order, and
    * every measured action completed (so posted its end event) before
    * the fence ran — once the fence QE arrives, every QE the query
    * produced is in the buffer. This replaces the former fixed 300 ms
    * stability window, which silently dropped any QE the loaded bus
    * delivered late (nondeterministically understated ledger rows). */
  private def awaitFenced(spark: SparkSession,
      cap: Capture): Seq[QueryExecution] = {
    spark.range(1).withColumnRenamed("id", fenceCol).collect()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var qes = cap.drain
    while (!qes.exists(isFence) && System.nanoTime() < deadline) {
      Thread.sleep(10)
      qes = cap.drain
    }
    require(qes.exists(isFence), "fence QE never delivered (60 s)")
    qes.filterNot(isFence)
  }

  private def measureScale(spark: SparkSession, cap: Capture,
      dir: String, names: Seq[String])
      : Map[String, (Long, Long, Long, Long)] = {
    Prestage.stages.foreach { case (_, gate, run) =>
      if (names.exists(gate)) run(spark, dir)
    }
    names.map { name =>
      // armed ACROSS construction + execution: construction-time jobs
      // (k10's eager localCheckpoint) are part of the query's work and
      // belong on its row; family memo builds stay excluded (prestaged
      // above, un-armed)
      cap.reset()
      cap.armed = true
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val qes = awaitFenced(spark, cap)
        require(qes.nonEmpty, s"no QueryExecution captured for $name")
        val (rec, bytes, out) = shuffleTotals(qes)
        name -> ((rec, bytes, out, globalExchangeMax(qes)))
      } finally cap.armed = false
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val small = args.headOption.getOrElse("/root/testdata/sf0.01")
    val big = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse("SCALE_LEDGER.tsv")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Verify.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val cap = new Capture
    spark.listenerManager.register(cap)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val sm = measureScale(spark, cap, small, names)
    // release every standing between scales so the big-scale pass
    // rebuilds (and therefore re-measures) its own intermediates
    Prestage.release()
    val bg = measureScale(spark, cap, big, names)
    val rows = names.map { n =>
      val (rs, bs, os, gs) = sm(n)
      val (rb, bb, ob, gb) = bg(n)
      val ratio = rb.toDouble / math.max(1L, rs)
      val verdict = Seq(
        if (flagged(rs, rb, os, ob)) Some("FLAG") else None,
        if (flaggedBytes(bs, bb, os, ob)) Some("FLAG_BYTES") else None,
        if (flaggedGlobal(gs, gb)) Some("FLAG_GLOBAL") else None)
        .flatten match {
        case Nil => "ok"
        case fs => fs.mkString("+")
      }
      "%s\t%d\t%d\t%d\t%d\t%d\t%d\t%d\t%d\t%.3f\t%s".formatLocal(
        java.util.Locale.ROOT, n, rs, rb, os, ob, bs, bb, gs, gb,
        ratio, verdict)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      "# query\trec_small\trec_big\tout_small\tout_big" +
        "\tbytes_small\tbytes_big\tglob_small\tglob_big" +
        "\tgrowth\tverdict - generated by " +
        "graft.ScaleLedger; enforced by PerfSpec (FLAG = shuffle " +
        s"records grew >${maxGrowthFactor}x max(${inputRatio.toInt}x " +
        "input step, output-row growth) above the " +
        s"$recordFloor-record floor; FLAG_BYTES = same rule on " +
        s"shuffle bytes above $bytesFloor B — row-width explosions; " +
        "FLAG_GLOBAL = largest SINGLE-TASK exchange [SinglePartition " +
        "or constant-hash, i.e. global sorts/windows] exceeds " +
        s"$globalFloor records at the big scale AND grew " +
        s">${globalGrowthCap}x across the step — a data-sized frame " +
        "on one task; capture is armed across query CONSTRUCTION " +
        "too, so eager checkpoint subtrees are on their query's row; " +
        "drain is fenced by a sentinel QE, not a stability window)\n" +
        rows.mkString("", "\n", "\n"))
    println(s"wrote $out (${rows.size} queries, " +
      s"${rows.count(!_.endsWith("\tok"))} flagged)")
    spark.stop()
  }
}
