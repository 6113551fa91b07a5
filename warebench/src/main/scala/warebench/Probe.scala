package warebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

object Intervals {
  /** Length of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    iv.map(i => (math.max(i._1, lo), math.min(i._2, hi)))
      .filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
        if (cs.isNaN || a > ce) {
          if (!cs.isNaN) total += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

/** A traced interval. `parent` is the span that caused it (0 = none);
  * spans of one op share `op`. Times are [[Clock]] milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span store; written out once, at the end of the run. With
  * tracing off, [[add]] records nothing. */
final class Trace(val on: Boolean) {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, op: Long, name: String, startMs: Double,
      endMs: Double): Long =
    if (!on) 0L
    else {
      val id = ids.getAndIncrement()
      spans.add(Span(id, parent, op, name, startMs, endMs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: count, total ms, and self ms (duration minus the
    * part of it that child spans cover). */
  def rollup: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, group) =>
      val self = group.map { s =>
        math.max(0.0, s.ms - Intervals.covered(
          kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
          s.startMs, s.endMs))
      }
      (name, group.size, group.map(_.ms).sum, self.sum)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Everything the engine reports about one SQL execution, read through
  * Spark's public listeners. */
final case class ExecRec(id: Long, startMs: Double, endMs: Double,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    execMs: Double, ruleMs: Double, files: Long, summaryScans: Int,
    scans: Int, jobs: Int, stages: Int, tasks: Int, taskMs: Double,
    schedMs: Double, shuffleReadB: Long, shuffleWriteB: Long,
    jobIv: Seq[(Double, Double)])

/** The `spark` layer probe: a [[QueryExecutionListener]] for planning
  * phases, per-rule times, execution time and scanned files, plus a
  * [[SparkListener]] for SQL execution bounds, jobs, stages and tasks.
  * Registered only in traced runs. `summaryRoot` marks scans that read
  * a navigated summary instead of a fact table. */
final class SparkProbe(spark: SparkSession, summaryRoot: String) {
  private case class Qe(analysis: Double, optimization: Double,
      planning: Double, execMs: Double, ruleMs: Double, files: Long,
      summaryScans: Int, scans: Int)
  private case class Job(execId: Option[Long], startMs: Double,
      var endMs: Double, stages: Seq[Int])
  private case class Stage(tasks: Int, runMs: Double, read: Long,
      write: Long)

  private val qes = mutable.Map.empty[Long, Qe]
  // The session's QueryExecutionListener bus sits on the same listener
  // queue as [[listener]] and was registered first, so for each
  // SQLExecutionEnd event it reports the QueryExecution just before
  // [[listener]] sees the event's execution id.
  private var pending: Option[Qe] = None
  private val starts = mutable.Map.empty[Long, Double]
  private val ends = mutable.Map.empty[Long, Double]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val taskIv = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String): Double =
        ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val ruleNs = qe.tracker.rules.collect {
        case (n, r) if n.contains("AggRewrite") || n.contains("SkipIndex") =>
          r.totalTimeNs
      }.sum
      val scans = Plans.collectWithSubqueries(qe.executedPlan) {
        case f: FileSourceScanLike => f
      }
      val files = scans.map(_.metrics.get("numFiles").map(_.value)
        .getOrElse(0L)).sum
      val summary = scans.count(_.relation.location.rootPaths
        .exists(_.toString.contains(summaryRoot)))
      val rec = Qe(phase("analysis"), phase("optimization"),
        phase("planning"), durationNs / 1e6, ruleNs / 1e6, files, summary,
        scans.size)
      SparkProbe.this.synchronized { pending = Some(rec) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      SparkProbe.this.synchronized { pending = None }
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        SparkProbe.this.synchronized { starts(s.executionId) = s.time.toDouble }
      case x: SparkListenerSQLExecutionEnd =>
        SparkProbe.this.synchronized {
          ends(x.executionId) = x.time.toDouble
          pending.foreach(q => qes(x.executionId) = q)
          pending = None
        }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      SparkProbe.this.synchronized {
        jobs(j.jobId) = Job(exec, j.time.toDouble, j.time.toDouble,
          j.stageIds)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      SparkProbe.this.synchronized {
        jobs.get(j.jobId).foreach(_.endMs = j.time.toDouble)
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = Option(i.taskMetrics)
      SparkProbe.this.synchronized {
        stages(i.stageId) = Stage(i.numTasks,
          m.map(_.executorRunTime.toDouble).getOrElse(0.0),
          m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L))
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      SparkProbe.this.synchronized {
        taskIv.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
          ((t.taskInfo.launchTime.toDouble, t.taskInfo.finishTime.toDouble))
      }
  }

  spark.listenerManager.register(qeListener)
  spark.sparkContext.addSparkListener(listener)

  def stop(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  private def events: Int = synchronized {
    qes.size + starts.size + ends.size + jobs.size + stages.size +
      taskIv.valuesIterator.map(_.size).sum
  }

  /** The listener bus is asynchronous and has no public drain: wait
    * until no event has arrived for half a second (at most 10 s). */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1
    var cur = events
    while (cur != last && System.nanoTime() < deadline) {
      last = cur
      Thread.sleep(500)
      cur = events
    }
  }

  /** Every finished SQL execution, joined with its jobs, stages and
    * tasks. Waits for the listener bus to drain first. */
  def execs(): Seq[ExecRec] = {
    settle()
    synchronized {
      val jobsOf = jobs.toSeq.flatMap { case (id, j) =>
        j.execId.map(_ -> (id, j)) }.groupBy(_._1)
      starts.keys.toSeq.sorted.flatMap { id =>
        ends.get(id).map { end =>
          val q = qes.getOrElse(id, Qe(0, 0, 0, end - starts(id), 0, 0, 0, 0))
          val js = jobsOf.getOrElse(id, Nil).map(_._2._2)
          val st = js.flatMap(_.stages).flatMap(sid => stages.get(sid))
          val sched = js.map { j =>
            val iv = j.stages.flatMap(sid => taskIv.getOrElse(sid, Nil))
            math.max(0.0, (j.endMs - j.startMs) -
              Intervals.covered(iv, j.startMs, j.endMs))
          }.sum
          ExecRec(id, starts(id), end, q.analysis, q.optimization,
            q.planning, q.execMs, q.ruleMs, q.files, q.summaryScans,
            q.scans, js.size, st.size, st.map(_.tasks).sum,
            st.map(_.runMs).sum, sched, st.map(_.read).sum,
            st.map(_.write).sum, js.map(j => (j.startMs, j.endMs)))
        }
      }
    }
  }

  /** The `spark.*` per-layer metrics over the executions of timed ops. */
  def layers(nOps: Int, byOp: Map[Long, Seq[ExecRec]]): Map[String, Double] = {
    val matched = this.matched
    val es = byOp.values.flatten.toSeq
    val n = math.max(1, nOps).toDouble
    Map(
      "spark.analysis_ms" -> Stats.median(es.map(_.analysisMs)),
      "spark.optimization_ms" -> Stats.median(es.map(_.optimizationMs)),
      "spark.planning_ms" -> Stats.median(es.map(_.planningMs)),
      "spark.exec_ms" -> Stats.median(es.map(_.execMs)),
      "spark.jobs_per_op" -> es.map(_.jobs).sum / n,
      "spark.stages_per_op" -> es.map(_.stages).sum / n,
      "spark.tasks_per_op" -> es.map(_.tasks).sum / n,
      "spark.sched_ms_per_op" -> es.map(_.schedMs).sum / n,
      "spark.task_ms_per_op" -> es.map(_.taskMs).sum / n,
      "spark.shuffle_write_kb_per_op" -> es.map(_.shuffleWriteB).sum / 1024.0 / n,
      "spark.shuffle_read_kb_per_op" -> es.map(_.shuffleReadB).sum / 1024.0 / n,
      "plans.rule_ms" -> Stats.median(es.map(_.ruleMs)),
      "plans.files_per_op" -> es.map(_.files).sum / n,
      "spark.exec_matched" -> matched,
    ).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }

  /** Share of executions whose QueryExecution record was found. */
  def matched: Double = synchronized {
    if (starts.isEmpty) 0.0
    else starts.keys.count(qes.contains).toDouble / starts.size
  }
}

object SparkProbe {
  /** Assign each execution to the op that served it: among ops that had
    * started when the execution started, the one that finished first
    * at or after the execution's end. Ops on one serving thread run in
    * order, so this is exact for sequential ops and for a FIFO server;
    * the listener's millisecond clock gets 1 ms of slack. */
  def attribute(ops: Seq[(Long, Double, Double)], execs: Seq[ExecRec])
      : Map[Long, Seq[ExecRec]] = {
    val byEnd = ops.sortBy(_._3)
    execs.flatMap { e =>
      byEnd.find(o => o._2 <= e.startMs + 1.0 && o._3 >= e.endMs - 1.0)
        .map(o => o._1 -> e)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Record each attributed execution (and its jobs) as spans under
    * the op span that `parentOf` names. */
  def spans(trace: Trace, byOp: Map[Long, Seq[ExecRec]],
      parentOf: Long => Long): Unit =
    byOp.foreach { case (op, es) =>
      es.foreach { e =>
        val id = trace.add(parentOf(op), op, "spark.sql", e.startMs, e.endMs)
        e.jobIv.foreach(j => trace.add(id, op, "spark.job", j._1, j._2))
      }
    }


}
