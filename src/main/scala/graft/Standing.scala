package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** A standing intermediate: a value built once per (session, dir) and
  * read by several queries — the reference's HBase dimensions and Doris
  * DWS rollups, tables that exist upstream of their readers. One
  * declaration carries everything the harnesses derive from it:
  *
  *  - `name`: its [[Prestage]] line;
  *  - `readers`: the queries whose plans read it — the prestage gate,
  *    and (per owning [[QueryModule]]) the bench's release point, right
  *    after the last reader in run order;
  *  - `prestaged`: whether the bench builds it before the timed loop
  *    (a fixture or index a deployment keeps standing) or leaves the
  *    build to the first reader (work that belongs to the query);
  *  - the build, and the cleanup [[release]] runs on a built value;
  *  - optionally a temp dir the build writes into, deleted on release,
  *    when the build throws, and (for whatever is still live) by one
  *    JVM shutdown hook.
  *
  * The build runs under a per-key lock: racing first readers of one key
  * build it once and share the value, while other keys and other
  * standings — builds nest (near-dup pairs → candidates → bands) — build
  * concurrently. A build that throws leaves no entry and no dir, and the
  * next call builds again. Declaring a standing does no Spark work. */
final class Standing[V] private (
    val name: String,
    val readers: Set[String],
    val prestaged: Boolean,
    tempDir: Boolean,
    keyOf: (SparkSession, String) => Any,
    build: (SparkSession, String, String) => V,
    cleanup: (SparkSession, String, V) => Unit)
    extends ((SparkSession, String) => V) {

  /** One key's entry; `s`/`dir` are the first caller's, which the
    * cleanup gets. Guarded by its own monitor. */
  private final class Slot(val s: SparkSession, val dir: String) {
    var value: Option[V] = None
    var tmp: Option[Path] = None
    var dead = false // released, or its build threw
  }

  private val slots = new ConcurrentHashMap[Any, Slot]()

  /** The value for (s, dir), built on first use. */
  def apply(s: SparkSession, dir: String): V = {
    val key = keyOf(s, dir)
    val slot = slots.computeIfAbsent(key, _ => new Slot(s, dir))
    slot.synchronized {
      if (!slot.dead && slot.value.isEmpty) {
        val tmp = Option.when(tempDir)(Standing.newDir(name))
        try slot.value = Some(build(s, dir, tmp.map(_.toString).orNull))
        catch {
          case t: Throwable =>
            slot.dead = true
            slots.remove(key, slot)
            tmp.foreach(Standing.dropDir)
            throw t
        }
        slot.tmp = tmp
      }
      slot.value
    }.getOrElse(apply(s, dir)) // released or failed while we waited
  }

  /** Drop every built value: run the cleanup, delete the temp dir. The
    * next [[apply]] builds again. */
  def release(): Unit = slots.asScala.foreach { case (key, slot) =>
    if (slots.remove(key, slot)) slot.synchronized {
      slot.dead = true
      try slot.value.foreach(cleanup(slot.s, slot.dir, _))
      finally slot.tmp.foreach(Standing.dropDir)
    }
  }
}

object Standing {
  private def sessionKey(s: SparkSession, dir: String): Any = (s, dir)

  /** A value with its own cleanup, keyed (session, dir). */
  def apply[V](name: String, readers: Set[String], prestaged: Boolean = true)(
      build: (SparkSession, String) => V)(cleanup: V => Unit): Standing[V] =
    new Standing[V](name, readers, prestaged, false, sessionKey,
      (s, dir, _) => build(s, dir), (_, _, v) => cleanup(v))

  /** A frame persisted MEMORY_AND_DISK and counted eagerly, so its build
    * cost lands on the prestage line (or the first reader), never
    * mid-family; release unpersists it. */
  def frame(name: String, readers: Set[String], prestaged: Boolean = true)(
      build: (SparkSession, String) => DataFrame): Standing[DataFrame] =
    apply(name, readers, prestaged)((s, dir) => cached(build(s, dir)))(
      _.unpersist(false))

  /** A value the build writes under a fresh temp dir (its third
    * argument); release runs `cleanup` (catalog state the build
    * registered) and then deletes the dir. */
  def stored[V](name: String, readers: Set[String],
      keyOf: (SparkSession, String) => Any = sessionKey)(
      build: (SparkSession, String, String) => V)(
      cleanup: (SparkSession, String, V) => Unit): Standing[V] =
    new Standing[V](name, readers, true, true, keyOf, build, cleanup)

  /** `df` persisted MEMORY_AND_DISK and materialized now — the storage
    * every persisted standing uses. */
  def cached(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  // temp dirs of built, unreleased standings; one hook deletes them at
  // exit (Verify and the specs never release)
  private val liveDirs = ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => liveDirs.asScala.foreach(deleteTree)))

  private def newDir(name: String): Path = {
    exitHook
    val p = Files.createTempDirectory(s"graft_${name}_")
    liveDirs.add(p)
    p
  }

  private def dropDir(p: Path): Unit = {
    liveDirs.remove(p)
    deleteTree(p)
  }

  private def deleteTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(p.toFile)
  }
}

/** The standings every harness warms, derived from the modules'
  * declarations: [[graft.Bench]] (which times and prints each stage,
  * gated on whether a reader is selected), [[PlanBudget]], [[TimeBudget]]
  * and the PerfSpec budget checks all use this one list, so the "warm
  * state" the ledgers record is by construction the one the bench
  * measures. Order is module order, then declaration order; a stage that
  * reads another standing builds it on the way, so order only moves
  * build time between prestage lines. */
object Prestage {

  /** (name, reader gate, build). */
  val stages: Seq[(String, String => Boolean,
      (SparkSession, String) => Unit)] =
    SparkEntry.modules.flatMap(_.standings).filter(_.prestaged).map { st =>
      (st.name, st.readers, (s: SparkSession, dir: String) => { st(s, dir); () })
    }

  def warmAll(s: SparkSession, dir: String): Unit =
    stages.foreach { case (_, _, run) => run(s, dir) }

  /** query → the modules whose standings are released right after it:
    * for each module, the last query of `order` that reads any of its
    * standings. Per module, not per standing: AggRewrite and SkipIndex
    * navigation choose among every summary registered in the session,
    * so releasing one summary early could re-plan a later reader of
    * another. */
  def releaseAfter(order: Seq[String]): Map[String, Seq[QueryModule]] =
    SparkEntry.modules.flatMap { m =>
      order.findLast(q => m.standings.exists(_.readers(q))).map(_ -> m)
    }.groupMap(_._1)(_._2)

  /** Release every standing of `modules`. */
  def release(modules: Seq[QueryModule] = SparkEntry.modules): Unit =
    modules.foreach(_.standings.foreach(_.release()))
}
