package warebench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

/** Command-line settings of one run. */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    trace: Boolean, sfDir: String, runDir: String, traceDir: String,
    cacheDir: String, benchDir: String, cores: Int) {
  def dir(name: String): String = {
    val p = Paths.get(runDir, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** One timed operation. `kind` is the query or op class;
  * `ok` is false when the op threw, timed out or answered wrongly;
  * `steal` is the machine's CPU steal share while it ran ([[Cpu]]). */
final case class Op(id: Long, kind: String, startNs: Long, endNs: Long,
    ok: Boolean, wrong: Boolean, steal: Double) {
  def ms: Double = (endNs - startNs) / 1e6
  /** Wall time with the stolen share taken out. */
  def adjMs: Double = ms * (1 - steal)
}

/** CPU steal: on a shared host the hypervisor hands some of the time a
  * runnable virtual CPU wanted to other guests, which stretches every
  * CPU-bound wall time by 1 / (1 - share) and varies from minute to
  * minute. Timings are reported with that share taken out; the raw
  * values are printed as diagnostics. */
object Cpu {
  final case class Tick(busy: Long, steal: Long)

  /** All-CPU busy and stolen jiffies from `/proc/stat`. */
  def now: Tick = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    Tick(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  }

  /** Share of wanted CPU time that was stolen between two readings. */
  def stolen(a: Tick, b: Tick): Double = {
    val st = b.steal - a.steal
    val total = b.busy - a.busy + st
    if (total <= 0) 0.0 else st.toDouble / total
  }

  /** Run `body`; return its value, wall ms and steal share. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = now
    val t0 = System.nanoTime()
    val v = body
    val ms = (System.nanoTime() - t0) / 1e6
    (v, ms, stolen(c0, now))
  }
}

/** What a workload hands back: its ops, the timed window (nanoTime),
  * the generator's own staging seconds (kept out of `setup_s`),
  * steal-adjusted latency samples of the publisher's dashboard probes
  * (`gmv`, `province`, `ch`, `stale`; empty where no publisher runs),
  * traced per-layer values and diagnostics. */
final case class Outcome(ops: Seq[Op], startNs: Long, endNs: Long,
    startCpu: Cpu.Tick, endCpu: Cpu.Tick,
    genS: Double, samples: Map[String, Seq[Double]],
    layers: Map[String, Double], diag: Map[String, String])

object Stats {
  /** Percentile by linear interpolation between closest ranks (the
    * numpy/`statistics` "inclusive" rule). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.startsWith("CodeHeap") ||
      p.getName == "Code Cache")
    .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Peak resident set (`VmHWM`) in MB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def loadAvg: String =
    Files.readString(Paths.get("/proc/loadavg")).trim

  /** JVM start as epoch milliseconds. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** No new op starts after 120 s of JVM life, so that a run on a slow
    * host still ends inside its 180 s limit. */
  def timeLeft: Boolean = System.currentTimeMillis() - startMs < 120000
}

/** Wall clock for spans: epoch milliseconds with nanosecond resolution,
  * so bench-side spans and Spark listener times share one axis. */
object Clock {
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = ms0 + (ns - ns0) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

object Log {
  /** A progress line in the run log (not the result). */
  def apply(msg: String): Unit = {
    println(s"[warebench ${Fs.fmt(Clock.nowMs / 1000.0 % 100000)}] $msg")
    System.out.flush()
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }

  def fmt(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)
}
