package warebench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `batch`: the small-query floor of the operator families. A fixed
  * list of [[graft.SparkEntry.queries]] (`batch_queries.tsv`: one entry
  * per query module, none of them behind a [[graft.Prestage]] stage)
  * runs in whole passes, each pass in a seed-shuffled order, after one
  * untimed pass that runs every query and checks its answer against
  * `batch_expected.tsv`. One op is one query, timed as `graft.Bench`
  * times it: `fn(spark, dir)` followed by a `noop` write. The publisher
  * and streaming are idle. */
object Batch {
  private def lines(ctx: Ctx, f: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(ctx.benchDir, f)).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#")).map(_.split("\t"))

  /** The list as (query, module). Each query must be an entry of its
    * module (a `graft.operators` object) and need no prestage. */
  def list(ctx: Ctx): Seq[(String, String)] = {
    val qs = lines(ctx, "batch_queries.tsv").map(a => a(0) -> a(1))
    require(qs.map(_._1).distinct.size == qs.size, "a query is listed twice")
    val misfiled = qs.filterNot { case (q, m) =>
      Class.forName(s"graft.operators.$m$$").getField("MODULE$").get(null)
        .asInstanceOf[graft.QueryModule].queries.contains(q)
    }
    require(misfiled.isEmpty, s"not a query of the named module: $misfiled")
    val staged = qs.map(_._1).filter(q => graft.Prestage.stages.exists(_._2(q)))
    require(staged.isEmpty, s"needs a Prestage stage: $staged")
    qs
  }

  /** Canonical form of a result, as `tools/verify_local.py` compares it:
    * columns in name order, rows sorted, values exact. Returns (rows,
    * sha-256 of the sorted rendered rows). */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    def render(v: Any): String = v match {
      case null => "\\N"
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
          .sorted.mkString("<", ",", ">")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val rows = df.select(cols.toIndexedSeq.map(c => df.col(s"`$c`")): _*).collect()
      .map(r => r.toSeq.map(render).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def timedQuery(s: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Long = {
    val df = fn(s, dir)
    val built = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    built
  }

  def run(ctx: Ctx, s: SparkSession, trace: Trace): Outcome = {
    val qs = list(ctx)
    val moduleOf = qs.toMap
    val expected = lines(ctx, "batch_expected.tsv")
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap
    val record = sys.props.get("warebench.record")

    // untimed pass: warms each query's plan and codegen, and checks its
    // answer against the committed expected result. The queries are small,
    // so they run three at a time to keep set-up short.
    val pool = Executors.newFixedThreadPool(math.min(3, ctx.cores))
    val got = try {
      qs.map { case (q, _) =>
        q -> pool.submit(new Callable[(Long, String)] {
          def call(): (Long, String) = {
            val t0 = System.nanoTime()
            val d = digest(graft.SparkEntry.queries(q)(s, ctx.sfDir))
            Log(f"warm $q%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s ${d._1} rows")
            d
          }
        })
      }.map { case (q, f) => q -> f.get() }
    } finally pool.shutdownNow()
    val wrong = got.collect { case (q, d) if !expected.get(q).contains(d) => q }.toSet
    record.foreach { path =>
      Files.write(Paths.get(path), (Seq("# query\trows\tsha256 of the " +
        "canonical sorted rows (warebench Batch.digest)") ++
        got.map { case (q, (n, h)) => s"$q\t$n\t$h" }).asJava)
    }

    val probe = Option.when(trace.on)(
      new SparkProbe(s, s"${ctx.runDir}/summaries"))
    val spanOf = scala.collection.mutable.Map.empty[Long, Long]
    val rnd = new Random(ctx.seed)
    val ops = ArrayBuffer.empty[Op]
    def one(q: String): Op = {
      val i = ops.size
      val c = Cpu.now
      val a = System.nanoTime()
      var built = a
      val ok =
        try { built = timedQuery(s, ctx.sfDir, graft.SparkEntry.queries(q)); true }
        catch { case NonFatal(_) => false }
      val b = System.nanoTime()
      if (trace.on) {
        val id = trace.add(0, i, "batch.query", Clock.ms(a), Clock.ms(b))
        trace.add(id, i, "operators.build", Clock.ms(a), Clock.ms(built))
        spanOf(i.toLong) = id
      }
      Op(i.toLong, q, a, b, ok && !wrong(q), ok && wrong(q),
        Cpu.stolen(c, Cpu.now))
    }
    // whole passes only, so every run times each query equally often
    val cpu0 = Cpu.now
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    var passes = 0
    while (System.nanoTime() < deadline && Jvm.timeLeft) {
      rnd.shuffle(qs.map(_._1)).foreach(q => ops += one(q))
      passes += 1
    }
    val t1 = System.nanoTime()
    val cpu1 = Cpu.now

    val good = ops.filter(_.ok).toSeq
    val layers = probe.fold(Map.empty[String, Double]) { p =>
      val byOp = try SparkProbe.attribute(
        ops.toSeq.map(o => (o.id, Clock.ms(o.startNs), Clock.ms(o.endNs))),
        p.execs()) finally p.stop()
      SparkProbe.spans(trace, byOp, spanOf)
      val builds = trace.all.filter(_.name == "operators.build").map(_.ms)
      p.layers(ops.size, byOp) ++
      Map("operators.build_ms" -> Stats.median(builds)) ++
        good.groupBy(o => moduleOf(o.kind)).map { case (m, v) =>
          s"operators.$m.op_ms" -> Stats.median(v.map(_.adjMs)) }
    }
    Outcome(ops.toSeq, t0, t1, cpu0, cpu1, genS = 0.0, samples = Map.empty,
      layers = layers,
      diag = Map("queries" -> qs.size.toString, "passes" -> passes.toString) ++
        Option.when(wrong.nonEmpty)("check_failed" -> wrong.mkString(",")))
  }
}
