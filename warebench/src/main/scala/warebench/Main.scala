package warebench

import java.nio.file.{Files, Paths}

/** One benchmark run in a fresh JVM: build the session, run one
  * workload, and write `result.json` for the launcher (`run.py`), which
  * owns the printed contract line.
  *
  * {{{
  * java ... warebench.Main --workload ingest|batch --seed N
  *   --seconds S --trace 0|1 --sf DIR --run-dir DIR --trace-dir DIR
  *   --cache-dir DIR --bench-dir DIR --cores N
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("sf"), a("run-dir"), a("trace-dir"),
      a("cache-dir"), a("bench-dir"), a("cores").toInt)
    val load0 = Jvm.loadAvg
    val cpu0 = Cpu.now
    // ingest: one state partition per stateful operator, since its
    // shards are tiny and five queries share the cores
    val spark = graft.Verify.session(s"local[${ctx.cores}]",
      if (ctx.workload == "ingest") "1" else ctx.cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    if (ctx.workload == "gen") {
      Ingest.generate(spark, ctx)
      spark.stop()
      return
    }
    val trace = new Trace(ctx.trace)
    val run: (Ctx, org.apache.spark.sql.SparkSession, Trace) => Outcome =
      ctx.workload match {
        case "ingest" => Ingest.run
        case "batch" => Batch.run
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    val gc0 = Jvm.gcMs
    val out = run(ctx, spark, trace)
    val gcMs = Jvm.gcMs - gc0
    val ok = out.ops.filter(_.ok)
    val windowS = (out.endNs - out.startNs) / 1e9
    val windowSteal = Cpu.stolen(out.startCpu, out.endCpu)
    val setupSteal = Cpu.stolen(cpu0, out.startCpu)
    val setupS = (Clock.ms(out.startNs) - Jvm.startMs) / 1000.0 - out.genS
    def p50(k: String): Double =
      Stats.median(out.samples.getOrElse(k, Nil))
    val e2e = Seq(
      "setup_s" -> setupS * (1 - setupSteal),
      "op_p50_ms" -> Stats.median(ok.map(_.adjMs)),
      "op_p90_ms" -> Stats.pct(ok.map(_.adjMs), 90),
      "ops_per_s" -> ok.size / (windowS * (1 - windowSteal)),
      "rss_peak_mb" -> Jvm.rssPeakMb)
    // the dashboard probes exist only where a publisher runs (ingest)
    val probes = Seq(
      "operators.publisher.gmv_p50_ms" -> p50("gmv"),
      "operators.publisher.province_p50_ms" -> p50("province"),
      "operators.publisher.ch_p50_ms" -> p50("ch"),
      "plans.stale_p50_ms" -> p50("stale"))
      .map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
    val layers = out.layers ++ probes ++ Map(
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.code_cache_mb" -> Jvm.codeCacheMb,
      "trace.op_p50_ms" -> Stats.median(ok.map(_.adjMs)))
    val correct = !out.ops.exists(_.wrong) && !out.diag.contains("check_failed")
    val diag = out.diag ++ Map(
      "gen_s" -> Fs.fmt(out.genS),
      "window_s" -> Fs.fmt(windowS),
      "raw_setup_s" -> Fs.fmt(setupS),
      "raw_op_p50_ms" -> Fs.fmt(Stats.median(ok.map(_.ms))),
      "raw_op_p90_ms" -> Fs.fmt(Stats.pct(ok.map(_.ms), 90)),
      "raw_ops_per_s" -> Fs.fmt(ok.size / windowS),
      "steal_setup" -> Fs.fmt(setupSteal),
      "steal_window" -> Fs.fmt(windowSteal),
      "loadavg_start" -> load0,
      "loadavg_end" -> Jvm.loadAvg,
      "ok_ops" -> ok.size.toString) ++
      probes.collect { case (k, v) if v > 0 => k -> Fs.fmt(v) }

    if (ctx.trace) {
      Files.createDirectories(Paths.get(ctx.traceDir))
      val stem = s"${ctx.workload}-seed${ctx.seed}"
      trace.write(Paths.get(ctx.traceDir, s"$stem.spans.jsonl"))
      val roll = trace.rollup.map { case (n, c, total, self) =>
        n -> Json.obj(Seq("count" -> c.toString, "total_ms" -> Json.num(total),
          "self_ms" -> Json.num(self)))
      }
      Files.writeString(Paths.get(ctx.traceDir, s"$stem.rollup.json"),
        Json.obj(Seq(
          "spans" -> Json.obj(roll),
          "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> Json.num(v) }))) + "\n")
    }
    spark.stop()
    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.ops.size.toString,
      "failed" -> out.ops.count(!_.ok).toString,
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "diag" -> Json.obj(diag.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) })))
    Files.writeString(Paths.get(ctx.runDir, "result.json"), json + "\n")
  }
}
