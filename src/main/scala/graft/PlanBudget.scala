package graft

import org.apache.spark.sql.SparkSession

/** Suite-wide plan-shape ledger: the number of shuffle exchanges (and
  * broadcast nested-loop joins) in every registered query's physical
  * plan, recorded in PLAN_BUDGET.tsv and enforced by PerfSpec.
  *
  * Why: at 100 TB every unplanned Exchange is the difference between a
  * map-side pipeline and a terabyte-scale re-sort. PLANS.md carries the
  * full dumps for human review; this file is the machine-checked digest
  * — a code change that silently adds a shuffle (a lost broadcast hint,
  * a new window without a co-partitioned parent, an accidental
  * `.distinct()` or `.repartition()` on the hot path) fails the spec
  * instead of shipping.
  *
  * Counts are taken from the INITIAL (pre-AQE) physical plan with every
  * module memo pre-staged ([[Prestage.warmAll]]), the same warm state
  * the bench harness measures. Counting caveat: a memoized-family
  * consumer's plan prints the cached build subtree under EVERY
  * InMemoryTableScan reference (those operators execute zero times — a
  * cache scan replaces them), so consumers of a shared memo carry the
  * build's counts once per reference. The numbers are therefore an
  * upper bound on executed shuffles, consistent between generator and
  * spec (both warm), and any growth still means a plan change that must
  * be looked at. Regenerate after an intentional plan change:
  * `sbt "runMain graft.PlanBudget"`.
  */
object PlanBudget {

  /** Shuffle exchanges in a string plan — tree-prefixed operator lines
    * only, so a `ReusedExchange [...]` reference line (which re-reads an
    * already-shuffled output instead of shuffling again) never counts.
    * RoundRobinPartitioning is the `.repartition(n)` form — precisely
    * the accidental-shuffle class this ledger exists to catch. */
  def shuffleCount(plan: String): Int =
    plan.linesIterator.count { l =>
      val t = l.dropWhile(c => !c.isLetter)
      t.startsWith("Exchange hashpartitioning") ||
        t.startsWith("Exchange rangepartitioning") ||
        t.startsWith("Exchange RoundRobinPartitioning") ||
        t.startsWith("Exchange SinglePartition")
    }

  /** Broadcast nested-loop joins — legitimate only where a tiny
    * broadcast side scans the big side map-side (the ANN brute-force
    * family, 1-row scalar joins); the budget pins exactly where. */
  def bnljCount(plan: String): Int =
    plan.linesIterator.count { l =>
      val t = l.dropWhile(c => !c.isLetter)
      t.startsWith("BroadcastNestedLoopJoin")
    }

  def planString(s: SparkSession, dir: String, name: String): String =
    SparkEntry.queries(name)(s, dir).queryExecution.executedPlan.toString

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLAN_BUDGET.tsv")
    val spark = Verify.session("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    Prestage.warmAll(spark, sfDir)
    val rows = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val p = planString(spark, sfDir, name)
      s"$name\t${shuffleCount(p)}\t${bnljCount(p)}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      "# query\tshuffles\tbnlj - generated by graft.PlanBudget; " +
        "enforced (as an upper bound) by PerfSpec\n" +
        rows.mkString("", "\n", "\n"))
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}

/** Suite-wide wall-time ledger — the bench analog of [[PlanBudget]]:
  * per-query seconds at sf0.001 under the SAME session shape the specs
  * use (local[4], warm Prestage memos, noop sink), recorded in
  * TIME_BUDGET.tsv and enforced by PerfSpec as a generous upper bound
  * (3× with a 2 s floor — JIT/GC noise at sub-second scale must never
  * fail a build, a first-touch family rebuild or a lost memo must).
  * Regenerate after an intentional cost change:
  * `sbt "runMain graft.TimeBudget"`. */
object TimeBudget {
  def timeOnce(s: SparkSession, dir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(s, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Machine-speed probe: a fixed CPU-bound micro-job (hash-aggregate
    * 8M synthetic rows), best of three. Recorded as the `__calibration`
    * row; PerfSpec re-measures it and scales every bound by
    * now/recorded — so the same TSV holds on a slower or loaded box
    * instead of failing spuriously (the round-7 advisor note). The
    * min-of-3 reads through JIT/GC noise to the machine's actual
    * speed. */
  def calibrate(s: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      s.range(0L, 8000000L, 1L, 4)
        .selectExpr("xxhash64(id) % 1024 AS k")
        .groupBy("k").count()
        .agg(org.apache.spark.sql.functions.sum("count")).head()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("TIME_BUDGET.tsv")
    val spark = Verify.session("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    // same JVM/codegen warmup as Bench so the first query is not
    // charged the framework's own startup
    spark.read.parquet(s"$sfDir/events.parquet").count()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    Prestage.warmAll(spark, sfDir)
    // Locale.ROOT: a comma-decimal default locale would write "0,618"
    // and break PerfSpec's toDouble round trip
    val calib = "%s\t%.3f".formatLocal(java.util.Locale.ROOT,
      "__calibration", calibrate(spark))
    val rows = calib +: SparkEntry.queries.keys.toSeq.sorted.map { name =>
      "%s\t%.3f".formatLocal(java.util.Locale.ROOT, name,
        timeOnce(spark, sfDir, name))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      "# query\tsec at sf0.001, local[4], warm memos - generated by " +
        "graft.TimeBudget; enforced (3x, 2s floor) by PerfSpec\n" +
        rows.mkString("", "\n", "\n"))
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
