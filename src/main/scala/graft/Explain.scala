package graft

import scala.util.control.NonFatal

/** Dev tool: dump .explain("formatted") for every registered query — the
  * artifact for the per-round plan review ("is this the plan you'd want
  * at 100 TB?"). With an output file ending in `.md` (the default,
  * PLANS.md) every plan goes into that one file; with any other output
  * path, that path is a directory and each plan goes to its own
  * `<name>_<suffix>.txt` (suffix default `after`), so plan claims can be
  * diffed offline. SPARK_GRAFT_CPUS sets the session's cores (4).
  * Usage:
  *   sbt "runMain graft.Explain [sfDir] [outFile.md | outDir [suffix]]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val suffix = args.lift(2).getOrElse("after")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Verify.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case NonFatal(e) => s"FAILED: ${e.getMessage}\n" })
    }
    def write(path: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
    if (out.endsWith(".md")) {
      write(out, s"# Physical plans (generated by graft.Explain, sf=$sfDir)\n\n" +
        plans.map { case (name, plan) => s"## $name\n\n```\n$plan```\n\n" }
          .mkString)
      println(s"wrote $out")
    } else {
      new java.io.File(out).mkdirs()
      plans.foreach { case (name, plan) =>
        write(s"$out/${name}_$suffix.txt", plan)
      }
      println(s"wrote ${plans.size} plans to $out (*_$suffix.txt)")
    }
    spark.stop()
  }
}
