package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A group of related operators, each exposed as a named query over the
  * driver's parquet tables plus (where SQL-expressible) a DuckDB oracle.
  *
  * Contract (see the driver's Verify/Bench mains): every query takes the
  * active session and an sf directory (e.g. /root/testdata/sf0.01) and
  * returns a deterministic DataFrame whose column names match the oracle's
  * aliases exactly. Output columns avoid raw cross-row double sums —
  * amounts go through DECIMAL so results are bit-stable across engines
  * and across partition orders (summation-order independence matters on a
  * real cluster just as much as in the oracle compare).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** Drop any memoized/persisted intermediates this module holds. The
    * bench harness calls this at family boundaries so cached blocks built
    * by one query family cannot distort the timings of the next; modules
    * without memos inherit the no-op. Correctness is unaffected — a later
    * call simply rebuilds the intermediate. */
  def release(): Unit = ()
}

/** Parquet table loader for the driver-generated testdata star schema. */
object Tables {
  import org.apache.spark.sql.functions.{col, from_utc_timestamp, lit, unix_micros}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** `spark.read.parquet(path)` with the schema resolved on the driver.
    *
    * A schema-less parquet read infers the schema with a Spark job (one
    * task reading one footer, via `mergeSchemasInParallel` even when
    * merging is off); on small tables that job is most of a query's
    * fixed cost, and every read pays it again. Here the driver lists
    * the path itself and reads the one footer that Spark's non-merging
    * inference would read — `_common_metadata`, else `_metadata`, else
    * the first data file in path order, skipping `_`/`.` entries the
    * way Spark's file index does — and converts it with Spark's own
    * `readSchemaFromFooter`, so session flags (nanosAsLong, NTZ
    * inference) and Spark-written row metadata apply as in the job.
    * Only the data schema is given: partition columns are still
    * discovered (and typed) by Spark from the directory names.
    *
    * Anything this cannot resolve (schema merging on, no data file, an
    * unreadable footer, a file gone between listing and reading) falls
    * back to the plain read, which then fails or infers exactly as
    * before. Nothing is cached: each call reads one footer. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private[graft] def footerSchema(spark: SparkSession, path: String)
      : Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    // InMemoryFileIndex.shouldFilterOutPathName
    def hidden(n: String): Boolean =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(fs, st.getPath) else Seq(st))
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val roots = Option(fs.globStatus(root)).toSeq.flatten.map(_.getPath)
      val files = roots.flatMap(leaves(fs, _)).sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val pick = summaries
        .flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(st => !summaries.contains(st.getPath.getName)))
      pick.map { st =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The library-wide contract is `events.ts: LongType` epoch-nanos (see
    * functions.Fns). The generated parquet has carried that column as
    * either TIMESTAMP(NANOS) (read as LongType via the nanosAsLong flag)
    * or TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ); normalize the latter
    * here — one projection at the scan, inside codegen, zero shuffle —
    * so every consumer keeps exact integer epoch math. The micros→nanos
    * ×1000 stays exact in LongType until year ~2262, and the DuckDB
    * oracles' `epoch_us(ts)` equals `nsToUs(ts)` under both layouts.
    *
    * The NTZ column carries a zone-less wall-clock; the epoch contract
    * reads that wall-clock AS UTC (DuckDB's epoch_us does the same).
    * cast-to-TIMESTAMP interprets it in the SESSION zone, so undo that
    * zone's offset with from_utc_timestamp — an identity in the UTC
    * sessions every graft entry point builds (Verify.session), and the
    * correct shift for a library user's non-UTC session (exact up to
    * DST-ambiguous wall times, which an event-time column ordered by
    * arrival never dwells on). */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case _ =>
        val sessionTz =
          df.sparkSession.sessionState.conf.sessionLocalTimeZone
        df.withColumn("ts",
          unix_micros(from_utc_timestamp(
            col("ts").cast(TimestampType), sessionTz)) * lit(1000L))
    }
}
