package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.ServingApi

/** `Tables.parquet` resolves a parquet schema from one footer on the
  * driver: it must give exactly the schema Spark's own inference gives
  * (same file, same conversion, same partition discovery) and launch
  * no Spark job doing it. */
class TablesSpec extends SparkSuite {

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def sameAsSpark(path: String): Unit = {
    assert(Tables.footerSchema(spark, path).isDefined,
      s"footer not resolved on the driver for $path")
    assert(Tables.parquet(spark, path).schema ==
      spark.read.parquet(path).schema, path)
  }

  test("every testdata table resolves to Spark's inferred schema") {
    Tables.names.foreach(t => sameAsSpark(s"$sf/$t.parquet"))
  }

  test("a Spark-written append directory: _SUCCESS, .crc files and a " +
      "leftover _temporary/ are skipped as Spark skips them") {
    val dir = s"${tmp("graft_tables_append")}/t"
    val orders = Tables(spark, sf, "orders")
    orders.limit(5).write.parquet(dir)
    orders.limit(5).write.mode("append").parquet(dir)
    // an aborted writer's leftover: a parquet file of ANOTHER schema
    // that sorts first and must not be picked
    val tmpDir = Paths.get(dir, "_temporary", "0")
    Files.createDirectories(tmpDir)
    Files.copy(Paths.get(s"$sf/region.parquet"),
      tmpDir.resolve("part-00000-aaaa.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.mkString(", "))
    sameAsSpark(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq ==
      orders.schema.fieldNames.toSeq)
  }

  test("a cur_date-partitioned store keeps Spark's partition discovery") {
    val store = tmp("graft_tables_store")
    ServingApi.buildStore(spark, sf, store)
    assert(new java.io.File(store).list().exists(_.startsWith("cur_date=")))
    // equal schemas include the partition column's type, inferred from
    // the directory names as in the schema-less read
    sameAsSpark(store)
  }

  test("an empty directory fails as the schema-less read fails") {
    val empty = tmp("graft_tables_empty")
    assert(Tables.footerSchema(spark, empty).isEmpty)
    val spark0 = intercept[Exception](spark.read.parquet(empty))
    val ours = intercept[Exception](Tables.parquet(spark, empty))
    assert(ours.getClass == spark0.getClass, ours.toString)
    assert(ours.getMessage == spark0.getMessage)
  }

  test("Tables(...) launches no Spark job; the schema-less read does") {
    val jobs = new AtomicInteger()
    val sentinelSeen = new AtomicInteger()
    val group = "graft-tables-spec"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach {
            case `group` => jobs.incrementAndGet()
            case "graft-tables-spec-sentinel" => sentinelSeen.set(1)
            case _ => ()
          }
    }
    // jobs started from this thread under `group`, counted up to a
    // sentinel job: the listener bus delivers in order, so once the
    // sentinel is seen every earlier job has been counted
    def jobsDuring(body: => Unit): Int = {
      jobs.set(0); sentinelSeen.set(0)
      val sc = spark.sparkContext
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-tables-spec-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis)) {
        assert(sentinelSeen.get == 1)
      }
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet")) >= 1,
        "control: schema inference should run a job")
      assert(jobsDuring(Tables(spark, sf, "orders")) == 0)
      assert(jobsDuring(Tables(spark, sf, "events")) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
