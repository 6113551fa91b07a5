package warebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** The publisher's response envelopes, rebuilt by the benchmark from
  * raw (never navigated) aggregates, so every HTTP answer can be checked
  * byte for byte against a truth the publisher did not compute. */
object Envelope {
  private def esc(v: String): String = v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def gmv(v: Double): String = s"""{"status":0,"data":$v}"""

  /** `rows` = (province, amount), any order. */
  def province(rows: Seq[(String, Double)]): String = {
    val m = rows.sortBy(r => (-r._2, r._1)).map(r =>
      s"""{"name":"${esc(r._1)}","value":${r._2}}""").mkString(",")
    s"""{"status":0,"data":{"mapData":[$m],"valueName":"order_amount"}}"""
  }

  /** `rows` = (channel, uv), any order; top `limit` by uv, then name. */
  def ch(rows: Seq[(String, Long)], limit: Int): String = {
    val top = rows.sortBy(r => (-r._2, r._1)).take(limit)
    val cats = top.map(r => s""""${esc(r._1)}"""").mkString(",")
    val data = top.map(_._2).mkString(",")
    s"""{"status":0,"data":{"categories":[$cats],""" +
      s""""series":[{"name":"ch","data":[$data]}]}}"""
  }
}

/** The day keys of the raw facts, as the publisher's serving queries
  * group them. */
object RawTruth {
  def orderDay: org.apache.spark.sql.Column =
    date_format(col("o_orderdate"), "yyyy-MM-dd")
  def eventDay: org.apache.spark.sql.Column =
    Fns.curDate(Fns.nsToSec(col("ts")))

  /** The event day of a raw `events` frame, whichever layout its `ts`
    * column has (epoch nanos, or a timestamp read as UTC wall clock). */
  def eventDayOf(df: DataFrame): org.apache.spark.sql.Column =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      eventDay
    else date_format(col("ts"), "yyyy-MM-dd")
}

/** The facts the ingest workload replays, cut from sf0.1. The
  * publisher's summaries are partitioned by day, and building or
  * refreshing one touches every day partition, so the orders are a
  * seeded window of [[orderDays]] consecutive order days rather than
  * all 2,405. */
object Facts {
  val orderDays = 20

  private def window(df: DataFrame, day: org.apache.spark.sql.Column,
      n: Int, rnd: scala.util.Random): DataFrame = {
    val days = df.select(day).distinct().collect().map(_.getString(0)).sorted
    val from = rnd.nextInt(days.length - n + 1)
    df.filter(day.between(days(from), days(from + n - 1)))
  }

  /** Write into `dir`: orders of the window, their lineitems when
    * `copies` names lineitem, events of a seeded window of `eventDays`
    * days, and verbatim copies of the other tables. */
  def stage(s: SparkSession, sf: String, dir: String,
      rnd: scala.util.Random, eventDays: Int,
      copies: Seq[String]): Unit = {
    val orders = window(s.read.parquet(s"$sf/orders.parquet"),
      RawTruth.orderDay, orderDays, rnd)
    orders.write.parquet(s"$dir/orders.parquet")
    val events = s.read.parquet(s"$sf/events.parquet")
    window(events, RawTruth.eventDayOf(events), eventDays, rnd)
      .write.parquet(s"$dir/events.parquet")
    copies.foreach {
      case "lineitem" =>
        s.read.parquet(s"$sf/lineitem.parquet")
          .join(s.read.parquet(s"$dir/orders.parquet").select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
          .write.parquet(s"$dir/lineitem.parquet")
      case t =>
        Fs.copyTree(java.nio.file.Paths.get(sf, s"$t.parquet"),
          java.nio.file.Paths.get(dir, s"$t.parquet"))
    }
  }
}

/** A blocking HTTP/1.1 GET client for one closed-loop caller. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** (status, body); throws on transport failure or the 60 s timeout. */
  def get(pathQ: String): (Int, String) = {
    val res = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathQ"))
        .timeout(Duration.ofSeconds(60)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }
}
