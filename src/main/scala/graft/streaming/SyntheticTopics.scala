package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.Standing

/** The synthesized Kafka-topic stand-ins (the DimApp/BaseDbApp CDC
  * envelope logs and the BaseLogApp log lines — FIXTURES.md F1/F2) as
  * standings: one persisted, eagerly-built frame per (session, dir,
  * topic).
  *
  * Why standing: these frames ARE the input topic, not query work — a
  * real deployment reads topic bytes that already exist; synthesizing
  * them from the base tables is fixture construction this sandbox pays
  * because it has no broker. Un-memoized, every envelope-family
  * consumer (g5/g6 routes, the k12 history twin, every spec and the
  * StreamBench replay) re-paid the JSON synthesis — the single largest
  * CPU item in the bench. Building once, charging the build to a
  * visible prestage line and releasing at the family boundary matches
  * how the 100 TB pipeline actually runs: the topic is materialized
  * once, upstream of every consumer. The twelve-app topology reads the
  * three topics concurrently; each is its own [[graft.Standing]], so
  * their builds do not wait on each other. */
object SyntheticTopics {
  val log = Standing.frame("topic_log", Set("g5_baselog_routes"))(
    (s, dir) => BaseLogApp.logLinesUncached(s, dir))
  val dbRoutes = Standing.frame("topic_db_routes", Set("g6_basedb_routes"))(
    (s, dir) => BaseDbApp.envelopesUncached(s, dir))
  val dbDim = Standing.frame("topic_db_dim", Set("k12_dim_scd2_history"))(
    (s, dir) => DimApp.envelopesUncached(s, dir))

  /** Owned, for release, by [[graft.operators.ComposedApps]] — the
    * module of their three readers. */
  val all: Seq[Standing[DataFrame]] = Seq(log, dbRoutes, dbDim)
}
