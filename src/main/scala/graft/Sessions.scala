package graft

import org.apache.spark.sql.SparkSession

/** The one place a local `SparkSession` is built.
  *
  * Shared base config: UTC session time zone, UI off, AQE on, and
  * heartbeat/network timeouts sized for one-JVM `local[N]` runs. There the
  * driver and every executor thread share a heap, so a long GC or a
  * CPU-saturated stretch can starve the heartbeat thread past Spark's
  * 120 s default, and the HeartbeatReceiver then kills the only
  * "executor" (observed at sf1: a 126 s gap shut the context down). Log
  * level is WARN.
  *
  * `master` and `shuffle` are the caller's: each main keeps its own
  * defaults and env overrides. `extra` confs are applied last.
  */
object Sessions {
  def local(app: String, master: String, shuffle: String,
      extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
