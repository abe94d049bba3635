package graft

import org.apache.spark.sql.SparkSession

/** Session façade for the graft engine: the one place that builds a
  * session or temporarily changes its configuration.
  *
  * The reference ran spark-shell 2.4 with hand-tuned cluster shapes
  * (`mergers_acquisitions_code/acq_etl_code.scala:1` — 64 executors ×16 GB;
  * `lr.scala:1-2`). We encode the engine-wide defaults once instead:
  *   - AQE on (runtime join re-plan + skew-join splitting — the upgrade the
  *     reference's theta self-join `predictions.scala:37` needs at scale),
  *   - UTC session time zone (oracle parity for date/timestamp arithmetic),
  *   - shuffle partitions sized for the local harness (32 cores), NOT the
  *     200 default. On a real cluster this is `cores × executors × 2-3`.
  */
object GraftSession {

  def builder(
      master: String = "local[32]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      // keep managed-table data out of the repo root (bucketed tables etc.)
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Apply graft defaults to a session built outside graft (e.g. one the
    * caller of `SparkEntry.entry` owns). Runtime-settable confs only. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** Run `body` with session conf `key` set to `value`, then restore the
    * previous value — or unset the key if the session had not set it, so
    * a registered conf reads its default again and `conf.getAll` is as it
    * was. Not safe for concurrent callers on one session: interleaved
    * save/restore pairs can leave another caller's value behind. */
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
