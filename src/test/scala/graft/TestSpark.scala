package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every spec (Spark startup ~5 s). */
object TestSpark {
  lazy val spark: SparkSession = {
    // local[4, 3]: up to 3 attempts per task, so retry-idempotence
    // specs can inject first-attempt failures (production clusters
    // always retry; local mode defaults to fail-fast)
    val s = Sessions.tune(
      SparkSession.builder().master("local[4, 3]"), shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body` with session conf `key` set to `value`, unset afterwards. */
  def withConf[A](key: String, value: String)(body: => A): A =
    try { spark.conf.set(key, value); body }
    finally spark.conf.unset(key)
}
