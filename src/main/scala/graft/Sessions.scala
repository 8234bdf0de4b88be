package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Scale notes: AQE is on so shuffle partition counts and skew-joins
  * re-plan at runtime; auto-broadcast is raised to 64 MB — Spark's
  * 10 MB default predates today's executor memories, and a fact-dim
  * join that shuffles the fact side because the dim was 11 MB is the
  * single most common avoidable full-shuffle at warehouse scale
  * (measured here too: the join suite is ~10-20% faster with dims
  * broadcast outright). Locally we run `local[N]` with N shuffle
  * partitions; on a cluster the same code runs with
  * `spark.sql.shuffle.partitions` sized to executors.
  *
  * `limit`/`head`/`take` keep Spark's default ramp (1 partition, then
  * 4, 16, ...), so a `head()` on a large scan reads one partition. The
  * engine's own guarded probes, which read their whole input when under
  * their cap, are one job each through [[graft.Probe]] instead of a
  * session-wide `spark.sql.limit.initialNumPartitions`.
  */
object Sessions {
  def local(cpus: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession =
    activate(tune(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate())

  /** Belt-and-braces extension load for an ALREADY-RUNNING session:
    * `spark.sql.extensions` is static conf, a no-op when getOrCreate
    * returns an existing session — this registers the optimizer rule
    * through the runtime hook instead (idempotent; a double
    * application is harmless anyway: the rewritten join carries an
    * equi-key, which the rule skips).
    */
  def activate(spark: SparkSession): SparkSession = {
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.RangeJoinRewrite]))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RangeJoinRewrite(spark))
    spark
  }

  /** Apply the standard configs to any builder (driver-owned sessions
    * too). NOTE: sets `spark.sql.extensions` — a caller composing its
    * own extensions should append `graft.functions.GraftExtensions`
    * to its comma-separated list instead of calling tune, or call
    * [[activate]] on the built session.
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // graft's SQL functions + the auto range-join optimizer rule
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // Split-size floor: Spark's split planning uses max(openCostInBytes,
    // totalBytes/parallelism) capped by maxPartitionBytes. The 4 MB
    // default models HDFS-era file-open latency and single-threads any
    // table under ~4 MB/core — on NVMe/object storage a 128 KB floor
    // lets a 10 MB table scan use every core. At warehouse scale files
    // are >=128 MB and totalBytes/parallelism dominates, so this floor
    // never bites there.
    .config("spark.sql.files.openCostInBytes", (128L << 10).toString)
    // events.parquet carries TIMESTAMP(NANOS); Spark 4 refuses it unless
    // read as raw int64 nanos — Tables.load converts back to timestamp.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ObjectHashAggregate (collect_list/collect_set — the minhash
    // bucket aggregate, TopKPairs, the span-scrub hits) falls back to
    // SORT-based aggregation after only 128 in-memory keys by
    // default — a testing-era threshold that turns any corpus-sized
    // group-by-bucket into an n·log·n spill sort: the r13 sf100 sweep
    // measured d_dedup_clusters at ×31 for ×10 data (the decade's
    // only dedup superlinear), and raising this restored ~linear.
    // 2^22 keys bounds per-task agg memory to a few hundred MB worst
    // case (entries are a bucket key + a 2-3 element id list) with the
    // sort fallback still there beyond it; size DOWN on executors
    // smaller than a few GB per task slot.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 22).toString)
    // Codegen class cache: the default 100 entries thrashes on any
    // long-lived session serving >100 distinct plans (this suite runs
    // ~120 — at 100 entries EVERY query re-janino-compiles its
    // generated code on EVERY iteration; measured here as a uniform
    // ~1.4x inflation of per-query times that vanished at 2000). A
    // multi-tenant warehouse session has the same profile: compiled
    // classes are a few KB each, 2000 is still megabytes.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.ui.enabled", "false")
}
