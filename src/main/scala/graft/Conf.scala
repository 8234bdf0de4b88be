package graft

import org.apache.spark.sql.SparkSession

/** Cluster-dialable engine knobs, resolved from plain session conf
  * (`spark.graft.*`).
  *
  * Every scale-critical operator in the engine stats-routes between a
  * small-corpus shape and a bounded-memory large-corpus shape at a
  * byte threshold (Catalyst plan stats vs the threshold). The shipped
  * defaults are the measured crossovers for a 32-core / 128 GB
  * single box — the r13/r14 profiling campaign — but the right
  * crossover is a per-deployment statement: a 100-executor cluster
  * spreads the partial-combinable exact legs far past any single-box
  * line, while a small edge node wants the sketch/streamed legs
  * sooner. Before r15 the thresholds were code constants (overridable
  * only through method parameters), so a cluster operator could not
  * re-dial them without a code change; now one `spark.conf.set` (or a
  * `--conf spark.graft.…` at submit) moves a route for the whole
  * session; each threshold has this one setting.
  *
  * Values accept Spark's usual byte-suffix syntax (`64m`, `1g`,
  * plain bytes) for the byte keys and plain longs for the count keys.
  */
object Conf {

  /** Route threshold for the semantic-dedup cell walk
    * ([[graft.operators.Similarity.dropWithinCells]]): collect_list +
    * native walk at or below, streamed one-cell-buffer walk above.
    * Default [[graft.operators.Similarity.CellWalkShuffleBytes]].
    */
  val CellWalkBytesKey = "spark.graft.cellWalkShuffleBytes"

  /** Route threshold for corpus n-gram top-k
    * ([[graft.operators.NgramStats.topKAuto]]): exact two-pass at or
    * below, Misra-Gries sketch + exact recount above. Default
    * [[graft.operators.NgramStats.SketchRouteBytes]].
    */
  val SketchRouteBytesKey = "spark.graft.ngramSketchRouteBytes"

  /** Route threshold for the span-family posting aggregate
    * ([[graft.operators.Dedup.dupSpanFirsts]]): plain map-combined
    * groupBy at or below, pre-shuffled fixed-width postings above.
    * Default [[graft.operators.Dedup.PostingShuffleBytes]].
    */
  val PostingShuffleBytesKey = "spark.graft.postingShuffleBytes"

  /** Route threshold for the MinHash bucket aggregate
    * ([[graft.operators.Dedup.minHashNearDups]]): one-pass
    * collect_list at or below, count-filtered two-pass above. Default
    * [[graft.operators.Dedup.TwoPassBucketBytes]].
    */
  val TwoPassBucketBytesKey = "spark.graft.twoPassBucketBytes"

  /** Max flagged-doc rows the span scrub broadcasts before routing the
    * remainder join through a staged/shuffled shape (count, not
    * bytes). Default [[graft.operators.Dedup.ScrubHitsBroadcastLimit]].
    */
  val ScrubHitsLimitKey = "spark.graft.scrubHitsBroadcastLimit"

  /** Max duplicated-span rows the span family collects straight to a
    * driver-local relation (the guarded limit-probe fast path — one
    * scheduled job, no executor cache) before falling back to the
    * persisted probe side (count, not bytes). Default
    * [[graft.operators.Dedup.DupSpanLocalLimit]].
    */
  val DupSpanLocalLimitKey = "spark.graft.dupSpanLocalLimit"

  /** Row cap for the n-gram top-k single-probe TakeOrdered
    * ([[graft.operators.NgramStats.topK]]): under it the kept set is
    * collected in ONE job and broadcast locally; tie volumes past it
    * take the guarded persist shape. Keep it under
    * `spark.sql.execution.topKSortFallbackThreshold`. Default
    * [[graft.operators.NgramStats.KeptProbeLimit]].
    */
  val NgramKeptProbeLimitKey = "spark.graft.ngramKeptProbeLimit"

  /** Row cap for the line-dedup frequent-line probe
    * ([[graft.operators.LineDedup.dropCommonLines]]): under it the
    * boilerplate set is collected in ONE job and broadcast locally;
    * past it the staged+broadcast fallback takes over. Default
    * [[graft.operators.LineDedup.FrequentLocalLimit]].
    */
  val LineFrequentLocalLimitKey = "spark.graft.lineFrequentLocalLimit"

  /** Byte-valued knob: session conf wins when set (Spark byte-suffix
    * syntax allowed), else `default`.
    */
  def bytes(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key)
      .map(v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
      .getOrElse(default)

  /** Count-valued knob: session conf wins when set, else `default`. */
  def count(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map(_.trim.toLong).getOrElse(default)

  /** `cap + 1` as a safe `DataFrame.limit` Int for the guarded
    * limit-probe pattern: a `Long.MaxValue` (or any ≥ Int.MaxValue)
    * dial means "as much as an Int limit can express" instead of
    * overflowing negative and throwing AnalysisException at plan time,
    * and a negative cap is rejected loudly instead of silently
    * flipping the route (r15 ADVICE).
    */
  def probeLimit(cap: Long): Int = {
    require(cap >= 0, s"probe cap must be >= 0, got $cap")
    (math.min(cap, Int.MaxValue - 1L) + 1L).toInt
  }
}
