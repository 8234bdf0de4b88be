package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.ProbeBridge
import org.apache.spark.storage.StorageLevel

/** The guarded probe: "is this result small enough for the driver, or
  * must it stay distributed?", answered in the job that computes it.
  *
  * An under-cap probe reads its whole input, so Spark's `limit` ramp
  * (1 partition, then 4, 16, ...) would schedule 2-3 jobs for it. A
  * probe here is ONE job over every partition, taking at most `cap+1`
  * rows from each ([[Conf.probeLimit]]: no overflow at `Int.MaxValue`
  * or `Long.MaxValue`). It writes no session conf, so other callers on
  * the session keep Spark's default ramp for their `limit`/`head`.
  *
  * A persisted stage lives as long as the plan that reads it
  * ([[Staged.release]] drops it early), except inside
  * [[releasingStages]] (a pipeline run), which releases every stage
  * persisted on its thread when it returns.
  */
object Probe {

  /** `df` to read, and what holds it: a driver-local relation
    * (`isLocal`, nothing cached), an executor cache, or parquet.
    */
  final class Staged private[Probe] (
      val df: DataFrame, val isLocal: Boolean, cached: Boolean, knownCount: Option[Long]) {
    /** Row count — free when the staging action already counted. */
    lazy val count: Long = knownCount.getOrElse(df.count())
    def release(): Unit = if (cached) df.unpersist(false)
  }

  /** All rows of `df` when it has at most `cap`, else None. One job. */
  def collectAtMost(df: DataFrame, cap: Long): Option[Array[Row]] =
    take(df, cap).map(ProbeBridge.toRows(df, _))

  /** [[collectAtMost]] as a local relation (it broadcasts for free). */
  def localAtMost(df: DataFrame, cap: Long): Option[DataFrame] =
    take(df, cap).map(ProbeBridge.localRelation(df, _))

  /** `df` as a local relation when it has at most `cap` rows, else
    * persisted; one job either way. `persistFirst` persists before the
    * probe, so an over-cap probe leaves every partition cached and later
    * reads never recompute `df` (dropped again under the cap): use it
    * where recomputing `df` costs more than caching it.
    */
  def collectOrStage(df: DataFrame, cap: Long, persistFirst: Boolean): Staged = {
    val source = if (persistFirst) persist(df) else df
    take(source, cap) match {
      case Some(rows) =>
        if (persistFirst) source.unpersist(false)
        new Staged(ProbeBridge.localRelation(df, rows), isLocal = true, cached = false,
          Some(rows.length.toLong))
      case None =>
        new Staged(if (persistFirst) source else persist(df), isLocal = false,
          cached = true, None)
    }
  }

  /** Materialize a reusable operator stage: to parquet when `stageDir`
    * is given or [[graft.operators.Dedup.StageDirConf]] is set (the
    * 100 TB path — the stage is an index that belongs on distributed
    * storage, survives executor loss, and is shareable across runs),
    * else an executor-storage persist (interactive sizes). `eager`
    * materializes and counts the persist at once, so upstream caches
    * can be released; a parquet write is always eager.
    */
  def stage(df: DataFrame, stageDir: Option[String], eager: Boolean = false): Staged =
    stageDir.orElse(
      Option(df.sparkSession.conf.get(graft.operators.Dedup.StageDirConf, null))
        .map(base => s"$base/stage_${java.util.UUID.randomUUID()}")) match {
      case Some(dir) =>
        df.write.mode("overwrite").parquet(dir)
        new Staged(df.sparkSession.read.parquet(dir), isLocal = false, cached = false, None)
      case None =>
        val p = persist(df)
        new Staged(p, isLocal = false, cached = true, if (eager) Some(p.count()) else None)
    }

  /** Run `body` as one pipeline run: every stage persisted on this
    * thread inside it is released when it returns or throws.
    */
  def releasingStages[A](body: => A): A = {
    val outer = runStages.get
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    runStages.set(Some(held))
    try body
    finally {
      runStages.set(outer)
      held.foreach(_.unpersist(false))
    }
  }

  private val runStages =
    ThreadLocal.withInitial[Option[scala.collection.mutable.ArrayBuffer[DataFrame]]](() => None)

  private def take(df: DataFrame, cap: Long) =
    ProbeBridge.takeAtMost(df, Conf.probeLimit(cap), cap)

  private def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    runStages.get.foreach(_ += p)
    p
  }
}
