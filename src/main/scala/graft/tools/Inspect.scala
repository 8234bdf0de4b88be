package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ListenerDrain

/** Query inspection: run named SparkEntry queries and report, per
  * round, each query's wall time, scheduled jobs and per-job seconds,
  * stage count, stage names (they carry the callsite, e.g. "parquet at
  * Similarity.scala:158") and `spark.job.description`. Round 1 carries
  * codegen/JIT; read the last round. With `--plans <dir>`, the last
  * round also writes `<q>_formatted.txt` (the plan before execution)
  * and `<q>_final.txt` (the final adaptive plan, the only place
  * exchange/stage reuse shows).
  *
  * Usage: Inspect <sfDir> <names-csv> [rounds=2] [--plans <dir>]
  * (`SPARK_GRAFT_THREADS` worker threads, default 16).
  */
object Inspect {
  final case class Job(id: Int, sec: Double, stages: Int, stageNames: String, desc: String)
  final case class Report(round: Int, query: String, sec: Double, jobs: Seq[Job])

  private final class Started(val id: Int, val t0: Long, val stages: Int,
      val stageNames: String, val desc: String) { @volatile var t1 = 0L }

  def run(spark: SparkSession, sfDir: String, names: Seq[String], rounds: Int,
      plansDir: Option[String]): Seq[Report] = {
    val started = new ConcurrentLinkedQueue[Started]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = started.add(new Started(
        s.jobId, System.nanoTime(), s.stageInfos.size,
        s.stageInfos.map(_.name).distinct.mkString(" | "),
        Option(s.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        started.asScala.find(_.id == e.jobId).foreach(_.t1 = System.nanoTime())
    }
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    def write(q: String, kind: String, txt: String): Unit =
      plansDir.foreach(d => Files.writeString(Paths.get(d, s"${q}_$kind.txt"), txt))
    spark.sparkContext.addSparkListener(listener)
    try for (r <- 1 to rounds; q <- names) yield {
      ListenerDrain(spark.sparkContext) // the last query's jobs stay out
      started.clear()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerDrain(spark.sparkContext)
      val jobs = started.asScala.toSeq.map(j => Job(j.id,
        if (j.t1 == 0L) Double.NaN else (j.t1 - j.t0) / 1e9, j.stages, j.stageNames, j.desc))
      println(f"== r$r $q $sec%.3f s, ${jobs.size} jobs")
      jobs.foreach(j => println(f"   job ${j.id}%3d ${j.sec}%7.3f s stages=${j.stages}%2d " +
        s"${j.stageNames.take(160)} ${j.desc.take(60)}"))
      if (r == rounds && plansDir.isDefined) {
        // count() above planned its own QueryExecution, so df's is
        // still unexecuted here; collect() drives and finalizes it
        write(q, "formatted", df.queryExecution.explainString(FormattedMode))
        df.collect()
        write(q, "final", df.queryExecution.executedPlan.toString)
      }
      spark.catalog.clearCache()
      Report(r, q, sec, jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val (plansArg, rest) = args.indexOf("--plans") match {
      case -1 => (None, args.toSeq)
      case i => (Some(args(i + 1)), args.toSeq.patch(i, Nil, 2))
    }
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_THREADS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, rest(0), rest(1).split(',').toSeq.map(_.trim),
      rest.lift(2).map(_.toInt).getOrElse(2), plansArg)
    spark.stop()
  }
}
