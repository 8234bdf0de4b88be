package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val LimitConf = "spark.sql.limit.initialNumPartitions"
  private val LimitDefault =
    org.apache.spark.sql.internal.SQLConf.LIMIT_INITIAL_NUM_PARTITIONS.defaultValueString

  /** 400 rows over 4 partitions, map-only: every job is the probe's. */
  private def df: DataFrame = spark.range(0, 400, 1, 4).selectExpr("id", "id % 7 AS k")

  /** `body`'s result and the number of jobs it started. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"probe-spec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "probe spec")
    try {
      val a = body
      ListenerDrain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("Sessions.tune leaves Spark's limit ramp alone") {
    assert(spark.conf.get(LimitConf) == LimitDefault)
  }

  test("under the cap: one job, the parent route's rows, nothing cached") {
    val parent = df.limit(1001).collect().toSeq
    val (rows, probeJobs) = jobs(Probe.collectAtMost(df, 1000))
    assert(probeJobs == 1)
    assert(rows.map(_.toSeq) == Some(parent))
    for (persistFirst <- Seq(false, true)) {
      val before = persisted
      val (staged, n) = jobs(Probe.collectOrStage(df, 1000, persistFirst))
      assert(n == 1, s"persistFirst=$persistFirst")
      assert(staged.isLocal && staged.count == 400L)
      assert(staged.df.collect().toSeq == parent)
      assert(staged.df.schema == df.schema)
      assert((persisted -- before).isEmpty, s"persistFirst=$persistFirst left a cache")
    }
  }

  test("over the cap, persistFirst on and off: one job, staged rows, release() drops the cache") {
    val parent = df.limit(11).collect()
    assert(parent.length > 10)
    val (none, n) = jobs(Probe.collectAtMost(df, 10))
    assert(none.isEmpty && n == 1)
    for (persistFirst <- Seq(false, true)) {
      val before = persisted
      val (staged, probeJobs) = jobs(Probe.collectOrStage(df, 10, persistFirst))
      assert(probeJobs == 1, s"persistFirst=$persistFirst")
      assert(!staged.isLocal)
      if (persistFirst) {
        // the probe itself filled every partition of the stage
        val info = spark.sparkContext.getRDDStorageInfo
          .filter(i => !before.contains(i.id))
        assert(info.map(_.numCachedPartitions).sum == 4, info.mkString(", "))
      }
      assert(sorted(staged.df.collect().toSeq) == sorted(df.collect().toSeq))
      assert(staged.count == 400L)
      staged.release()
      assert((persisted -- before).isEmpty, s"persistFirst=$persistFirst: release() left a cache")
    }
  }

  test("a cap of 0: one job either way") {
    assert(df.limit(1).collect().nonEmpty)
    val (full, n1) = jobs(Probe.collectAtMost(df, 0))
    assert(full.isEmpty && n1 == 1)
    val (empty, n2) = jobs(Probe.collectAtMost(df.filter("id < 0"), 0))
    assert(empty.map(_.toSeq) == Some(Seq.empty) && n2 == 1)
    val (local, n3) = jobs(Probe.collectOrStage(df.filter("id < 0"), 0, persistFirst = true))
    assert(local.isLocal && local.df.collect().isEmpty && n3 == 1)
  }

  test("a cap of Long.MaxValue cannot overflow: one job, every row") {
    val (rows, n) = jobs(Probe.collectAtMost(df, Long.MaxValue))
    assert(n == 1)
    assert(rows.map(_.toSeq) == Some(df.limit(Int.MaxValue).collect().toSeq))
    val (local, n2) = jobs(Probe.localAtMost(df, Long.MaxValue))
    assert(n2 == 1 && local.map(_.count()) == Some(400L))
  }

  test("a probe writes no session conf a concurrent caller could read") {
    val slow = udf { (x: Long) => Thread.sleep(20); x }
    val probed = spark.range(0, 40, 1, 4).select(slow(org.apache.spark.sql.functions.col("id")))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    val polls = new AtomicInteger
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      seen.add(spark.conf.getOption(LimitConf))
      polls.incrementAndGet()
      Thread.sleep(1)
    })
    poller.start()
    try assert(Probe.collectAtMost(probed, 100).map(_.length) == Some(40))
    finally { running = false; poller.join() }
    assert(polls.get > 10)
    assert(seen.size == 1 && seen.contains(Some(LimitDefault)), seen)
  }

  test("a stage persisted inside releasingStages is released when it returns") {
    val before = persisted
    val staged = Probe.releasingStages {
      val s = Probe.stage(df, None, eager = true)
      assert((persisted -- before).nonEmpty)
      s
    }
    assert((persisted -- before).isEmpty)
    assert(staged.count == 400L)
  }
}
