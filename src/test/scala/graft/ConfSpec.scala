package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, NgramStats, Similarity}

/** `spark.graft.*` session-conf knobs (r15): every scale-critical
  * stats route resolves its crossover from session conf when no
  * explicit argument is given, so a cluster operator re-dials routes
  * per deployment without a code change. Each test sets a key, checks
  * the routed shape engaged AND the result is identical, then unsets.
  */
class ConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.withConf

  test("byte and count knobs parse Spark suffix syntax and fall back to defaults") {
    assert(Conf.bytes(spark, Conf.CellWalkBytesKey, 123L) == 123L)
    withConf(Conf.CellWalkBytesKey, "64m") {
      assert(Conf.bytes(spark, Conf.CellWalkBytesKey, 123L) == (64L << 20))
    }
    withConf(Conf.CellWalkBytesKey, "4096") {
      assert(Conf.bytes(spark, Conf.CellWalkBytesKey, 123L) == 4096L)
    }
    assert(Conf.count(spark, Conf.ScrubHitsLimitKey, 7L) == 7L)
    withConf(Conf.ScrubHitsLimitKey, "42") {
      assert(Conf.count(spark, Conf.ScrubHitsLimitKey, 7L) == 42L)
    }
  }

  test("probeLimit: cap+1 never overflows; negative caps are rejected loudly") {
    // Long.MaxValue dials must mean "as much as an Int limit can
    // express", not wrap negative into limit() (r15 ADVICE)
    assert(Conf.probeLimit(0L) == 1)
    assert(Conf.probeLimit(41L) == 42)
    assert(Conf.probeLimit(Long.MaxValue) == Int.MaxValue)
    assert(Conf.probeLimit(Int.MaxValue.toLong) == Int.MaxValue)
    intercept[IllegalArgumentException](Conf.probeLimit(-1L))
    // route flips on negative caps raise at the probe, not silently
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    withConf(Conf.DupSpanLocalLimitKey, "-5") {
      intercept[IllegalArgumentException] {
        Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 2).collect()
      }
    }
    // a Long.MaxValue dial is usable end-to-end
    withConf(Conf.DupSpanLocalLimitKey, Long.MaxValue.toString) {
      assert(Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 2)
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("cellWalkShuffleBytes=0 flips the semantic-dedup walk to the streamed route") {
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f), 0), (2L, Seq(1f, 0f, 0f), 0), // clone pair
      (3L, Seq(0f, 1f, 0f), 0), (4L, Seq(2f, 2f, 0f), 1),
      (5L, Seq(4f, 4f, 0f), 1)                             // scaled clone
    ).toDF("vec_id", "embedding", "_cell")
    val df = rows.select("vec_id", "embedding")
    def walk() = Similarity.dropWithinCells(
      df, "vec_id", "embedding", rows, threshold = 0.999, maxCellSize = 10)
    val viaDefault = walk() // tiny input → collect_list route
    assert(!viaDefault.queryExecution.executedPlan.toString
      .contains("MapPartitions"))
    withConf(Conf.CellWalkBytesKey, "0") {
      val viaStream = walk()
      assert(viaStream.queryExecution.executedPlan.toString
        .contains("MapPartitions"))
      assert(viaStream.select("vec_id").as[Long].collect().toSet ==
        viaDefault.select("vec_id").as[Long].collect().toSet)
    }
  }

  test("ngramSketchRouteBytes=0 flips topKAuto to the sketch, counts stay exact") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = rows(NgramStats.topKAuto(docs, "text", 3, 20))
    withConf(Conf.SketchRouteBytesKey, "0") {
      val sk = NgramStats.topKAuto(docs, "text", 3, 20)
      // the sketch path materializes + certifies → a local relation
      assert(sk.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      assert(rows(sk) == exact)
    }
  }

  test("twoPassBucketBytes=0 flips minHashNearDups to the two-pass bucket filter") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different text about maritime shipping schedules and cargo")
    ).toDF("doc_id", "text")
    def pairs() = Dedup.minHashNearDups(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val onePass = pairs()
    withConf(Conf.TwoPassBucketBytesKey, "0") {
      assert(pairs() == onePass)
      assert(onePass.contains((1L, 2L)))
    }
  }

  test("postingShuffleBytes=0 flips the span posting aggregate to the pre-shuffled route") {
    val boiler = "standard legal disclaimer header used on every single page verbatim"
    val docs = Seq(
      (1L, boiler), (2L, s"$boiler plus some unique trailing reporting text here"),
      (3L, "fresh words that no other document in this tiny corpus contains at all")
    ).toDF("doc_id", "text")
    def dropped() = Dedup.spanDuplicateIds(docs, "doc_id", "text", spanTokens = 8)
      .as[Long].collect().toSet
    val direct = dropped()
    withConf(Conf.PostingShuffleBytesKey, "0") {
      assert(dropped() == direct)
    }
  }

  test("scrubHitsBroadcastLimit=0 routes the scrub spill through the shared temp base (local master)") {
    val boiler = "standard legal disclaimer header used on every single page verbatim"
    val unique = "entirely original reporting about a local event nobody else covered"
    val docs = Seq(
      (1L, boiler), (2L, s"$boiler $unique")
    ).toDF("doc_id", "text")
    def scrub() = Dedup.scrubSpanDuplicates(docs, "doc_id", "text", spanTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val viaBroadcast = scrub()
    withConf(Conf.ScrubHitsLimitKey, "0") {
      val spilled = scrub()
      assert(spilled == viaBroadcast)
      // the spill landed under LocalFs' SHARED base (one shutdown hook
      // per JVM, not one per call — r15, ADVICE)
      val base = LocalFs.tempBasePath
      assert(base.isDirectory)
      assert(base.listFiles().exists(_.getName.startsWith("graft_scrub_hits")))
    }
  }
}
