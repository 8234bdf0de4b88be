package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val W = BpeTrain.EndOfWord

  test("learns the classic merge sequence on the Sennrich-style toy corpus") {
    // word frequencies: low x5, lower x2, newest x6, widest x3 — the
    // canonical BPE walkthrough shape. First merges must fuse the
    // dominant 'est</w>' suffix chain.
    val corpus = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .mkString(" ")
    val docs = Seq((1L, corpus)).toDF("doc_id", "text")
    val merges = BpeTrain.train(docs, "text", numMerges = 4)
    // 9 'est' words: e+s (9) wins round 1 (ties beaten), then es+t (9),
    // then est+</w> (9), then l+o (7)
    assert(merges == Seq(
      ("e", "s"), ("es", "t"), ("est", W), ("l", "o")), merges.toString)
  }

  test("training is deterministic under ties (lexicographic argmax) and any partitioning") {
    val docs = Seq((1L, "ab ab"), (2L, "cd cd")).toDF("doc_id", "text")
    // round 1: a+b, c+d, b+</w>, d+</w> all count 2 → lexicographic
    // argmax picks a+b; round 2: ab+</w> ties c+d and "ab" < "c"
    val m1 = BpeTrain.train(docs, "text", numMerges = 2)
    val m2 = BpeTrain.train(docs.repartition(7), "text", numMerges = 2)
    assert(m1 == Seq(("a", "b"), ("ab", W)), m1.toString)
    assert(m1 == m2)
  }

  test("merge count past full fusion stops cleanly") {
    val docs = Seq((1L, "aa aa aa")).toDF("doc_id", "text")
    val merges = BpeTrain.train(docs, "text", numMerges = 50)
    // 'aa': a+a, aa+</w> — then nothing left to merge
    assert(merges == Seq(("a", "a"), ("aa", W)), merges.toString)
  }

  test("encodeWord replays training segmentation; unseen words fall back to chars") {
    val corpus = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, corpus)).toDF("doc_id", "text")
    val merges = BpeTrain.train(docs, "text", numMerges = 10)
    val ranks = merges.zipWithIndex.toMap
    // a training word becomes one token once its full chain is learned
    assert(BpeTrain.encodeWord("newest", ranks).mkString("|").contains("est"))
    // unseen word with no learned pairs stays at char granularity
    val zz = BpeTrain.encodeWord("zq", ranks)
    assert(zz == Seq("z", "q", W) || zz == Seq("z", s"q$W"), zz.toString)
  }

  test("encode: distributed tokenization matches per-word encodeWord, counts included") {
    val train = Seq((1L, "low low low lower newest newest")).toDF("doc_id", "text")
    val merges = BpeTrain.train(train, "text", numMerges = 6)
    val ranks = merges.zipWithIndex.toMap
    val out = BpeTrain.encode(
        Seq((1L, "low newest"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "text", merges)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getSeq[String](r.fieldIndex("bpe_tokens")).toList,
          r.getAs[Int]("bpe_n_tokens"))).toMap
    val want = (BpeTrain.encodeWord("low", ranks) ++
      BpeTrain.encodeWord("newest", ranks)).toList
    assert(out(1L)._1 == want && out(1L)._2 == want.size)
    assert(out(2L)._1 == Nil && out(2L)._2 == 0)
  }

  test("incremental merge loop equals a naive full-recount reference on random vocabularies") {
    // the naive reference: recount every pair across every word each
    // round — O(rounds × symbols), obviously correct
    def naive(words: Array[(String, Long)], n: Int): Seq[(String, String)] = {
      var seqs = words.map { case (w, c) => (w.map(_.toString).toVector :+ W, c) }
      val out = Seq.newBuilder[(String, String)]
      var i = 0
      while (i < n) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        seqs.foreach { case (s, c) =>
          s.sliding(2).filter(_.size == 2).foreach { p =>
            val k = (p(0), p(1))
            counts.update(k, counts.getOrElse(k, 0L) + c)
          }
        }
        if (counts.isEmpty) i = n
        else {
          val best = counts.minBy { case ((l, r), c) => (-c, l, r) }._1
          out += best
          seqs = seqs.map { case (s, c) =>
            val b = Vector.newBuilder[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == best._1 && s(j + 1) == best._2) {
                b += (best._1 + best._2); j += 2
              } else { b += s(j); j += 1 }
            }
            (b.result(), c)
          }
          i += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(0xbbe)
    for (trial <- 1 to 8) {
      val words = Array.tabulate(30) { _ =>
        val len = 1 + rnd.nextInt(7)
        (Seq.fill(len)(('a' + rnd.nextInt(4)).toChar).mkString,
          (1 + rnd.nextInt(9)).toLong)
      }.distinct
      val got = BpeTrain.trainLocal(words, 25)
      val want = naive(words, 25)
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }

  test("vocabulary guard raises actionably; minCount prunes the tail") {
    val many = Seq.tabulate(50)(i => (i.toLong, s"w$i w$i common")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      BpeTrain.train(many, "text", numMerges = 3, maxWords = 10)
    }
    assert(e.getMessage.contains("minCount"), e.getMessage)
    // minCount=3 keeps only 'common' (50 occurrences) — under the cap
    val merges = BpeTrain.train(many, "text", numMerges = 2,
      minCount = 3L, maxWords = 10)
    assert(merges.nonEmpty)
  }

  test("maxWords = Int.MaxValue cannot overflow the vocabulary guard") {
    val docs = Seq((1L, "low lower newest widest low newest newest")).toDF("doc_id", "text")
    assert(BpeTrain.train(docs, "text", numMerges = 4, maxWords = Int.MaxValue) ==
      BpeTrain.train(docs, "text", numMerges = 4))
  }
}
