package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import graft.tools.ZipfText

/** Seeded document corpus for the curation workload, built from
  * [[graft.tools.ZipfText]] words.
  *
  * Each base document is a few Zipf-drawn lines, some carrying a shared
  * boilerplate line (what `line_dedup` removes) or a contact line with
  * an e-mail address and a phone number (what `pii_redact` rewrites).
  * On top of the base set the generator plants exact duplicates (a
  * copy, half of them upper-cased — the same exact-dedup fingerprint)
  * and near duplicates (a copy with a few words swapped). Base and
  * near-duplicate texts are kept distinct under whitespace and case
  * folding, so `exact_dedup` must keep exactly base + near documents;
  * that count is written next to the corpus as the planted truth.
  *
  * Usage: GenDocs <out.jsonl> <truth.json> <seed> <base> <exactDups> <nearDups>
  */
object GenDocs {
  private val boilerplate = Array(
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the publisher of this site",
    "click here to accept cookies and continue reading",
    "share this article with your friends and family",
    "this page was last edited by the community team",
    "advertisement continue reading below the fold")

  def main(args: Array[String]): Unit = {
    val Array(outPath, truthPath, seedS, baseS, exactS, nearS) = args
    val seed = seedS.toLong
    val (base, exact, near) = (baseS.toInt, exactS.toInt, nearS.toInt)
    val vocab = ZipfText.vocabulary(30000)
    val cdf = ZipfText.zipfCdf(vocab.length)
    val rnd = new scala.util.Random(seed)
    def norm(s: String) = s.toLowerCase.trim.split("\\s+").mkString(" ")
    val seen = scala.collection.mutable.HashSet[String]()

    def baseDoc(i: Int): String = {
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val n = 3 + rnd.nextInt(4)
      for (j <- 0 until n)
        lines += ZipfText.doc(i.toLong * 16 + j, vocab, cdf, 8, 20, seed)
      if (rnd.nextDouble() < 0.35)
        lines.insert(rnd.nextInt(lines.length + 1), boilerplate(rnd.nextInt(boilerplate.length)))
      if (rnd.nextDouble() < 0.15)
        lines += s"contact ${vocab(rnd.nextInt(500))}@example.com or call " +
          f"555-${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(10000)}%04d"
      lines.mkString("\n")
    }

    val texts = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (texts.length < base) {
      val t = baseDoc(i)
      if (seen.add(norm(t))) texts += t
      i += 1
    }
    val originals = texts.toIndexedSeq
    val dups = (0 until exact).map { k =>
      val t = originals(rnd.nextInt(originals.length))
      if (k % 2 == 0) t else t.toUpperCase
    }
    val nears = scala.collection.mutable.ArrayBuffer[String]()
    while (nears.length < near) {
      val t = originals(rnd.nextInt(originals.length))
      val lines = t.split("\n").map(_.split(" "))
      val words = lines.map(_.length).sum
      val swaps = math.max(1, words / 25)
      for (_ <- 0 until swaps) {
        val l = lines(rnd.nextInt(lines.length))
        l(rnd.nextInt(l.length)) = vocab(rnd.nextInt(vocab.length))
      }
      val c = lines.map(_.mkString(" ")).mkString("\n")
      if (seen.add(norm(c))) nears += c
    }

    val all = rnd.shuffle(originals ++ dups ++ nears)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(outPath), StandardCharsets.UTF_8))
    try all.zipWithIndex.foreach { case (t, id) =>
      w.write(Json.write(Map(
        "id" -> id.toLong, "url" -> s"https://site${id % 97}.example/page/$id",
        "text" -> t)))
      w.write('\n')
    } finally w.close()
    val tw = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(truthPath), StandardCharsets.UTF_8))
    try tw.write(Json.write(Map(
      "docs" -> all.length, "base" -> base, "exact_dups" -> exact,
      "near_dups" -> near, "exact_kept" -> (base + near))))
    finally tw.close()
  }
}
