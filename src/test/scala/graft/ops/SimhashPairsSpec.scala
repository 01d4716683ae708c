package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q122 SimHash banded pairs: exact plain-Scala replay (128-bit
  * signature → 32-bit bands → occupancy cap → Hamming verify) on a
  * planted near-dup corpus, plus the hot-bucket guard: a 60-deep exact-dup
  * family lands all its signatures in the same four band buckets,
  * whose occupancy (60 > cap 50) must suppress the C(60,2) = 1770
  * candidate pairs and surface as hot_buckets = 4 instead.
  */
class SimhashPairsSpec extends SparkSpec {
  import spark.implicits._

  // mirrors the engine's words() EXACTLY, including the empty-text
  // corner: normText("") splits to Seq("") — one empty token — so the
  // replay must NOT filter empties or it would diverge from the
  // engine on empty/whitespace-only documents
  private def toks(s0: String): Seq[String] =
    s0.toLowerCase.replaceAll("\\s+", " ").trim
      .split(" ", -1).toSeq

  /** Plain-Scala 128-bit simhash of q122's exact construction. */
  private def simhash(text: String): String = {
    val votes = Array.fill(128)(0)
    for (tok <- toks(text).distinct) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      for (j <- 0 until 128) {
        val nib = "0123456789abcdef".indexOf(hex(j / 4))
        votes(j) += (if (((nib >> (j % 4)) & 1) == 1) 1 else -1)
      }
    }
    votes.map(v => if (v > 0) '1' else '0').mkString
  }

  /** Plain-Scala replay of the whole query. */
  private def replay(docs: Seq[(Long, String)])
      : (Seq[(Long, Long, Long)], Long) = {
    val sigs = docs.map { case (id, t0) => id -> simhash(t0) }
    val bands = for {
      (id, sg) <- sigs; b <- 0 until 4
    } yield (b, sg.substring(b * 32, b * 32 + 32), id, sg)
    val occ = bands.groupBy(bk => (bk._1, bk._2)).view.mapValues(_.size)
    val hot = occ.count(_._2 > Banding.HotCap).toLong
    val cold = bands.filter(bk => occ((bk._1, bk._2)) <= Banding.HotCap)
    val cand = (for {
      x <- cold; y <- cold
      if x._1 == y._1 && x._2 == y._2 && x._3 < y._3
    } yield (x._3, y._3, x._4, y._4)).distinct
    val pairs = cand.map { case (a, b, sa, sb) =>
      (a, b, sa.zip(sb).count { case (c1, c2) => c1 != c2 }.toLong)
    }.filter(_._3 <= 3).sortBy(p => (p._1, p._2))
    (pairs, hot)
  }

  private def run(docs: Seq[(Long, String)]): (Seq[(Long, Long, Long)], Long) = {
    val d = java.nio.file.Files.createTempDirectory("graft-sh122").toString
    docs.map { case (id, t0) => (id, t0, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Dedup.q122SimhashPairs(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    (rows.map(r => (r._1, r._2, r._3)), rows.headOption.map(_._4).getOrElse {
      // no pairs: read the scalar via a count-only run of the replay
      -1L
    })
  }

  test("engine equals the plain-Scala replay on a planted near-dup corpus") {
    val base = (1 to 100).map(i => s"w$i").mkString(" ")
    val oneOff = ((1 to 99).map(i => s"w$i") :+ "zzz").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),              // exact dup: hamming 0
      (3L, oneOff),                        // near dup of 1/2
      (4L, (201 to 300).map(i => s"u$i").mkString(" "))) // unrelated
    val (expectPairs, expectHot) = replay(docs)
    val (gotPairs, gotHot) = run(docs)
    assert(gotPairs === expectPairs)
    assert(expectPairs.contains((1L, 2L, 0L)), expectPairs.toString)
    assert(if (gotPairs.nonEmpty) gotHot === expectHot else true)
    // the unrelated doc never pairs
    assert(!gotPairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("q123: exact-dup pairs are caught by BOTH approximate signals") {
    val d = java.nio.file.Files.createTempDirectory("graft-q123").toString
    // a 3-deep exact-dup family (C(3,2)=3 pairs, all three signals)
    // plus two unrelated docs (no signal)
    val fam = (1 to 100).map(i => s"t$i").mkString(" ")
    (Seq((1L, fam), (2L, fam), (3L, fam),
      (8L, (500 to 560).map(i => s"a$i").mkString(" ")),
      (9L, (700 to 760).map(i => s"b$i").mkString(" "))))
      .map { case (id, t0) => (id, t0, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = Dedup.q123DedupAgreement(spark, d)
      .as[(Boolean, Boolean, Boolean, Long)].collect().toSeq
    // every exact pair must be flagged by minhash (J=1) AND simhash
    // (identical signature, Hamming 0): no (T,F,·) or (T,·,F) row
    assert(!m.exists(r => r._1 && !(r._2 && r._3)), m.toString)
    // min-id star representation: the 3-deep family contributes the
    // 2 pairs (1,2),(1,3) to the exact tier; the third family pair
    // (2,3) is still caught by both approximate signals and lands in
    // the (F,T,T) row — the documented shape of the representation
    assert(m.find(r => r._1 && r._2 && r._3).map(_._4).contains(2L),
      m.toString)
    assert(m.find(r => !r._1 && r._2 && r._3).map(_._4).contains(1L),
      m.toString)
  }

  test("q123: exact-tier fan-out is linear in family size, not quadratic") {
    val d = java.nio.file.Files.createTempDirectory("graft-q123hot").toString
    // a 60-deep byte-identical family: the old digest self-join would
    // materialize C(60,2) = 1770 exact rows; the min-id star emits 59.
    // The shared Banding.HotCap (50) suppresses the family's band buckets,
    // so the matrix must show the exact pairs as (T,T,F) — the very
    // hot-bucket-suppression diagnostic the docstring advertises
    val text = (1 to 80).map(i => s"f$i").mkString(" ")
    ((1L to 60L).map(id => (id, text)) :+ (99L, "lonely unrelated doc"))
      .map { case (id, t0) => (id, t0, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = Dedup.q123DedupAgreement(spark, d)
      .as[(Boolean, Boolean, Boolean, Long)].collect().toSeq
    val exactTotal = m.filter(_._1).map(_._4).sum
    assert(exactTotal === 59L, s"exact tier emitted $exactTotal pairs: $m")
    assert(m.find(r => r._1 && r._2 && !r._3).map(_._4).contains(59L),
      m.toString)
  }

  test("engine hot_buckets scalar is reported alongside surviving pairs") {
    // a hot 60-deep family (suppressed) PLUS an unrelated surviving
    // near-dup pair: the pair row carries the engine-side hot_buckets
    // column, so the scalar itself is asserted against the replay —
    // the shape the -1 sentinel in run() can't cover when no pair
    // survives
    val famText = (1 to 50).map(i => s"h$i").mkString(" ")
    val base = (1 to 100).map(i => s"p$i").mkString(" ")
    val oneOff = ((1 to 99).map(i => s"p$i") :+ "qqq").mkString(" ")
    val docs = (1L to 60L).map(id => (id, famText)) ++
      Seq((101L, base), (102L, oneOff))
    val (expectPairs, expectHot) = replay(docs)
    val (gotPairs, gotHot) = run(docs)
    assert(expectPairs.nonEmpty && expectHot === 4L)
    assert(gotPairs === expectPairs)
    assert(gotHot === expectHot)
    // no family member survives into any pair
    assert(!gotPairs.exists(p => p._1 <= 60L || p._2 <= 60L))
  }

  test("hot band buckets are suppressed and reported, not joined") {
    val text = (1 to 50).map(i => s"h$i").mkString(" ")
    val docs = (1L to 60L).map(id => (id, text))
    val (gotPairs, _) = run(docs)
    // 60 identical sigs exceed the 50-doc bucket cap in all 4 bands:
    // zero pairs instead of C(60,2) = 1770
    assert(gotPairs.isEmpty, s"${gotPairs.size} pairs leaked")
    val (expectPairs, expectHot) = replay(docs)
    assert(expectPairs.isEmpty && expectHot === 4L)
  }
}
