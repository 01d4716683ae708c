package graft.ops

import graft.SparkSpec

/** [[Banding.requireCapacity]] — the plan-build-time band-capacity
  * guard (the round-16 advice item): a corpus whose size pushes
  * AVERAGE band-bucket occupancy past the hot cap must be refused by
  * name at plan-build time, never answered with a silently-suppressed
  * (near-empty) pair set. Unit half pins the arithmetic; the
  * end-to-end half plants an over-bound corpus through the shared
  * [[Banding.hammingPairs]] core via its test-only narrow keying, and
  * shows the same corpus passes the real
  * [[Multimodal.bandedHammingPairs]] entry under the shipped 32-bit
  * keys.
  */
class BandCapacitySpec extends SparkSpec {
  import spark.implicits._

  test("guard arithmetic: refuses past cap·2^keyBits, passes below, wide spaces exempt") {
    // the retired 16-bit keying's bound, crossed: 4M > 50·2^16 ≈ 3.3M
    val e = intercept[IllegalArgumentException](
      Banding.requireCapacity(4_000_000L, 16, 50, "testSite"))
    assert(e.getMessage.contains("testSite") &&
      e.getMessage.contains("WHOLESALE") &&
      e.getMessage.contains("128-bit"), e.getMessage)
    // the same corpus under 32-bit keys: bound 50·2^32 ≈ 2.1·10^11
    Banding.requireCapacity(4_000_000L, 32, 50, "testSite")
    // just below the 16-bit bound: allowed (the cap still handles skew)
    Banding.requireCapacity(50L << 16, 16, 50, "testSite")
    // ≥ 48-bit spaces can't be exceeded by any Long-countable corpus
    Banding.requireCapacity(Long.MaxValue, 120, 50, "minhash bandRows")
  }

  test("an over-bound corpus is refused through the real banded entry, not emptied") {
    // 300 hashes against a 2-bit test keying (bound 50·2^2 = 200):
    // under the pre-guard behavior every bucket goes hot and the
    // result trends empty; the guard now fails the plan by name
    val hashes = (0L until 300L)
      .map(i => (i, i * 0x9E3779B97F4A7C15L, i * 0xC2B2AE3D27D4EB4FL))
      .toDF("doc_id", "h0", "h1")
    val e = intercept[IllegalArgumentException](
      Banding.hammingPairs(hashes, "bandedHammingPairs", keyBits = 2)
        ._1.collect())
    assert(e.getMessage.contains("bandedHammingPairs") &&
      e.getMessage.contains("300 rows"), e.getMessage)
    // the same 300 hashes under the shipped 32-bit keying build and run
    assert(Multimodal.bandedHammingPairs(hashes).count() >= 0L)
  }

  // HotCap + 1 identical hashes (docs 1..51) fill every band bucket of
  // their hash past the cap; docs 100/101 are a below-cap near-dup pair
  // one bit apart in band 0, scramble-far from the hot family
  private val hot = (0x0123456789ABCDEFL, 0x0FEDCBA987654321L)
  private val near = 0x5A5A5A5A3C3C3C3CL
  private val planted: Seq[(Long, Long, Long)] =
    (1L to Banding.HotCap + 1L).map(id => (id, hot._1, hot._2)) ++
      Seq((100L, near, ~near), (101L, near ^ 1L, ~near))

  private def hotFamilyAbsent(pairs: Seq[(Long, Long)]): Unit = {
    assert(!pairs.exists(p => p._1 <= Banding.HotCap + 1L), pairs.toString)
    assert(pairs.contains((100L, 101L)), pairs.toString)
  }

  test("hot buckets are suppressed through the shared core: bandedHammingPairs") {
    val rows = Multimodal.bandedHammingPairs(planted.toDF("doc_id", "h0", "h1"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    hotFamilyAbsent(rows.map(r => (r._1, r._2)))
    assert(rows.map(_._3) === Seq(1L))
    assert(rows.map(_._4).distinct === Seq(4L))
  }

  test("hot buckets are suppressed through the shared core: videoHashPairs") {
    val rows = Multimodal.videoHashPairs(planted
        .map { case (d, h0, h1) => (d, 0L, h0, h1) }
        .toDF("doc_id", "frame_idx", "h0", "h1"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    hotFamilyAbsent(rows.map(r => (r._1, r._2)))
    assert(rows.map(_._5).distinct === Seq(4L))
  }

  test("hot buckets are suppressed through the shared core: clipHashPairs") {
    val rows = Multimodal.clipHashPairs(planted
        .map { case (d, h0, h1) => (d, 0L, h0, h1) }
        .toDF("doc_id", "frame_idx", "h0", "h1"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    hotFamilyAbsent(rows.map(r => (r._1, r._2)))
    assert(rows.map(_._6).distinct === Seq(4L))
  }
}
