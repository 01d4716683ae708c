package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's one banded-Hamming self-join and its capacity guard.
  *
  * [[hammingPairs]] turns a (doc_id, 128-bit hash (`h0`, `h1`)) table
  * into its verified pairs at Hamming ≤ 3: four 32-bit bands (any pair
  * within distance 3 agrees on at least one whole band — pigeonhole,
  * so the banded equi-join has PERFECT recall at the cut), a
  * per-bucket occupancy count, the hot-bucket cap with the skipped
  * count reported once, a self-join on `doc_id <` and an exact
  * codegen'd `bit_count(pa0 ^ pb0) + bit_count(pa1 ^ pb1)` verify.
  * Never all-pairs. Every batch near-dup entry bands through it: q122
  * SimHash, q175 image pHash, q176 audio fingerprint, q185's
  * frame-keyed fold and q186/q191's clip fold. The streaming twin
  * (`EventStreams.hammingStarStream`) joins new rows against the log
  * rather than against themselves, so it shares only [[hashBandRows]]
  * and [[HotCap]].
  *
  * The hot cap that protects the self-join from C(n,2) fan-out is a
  * SKEW guard: it assumes over-full buckets are boilerplate clusters,
  * rare against the corpus. That assumption has a hard arithmetic
  * boundary — once the corpus outgrows `cap · |key space|`, AVERAGE
  * bucket occupancy exceeds the cap, every bucket trips the guard,
  * and the join silently trends toward empty (the "band-key cliff"
  * of the retired 4×16-bit keying). [[requireCapacity]] turns that
  * cliff into a NAMED, fail-fast error at plan-build time: the core
  * counts its checkpointed input once and refuses to build a plan
  * whose expected occupancy exceeds the cap, naming the fix — wider
  * band keys or corpus sharding.
  */
object Banding {

  /** Band-bucket occupancy cap: a (band, key) bucket fans out C(n,2)
    * candidate pairs, and an over-full bucket at corpus scale is a
    * template/boilerplate cluster (q33/q115's hot-key discipline in
    * Hamming space), not near-dup structure worth pricing pairwise.
    * Skipped buckets are counted once in `hot_buckets`.
    */
  val HotCap = 50

  /** Fail by name when `nRows` hashes banded on `keySpaceLog2`-bit
    * keys would push a band's average bucket occupancy past `cap`.
    * Key spaces of 2^48 or wider cannot be exceeded by any
    * Long-countable corpus (cap ≥ 1 ⇒ bound ≥ 2^48 ≫ 9·10^18 rows is
    * false only below 48 when cap is tiny — the explicit check keeps
    * the arithmetic overflow-free either way).
    */
  def requireCapacity(nRows: Long, keySpaceLog2: Int, cap: Long,
      site: String): Unit = {
    if (keySpaceLog2 < 48) {
      val bound = cap << keySpaceLog2
      require(nRows <= bound,
        s"$site: $nRows rows over a 2^$keySpaceLog2 band-key space " +
          s"exceeds the hot-bucket capacity bound $bound (cap $cap per " +
          s"bucket): average occupancy would exceed the cap and the " +
          s"hot-bucket guard would suppress pairs WHOLESALE, not just " +
          s"skew. Widen the band keys (the 128-bit/4×32 hash variants) " +
          s"or shard the corpus before banding.")
    }
  }

  /** The 4×`keyBits`-bit band rows of a (doc_id, h0, h1) hash table
    * (bands 0–1 slice h0, 2–3 slice h1), projected to (doc_id, h0, h1,
    * `carry`…, band, bkey). Inline per row, not a join-back by
    * (doc, h), so in-doc duplicate hashes — a still video is legal —
    * never fan out.
    */
  private[graft] def hashBandRows(hs: DataFrame, keyBits: Int = 32,
      carry: Seq[String] = Nil): DataFrame = {
    val kept = (Seq("doc_id", "h0", "h1") ++ carry).map(col)
    hs.select(kept :+
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band, " +
        s"shiftrightunsigned(IF(b < 2, h0, h1), (b % 2) * $keyBits) " +
        s"& ${(1L << keyBits) - 1} AS bkey))")).as("bk"): _*)
      .select(kept ++
        Seq(col("bk.band").as("band"), col("bk.bkey").as("bkey")): _*)
  }

  /** The banded self-join over `hashes` (doc_id, h0, h1, …): returns
    * the verified pairs — (doc_a, doc_b, `keys`…, `c_a`, `c_b` for
    * every other input column c, hamming ≤ 3) — the 1-row
    * `hot_buckets` count, and the checkpointed input, which a caller
    * may read again (q185/q186's per-video frame counts) without
    * recomputing it. `keys` are extra equality keys every bucket
    * is split by (q185's `frame_idx`: candidates must agree at the
    * same temporal position). `site` names the caller in the capacity
    * error. `keyBits` (≤ 32, default the shipped 32) exists so the
    * guard is testable END-TO-END: a spec can plant a corpus above a
    * narrow keying's bound without manufacturing 2·10^11 rows.
    * Production callers never pass it.
    */
  private[graft] def hammingPairs(hashes: DataFrame, site: String,
      keys: Seq[String] = Nil, keyBits: Int = 32)
      : (DataFrame, DataFrame, DataFrame) = {
    // eager checkpoint: occupancy + both self-join sides read it (q31 note)
    val hs = hashes.localCheckpoint()
    requireCapacity(hs.count(), keyBits, HotCap, site)
    val riders = hs.columns.toSeq.diff(Seq("doc_id", "h0", "h1") ++ keys)
    val bucket = keys ++ Seq("band", "bkey")
    val bands = hashBandRows(hs, keyBits, keys ++ riders)
    val occ = bands.groupBy(bucket.map(col): _*).agg(count(lit(1)).as("n"))
    val hotCount = occ.where(col("n") > HotCap)
      .agg(count(lit(1)).as("hot_buckets"))
    val cold = bands.join(
      occ.where(col("n") <= HotCap).select(bucket.map(col): _*),
      bucket, "leftsemi")
    val pairs = cold.as("x")
      .join(cold.as("y"),
        bucket.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
          && col("x.doc_id") < col("y.doc_id"))
      .select(Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")) ++
        keys.map(k => col(s"x.$k").as(k)) ++
        riders.flatMap(c => Seq(col(s"x.$c").as(s"${c}_a"),
          col(s"y.$c").as(s"${c}_b"))) ++
        Seq(col("x.h0").as("pa0"), col("y.h0").as("pb0"),
          col("x.h1").as("pa1"), col("y.h1").as("pb1")): _*)
      .distinct() // identical hashes agree on all four bands
      .withColumn("hamming",
        expr("bit_count(pa0 ^ pb0) + bit_count(pa1 ^ pb1)").cast("long"))
      .where(col("hamming") <= 3)
      .drop("pa0", "pb0", "pa1", "pb1")
    (pairs, hotCount, hs)
  }
}
