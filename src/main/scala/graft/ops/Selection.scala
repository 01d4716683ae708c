package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed per-key order-statistic selection — the
  * mega-cell escalation the q164 scaladoc names: flag each key's
  * k(key) smallest rows under a total (k1, k2) order WITHOUT ever
  * sorting a key's rows in one window partition.
  *
  * Method: 16-bit radix descent on the 128-bit composite
  * (k1 ^ sign, k2 ^ sign) — unsigned digit order == signed BIGINT
  * order. Eight rounds; each round counts the current candidates by
  * their next 16-bit digit (one partial-agg groupBy — map-side
  * combined, shuffle volume ≤ distinct (key, digit) pairs), takes a
  * per-key cumulative over ≤ 65,536 digit rows (a window whose
  * partitions are BOUNDED by the radix, never by the data), picks the
  * digit containing the k-th element, and descends. Each round
  * re-filters the ONE checkpointed base projection by the key's
  * accumulated prefix — measured cheaper than checkpointing a
  * shrinking candidate copy per round (reading the 32-byte-row base
  * 8× beats writing near-full copies of it on the all-ties shape
  * where k1 digits never shrink anything). After round 8 the per-key
  * threshold T = the exact k-th smallest composite (unique), and the
  * head is one comparison pass over the input. Deterministic, no
  * sampling, no driver-side data — the per-key state is one row per
  * key.
  *
  * Cost, honestly (SCALING.md "Exact mega-cell selection
  * (Selection.headK), measured honestly": 10M rows, one 9M-row
  * all-ties key + 1024 small keys, local[32]): the window form sorts
  * the mega key in one partition in ~9 s; this descent takes ~5×
  * longer at that size.
  * The radix form is NOT a latency win where a single-partition sort
  * still fits an executor — it is the CAPACITY form: its partitions
  * are bounded by the radix at any key size, where the window's one
  * sort partition grows with the largest key until it spills and then
  * cannot complete. Production default stays the window (q164) /
  * salted two-stage (q163, constant quotas); this is the documented,
  * tested escape hatch for keys beyond either.
  *
  * Contrast with the two other exact forms in the engine:
  * `row_number` windows sort each key inside ONE partition
  * (linearithmic in the largest key — the skew exposure), and q163's
  * two-stage salted bottom-k is exact only for CONSTANT per-key
  * quotas (a fixed per-salt cut can drop true keepers when k grows
  * with the key, q164's floor(|cell|·p) case). This selection is
  * exact for ARBITRARY per-key k.
  *
  * What it does NOT give: per-row ranks. Ranking a proportional
  * subset of a cell inherently orders that subset; reports that need
  * ranks keep the window form, pipelines that need the pruned SET
  * (the 100 TB case) use this. ProtoRadixSpec pins head == window on
  * planted mega-cells (including the all-ties shape: byte-identical
  * vectors, every k1 equal, and adversarial signed keys straddling
  * the sign bit) and the q164 composition on real data.
  */
object Selection {

  /** Per-key head flags: returns (key, k2) pairs of each key's
    * k(key) smallest rows under ascending (k1, k2).
    *
    * `rows` must carry `key` (groupable), `k1` LongType (ties
    * allowed), `k2` LongType (UNIQUE within a key — the total-order
    * tiebreak). `kPerKey` carries (key, kk); kk ≤ 0 selects nothing
    * for that key, kk ≥ the key's row count selects everything
    * (clamped internally — the descent itself needs kk ≤ count).
    */
  def headK(rows: DataFrame, kPerKey: DataFrame,
      key: String = "cluster", k1: String = "ok1",
      k2: String = "ok2"): DataFrame = {
    val sign = lit(Long.MinValue)
    // unsigned forms: signed order == unsigned digit order
    val base = rows.select(col(key), col(k1), col(k2),
        col(k1).bitwiseXOR(sign).as("u1"),
        col(k2).bitwiseXOR(sign).as("u2"))
      .localCheckpoint() // round-0 candidates + the final cut scan it
    val counts = base.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
    var state = kPerKey
      .join(counts, key)
      .select(col(key), least(col("kk"), col("n_rows")).as("krem"),
        col("n_rows"))
      .where(col("krem") > 0)
      .withColumn("full", col("krem") === col("n_rows"))
      .drop("n_rows")
      .withColumn("done", lit(false))
      .withColumn("t1", lit(0L))
      .withColumn("t2", lit(0L))
      .localCheckpoint()
    // keys whose head is the whole key set skip the descent — their
    // threshold is +infinity, expressed as the final-cut `full` flag.
    // keys whose chosen digit's candidate set is EXACTLY the remaining
    // head (krem == c) close early with a PADDED threshold — every row
    // sharing the prefix+digit is in the head, so the threshold is the
    // prefix with all remaining low bits 1 (the digit range's maximum);
    // the final cut's ≤ comparison then admits exactly those rows. On
    // real (near-unique) k1 values most keys close within 1–2 rounds —
    // the 16-bit digit isolates the k-th element's k1 — so the loop
    // exits as soon as no key is still descending instead of always
    // paying 8 passes (round-18; ProtoRadixSpec pins set-equality).
    var r = 0
    var descendingLeft = true
    while (r < 8 && descendingLeft) {
      val descending = state.where(!col("full") && !col("done"))
      val uCol = if (r < 4) col("u1") else col("u2")
      val shiftDone = 64 - 16 * (r % 4) // bits ABOVE this round's digit
      val prefixMatch =
        if (r == 0) lit(true)
        else if (r < 4)
          shiftrightunsigned(col("u1"), shiftDone) ===
            shiftrightunsigned(col("t1"), shiftDone)
        else if (r == 4) col("u1") === col("t1")
        else col("u1") === col("t1") &&
          shiftrightunsigned(col("u2"), shiftDone) ===
            shiftrightunsigned(col("t2"), shiftDone)
      val digShift = 48 - 16 * (r % 4)
      // remaining-low-bit padding for the early-close threshold
      val pad = lit(if (digShift == 0) 0L else (1L << digShift) - 1)
      val cand = base.join(descending.select(col(key), col("t1"),
          col("t2"), col("krem")), key)
        .where(prefixMatch)
        .withColumn("dig",
          shiftrightunsigned(uCol, digShift).bitwiseAND(lit(0xffffL)))
      // invariant: krem ≤ |candidates of the key|, so exactly one
      // digit per key satisfies before < krem ≤ before + c
      val cum = cand.groupBy(col(key), col("dig"),
          col("t1"), col("t2"), col("krem"))
        .agg(count(lit(1)).as("c"))
        .withColumn("before", coalesce(
          sum(col("c")).over(Window.partitionBy(col(key))
            .orderBy(col("dig"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val tNew = (if (r < 4) col("t1") else col("t2"))
        .bitwiseOR(shiftleft(col("dig"), digShift))
      val next = cum
        .where(col("before") < col("krem") &&
          col("krem") <= col("before") + col("c"))
        .withColumn("done", col("krem") - col("before") === col("c"))
        .select(col(key),
          (col("krem") - col("before")).as("krem"),
          lit(false).as("full"),
          col("done"),
          (if (r < 4) when(col("done"), tNew.bitwiseOR(pad))
            .otherwise(tNew)
          else col("t1")).as("t1"),
          (if (r < 4) when(col("done"), lit(-1L)).otherwise(col("t2"))
          else when(col("done"), tNew.bitwiseOR(pad)).otherwise(tNew))
            .as("t2"))
      // drain detection counts the still-descending keys inside the
      // round checkpoint's own job (Eager.checkpointCounting)
      val (merged, descendingRows) = Eager.checkpointCounting(
        state.where(col("full") || col("done")).unionByName(next),
        !col("full") && !col("done"))
      state = merged
      descendingLeft = descendingRows > 0L
      r += 1
    }
    // final cut in SIGNED space: t1/t2 are the unsigned-encoded
    // threshold digits, so XOR the sign back before comparing with
    // the original keys (a signed `<` on the unsigned encodings
    // mis-orders values that straddle the sign bit)
    base.join(
        state.select(col(key), col("full"),
          col("t1").bitwiseXOR(sign).as("s1"),
          col("t2").bitwiseXOR(sign).as("s2")), key)
      .where(col("full") ||
        col(k1) < col("s1") ||
        (col(k1) === col("s1") && col(k2) <= col("s2")))
      .select(col(key), col(k2))
  }
}
