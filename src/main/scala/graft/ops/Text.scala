package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._
import Staged.StagedWriter

/** Text-analysis operators for an LLM training-data pipeline over the
  * `documents` table: language ID, quality scoring, token counting,
  * document fingerprinting, and (on `events`) gap-based sessionization.
  *
  * Cross-engine parity rules used throughout this file and
  * [[Dedup]]/[[Similarity]]:
  *   - the only hash is `md5` (same lowercase hex in Spark and DuckDB);
  *     hashes are compared/minimized as fixed-width hex STRINGS, so
  *     lexicographic order == numeric order and no engine-specific
  *     integer hash is ever needed;
  *   - doubles are only produced by integer→double casts, IEEE `/`, `*`,
  *     `+` and `sqrt`, which are bit-deterministic in both engines;
  *   - regexes stick to simple character classes (identical semantics in
  *     Java regex and RE2).
  */
object Text {

  /** Whitespace-collapsed lowercase text; DuckDB twin:
    * `trim(regexp_replace(lower(text), '\s+', ' ', 'g'))`.
    */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Space-split word array of the normalized text. */
  def words(c: Column): Column = split(normText(c), " ")

  /** Word 3-gram shingles of a word array (1-based `element_at`, same as
    * DuckDB `ws[i]`): shingle i = ws[i] ++ ' ' ++ ws[i+1] ++ ' ' ++ ws[i+2].
    *
    * Guarded for <3 words: `sequence(1, 0)` is DESCENDING in Spark (not
    * empty like DuckDB's range), so the unguarded spelling would index
    * past the array and throw under ANSI mode.
    */
  def shingles3(ws: Column): Column =
    when(size(ws) >= 3,
      transform(
        sequence(lit(1), size(ws) - 2),
        i =>
          concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
            element_at(ws, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** The DuckDB spelling of [[normText]] / word split, for oracle reuse. */
  val sqlNorm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  val sqlWords = s"string_split($sqlNorm, ' ')"
  val sqlShingles =
    "list_transform(range(1, greatest(len(ws)-2, 0)+1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  private val deStop = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
  private val frStop = Seq("le", "la", "et", "les", "des", "est", "un", "une", "du", "pas")

  private def sqlList(xs: Seq[String]) = xs.mkString("['", "', '", "']")

  /** DuckDB derivation of q51's quality score — (doc_id, quality) over
    * `documents`, the exact expression tree of the q51 oracle. Shared
    * with Dedup's q127 oracle so the quality-aware survivor election
    * replays the same formula it elects on.
    */
  private[ops] def sqlQuality: String = s"""
      SELECT doc_id,
        ((0.4 * (CAST(len(list_intersect(list_distinct(ws),
            ${sqlList(enStop)})) AS DOUBLE) / CAST(len(ws) AS DOUBLE))
          + 0.3 * (CAST(length(regexp_replace(norm, '[^a-z]', '', 'g'))
            AS DOUBLE) / CAST(length(norm) AS DOUBLE)))
          + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0))
          AS quality
      FROM (SELECT doc_id, $sqlNorm AS norm, $sqlWords AS ws
            FROM documents)"""

  /** Language ID by stopword-list hit counts (n-gram heuristic,
    * SURVEY-absent north-star op). Runs entirely on the word array — no
    * explode, no shuffle beyond the final sort; at 100 TB this is a pure
    * map stage over the document scan.
    */
  def q50LangProfile(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("toks", array_distinct(words(col("text"))))
    val hEn = size(array_intersect(col("toks"), lit(enStop.toArray)))
    val hDe = size(array_intersect(col("toks"), lit(deStop.toArray)))
    val hFr = size(array_intersect(col("toks"), lit(frStop.toArray)))
    d.select(col("doc_id"), col("lang").as("tagged_lang"),
        hEn.as("hits_en"), hDe.as("hits_de"), hFr.as("hits_fr"))
      .withColumn("guess",
        when(col("hits_en") === 0 && col("hits_de") === 0 && col("hits_fr") === 0, "unknown")
          .when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr"), "en")
          .when(col("hits_de") >= col("hits_fr"), "de")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic quality score: stopword ratio, alphabetic ratio, length
    * saturation — weighted sum with a fixed association order so both
    * engines evaluate the identical IEEE expression tree.
    */
  def q51QualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("norm", normText(col("text")))
      .withColumn("ws", split(col("norm"), " "))
    val nTok = size(col("ws"))
    val stopHits = size(array_intersect(array_distinct(col("ws")), lit(enStop.toArray)))
    val alphaLen = length(regexp_replace(col("norm"), "[^a-z]", ""))
    val stopRatio = stopHits.cast("double") / nTok.cast("double")
    // empty norm (an empty/whitespace-only doc — every crawl has them)
    // must yield NULL, not an ANSI divide-by-zero: the `when` with no
    // otherwise IS DuckDB's x/0 semantics (PipelineSpec degenerate test)
    val alphaRatio = when(length(col("norm")) > 0,
      alphaLen.cast("double") / length(col("norm")).cast("double"))
    val lenSat = least(lit(1.0), nTok.cast("double") / lit(100.0))
    d.select(col("doc_id"), nTok.as("n_tokens"),
        stopRatio.as("stop_ratio"), alphaRatio.as("alpha_ratio"),
        ((lit(0.4) * stopRatio + lit(0.3) * alphaRatio) + lit(0.3) * lenSat).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens (letter
    * runs / digit runs / single punctuation), distinct ratio.
    */
  def q52TokenStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("norm", normText(col("text")))
      .withColumn("ws", split(col("norm"), " "))
    d.select(col("doc_id"),
        size(col("ws")).as("n_ws_tokens"),
        size(regexp_extract_all(col("norm"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("n_re_tokens"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        (size(array_distinct(col("ws"))).cast("double") / size(col("ws")).cast("double"))
          .as("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: bottom-4 sketch of the md5'd word-3-gram
    * shingle set (a deterministic min-wise sketch — the same machinery
    * as one MinHash row, kept as hex strings for engine parity), plus a
    * rolling polynomial hash over the normalized characters
    * (h = Σ c·131^k mod 1e9+7 — the incremental-update form a
    * streaming fingerprinter would maintain).
    */
  def q53Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("norm", normText(col("text")))
      .withColumn("ws", split(col("norm"), " ")) // bound before the lambda (no CSE in HOFs)
      .withColumn("sh", array_distinct(shingles3(col("ws"))))
    val rolling = expr("""aggregate(sequence(1, length(norm)), 0L,
        (h, i) -> (h * 131 + ascii(substr(norm, i, 1))) % 1000000007)""")
    d.select(col("doc_id"),
        array_join(slice(array_sort(transform(col("sh"), x => md5(x))), 1, 4), "|")
          .as("fingerprint"),
        when(length(col("norm")) > 0, rolling).otherwise(0L).as("rolling_hash"),
        size(col("sh")).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Gap-based sessionization of the events stream in batch form: a new
    * session starts after a >10-minute silence. One shuffle on user_id;
    * the window + aggregation both ride the same partitioning. The
    * streaming twin lives in [[graft.streaming.Sessionize]].
    */
  def q54Sessionize(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = lit(10L * 60 * 1000 * 1000)
    val newSess = when(
      lag(col("ts_us"), 1).over(w).isNull ||
        col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L)
    e.withColumn("sess_id",
        sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** tf-idf-style top terms per document (SURVEY §7.2 step 5): term
    * frequencies join document frequencies, score = tf × 1/df as the
    * exact integer `tf*1e6 div df` — rank-equivalent per document to
    * linear-idf tf-idf (log-idf is avoided deliberately: ln() is not
    * bit-identical across engines). Two shuffles total (tf groupBy, df
    * groupBy), both partial-aggregated; the df side joins broadcast.
    */
  def q55TfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(df), "term")
      .withColumn("score", expr("(tf * 1000000) div df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Per-language sampling quotas (percent) for [[q56StratifiedSample]];
    * embedded identically in the DuckDB oracle.
    */
  private val sampleRates =
    Seq("en" -> 50, "de" -> 40, "fr" -> 30, "es" -> 20, "zh" -> 10)

  /** Deterministic stratified (quota) sampling — the corpus-mixing step
    * of a training-data pipeline: keep X% per language, chosen by a
    * content-stable hash bucket (`md5(doc_id) % 100`), NOT by rand().
    * Hash-quota sampling is reproducible across runs/engines, streams
    * with the scan (no shuffle, no state), and composes with
    * incremental ingestion — every property rand() sampling lacks at
    * 100 TB. One map stage; the sort is presentation-only.
    */
  def q56StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = expr(
      "cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10) as int) % 100")
    val rate = sampleRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    t(s, dir, "documents")
      .withColumn("bucket", bucket)
      .where(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic weighted sampling without replacement, per source —
    * q56's stratified sampler picks by fixed per-language rates; this
    * one picks by per-document WEIGHT (n_chars here, standing in for
    * any quality/importance score): the integer-priority variant of
    * Efraimidis–Spirakis bottom-k, `priority = floor(h / w)` with h a
    * uniform md5-derived 60-bit key. Doubling a document's weight
    * halves its expected priority, so heavier docs win the per-source
    * bottom-k proportionally more often — and everything is EXACT
    * BIGINT arithmetic (no ln/pow, whose libm bits differ across
    * engines), so the DuckDB twin hash-matches the sample, not just
    * its size. Zero-weight docs clamp to w = 1 rather than dividing
    * by zero.
    *
    * Scale shape: one md5 + one integer division per row (map), one
    * per-source window for the bottom-k. At 100 TB the window's sort
    * is per-source-partition; a skewed giant source can ride q38's
    * salting (sample per (source, salt) at k, re-elect k of the ≤
    * salts·k finalists) — the priorities make the two-level election
    * exact, which is the point of sampling by a KEY instead of a
    * stateful reservoir.
    */
  /** Batch-perceptron epochs for q160, fixed so engine and oracle
    * unroll the same training. Full-batch perceptron has no online
    * convergence theorem — the first ~5 epochs oscillate on this
    * feature space — but the run settles: measured training accuracy
    * at 17 epochs is 0.978 / 0.994 / 0.987 at sf0.001 / 0.01 / 0.1
    * against a ~0.50 majority baseline (PerceptronSpec asserts the
    * margin over baseline on the real table).
    */
  val PerceptronEpochs = 17

  /** q160 — a TRAINED linear classifier with exactly-replayable
    * training: batch perceptron that DISTILLS the q68 quality gate
    * (q51's score ≥ 0.42 — ratio arithmetic over two regex scans)
    * into an integer linear scorer, the cheap first-pass filter a
    * 100 TB pipeline runs before paying for the full gate. Features
    * are the gate's own signals under the engine's scaled-integer
    * discipline (‰ stopword ratio, ‰ alpha ratio, saturated length —
    * all BIGINT, division-guarded for empty docs); the label is the
    * gate's decision. Each epoch computes every row's margin y·(w·x)
    * under the current weights, sums y·x over the misclassified rows
    * (margin ≤ 0) and adds that to w — all in BIGINT, so training is
    * order-independent and bit-exact across engines (a property
    * logistic-loss gradient descent cannot give a hash-compared
    * oracle: float gradient sums depend on partition order and libm
    * rounding). The oracle unrolls all [[PerceptronEpochs]] epochs as
    * chained one-row CTEs — TRAINING replay, not just scoring replay.
    *
    * Scale shape: per epoch one filter + partial-agg sum collapsing
    * to a 4-long weight vector (model-sized collect, the Lloyd
    * discipline); scoring is a map expression. Epochs are a
    * driver-side loop, never driver-side data — the same shape as
    * k-means, so 100 TB costs epochs × one corpus scan (and the
    * scan is one localCheckpointed integer-feature frame, derived
    * once).
    */
  /** The q160 featurizer + gate label over a (doc_id, text) frame —
    * ONE shared code path for the batch entry (whole corpus) and the
    * streaming scoring twin ([[graft.streaming.EventStreams
    * .perceptronScoreStream]], per micro-batch), so streamed ==
    * batch scoring is mechanism. Output: (doc_id, y, x0..x3), every
    * feature BIGINT and division-guarded.
    */
  private[graft] def perceptronFeatures(d0: DataFrame): DataFrame = {
    val d = d0
      .withColumn("norm", normText(col("text")))
      .withColumn("ws", split(col("norm"), " "))
    val nTok = size(col("ws")).cast("long")
    val stopHits = size(array_intersect(array_distinct(col("ws")),
      lit(enStop.toArray))).cast("long")
    val alphaLen = length(regexp_replace(col("norm"), "[^a-z]", ""))
      .cast("long")
    val normLen = length(col("norm")).cast("long")
    // q51's exact score (shared expression tree) -> the q68 gate label
    val stopRatio = stopHits.cast("double") / nTok.cast("double")
    val alphaRatio = when(normLen > 0,
      alphaLen.cast("double") / normLen.cast("double"))
    val lenSat = least(lit(1.0), nTok.cast("double") / lit(100.0))
    val quality = (lit(0.4) * stopRatio + lit(0.3) * alphaRatio) +
      lit(0.3) * lenSat
    d.select(col("doc_id"),
        when(quality >= 0.42, 1L).otherwise(-1L).as("y"),
        stopHits.as("sh"), nTok.as("nt"), alphaLen.as("al"),
        normLen.as("nl"))
      .select(col("doc_id"), col("y"), lit(1L).as("x0"),
        // `div` = integral division, == DuckDB's // on non-negatives
        expr("(1000 * sh) div nt").as("x1"),
        when(col("nl") > 0, expr("(1000 * al) div nl")).otherwise(0L)
          .as("x2"),
        least(lit(1000L), lit(10L) * col("nt")).as("x3"))
  }

  /** Score a feature frame under trained weights — the serving half
    * shared by q160's final projection and the streaming twin.
    */
  private[graft] def perceptronPredictions(feats: DataFrame,
      w: Array[Long]): DataFrame = {
    val score = perceptronScore(w)
    feats.select(col("doc_id"), col("y").cast("int").as("label"),
        score.as("score"),
        when(score > 0, 1).otherwise(-1).cast("int").as("pred"))
      .withColumn("correct", col("pred") === col("label"))
  }

  def q160BatchPerceptron(s: SparkSession, dir: String): DataFrame = {
    val feats = perceptronFeatures(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .localCheckpoint() // every epoch + the final scoring read it
    val w = trainPerceptron(feats, PerceptronEpochs)
    stagePerceptron(s, dir, w)
    perceptronPredictions(feats, w).orderBy(col("doc_id"))
  }

  /** Stage the trained weights as a 1-row parquet — the model asset
    * the streaming scorer serves from (training amortizes across the
    * stream's whole lifetime, the ANN index discipline applied to the
    * classifier).
    */
  private def stagePerceptron(s: SparkSession, dir: String,
      w: Array[Long]): Unit = {
    import s.implicits._
    val work = graft.ops.Dedup.stageRoot(dir)
    Seq((w(0), w(1), w(2), w(3))).toDF("w0", "w1", "w2", "w3")
      .repartition(1)
      .stagePublish(work, "perceptron_weights")
  }

  private def perceptronScore(w: Array[Long]): Column =
    w.zipWithIndex.map { case (wi, i) => lit(wi) * col(s"x$i") }
      .reduce(_ + _)

  /** The q160 training loop, factored for the spec's planted frames:
    * `feats` carries (y ∈ {−1, +1}, x0..x3 BIGINT); each epoch adds
    * Σ y·x over the rows with margin y·(w·x) ≤ 0. Integer arithmetic
    * throughout — order-independent, so the trained weights are a
    * pure function of the input set and the epoch count.
    */
  private[ops] def trainPerceptron(feats: DataFrame,
      epochs: Int): Array[Long] = {
    var w = Array.fill(4)(0L)
    for (_ <- 1 to epochs) {
      val upd = feats.where(col("y") * perceptronScore(w) <= 0)
        .agg(coalesce(sum(col("y") * col("x0")), lit(0L)).as("u0"),
          coalesce(sum(col("y") * col("x1")), lit(0L)).as("u1"),
          coalesce(sum(col("y") * col("x2")), lit(0L)).as("u2"),
          coalesce(sum(col("y") * col("x3")), lit(0L)).as("u3"))
        .collect()(0) // model-sized: one 4-long row per epoch
      w = w.indices.map(i => w(i) + upd.getLong(i)).toArray
    }
    w
  }

  def q132WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val win = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars"), lit(1L)).as("weight"))
      .withColumn("h", expr(
        "cast(conv(substr(md5(concat('ws:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)"))
      .withColumn("priority", expr("h div weight"))
      .withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
      .select(col("source"), col("rank"), col("doc_id"), col("weight"),
        col("priority"))
      .orderBy(col("source"), col("rank"))
  }

  /** Fixed-length sequence packing — the chunking step that turns
    * variable-length documents into training windows: 64-token chunks
    * on a 56-token stride (8-token overlap), every start kept so no
    * token is dropped. Emitted as (chunk_idx, n_tokens, md5-of-chunk):
    * content-verifying without megabyte rows. Generator stage over the
    * scan — no shuffle beyond the presentation sort; at 100 TB this is
    * the map phase feeding the tokenizer.
    */
  /** Block size (docs) for [[q177TokenStreamPack]]'s distributed
    * prefix sum: within-block cumsums parallelize over blocks, and the
    * block-offsets frame is corpus/B rows. 256 keeps that frame a few
    * dozen rows at the test sfs; production would size B so each
    * level's offsets frame fits one task (10⁸ docs at B = 10⁶ → 100
    * offset rows; a third level is only needed past ~B² docs).
    */
  val PackBlockDocs = 256L

  /** Tokens per training bin for [[q177TokenStreamPack]] — the
    * fixed sequence length the packed stream is sliced into.
    */
  val PackBinTokens = 256L

  /** q177 — token-stream PACKING index: the multi-DOC half of the
    * packing story (q58 chunks within a doc; production training
    * pipelines first CONCATENATE docs into one continuous token
    * stream, then slice fixed-length sequences across doc boundaries
    * — GPT-style packing, zero padding by construction). Per doc (in
    * doc_id order): its global token offset in the concatenated
    * stream, the training bin (`global_start div PackBinTokens`) its
    * first token lands in, and the offset inside that bin — the index
    * a sample loader needs to map sequences back to documents.
    *
    * The global running sum is NOT a global window (that is a
    * single-partition sort — the exact anti-pattern WindowExec warns
    * about): it is the classic two-level distributed prefix sum.
    * Within-block cumsums run as a window PARTITIONED by block
    * (parallel, shuffle on block id); block totals aggregate to a
    * corpus/[[PackBlockDocs]]-row frame whose exclusive prefix sum IS
    * computed on one partition — deliberately, because that frame is
    * model-sized, not corpus-sized (the scaladoc ladder above says
    * when a third level would be needed) — and broadcast back. The
    * DuckDB oracle spells the same quantity as the naive global
    * window, so the hash match certifies the decomposition exactly.
    */
  def q177TokenStreamPack(s: SparkSession, dir: String): DataFrame =
    packIndexOfCounts(tokenCountsOf(t(s, dir, "documents")))

  /** The full q177 packing index over an arbitrary (doc_id, n_tokens)
    * counts frame — shared verbatim by the batch entry and the
    * streaming ingest twin ([[graft.streaming.EventStreams
    * .packIngestStream]] folds counts into a durable log; the index is
    * THIS derivation over it), so stream == batch is mechanism, not
    * coincidence.
    */
  private[graft] def packIndexOfCounts(counts: DataFrame): DataFrame =
    tokenStreamIndexOfCounts(counts)
      .withColumn("bin_id",
        floor(col("global_start") / PackBinTokens).cast("long"))
      .withColumn("offset_in_bin",
        (col("global_start") % PackBinTokens).cast("long"))
      .orderBy(col("doc_id"))

  /** Per-doc whitespace token counts — the single corpus-heavy input
    * of the packing family, factored out so the streaming ingest twin
    * tokenizes through the exact batch kernel.
    */
  private[graft] def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_tokens"))

  /** The (doc_id, n_tokens, global_start) stream index — q177's
    * two-level distributed prefix sum, shared with [[q178BinManifest]]
    * so the forward and reverse indexes derive from one mechanism.
    */
  private def tokenStreamIndex(s: SparkSession, dir: String): DataFrame =
    tokenStreamIndexOfCounts(tokenCountsOf(t(s, dir, "documents")))

  private[graft] def tokenStreamIndexOfCounts(counts: DataFrame): DataFrame = {
    // eager checkpoint: BOTH prefix-sum levels (the per-block window
    // and the block-totals aggregate) consume this frame — without it
    // each level re-scans and re-tokenizes the text column, doubling
    // the one corpus-heavy stage this operator has (the q31 note)
    val toks = counts
      .select(col("doc_id"), col("n_tokens"),
        (col("doc_id") / PackBlockDocs).cast("long").as("blk"))
      .localCheckpoint()
    val wBlk = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
    val local = toks.withColumn("local_end",
      sum(col("n_tokens")).over(
        wBlk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val blkOff = toks.groupBy(col("blk"))
      .agg(sum(col("n_tokens")).as("blk_sum"))
      .withColumn("blk_off",
        coalesce(sum(col("blk_sum")).over(
          Window.orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("blk"), col("blk_off"))
    local.join(broadcast(blkOff), "blk")
      .select(col("doc_id"), col("n_tokens"),
        (col("blk_off") + col("local_end") - col("n_tokens"))
          .as("global_start"))
  }

  /** q178 — BIN MANIFEST: q177's index REVERSED, which is what a
    * sample loader actually reads — "give me training sequence b" =
    * the (doc, skip, take) slices whose concatenation, in doc order,
    * IS bin b's [[PackBinTokens]] tokens. Each doc explodes to the
    * bins its token range [global_start, global_start + n_tokens)
    * overlaps: `skip` tokens of the doc precede the bin, `take`
    * tokens belong to it. Every bin except the ragged last one sums
    * to exactly [[PackBinTokens]] takes — packing has zero padding by
    * construction, and the spec asserts that invariant corpus-wide.
    *
    * Scale shape: the index's two-level prefix sum, then one
    * generator (a doc emits one row per spanned bin — total rows =
    * corpus tokens / bin + docs, linear) and the presentation sort.
    * No joins beyond q177's broadcast; the explode is
    * whole-stage-codegen'd sequence arithmetic.
    */
  /** q179 — deterministic EPOCH SHUFFLE of the training bins: the
    * loader-side reorder every epoch needs, as a keyed-hash rank —
    * epoch e's order is md5(bin_id:e), so the permutation is
    * reproducible from (corpus, epoch) alone, any worker can seek to
    * position p without materializing a shuffled copy, and epochs are
    * decorrelated for free. Emits (epoch, bin_id, pos) for two epochs
    * over q178's bin universe.
    *
    * The interesting half is the RANK: a global row_number over the
    * hash order is a single-partition sort at corpus scale, so the
    * rank is decomposed the way q177 decomposes its sum — the hash's
    * FIRST BYTE is a 256-ary range partition of the hash order
    * (ordering by (block, hash) IS ordering by hash, the block being
    * the hash's own prefix), within-block ranks run as parallel
    * windows, and the 256-row-per-epoch block counts fold to
    * exclusive offsets broadcast back. The DuckDB oracle spells the
    * naive global row_number, certifying the decomposition exactly;
    * ties (md5 collisions) are broken by bin_id in BOTH spellings so
    * determinism never rests on hash uniqueness.
    */
  def q179EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val bins = q178BinManifest(s, dir).select(col("bin_id")).distinct()
    val keyed = bins
      .withColumn("epoch", explode(lit(Array(0L, 1L))))
      .withColumn("k", md5(concat(col("bin_id").cast("string"),
        lit(":"), col("epoch").cast("string"))))
      .withColumn("blk", substring(col("k"), 1, 2))
      .localCheckpoint() // within-block ranks + block counts both read it
    val wBlk = Window.partitionBy(col("epoch"), col("blk"))
      .orderBy(col("k"), col("bin_id"))
    val local = keyed.withColumn("r", row_number().over(wBlk).cast("long"))
    val offs = keyed.groupBy(col("epoch"), col("blk"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum(col("n")).over(
          Window.partitionBy(col("epoch")).orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("epoch"), col("blk"), col("off"))
    local.join(broadcast(offs), Seq("epoch", "blk"))
      .select(col("epoch"), col("bin_id"),
        (col("off") + col("r")).as("pos"))
      .orderBy(col("epoch"), col("bin_id"))
  }

  def q178BinManifest(s: SparkSession, dir: String): DataFrame = {
    val T = PackBinTokens
    tokenStreamIndex(s, dir)
      .withColumn("bin_id", explode(sequence(
        floor(col("global_start") / T).cast("long"),
        floor((col("global_start") + col("n_tokens") - 1) / T).cast("long"))))
      .select(col("bin_id"), col("doc_id"),
        greatest(col("bin_id") * T - col("global_start"), lit(0L))
          .as("skip"),
        (least((col("bin_id") + 1) * T,
            col("global_start") + col("n_tokens"))
          - greatest(col("bin_id") * T, col("global_start"))).as("take"))
      .orderBy(col("bin_id"), col("doc_id"))
  }

  def q58SequencePack(s: SparkSession, dir: String): DataFrame = {
    val (win, stride) = (64, 56)
    t(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")), lit(stride))).as("start"))
      .select(col("doc_id"),
        // chunk_idx by arithmetic (not posexplode) so the DuckDB twin
        // needs no WITH ORDINALITY
        expr(s"CAST((start - 1) DIV $stride AS BIGINT)").as("chunk_idx"),
        slice(col("ws"), col("start"), lit(win)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q180 — FIM (fill-in-the-middle) span split: the training
    * transform behind infilling-capable code/text models (Bavarian et
    * al. 2022): each document's token sequence is cut into
    * (prefix, middle, suffix) at two DETERMINISTIC points so the
    * loader can re-emit it in PSM/SPM order with sentinel tokens —
    * reproducible from (corpus, doc_id) alone, no RNG state to ship
    * to 1000 executors. Cut derivation: two independent 60-bit md5
    * hashes of the doc id (the q132 keyed-hash discipline) reduced
    * mod n+1 — each cut is uniform over the n+1 token boundaries
    * (0 = before the first token, n = after the last), and
    * (lo, hi) = (min, max) so the three spans partition the sequence
    * with zero-length spans allowed, exactly the reference FIM
    * transform's corner cases. Emitted content-verifying (span md5s +
    * lengths), not as megabyte rows — the q58 discipline.
    *
    * Scale shape: a pure map stage over the corpus scan — per-row
    * hash + slice arithmetic, no join, no aggregation, ZERO data
    * shuffles (the presentation sort is the only exchange). At 100 TB
    * this runs at scan speed alongside tokenization; composing it
    * over q177's packed bins instead of raw docs is the same
    * arithmetic keyed by bin_id.
    */
  def q180FimSpans(s: SparkSession, dir: String): DataFrame = {
    def h60(salt: String) = expr(
      s"cast(conv(substr(md5(concat('$salt:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)")
    val d = t(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("c1", h60("fim1") % (col("n_tokens") + 1))
      .withColumn("c2", h60("fim2") % (col("n_tokens") + 1))
      .withColumn("cut_lo", least(col("c1"), col("c2")))
      .withColumn("cut_hi", greatest(col("c1"), col("c2")))
    d.select(col("doc_id"), col("n_tokens"), col("cut_lo"), col("cut_hi"),
        col("cut_lo").as("p_len"),
        (col("cut_hi") - col("cut_lo")).as("m_len"),
        (col("n_tokens") - col("cut_hi")).as("s_len"),
        md5(array_join(slice(col("ws"), lit(1), col("cut_lo").cast("int")),
          " ")).as("prefix_hash"),
        md5(array_join(slice(col("ws"), (col("cut_lo") + 1).cast("int"),
          (col("cut_hi") - col("cut_lo")).cast("int")), " ")).as("middle_hash"),
        md5(array_join(slice(col("ws"), (col("cut_hi") + 1).cast("int"),
          (col("n_tokens") - col("cut_hi")).cast("int")), " "))
          .as("suffix_hash"))
      .orderBy(col("doc_id"))
  }

  /** q184 — TEMPERATURE sampling across languages (τ = 0.5): the
    * multilingual rebalance of XLM-R/mT5-style recipes — target share
    * p_l ∝ n_l^τ flattens the language distribution (small languages
    * up-weight, the head caps), realized as deterministic Bernoulli
    * thinning: doc accepted iff its keyed 60-bit hash < floor(min(1,
    * p_l·T/n_l)·2⁶⁰), T = total div 4, so the expected accepted
    * profile IS the temperature profile with no RNG state anywhere
    * (any worker re-derives the decision from doc_id alone).
    * Up-sampling (rate > 1) is deliberately clamped — the binding-
    * stratum discipline of q84; a loader repeats rows, an engine does
    * not mint them. Emitted per LANGUAGE (count, before/target shares,
    * accept rate, realized accepted count) — the mix report a recipe
    * review reads.
    *
    * Cross-engine float discipline: n_l^0.5 must never be SUMMED as
    * doubles (addition order differs between engines), so the weight
    * is the scaled INTEGER floor(sqrt(n_l·10¹²)) — IEEE sqrt is
    * correctly rounded, floor is exact, and the normalizer is then an
    * exact BIGINT sum; the only double ops left are single-expression
    * ratios with pinned association, the q87 sufficient-statistics
    * rule. Scale shape: one partial-agg groupBy(lang) + one broadcast
    * of the |langs|-row rate table back onto the scan; the accept
    * filter is per-row hash arithmetic inside the scan stage.
    */
  def q184TemperatureSample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    // the ×10¹² scaling multiplies AFTER the double cast: an integer
    // product would overflow BIGINT past ~9.2M docs per language (a
    // real 100 TB corpus size). The double product is NOT exact once
    // n_docs·10¹² exceeds 2^53 (n_docs > ~9007) — cross-engine
    // equality rests on both engines computing the SAME single IEEE
    // multiply (correctly rounded, same inputs → same bits), then a
    // correctly-rounded sqrt and an exact floor
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w",
        floor(sqrt(col("n_docs").cast("double") * lit(1.0e12)))
          .cast("long"))
      .localCheckpoint() // consumed by the normalizer and the rate join
    val tot = counts.agg(sum(col("n_docs")).as("total"),
      sum(col("w")).as("z"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("share_before",
        col("n_docs").cast("double") / col("total").cast("double"))
      .withColumn("share_target",
        col("w").cast("double") / col("z").cast("double"))
      .withColumn("accept_rate", least(lit(1.0),
        (col("w").cast("double") * expr("cast(total div 4 as double)"))
          / (col("z").cast("double") * col("n_docs").cast("double"))))
      .withColumn("thresh",
        floor(col("accept_rate") * lit(1152921504606846976.0)).cast("long"))
    val accepted = d
      .withColumn("h", expr("cast(conv(substr(md5(concat('temp:', " +
        "cast(doc_id as string))), 1, 15), 16, 10) as bigint)"))
      .join(broadcast(rates.select(col("lang"), col("thresh"))), "lang")
      .where(col("h") < col("thresh"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_accepted"))
    rates.join(accepted, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("share_before"),
        col("share_target"), col("accept_rate"),
        coalesce(col("n_accepted"), lit(0L)).as("n_accepted"))
      .orderBy(col("lang"))
  }

  /** q183 — WATER-FILLING token-budget allocation across sources: given
    * per-source token counts and a total training budget (here the
    * deterministic `total div 2`), find the unique cap `t` such that
    * every source contributes min(n_s, t) and the sum fills the budget
    * — the standard data-recipe step (epoch budgeting à la Pile/LLaMA
    * mixes) that up-weights small domains without letting one giant
    * crawl eat the budget. Exact integer arithmetic throughout: sources
    * sort ascending by count, the landing level is the FIRST i where
    * floor((B − cum_before_i) / remaining_i) < n_i, and the closed form
    * needs no iteration (the same sorted-cumsum trick as q177's
    * prefix sum, applied to the source table).
    *
    * Scale shape: ONE corpus-heavy partial-agg groupBy(source); every
    * subsequent frame is |sources|-sized (the partitionless windows are
    * deliberate and model-sized — the q177 block-offsets argument), and
    * the cap broadcasts back. Σ alloc ≤ B with B − Σ alloc < #capped
    * sources (the loader absorbs the sub-source remainder); `capped`
    * marks the sources the cap actually binds.
    */
  def q183TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("source"),
        size(words(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .localCheckpoint() // consumed by levels, the cap fold, and the output
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val lev = counts
      .withColumn("i", row_number().over(w))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("m",
        count(lit(1)).over(
          w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .crossJoin(broadcast(
        counts.agg(expr("sum(n_tokens) div 2").as("budget"))))
      .withColumn("t_cand", expr("(budget - cum_before) div m"))
    // first level whose candidate cap undercuts its own count = the
    // landing level; none ⇒ the budget covers everything (cap = max n).
    // Rows past the landing level may see negative (budget-cum_before)
    // whose div semantics differ across engines — harmless, because
    // min-by-i always selects the landing level, where the numerator
    // is provably non-negative (all earlier sources fit the budget).
    val eligible = lev.where(col("t_cand") < col("n_tokens"))
      .agg(min_by(col("t_cand"), col("i")).as("cap_e"))
    val capF = eligible
      .crossJoin(broadcast(counts.agg(max(col("n_tokens")).as("nmax"))))
      .select(coalesce(col("cap_e"), col("nmax")).as("cap"))
    counts.crossJoin(broadcast(capF))
      .select(col("source"), col("n_tokens"), col("cap"),
        least(col("n_tokens"), col("cap")).as("alloc"),
        (col("n_tokens") > col("cap")).as("capped"))
      .orderBy(col("source"))
  }

  /** Repetition scoring — the Gopher-style quality signals that catch
    * templated/looping text: the duplicate word-2-gram fraction
    * (1 − distinct/total bigrams) and the top-word mass fraction
    * (count of the most frequent word / total words). The bigram
    * fraction is computed array-native on the scan (pure map stage);
    * the top-word count goes through explode → two partial-aggregated
    * groupBys — the linear, shuffle-bounded shape, not the O(n²)
    * per-row array scan. At 100 TB both signals stream with the
    * corpus scan plus one doc_id-partitioned aggregation.
    */
  def q63RepetitionScore(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
    val big = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val dupFrac = d.select(col("doc_id"), big.as("g2"))
      .select(col("doc_id"),
        when(size(col("g2")) > 0,
          lit(1.0) - size(array_distinct(col("g2"))).cast("double")
            / size(col("g2")).cast("double"))
          .otherwise(0.0).as("dup_bigram_frac"))
    val top = d.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_cnt"), sum(col("c")).as("n_words"))
    dupFrac.join(top, "doc_id")
      .select(col("doc_id"), col("n_words"),
        (col("top_cnt").cast("double") / col("n_words").cast("double"))
          .as("top_word_frac"),
        col("dup_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Click→purchase attribution — the interval self-join every event
    * pipeline runs: for each purchase, the clicks by the same user in
    * the preceding 30 minutes; the LATEST such click wins attribution
    * (`row_number` desc — identical spelling in both engines; ties on
    * the timestamp break by click_id, deterministic).
    *
    * Scale shape: both event slices shuffle once on `user_id` and the
    * range predicate is evaluated inside the equi-join on user — never
    * a cartesian; the per-user group is watermark-bounded in the
    * streaming twin ([[graft.streaming.EventStreams.attributionPairs]],
    * asserted equal in EventStreamsSpec). Timestamps ride as
    * epoch-micros BIGINTs (the q54 parity rule).
    */
  def q67ClickAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("click_us"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"), col("value"))
    val horizonUs = lit(30L * 60 * 1000 * 1000)
    val pairs = purchases.join(clicks, Seq("user_id"))
      .where(col("click_us") <= col("purchase_us") &&
        col("click_us") > col("purchase_us") - horizonUs)
    val byPurchase = Window.partitionBy(col("purchase_id"))
    pairs
      .withColumn("rk", row_number().over(
        byPurchase.orderBy(col("click_us").desc, col("click_id").desc)))
      .withColumn("n_clicks", count(lit(1)).over(byPurchase))
      .where(col("rk") === 1)
      .select(col("purchase_id"), col("user_id"),
        col("click_id").as("attributed_click"),
        (col("purchase_us") - col("click_us")).as("lag_us"),
        col("n_clicks"), col("value"))
      .orderBy(col("purchase_id"))
  }

  /** End-to-end corpus prep — the composition every training pipeline
    * actually ships: exact-dedup survivors (q30's min-id election) →
    * quality gate (q51's formula, ≥ 0.42 ≈ the corpus median) →
    * fixed-length sequence packing (q58's 64/56 window/stride), as ONE
    * declarative plan. The point over running q30+q51+q58 separately:
    * Catalyst fuses the three stages — the survivor election is the
    * only wide shuffle (hash groupBy + semi-join on doc_id), the
    * quality gate and the packing ride the same scan, and dropped
    * documents never reach the explode. The staged-parquet variant of
    * this composition is q37; this is the single-job form.
    */
  def q68CorpusPrep(s: SparkSession, dir: String): DataFrame = {
    val (win, stride) = (64, 56)
    val d = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .withColumn("ws", split(col("norm"), " "))
    // stage 1: exact-dedup — the min doc_id per normalized-hash group
    // survives (same election as q30), applied via a doc_id semi-join
    val canonIds = d.select(col("doc_id"), md5(col("norm")).as("nh"))
      .groupBy(col("nh")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // stage 2: quality gate — q51's exact expression tree (fixed
    // association order, bit-identical in DuckDB)
    val nTok = size(col("ws"))
    val stopRatio = size(array_intersect(array_distinct(col("ws")),
      lit(enStop.toArray))).cast("double") / nTok.cast("double")
    // NULL (not ANSI error) on empty norm — matches DuckDB x/0 and
    // makes the gate drop degenerate docs (NULL >= 0.42 filters out)
    val alphaRatio = when(length(col("norm")) > 0,
      length(regexp_replace(col("norm"), "[^a-z]", ""))
        .cast("double") / length(col("norm")).cast("double"))
    val lenSat = least(lit(1.0), nTok.cast("double") / lit(100.0))
    val quality = (lit(0.4) * stopRatio + lit(0.3) * alphaRatio) +
      lit(0.3) * lenSat
    // stage 3: packing — q58's windowed slices over what survived
    d.join(canonIds, Seq("doc_id"), "left_semi")
      .where(quality >= 0.42)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")), lit(stride))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) DIV $stride AS BIGINT)").as("chunk_idx"),
        slice(col("ws"), col("start"), lit(win)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Per-language length-outlier filter — the CCNet-style hygiene step:
    * a document survives if its token count sits inside the central
    * [5%, 95%] of ITS OWN language's length distribution (absolute
    * thresholds misfire across languages — Chinese runs shorter in
    * tokens than German). `percent_rank` is spelled identically in both
    * engines; the tie-break on doc_id makes the rank (and thus the
    * boundary rows) deterministic. Scale shape: one shuffle on `lang`
    * (a handful of partitions — skew-prone, but the per-row state is
    * one long, and a window over lang is exactly what AQE's skew
    * handling splits); everything else rides the scan.
    */
  def q69LengthFilter(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), size(words(col("text"))).as("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens"), col("doc_id"))
    d.withColumn("pr", percent_rank().over(w))
      .where(col("pr") >= 0.05 && col("pr") <= 0.95)
      .select(col("doc_id"), col("lang"), col("n_tokens"), dcol(col("pr")).as("pr"))
      .orderBy(col("doc_id"))
  }

  /** Hopping (sliding) time windows in batch — `window(ts, 1h, 30m)`,
    * the batch twin of the streaming window family: every event lands
    * in exactly width/slide = 2 overlapping windows. Spark's generator
    * expands the window struct inline (no join against a spine — q66
    * covers the generated-calendar shape); the DuckDB twin spells the
    * same membership arithmetically (each event's two slide-aligned
    * window starts, unnested). Epoch-aligned origin on both sides, so
    * boundaries agree exactly. One shuffle on (window, event_type),
    * partial-aggregated — at 100 TB the 2× row expansion happens
    * map-side and combines before it moves.
    */
  def q77HoppingWindow(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
      .select(timestamp_micros(col("ts_us")).as("tsm"),
        col("event_type"), col("value"))
    e.groupBy(window(col("tsm"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        unix_micros(col("window.end")).as("w_end_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("w_start_us"), col("event_type"))
  }

  /** Heavy-hitter tokens certified through a count-min sketch — the
    * frequency member of the approx-sketch family (q28 cardinality,
    * q46 quantiles), same hash-checkable envelope discipline: the
    * exact top-20 token counts are computed by a partial-aggregated
    * groupBy, the corpus-wide CMS is built by Spark's
    * `count_min_sketch` aggregate (mergeable elementwise-sum partials
    * — one model-sized binary leaves the shuffle), and
    * `within_envelope` is evaluated IN-PLAN by the codegen'd
    * [[graft.functions.CountMinEstimate]] probe:
    * `exact ≤ estimate ≤ exact + ⌈eps·N⌉`. The lower bound is CMS's
    * deterministic overestimate-only guarantee; the upper is the
    * (eps, 99%) error bound. The DuckDB oracle computes the exact
    * counts and literal `true`, so a hash match certifies both the
    * exact aggregation and the sketch's envelope.
    *
    * At 100 TB the production form is the sketch pass alone (one scan,
    * constant memory, mergeable across executors — the point of CMS);
    * the exact twin here is the certification harness, exactly as
    * q28 carries `exact_parts` beside `approx_parts`.
    */
  def q83HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.0005
    val toks = t(s, dir, "documents")
      .select(explode(words(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    // the sketch and the token total are the MODEL side: one binary +
    // one long collect (not a data collect), exactly like the k-means
    // codebook in Similarity.trainCodebook
    val r = toks.agg(
      count(lit(1)).as("n_tokens"),
      expr(s"count_min_sketch(token, ${eps}d, 0.99d, 42)").as("cms")).head()
    val total = r.getLong(0)
    val cms = r.getAs[Array[Byte]](1)
    val slack = math.ceil(eps * total).toLong
    toks.groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token"))
      .limit(20)
      .select(col("token"), col("exact_count"),
        call_function("cms_estimate", col("token"), lit(cms))
          .between(col("exact_count"), col("exact_count") + lit(slack))
          .as("within_envelope"))
      .orderBy(col("exact_count").desc, col("token"))
  }

  /** Training-mix weights for [[q84WeightedMix]] — FP-exact binary
    * fractions (0.25 / 0.125) so `floor(w · scale)` is bit-identical
    * across engines with no decimal-vs-double rounding edge.
    */
  private val mixWeights = Seq(
    "en" -> 0.25, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.125, "zh" -> 0.125)

  /** Deterministic data mixing — downsample the corpus to TARGET
    * language proportions (the Pile/Dolma-style mixing step that q56's
    * fixed-rate sampler does not do): the quota for each language is
    * derived by water-filling, `quota_l = ⌊w_l · scale⌋` with
    * `scale = min_l(n_l / w_l)`, so the binding stratum is fully
    * consumed, every other stratum is downsampled to match, and no
    * stratum ever upsamples. Document selection is exact-quota and
    * deterministic: rank within language by (md5(doc_id), doc_id) —
    * a seedless shuffle both engines spell identically — and keep
    * ranks ≤ quota.
    *
    * Scale shape: the counts/quota side is |langs| rows (broadcast
    * join); the data side pays ONE shuffle for the per-language rank
    * window (same skew note as q69: per-row window state is one long,
    * and AQE splits a hot language). At 100 TB this replaces the
    * usual collect-counts-then-hardcode-rates loop with a single
    * self-calibrating plan.
    */
  def q84WeightedMix(s: SparkSession, dir: String): DataFrame = {
    val wcol = mixWeights.foldLeft(lit(0.0)) { case (acc, (l, w)) =>
      when(col("lang") === l, lit(w)).otherwise(acc)
    }
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w", wcol)
      .where(col("w") > 0) // unweighted languages take no quota
    // scalar scale via aggregate + broadcast cross join (a partition-less
    // window would single-partition the frame — harmless at |langs| rows
    // but noisy in the plan)
    val quotas = counts
      .crossJoin(broadcast(counts.agg(min(col("n") / col("w")).as("scale"))))
      .select(col("lang"), floor(col("w") * col("scale")).as("quota"))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.withColumn("mix_rank", row_number().over(rw))
      .join(broadcast(quotas), "lang")
      .where(col("mix_rank") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("mix_rank"))
      .orderBy(col("doc_id"))
  }

  /** Distributed descriptive statistics + least-squares fit — the
    * corpus-profiling pass (and the scaling-law fit machinery) every
    * pipeline runs before mixing decisions: per-language Pearson
    * correlation and the OLS regression line of token count on
    * character count.
    *
    * Numeric parity design: the five sufficient statistics
    * (Σx, Σy, Σx², Σy², Σxy) are EXACT BIGINT sums — associative and
    * order-independent, so partial aggregation (map-side combine)
    * is free and partitioning can never flip a bit. Only the final
    * per-group formulas run in IEEE double, over one fixed expression
    * tree spelled identically in the DuckDB oracle. (Plain
    * `corr()`/`regr_slope()` would stream doubles in partition order —
    * ulp-nondeterministic across engines AND across runs; this is the
    * same reason [[Tables.dsum]] exists.) One partial-aggregated
    * shuffle on lang; at 100 TB this is the cheapest possible shape —
    * a 5-long-counters-per-group aggregate over the scan. Degenerate
    * groups (zero variance) yield NULL, not a divide-by-zero.
    */
  def q87CorrStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("lang"), col("n_chars").as("x"),
        size(words(col("text"))).cast("long").as("y"))
    val g = d.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    // exact longs -> doubles once, then one fixed-shape formula
    val (n, sx, sy) = (col("n").cast("double"), col("sx").cast("double"),
      col("sy").cast("double"))
    val (sxx, syy, sxy) = (col("sxx").cast("double"),
      col("syy").cast("double"), col("sxy").cast("double"))
    val covn = n * sxy - sx * sy
    val varxn = n * sxx - sx * sx
    val varyn = n * syy - sy * sy
    val slope = covn / varxn
    g.select(col("lang"), col("n"),
        when(varxn > 0 && varyn > 0, covn / (sqrt(varxn) * sqrt(varyn)))
          .as("corr_chars_tokens"),
        when(varxn > 0, slope).as("slope"),
        when(varxn > 0, (sy - slope * sx) / n).as("intercept"))
      .orderBy(col("lang"))
  }

  /** PII scrubbing — the redaction pass a training corpus gets before
    * anything else sees it: emails and phone-shaped digit runs are
    * counted and replaced with typed placeholder tags. The regexes use
    * only character classes and counted repetition, the subset with
    * identical semantics in Java regex and RE2 (file-header parity
    * rule), and replacement order is fixed (emails first) so both
    * engines rewrite the identical string.
    *
    * The driver corpus is digit-free, so the op would be vacuously
    * green on raw text; instead the query PLANTS one email and one
    * phone per document in-plan (a deterministic augmentation both
    * engines construct identically — the same twin-construction trick
    * as q62's encode→decode) and then must scrub them back out. The
    * hash compare therefore certifies detection counts AND the exact
    * rewritten bytes; `residue_free` re-scans the scrubbed text and
    * must be uniformly true. Pure map stage: zero shuffle at any
    * scale. PiiSpec additionally pins tricky fixtures (dots/plus
    * addressing, adjacent PII, no-PII text).
    */
  def q88PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
    val phoneRe = "\\+[0-9][0-9-]{6,}[0-9]"
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-01"), col("doc_id").cast("string"))
    val d = t(s, dir, "documents").withColumn("aug", planted)
    val scrubbed = regexp_replace(
      regexp_replace(col("aug"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
    d.select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0)))
          .as("n_phones"),
        md5(scrubbed).as("scrub_hash"),
        (size(regexp_extract_all(scrubbed, lit(emailRe), lit(0))) === 0 &&
          size(regexp_extract_all(scrubbed, lit(phoneRe), lit(0))) === 0)
          .as("residue_free"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model statistics — the n-gram counting pass under
    * classical LM pretraining and data-quality heuristics: per-language
    * top-3 bigrams by count, each with its conditional probability
    * p(w2|w1) = c(w1,w2) / c(w1,·).
    *
    * Shape: the bigram list is built array-native on the scan (index
    * arithmetic, no posexplode, so the DuckDB twin needs no
    * ORDINALITY), then ONE partial-aggregated groupBy on
    * (lang,w1,w2); the denominator c(w1,·) rides a window over the
    * counted frame — partitioned by (lang,w1), it reuses the groupBy's
    * hash partitioning rather than paying a second full shuffle of the
    * token stream. The division is exact-long → one IEEE divide, both
    * engines identical. Docs under 2 words contribute no rows (range
    * upper bound clamps to empty in both engines — same guard family
    * as [[shingles3]]).
    */
  def q89BigramLm(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("lang"), words(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("lang"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("lang"), element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
    val counted = d.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val headW = Window.partitionBy(col("lang"), col("w1"))
    val rankW = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
    counted
      .withColumn("head_cnt", sum(col("cnt")).over(headW))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= 3)
      .select(col("lang"), col("rank"), col("w1"), col("w2"), col("cnt"),
        (col("cnt").cast("double") / col("head_cnt").cast("double"))
          .as("cond_p"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Bigram-LM fluency filter — the CCNet/Wenzek-style perplexity gate
    * in the repo's hash-exact linear domain: every document is scored
    * by the MEAN add-one-smoothed conditional probability of its
    * bigrams under the corpus's own per-language bigram LM (q89's
    * model, consumed instead of reported), and docs scoring under
    * half the corpus mean are flagged for the drop the real pipeline
    * applies before training. Linear-domain mean-p stands in for
    * log-perplexity deliberately (q55/q94's ln()-avoidance rule:
    * ln is not bit-identical across engines; the RANKING the filter
    * needs survives the monotone change of scale) and every scored
    * value is BIGINT — p(w2|w1) ≈ (c₁₂+1)·10⁶ div (c₁+V) with V the
    * language's head-vocabulary size, so the hash compare certifies
    * the model, the scoring, and the verdicts.
    *
    * Scale shape: the LM is q89's ONE partial-agg bigram shuffle;
    * head counts and V are narrow aggregates OF that table (the q94
    * sufficient-statistic discipline); scoring joins the per-doc
    * bigram stream against the vocabulary²-sized model on
    * (lang, w1, w2) — a hash equi-join — then one doc_id groupBy;
    * the corpus-mean cut rides a broadcast 1-row scalar (q65's
    * pattern). The doc bigram stream is RE-DERIVED for the scoring
    * join rather than checkpointed: it is corpus-sized, and a second
    * scan beats materializing it (the opposite call from the
    * model-sized staged tables — size decides). Docs with <2 tokens
    * have no bigrams: they surface with n_bigrams=0, NULL mean, and
    * keep=false (nothing to attest fluency), via a left join from
    * the full documents table.
    */
  def q119PerplexityFilter(s: SparkSession, dir: String): DataFrame = {
    def bigrams = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), words(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"), col("lang"),
        element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
    val counted = bigrams.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val heads = counted.groupBy(col("lang"), col("w1"))
      .agg(sum(col("cnt")).as("c1"))
    val vocab = heads.groupBy(col("lang")).agg(count(lit(1)).as("v"))
    val p = counted
      .join(heads, Seq("lang", "w1"))
      .join(broadcast(vocab), Seq("lang"))
      .select(col("lang"), col("w1"), col("w2"),
        expr("((cnt + 1) * 1000000) div (c1 + v)").as("p_1e6"))
    val scored = bigrams
      .join(p, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_1e6")).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_p div n_bigrams").as("mean_p_1e6"))
    val cut = scored.agg(
      expr("sum(mean_p_1e6) div count(1)").as("corpus_mean_1e6"))
    t(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(cut))
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_p_1e6"), col("corpus_mean_1e6"),
        coalesce(col("mean_p_1e6") * 2 >= col("corpus_mean_1e6"),
          lit(false)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** BM25 ranking — the retrieval scorer behind corpus search and
    * hard-negative mining. Okapi BM25 with k1=1.2, b=0.75, computed as
    * EXACT BIGINT rational arithmetic end to end: with corpus totals
    * T = Σ tokens and N = docs, the tf saturation term
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) reduces (avgdl = T/N,
    * k1 = 6/5, b = 3/4) to the integer-exact
    * `44·T·tf·10⁶ div (20·T·tf + 6·T + 18·dl·N)`, and the idf factor
    * uses the exact rational inside BM25's log — (N−df+½)/(df+½) =
    * (2N−2df+1)/(2df+1) — a linear-idf variant (same deliberate choice
    * as q55: ln() is not bit-identical across engines). Top-3 terms
    * per doc by (score, term).
    *
    * Scale shape: tf and dl are partial-aggregated groupBys on the
    * exploded token stream; df is vocabulary-sized and joins
    * broadcast; (T, N) is a 2-long scalar that rides a broadcast
    * cross join — the same self-calibrating-constant pattern as q84's
    * water-fill scale. The BIGINT envelope is T·max(tf) < ~2.1·10¹¹
    * (44·T·tf·10⁶ < 2⁶³ — the per-doc term frequency multiplies the
    * corpus total, so a 10¹⁰-token corpus only fits terms with
    * tf ≤ 20 in any one doc); past that the same plan runs with the
    * scores in DECIMAL(38,0), where DuckDB's BIGINT multiply would
    * raise rather than wrap.
    */
  def q94Bm25(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .where(length(col("term")) > 0)
    // tf is the minimal sufficient statistic: dl, df, and the corpus
    // totals are all narrow aggregates OF tf, so the token stream is
    // exploded and shuffled exactly once (ReuseExchange dedups the
    // shared groupBy subplan) — the 10× probe measured the naive
    // 4-derivation spelling at 2× over linear (SCALING.md)
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = dl.agg(sum(col("dl")).as("t_total"),
      count(lit(1)).as("n_docs"))
    val scored = tf.join(dl, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(totals))
      .withColumn("tf_part_1e6", expr(
        "(44 * t_total * tf * 1000000) div (20 * t_total * tf + 6 * t_total + 18 * dl * n_docs)"))
      .withColumn("score", expr(
        "(tf_part_1e6 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("dl"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Inter-document boilerplate removal — the CCNet-style hygiene pass
    * that strips content REPEATED ACROSS documents (headers, footers,
    * license blocks) while q63 handles within-doc repetition. The text
    * has no line structure, so the unit is a fixed 5-word segment
    * (non-overlapping stride); a segment whose text occurs in ≥2
    * DISTINCT documents is boilerplate and is dropped from every
    * document. Output: the surviving segments (content-verified by
    * md5) plus each doc's total/dropped counts, so the hash compare
    * certifies both the kept bytes and the drop accounting.
    *
    * Scale shape: one explode → distinct → partial-aggregated groupBy
    * builds the document-frequency table; only segments at df≥2 ride
    * the (filtered, small) broadcast membership join back — the same
    * filtered-broadcast discipline as q57's contaminated-shingle set.
    * The per-doc counts ride ONE window on doc_id; nothing shuffles
    * the corpus twice.
    */
  def q95Boilerplate(s: SparkSession, dir: String): DataFrame = {
    val segLen = 5
    val segs = t(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")), lit(segLen))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) DIV $segLen AS BIGINT)").as("seg_idx"),
        array_join(slice(col("ws"), col("start"), lit(segLen)), " ").as("seg"))
    val boiler = segs.select(col("doc_id"), col("seg")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("seg"), lit(1L).as("is_boiler"))
    val byDoc = Window.partitionBy(col("doc_id"))
    segs.join(broadcast(boiler), Seq("seg"), "left")
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(0L)))
      .withColumn("n_segs", count(lit(1)).over(byDoc))
      .withColumn("n_dropped", sum(col("is_boiler")).over(byDoc))
      .where(col("is_boiler") === 0)
      .select(col("doc_id"), col("seg_idx"), md5(col("seg")).as("seg_hash"),
        col("n_segs"), col("n_dropped"))
      .orderBy(col("doc_id"), col("seg_idx"))
  }

  /** Tokenizer vocabulary building — the frequency-cutoff vocab pass
    * (word-level; the counting half of BPE's initialization): corpus
    * word counts, keep count ≥ 5, assign dense ids by (count desc,
    * token), and report each prefix's cumulative corpus coverage —
    * the curve that picks the vocab size for a target OOV rate.
    *
    * Scale shape: ONE partial-aggregated groupBy over the exploded
    * token stream does all the corpus work; the ranking window is
    * global but runs over the AGGREGATED vocabulary table (≤ |V|
    * rows — millions, not the corpus), the standard shape for
    * model-sized artifacts, like q83's sketch and the k-means
    * codebook. The corpus token total rides a broadcast cross join.
    */
  def q96VocabBuild(s: SparkSession, dir: String): DataFrame = {
    val minCount = 5
    val toks = t(s, dir, "documents")
      .select(explode(words(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("t_total"))
    val w = Window.orderBy(col("cnt").desc, col("token"))
    counts.where(col("cnt") >= minCount)
      .crossJoin(broadcast(total))
      .withColumn("token_id",
        row_number().over(w).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("token_id"), col("token"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("t_total").cast("double"))
          .as("coverage"))
      .orderBy(col("token_id"))
  }

  /** DSIR-style importance weighting — score every document by how
    * target-domain-like its token distribution is (target = the
    * English slice), the data-selection step that upweights in-domain
    * text before mixing. Per token, the smoothed target/corpus ratio
    * `(c_tgt+1)·10⁶ div (c_all+1)` (add-one smoothing, exact BIGINT —
    * the linear-domain twin of DSIR's log-likelihood ratio, same
    * deliberate ln() avoidance as q55/q94); per document, the mean
    * ratio over its tokens, so length never inflates the score.
    *
    * Scale shape: the ratio table is vocabulary-sized — built by one
    * partial-aggregated groupBy (the target counter is a conditional
    * sum inside the SAME aggregate, not a second pass) and joined
    * broadcast; the per-doc score is a second partial-aggregated
    * groupBy. Two shuffles total, both combine map-side; the corpus
    * is scanned once.
    */
  def q97ImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(words(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    // q94's sufficient-statistic discipline: ONE explode + ONE wide
    // shuffle builds tf; the ratio table and the per-doc score are
    // aggregates of tf (score = Σ tf·r ≡ Σ over tokens of r)
    val tf = toks.groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val ratios = tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("c_all"),
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("c_tgt"))
      .select(col("token"),
        expr("((c_tgt + 1) * 1000000) div (c_all + 1)").as("r_1e6"))
    tf.join(broadcast(ratios), "token")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("r_1e6")).as("score_sum"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("score_sum div n_tokens").as("importance_1e6"))
      .orderBy(col("doc_id"))
  }

  /** SCD2 compaction — the change-data-capture step that turns an
    * append-only event log into slowly-changing-dimension rows: per
    * user, consecutive events with the SAME event_type collapse into
    * one versioned state run carrying [valid_from, valid_to) and an
    * is_current flag (gaps-and-islands, the warehouse twin of q54's
    * sessionization — there the island break is a time gap, here a
    * state change). Ties at one timestamp break by event_id, so runs
    * are deterministic.
    *
    * Scale shape: the lag window, the running-sum window, the run
    * groupBy, and the lead window ALL share the user_id hash
    * partitioning — Catalyst plans one Exchange and the rest rides
    * it. Per-user state is one row; at 100 TB this is the canonical
    * single-shuffle CDC pass.
    */
  def q98Scd2Compaction(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val runs = e
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byVersion))
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Fuzzy-token join via deletion-neighborhood blocking (FastSS) —
    * the approximate string matching behind typo-tolerant entity
    * resolution and spelling normalization. Two tokens are within
    * edit distance 1 only if their {self} ∪ 1-deletion neighborhoods
    * intersect, so the candidate space is an EQUI-join on the
    * neighborhood key — never vocab×vocab — and the exact
    * `levenshtein ≤ 1` verify runs on candidates only (block-then-
    * verify, q31's discipline; blocking admits some distance-2 pairs
    * — e.g. transpositions — which is WHY the verify is load-bearing).
    * The corpus vocabulary is typo-free, so the query side PLANTS one
    * deterministic misspelling per token (middle character dropped —
    * q88's twin-construction trick); the hash compare then certifies
    * blocking completeness and the verify cut together.
    *
    * Scale shape: both sides are vocabulary-sized aggregates of the
    * corpus (q96's model-artifact shape); the neighborhood explode is
    * O(token length) per row and the join is a hash equi-join on the
    * key. Levenshtein's O(len²) runs only on the blocked candidates.
    */
  def q101FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    def del1(c: Column): Column = array_union(array(c),
      transform(sequence(lit(1), length(c)), i =>
        concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c)))))
    val vocab = t(s, dir, "documents")
      .select(explode(words(col("text"))).as("tok"))
      .where(length(col("tok")) >= 3)
      .distinct()
    val mid = expr("(length(tok) + 1) div 2")
    val queries = vocab.select(
      concat(
        col("tok").substr(lit(1), mid - 1),
        col("tok").substr(mid + 1, length(col("tok")))).as("qtok"))
      .distinct()
    val vocabKeys = vocab
      .select(col("tok"), explode(del1(col("tok"))).as("key"))
    val queryKeys = queries
      .select(col("qtok"), explode(del1(col("qtok"))).as("key"))
    queryKeys.join(vocabKeys, "key")
      .select(col("qtok"), col("tok")).distinct()
      .withColumn("dist", levenshtein(col("qtok"), col("tok")).cast("long"))
      .where(col("dist") <= 1)
      .orderBy(col("qtok"), col("tok"))
  }

  /** Ordered funnel analysis — the view→click→purchase progression
    * every product-analytics stack computes: per user, the first view,
    * the first click AT OR AFTER that view, the first purchase at or
    * after that click, and the furthest stage reached. Strictly
    * ordered (a click before any view doesn't count), spelled as
    * three chained conditional-min windows — each references the
    * previous stage's timestamp, and all three partition by user_id,
    * so Catalyst stacks them on ONE Exchange; the final groupBy rides
    * the same partitioning (q98's single-shuffle CDC shape). NULL
    * propagation does the gating: `ts ≥ t_view` is NULL-false when
    * the user never viewed, identically in both engines.
    */
  def q102Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val w = Window.partitionBy(col("user_id"))
    e.withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts_us") >= col("t_view"), col("ts_us"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") >= col("t_click"), col("ts_us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t_view")).as("t_view"),
        min(col("t_click")).as("t_click"),
        min(col("t_purchase")).as("t_purchase"))
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0).as("funnel_stage"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention — the product-analytics table beside q102's
    * funnel: users cohorted by their FIRST active day, then each
    * (cohort, day-offset) cell counts how many of that cohort were
    * active offset days later, plus the retention fraction against
    * the cohort's day-0 size. The distinct-user count needs no
    * countDistinct: (user, day) is deduplicated FIRST (one
    * partial-agg distinct — the q55 df pattern), after which each
    * user contributes at most one row per cell and a plain count is
    * exact. The cohort day rides a user_id window over the deduped
    * activity (same Exchange as the dedup's hash); the day-0 size
    * rides a cohort window over the AGGREGATED cells (cohort-count
    * rows, not events).
    */
  def q105Retention(s: SparkSession, dir: String): DataFrame = {
    val act = eventsTsUs(s, dir)
      .select(col("user_id"),
        expr("ts_us div 86400000000").as("day"))
      .distinct()
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id"))))
    val cells = act
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
    cells
      .withColumn("cohort_size",
        max(when(col("offset_days") === 0, col("n_users")))
          .over(Window.partitionBy(col("cohort_day"))))
      .select(col("cohort_day"), col("offset_days"), col("n_users"),
        (col("n_users").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  /** Rolling z-score anomaly detection — the monitoring primitive over
    * an event stream: each event is scored against the PRECEDING
    * day's value distribution for its own event type (RANGE interval
    * frame — q64's frame family on the BIGINT microsecond axis), and
    * |z| > 3 flags it. The windowed sufficient statistics (n, Σv,
    * Σv²) are exact decimal sums (q87's discipline, windowed); mean,
    * variance, and z then run in ONE fixed IEEE tree spelled
    * identically in DuckDB, NULL-guarded for frames with n < 2 or
    * zero variance. RANGE (not ROWS) makes tie handling deterministic:
    * every row at the same timestamp sees the same frame.
    *
    * Scale shape: one shuffle on event_type (few partitions — the q69
    * skew note applies, AQE splits a hot type), one sort, three frame
    * aggregates sharing it; the filter drops everything un-anomalous
    * before the presentation sort.
    */
  def q107Anomaly(s: SparkSession, dir: String): DataFrame = {
    // the driver's values are uniform — an honest |z|>3 cut flags
    // nothing — so the query PLANTS a deterministic 20× spike on
    // every 997th event (q88's twin construction: both engines build
    // the identical augmented column) and must then find them; the
    // hash compare certifies the full stats→score→cut path.
    //
    // 24 h frame: the driver stream runs ~2.8 events/type/hour, and a
    // z-score frame needs n ≳ 11 before |z| > 3 is even reachable
    // (max |z| = (n−1)/√n) — an hour frame can structurally never flag.
    //
    // NOT a moving RANGE window: Spark recomputes a moving frame's
    // aggregate from scratch per row (no retraction), so the natural
    // `rangeBetween(-24h, 0)` spelling is O(rows × frame) — measured
    // 61 s at sf0.1. And not the bucket decomposition either: its
    // boundary fan-out is O(bucket occupancy), which the 30× probe
    // (density-compressed, same time span) drove to 149 s. The linear
    // exact form is PREFIX SUMS: a GROWING range frame (unbounded
    // preceding → current row) is evaluated incrementally by Spark,
    // and frame[t−W, t] = cum(≤t) − cum(≤t−W−1). The left endpoint is
    // an as-of lookup done by the union trick — each event also enters
    // the stream as a zero-contribution PROBE row at ts−W−1, so ONE
    // window pass yields both cumulatives. Decimal sums/differences
    // are exact, so the result equals the naive frame aggregation
    // bit-for-bit and the DuckDB oracle keeps the naive RANGE window.
    // One type-partitioned sort + one incremental window + two
    // event_id equi-joins: linear at any density.
    val W = 86400000000L // 24 h in µs
    val dec = "decimal(28,6)"
    val ev = eventsTsUs(s, dir)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        when(col("event_id") % 997 === 0, col("value") * 20.0)
          .otherwise(col("value")).as("value"))
    val data = ev.select(col("event_type"), col("ts_us"), col("event_id"),
      lit(1L).as("is_data"), col("value").cast(dec).as("dv"),
      (col("value") * col("value")).cast(dec).as("dq"))
    val probes = ev.select(col("event_type"),
      (col("ts_us") - W - 1).as("ts_us"), col("event_id"),
      lit(0L).as("is_data"), lit(null).cast(dec).as("dv"),
      lit(null).cast(dec).as("dq"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = data.unionByName(probes)
      .select(col("event_type"), col("event_id"), col("is_data"),
        sum(col("is_data")).over(w).as("c_n"),
        sum(col("dv")).over(w).as("c_v"),
        sum(col("dq")).over(w).as("c_q"))
    val hi = cum.where(col("is_data") === 1)
      .select(col("event_id"), col("c_n").as("n_hi"),
        col("c_v").as("v_hi"), col("c_q").as("q_hi"))
    val lo = cum.where(col("is_data") === 0)
      .select(col("event_id"), col("c_n").as("n_lo"),
        col("c_v").as("v_lo"), col("c_q").as("q_lo"))
    val dzero = lit(0).cast("decimal(38,6)")
    val withStats = ev.join(hi, "event_id").join(lo, "event_id")
      .withColumn("n_frame", col("n_hi") - col("n_lo"))
      .withColumn("sumv",
        (col("v_hi") - coalesce(col("v_lo"), dzero)).cast("double"))
      .withColumn("sumsq",
        (col("q_hi") - coalesce(col("q_lo"), dzero)).cast("double"))
    val n = col("n_frame").cast("double")
    val mean = col("sumv") / n
    val varr = (col("sumsq") - (col("sumv") * col("sumv")) / n) / (n - 1)
    withStats
      .withColumn("z", when(col("n_frame") >= 2 && varr > 0,
        (col("value") - mean) / sqrt(varr)))
      .where(abs(col("z")) > 3)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        col("value"), col("n_frame"), col("z"))
      .orderBy(col("event_type"), col("ts_us"), col("event_id"))
  }

  /** Rolling active users — DAU, trailing-7-day WAU, and the
    * stickiness ratio per day, the engagement triple every analytics
    * stack reports. Exact sliding-window distinct WITHOUT a distinct-
    * over-frame (which no engine does scalably): each deduped
    * (user, day) activity row is exploded into the ≤7 report days it
    * contributes to, deduped again on (user, report_day), and counted
    * — the contribute-then-count spelling that bounds fan-out at the
    * window width and keeps every stage a partial-aggregated
    * hash groupBy. Days are reported when they have any same-day
    * activity (inner join of the two counters).
    */
  def q109RollingActive(s: SparkSession, dir: String): DataFrame = {
    val act = eventsTsUs(s, dir)
      .select(col("user_id"),
        expr("ts_us div 86400000000").as("day"))
      .distinct()
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau7"),
        (col("dau").cast("double") / col("wau7").cast("double"))
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Event-type transition matrix — the Markov-chain estimate behind
    * next-action prediction and funnel diagnostics: per user the event
    * sequence (q98's ordering, ties by event_id), each consecutive
    * pair counted into a |types|² matrix with row-normalized
    * probabilities. One user_id shuffle for the lag window; the
    * matrix itself is model-sized, so the row-total window runs over
    * 25 rows, not the stream. Exact-long counts, one IEEE divide.
    */
  def q111Transitions(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTsUs(s, dir)
      .select(col("user_id"), col("event_type"),
        col("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val counted = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    counted
      .withColumn("row_total",
        sum(col("cnt")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("event_type").as("next_type"),
        col("cnt"),
        (col("cnt").cast("double") / col("row_total").cast("double"))
          .as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Left-to-right non-overlapping merge of the adjacent token pair
    * (w1, w2) in a space-normalized string — the BPE application
    * kernel, shared by q113 (one step) and q116 (the training loop) —
    * with NO regex anywhere: the string is padded and its separators
    * doubled (`" a  b  c "`), so the literal pattern `" w1  w2 "` can
    * only match two COMPLETE adjacent tokens (every token keeps a
    * private space on each side, so a match can never start or end
    * mid-token), and plain `replace` — which scans left-to-right and
    * continues AFTER each replacement in both engines (Java
    * `UTF8String.replace`, DuckDB `replace`) — is precisely BPE's
    * non-overlapping merge order: `a a a` + (a,a) → `a+a a`, never
    * `a+a a+a`. Collapsing the doubled separators and trimming
    * restores the normal form, so steps compose. Because no pattern
    * language is involved, tokens carrying regex metacharacters
    * (`.`, `+`, `(`, `*` — routine in web text, and CERTAIN once
    * iterated merges mint tokens like `w1+w2`) merge byte-exactly;
    * BpeMergeSpec drives hostile tokens through it against a plain
    * Scala reference. Pure codegen'd string ops, zero shuffle.
    */
  def bpeMergeStep(norm: Column, w1: Column, w2: Column): Column = {
    val spaced =
      concat(lit(" "), replace(norm, lit(" "), lit("  ")), lit(" "))
    val pat = concat(lit(" "), w1, lit("  "), w2, lit(" "))
    val rep = concat(lit(" "), w1, lit("+"), w2, lit(" "))
    trim(replace(replace(spaced, pat, rep), lit("  "), lit(" ")))
  }

  /** The DuckDB spelling of [[bpeMergeStep]] — the same three
    * `replace` calls, byte-for-byte semantics (see bpeMergeStep's
    * scaladoc for why plain replace == BPE merge order).
    */
  def sqlBpeMerge(norm: String, w1: String, w2: String): String =
    s"""trim(replace(replace(' ' || replace($norm, ' ', '  ') || ' ',
        ' ' || $w1 || '  ' || $w2 || ' ',
        ' ' || $w1 || '+' || $w2 || ' '), '  ', ' '))"""

  /** One BPE merge step — the actual tokenizer-training kernel (q96
    * counts the vocabulary; this LEARNS a merge): the corpus-wide
    * most-frequent adjacent word pair (ties by (w1, w2) — the
    * deterministic election) is merged left-to-right non-overlapping
    * in every document, exactly BPE's application order, and each doc
    * reports its token count before/after plus the merged bytes'
    * hash. The winning pair is a 1-row aggregate that rides a
    * broadcast cross join, and the merge itself is [[bpeMergeStep]] —
    * the regex-free doubled-separator form, safe for ANY token bytes
    * (the round-6 regexp_replace form injected corpus tokens into a
    * pattern unescaped and broke by construction on iterated tokens
    * containing '+').
    *
    * Scale shape: q89's ONE partial-agg bigram shuffle, a 1-row
    * argmax, then a pure map stage over the scan. Iterating k merges
    * is k passes of this plan (each merge changes the pair
    * distribution, so a second pass is genuinely new work) — q116 IS
    * that loop, checkpointed per round exactly as q37 stages dedup.
    */
  def q113BpeMerge(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .withColumn("ws", split(col("norm"), " "))
    val best = d
      .where(size(col("ws")) >= 2)
      .select(explode(sequence(lit(1), size(col("ws")) - 1)).as("i"),
        col("ws"))
      .select(element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
    d.crossJoin(broadcast(best))
      .withColumn("merged",
        bpeMergeStep(col("norm"), col("w1"), col("w2")))
      .select(col("doc_id"), col("w1"), col("w2"), col("cnt"),
        size(col("ws")).as("n_before"),
        size(split(col("merged"), " ")).as("n_after"),
        md5(col("merged")).as("merged_hash"))
      .orderBy(col("doc_id"))
  }

  /** Merge rounds for [[q116BpeTrain]] — deep enough that later
    * elections run over already-merged tokens (compound tokens win
    * re-election on the driver corpus), shallow enough for the
    * oracle's unrolled CTEs to stay readable. A production tokenizer
    * train is the same loop with a vocabulary-size stopping rule.
    */
  val BpeRounds = 10

  /** BPE TRAINING — [[q113BpeMerge]] iterated end-to-end, the
    * flagship LLM-pipeline loop: [[BpeRounds]] rounds, each electing
    * the corpus-wide most-frequent adjacent pair (ties by (w1, w2)),
    * STAGING the election to parquet (the merge table IS the trained
    * tokenizer artifact — stage-then-consume, q37/q78 discipline: the
    * merge applied to the corpus is read back from the staged row, so
    * what ships is what ran), applying [[bpeMergeStep]] to every
    * document, and `localCheckpoint`ing the merged corpus before the
    * next round counts pairs over it (Assembly.stitchIterative's
    * driver-loop shape — the checkpoint cuts lineage so round k's
    * plan does not replay rounds 1..k−1, exactly the blowup the
    * round-6 verdict flagged as unexercised). Output: one row per
    * round — the election (round, w1, w2, cnt) plus two whole-corpus
    * posteriors, the token count after the merge and an
    * order-independent 60-bit XOR fingerprint of every merged doc —
    * so the oracle's hash-compare certifies every election AND every
    * corpus state of the whole train, not just the last.
    *
    * The merge kernel being regex-free matters here BY CONSTRUCTION:
    * from round 2 on, elected pairs contain previously-minted tokens
    * like `the+cat` whose '+' would poison a regex pattern — the
    * exact failure mode of the retired regexp_replace form. Iterated
    * merges over merged tokens (e.g. electing (`a+b`, `c`)) are
    * byte-exact because the doubled-separator match sees whole tokens
    * only, whatever bytes they hold.
    *
    * Scale shape per round: ONE partial-agg pair shuffle (q89's), a
    * 1-row staged election, a broadcast-join map pass for the merge,
    * one checkpoint write. Nothing grows with round count: the
    * corpus stays the corpus (token count only shrinks), lineage
    * stays one round deep. Degenerate corpora with no adjacent pair
    * anywhere stage nothing and end the report early (the driver
    * tables always have pairs).
    */
  def q116BpeTrain(s: SparkSession, dir: String): DataFrame = {
    val work = Dedup.stageRoot(dir)
    // the merge table is built round-by-round INSIDE an unpublished
    // version dir and committed once complete — a crash mid-train can
    // never publish a partial tokenizer (Staged's publish protocol)
    val mergesDir = Staged.publishDir(work, "bpe_merges")
    var cur = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .localCheckpoint()
    val perRound = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var stopped = false
    for (r <- 1 to BpeRounds if !stopped) {
      val best = cur
        .select(split(col("norm"), " ").as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(sequence(lit(1), size(col("ws")) - 1)).as("i"),
          col("ws"))
        .select(element_at(col("ws"), col("i")).as("w1"),
          element_at(col("ws"), col("i") + 1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
        .select(lit(r).as("round"), col("w1"), col("w2"), col("cnt"))
      best.write.mode(if (r == 1) "overwrite" else "append")
        .parquet(mergesDir)
      // the staged election comes back as ONE collected row and folds
      // into the merge as literals (q121's apply-side spelling): the
      // former broadcast(staged) crossJoins — one for the merge, one
      // for the report row — each paid a whole broadcast job per
      // round; what ships is still what ran (the row is read FROM the
      // staged table, never from the in-plan election)
      val staged = s.read.parquet(mergesDir)
        .where(col("round") === r)
        .select(col("w1"), col("w2"), col("cnt")).collect()
      if (staged.isEmpty) stopped = true // pair exhaustion: report ends
      else {
        val (w1, w2, cnt) = (staged(0).getString(0),
          staged(0).getString(1), staged(0).getLong(2))
        cur = cur
          .select(col("doc_id"),
            bpeMergeStep(col("norm"), lit(w1), lit(w2)).as("norm"))
          .localCheckpoint()
        perRound += cur
          .agg(sum(size(split(col("norm"), " "))).as("tokens_after"),
            // DOC-KEYED hash: fingerprint md5(doc_id ':' norm), not
            // md5(norm) — identical texts under different ids XOR to
            // distinct values, so a corruption confined to an even-sized
            // exact-dup family (the dup-heavy corpus norm) cannot cancel
            // itself out of the fingerprint
            expr("bit_xor(cast(conv(substr(md5(concat(cast(doc_id as " +
              "string), ':', norm)), 1, 15), 16, 10) as bigint))")
              .as("corpus_xor"))
          .select(lit(r).as("round"), lit(w1).as("w1"), lit(w2).as("w2"),
            lit(cnt).as("cnt"), col("tokens_after"), col("corpus_xor"))
      }
    }
    Staged.commit(work, "bpe_merges", mergesDir)
    perRound.reduce(_ unionAll _).orderBy(col("round"))
  }

  lazy val BpeMerges: Staged.Family =
    Staged.Family("bpe_merges")()((s, dir, _) => q116BpeTrain(s, dir))

  /** Tokenizer APPLY — the inference half of q116's training loop:
    * encode every document with the STAGED merge table (the trained
    * tokenizer artifact q116 writes), applying the [[BpeRounds]]
    * merges in training order. The [[BpeMerges]] family (training by
    * [[q116BpeTrain]] only when stale) makes the query self-contained (Verify's query order is
    * arbitrary, so a staged consumer must be able to stage — the
    * q78/q37 discipline — but a warm run pays the encode only, never
    * a retrain per invocation); the
    * merge table is then a MODEL-SIZED driver read (10 rows) folded
    * into ten chained [[bpeMergeStep]] column expressions — so the
    * encode itself is ONE codegen'd zero-shuffle map pass over the
    * corpus, which is the whole point of a trained tokenizer at
    * 100 TB: training is a staged asset, application is
    * embarrassingly parallel. Output: per-doc token count after
    * encoding and the 60-bit digest of the encoded bytes, so the
    * hash-compare certifies every merge application byte-for-byte.
    * The oracle replays the ten merges FROM THE STAGED TABLE (it
    * never retrains — scalar subqueries per round, coalesced to an
    * impossible space-bearing token so a degenerate corpus that
    * exhausted its pairs early no-ops identically in both engines).
    */
  def q121BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val work = Dedup.stageRoot(dir)
    // train only when the staged tokenizer is stale — the apply row's
    // warm cost is the encode, not a retrain per invocation
    val merges = BpeMerges.read(s, dir, work, "bpe_merges")
      .orderBy(col("round"))
      .select(col("w1"), col("w2")).collect()
    val init = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
    val encoded = merges.foldLeft(init) { (df, r) =>
      df.withColumn("norm",
        bpeMergeStep(col("norm"), lit(r.getString(0)), lit(r.getString(1))))
    }
    encoded
      .select(col("doc_id"),
        size(split(col("norm"), " ")).as("n_tokens"),
        expr("cast(conv(substr(md5(norm), 1, 15), 16, 10) as bigint)")
          .as("enc_h60"))
      .orderBy(col("doc_id"))
  }

  /** Longest substring the MaxMatch vocabulary mints ([[
    * stageMaxMatchVocab]]) — also the greedy kernel's probe bound, so
    * apply cost is chars × 8 hash probes worst-case.
    */
  val MaxMatchMaxLen = 8

  /** Multi-character vocabulary budget for [[stageMaxMatchVocab]]:
    * the corpus-frequency top-K substrings of length 2..[[
    * MaxMatchMaxLen]] (all single characters are admitted besides, so
    * segmentation is total by construction).
    */
  val MaxMatchTopSubstrings = 64

  /** Train-and-stage the MaxMatch (WordPiece-style) subword
    * vocabulary: every single character of the corpus' words, plus the
    * [[MaxMatchTopSubstrings]] highest-frequency substrings of length
    * 2..[[MaxMatchMaxLen]] (frequency = occurrences weighted by word
    * count; ties broken by token text, so the artifact is
    * deterministic). Published versioned as `mm_vocab` through the
    * same crash-safe protocol as `bpe_merges` — the tokenizer is an
    * ARTIFACT, trained once and applied forever, never rebuilt by the
    * apply query ([[q182MaxmatchTokenize]] reads it guarded).
    *
    * Scale shape: one explode of distinct words into ≤ len×8
    * substrings (distinct-word-bound, NOT corpus-bound — counts ride
    * the word table), one partial-agg groupBy, one model-sized
    * TakeOrdered. At 100 TB the word-count table is the only
    * corpus-heavy input and it is the same aggregation q96's
    * vocabulary build already pays.
    */
  /** Distinct corpus words with occurrence counts — the type table
    * every tokenizer pass (train or apply) runs over.
    */
  private[graft] def wordTypeCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(words(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** The (tok, weight) candidate pool behind [[stageMaxMatchVocab]]
    * and [[trainUnigramLm]]'s initialization: every single character
    * plus the [[MaxMatchTopSubstrings]] frequency-top substrings of
    * length 2..[[MaxMatchMaxLen]] (occurrence-weighted, ties by token
    * text).
    */
  private def substringPool(s: SparkSession, dir: String): DataFrame = {
    val subs = wordTypeCounts(s, dir)
      .select(col("word"), col("wc"),
        explode(sequence(lit(1), length(col("word")))).as("p"))
      .select(col("word"), col("wc"), col("p"),
        explode(sequence(lit(1),
          least(lit(MaxMatchMaxLen), length(col("word")) - col("p") + 1)))
          .as("l"))
      .select(expr("substr(word, p, l)").as("tok"), col("wc"))
    val counts = subs.groupBy(col("tok")).agg(sum(col("wc")).as("weight"))
    val chars = counts.where(length(col("tok")) === 1)
    val multi = counts.where(length(col("tok")) > 1)
      .orderBy(col("weight").desc, col("tok")).limit(MaxMatchTopSubstrings)
    chars.unionByName(multi).select(col("tok"), col("weight"))
  }

  def stageMaxMatchVocab(s: SparkSession, dir: String, work: String): Unit =
    substringPool(s, dir).stagePublish(work, "mm_vocab")

  lazy val MaxMatchVocab: Staged.Family =
    Staged.Family("mm_vocab")()(stageMaxMatchVocab)

  /** q182 — MaxMatch (WordPiece-inference) TOKENIZER APPLY: greedy
    * longest-match segmentation of every distinct corpus word under
    * the staged `mm_vocab` artifact, via the codegen'd `max_match`
    * expression ([[graft.functions.MaxMatchSegment]] — per-row greedy
    * DP is genuinely imperative, so it is a custom Catalyst
    * expression, NOT a UDF, and the scan stays one whole-stage-codegen
    * span). Complements the BPE family: q116/q121 learn and replay
    * WORD-pair merges; this is the within-word SUBWORD segmentation a
    * fast inference tokenizer runs, with per-word fertility (piece
    * count) — the metric tokenizer evaluations report.
    *
    * Output is per distinct WORD (type, not token): segmentation is a
    * function of the word alone, so applying it per occurrence would
    * recompute the same chain corpus-many times — the loader joins
    * this table back by word (broadcast: vocabulary-sized). Vocab
    * rides into the expression as a foldable literal collected from
    * the staged artifact — a model-sized driver read (~90 tokens),
    * the documented tokenizer-artifact discipline (q121's merge
    * table). The DuckDB oracle replays the greedy chain as a
    * single-path recursive CTE over a precomputed
    * longest-match-per-position table, so cross-engine agreement
    * certifies the imperative kernel against a declarative spelling.
    */
  def q182MaxmatchTokenize(s: SparkSession, dir: String): DataFrame = {
    val work = Dedup.stageRoot(dir)
    val toks = MaxMatchVocab.read(s, dir, work, "mm_vocab")
      .select(col("tok")).orderBy(col("tok"))
      .collect().map(_.getString(0)) // model-sized tokenizer artifact
    wordTypeCounts(s, dir)
      .withColumnRenamed("wc", "n_occurrences")
      .withColumn("pieces_arr",
        call_function("max_match", col("word"), typedLit(toks)))
      .select(col("word"), col("n_occurrences"),
        size(col("pieces_arr")).as("n_pieces"),
        array_join(col("pieces_arr"), "|").as("pieces"))
      .orderBy(col("word"))
  }

  /** Hard-EM rounds for [[trainUnigramLm]] — enough that pruning and
    * the probability mass visibly converge on the test corpora (the
    * spec asserts the fixpoint, not this constant).
    */
  val UnigramEmRounds = 4

  /** UNIGRAM-LM tokenizer TRAINING (SentencePiece-style, hard EM) —
    * the third tokenizer family next to BPE (q116: learned word-pair
    * merges) and MaxMatch (q182: greedy longest-match inference):
    * start from the [[substringPool]] candidates with probabilities ∝
    * corpus frequency, then iterate E/M rounds where the E-step
    * Viterbi-segments every distinct word under the current model
    * (the codegen'd `unigram_segment` expression —
    * [[graft.functions.UnigramSegment]], exact DP, longer-token tie
    * break) and the M-step re-estimates p(t) from occurrence-weighted
    * piece counts, pruning multi-character tokens the Viterbi paths
    * stopped using (single characters are never pruned — they are the
    * coverage floor, held at count ≥ 1, exactly SentencePiece's
    * required-character rule). Hard EM (Viterbi counts, not lattice
    * expectations) is the deliberate trade: the E-step stays one
    * codegen'd scan per round, and the spec pins what matters — the
    * planted lexicon dominates the final model and the final
    * segmentations are optimal under it.
    *
    * Scale shape per round: ONE segmentation scan over the distinct-
    * word table (vocabulary-bound, not corpus-bound — counts ride the
    * types) and one partial-agg piece count folding to a model-sized
    * (≤ |vocab|) driver read — the q116 trainer economics. Returns
    * the final (token, n_chars, count, prob) model, count-desc.
    */
  def trainUnigramLm(s: SparkSession, dir: String,
      rounds: Int = UnigramEmRounds): DataFrame = {
    import s.implicits._
    val wc = wordTypeCounts(s, dir).localCheckpoint() // read every round
    val pool = substringPool(s, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))) // model-sized
    var model: Seq[(String, Long)] =
      pool.sortBy { case (t2, w) => (-w, t2) }.toSeq
    var r = 0
    while (r < rounds) {
      val z = model.map(_._2).sum.toDouble
      val toks = model.map(_._1).toArray
      val lps = model.map(m => math.log(m._2 / z)).toArray
      val counts = wc
        .select(explode(call_function("unigram_segment", col("word"),
          typedLit(toks), typedLit(lps))).as("tok"), col("wc"))
        .groupBy(col("tok")).agg(sum(col("wc")).as("c"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      model = model.flatMap { case (t2, _) =>
        val c = counts.getOrElse(t2, 0L)
        if (t2.length == 1) Some((t2, math.max(c, 1L))) // coverage floor
        else if (c > 0) Some((t2, c))
        else None // pruned: no Viterbi path uses it
      }
      r += 1
    }
    val z = model.map(_._2).sum.toDouble
    model.map { case (t2, c) =>
      (t2, t2.length.toLong, c, c / z)
    }.toDF("token", "n_chars", "count", "prob")
      .orderBy(col("count").desc, col("token"))
  }

  /** Stage ONE hard-EM E-step of [[trainUnigramLm]]: the initial
    * model (the substring pool, sorted exactly as the trainer seeds
    * it) as `unigram_model0`, and every word type's Viterbi
    * segmentation under it — (word, wc, token), one row per emitted
    * piece via the codegen'd `unigram_segment` — as `unigram_segs`.
    * One refresh nonce stamps both (all-or-nothing read).
    */
  def stageUnigramEstep(s: SparkSession, dir: String,
      work: String): Unit = {
    import s.implicits._
    val pool = substringPool(s, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))) // model-sized
    val model = pool.sortBy { case (t2, w) => (-w, t2) }.toSeq
    val z = model.map(_._2).sum.toDouble
    val toks = model.map(_._1).toArray
    val lps = model.map(m => math.log(m._2 / z)).toArray
    val gen = Staged.newGroupId(work)
    model.toDF("token", "w").coalesce(1)
      .stagePublish(work, "unigram_model0", gen)
    wordTypeCounts(s, dir)
      .select(col("word"), col("wc"),
        explode(call_function("unigram_segment", col("word"),
          typedLit(toks), typedLit(lps))).as("token"))
      .stagePublish(work, "unigram_segs", gen)
  }

  lazy val UnigramEstep: Staged.Family =
    Staged.Family("unigram_model0", "unigram_segs")()(stageUnigramEstep)

  /** q190 — the unigram-LM M-STEP as a declarative catalog row (the
    * round-14 verdict's "shrink the spec-only surface": the E-step
    * proper is the Viterbi kernel — spec-certified under the kmeans
    * precedent — but re-estimating piece counts from a staged
    * segmentation IS SQL). Over the staged E-step
    * ([[stageUnigramEstep]]): occurrence-weighted piece counts (one
    * partial-agg groupBy on token — at 100 TB the shuffle carries
    * |vocab|-bounded partials, the q87 sufficient-statistics shape),
    * then the trainer's exact survival rule — single-char pieces keep
    * max(count, 1) (the coverage floor), multi-char pieces survive
    * only if some Viterbi path used them — and the renormalized
    * probability. Row-for-row equal to [[trainUnigramLm]](rounds = 1)
    * by construction (UnigramLmSpec pins it), so the green oracle row
    * certifies the M-step arithmetic the imperative trainer iterates.
    */
  def q190UnigramMstep(s: SparkSession, dir: String): DataFrame = {
    val work = Dedup.stageRoot(dir)
    val snap = UnigramEstep.resolve(s, dir, work)
    val m0 = readParquet(s, snap("unigram_model0"))
    val c = readParquet(s, snap("unigram_segs"))
      .groupBy(col("token")).agg(sum(col("wc")).as("c"))
    val counted = m0.join(c, Seq("token"), "left")
      .select(col("token"),
        when(length(col("token")) === 1,
          greatest(coalesce(col("c"), lit(0L)), lit(1L)))
          .otherwise(col("c")).as("cnt"))
      .where(length(col("token")) === 1 ||
        coalesce(col("c"), lit(0L)) > 0)
    val tot = counted.agg(sum(col("cnt")).as("z"))
    counted.crossJoin(broadcast(tot)) // model-sized 1-row scalar
      .select(col("token"), length(col("token")).cast("long").as("n_chars"),
        col("cnt"),
        (col("cnt").cast("double") / col("z").cast("double")).as("prob"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** New vocabulary entries a [[q128BpeVocabTrain]] run may mint before
    * stopping: the target vocab size is MEASURED base vocab + this
    * budget — the standard BPE formulation (vocab = base symbols +
    * n_merges) with the corpus-measured distinct-token count standing
    * in for the base symbol table, so the stop adapts to any corpus
    * instead of hard-coding an absolute vocab size. Small enough that
    * the driver corpora stop mid-loop (each merge usually mints
    * exactly one new distinct token), so the early-stop path runs in
    * the correctness gate itself, not only in specs.
    */
  val BpeVocabBudget = 6

  /** BPE training TO A VOCAB TARGET — [[q116BpeTrain]]'s loop with the
    * production stopping rule: measure the base vocabulary (distinct
    * tokens of the normalized corpus), train rounds until the measured
    * post-merge vocabulary reaches base + [[BpeVocabBudget]] (or the
    * [[BpeRounds]] cap, or pair exhaustion), and emit one row per
    * EXECUTED round — the engine genuinely stops training, it does not
    * train ten rounds and filter. Each round stages its election to
    * `bpe_merges_vocab` (its own artifact — q121/q129 keep consuming
    * q116's fixed-round table) and reports the election plus three
    * corpus posteriors: token count, measured vocab size, and the
    * doc-keyed XOR fingerprint. Vocab is MEASURED (countDistinct), not
    * assumed +1/round, so the w1/w2-fully-consumed corner (a merge
    * that removes a token from the vocabulary) moves the stop exactly
    * as it moves the real vocab.
    *
    * Per-round cost adds ONE vocabulary-sized distinct-count to
    * q116's shape; the per-round driver read is one stats row +
    * one election row, both model-sized. The oracle unrolls all
    * [[BpeRounds]] rounds (it cannot early-return) and keeps rows up
    * to the first vocab-target hit — same rows, independently
    * re-trained.
    */
  def q128BpeVocabTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val work = Dedup.stageRoot(dir)
    var cur = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .localCheckpoint()
    def vocabOf(df: DataFrame): Long = df
      .select(explode(split(col("norm"), " ")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val target = vocabOf(cur) + BpeVocabBudget
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long, Long, Long)]
    // q116's discipline: rounds accumulate in an unpublished version
    // dir; the complete merge table publishes once, after the stop
    val mergesDir = Staged.publishDir(work, "bpe_merges_vocab")
    var stopped = false
    for (r <- 1 to BpeRounds if !stopped) {
      val best = cur
        .select(split(col("norm"), " ").as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(sequence(lit(1), size(col("ws")) - 1)).as("i"),
          col("ws"))
        .select(element_at(col("ws"), col("i")).as("w1"),
          element_at(col("ws"), col("i") + 1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(1)
        .select(lit(r).as("round"), col("w1"), col("w2"), col("cnt"))
      best.write.mode(if (r == 1) "overwrite" else "append")
        .parquet(mergesDir)
      val staged = s.read.parquet(mergesDir)
        .where(col("round") === r)
        .select(col("w1"), col("w2"), col("cnt")).collect()
      if (staged.isEmpty) stopped = true // pair exhaustion
      else {
        val (w1, w2, cnt) = (staged(0).getString(0),
          staged(0).getString(1), staged(0).getLong(2))
        cur = cur
          .select(col("doc_id"),
            bpeMergeStep(col("norm"), lit(w1), lit(w2)).as("norm"))
          .localCheckpoint()
        // ONE exploded pass carries all three posteriors (token count =
        // the exploded row count, the doc-keyed XOR rides the pos-0 row
        // of each doc, vocab = distinct tokens) — the former separate
        // stats aggregate + vocabOf distinct-count were two whole jobs
        // per round over the same checkpoint
        val st = cur
          .select(col("doc_id"), col("norm"),
            posexplode(split(col("norm"), " ")).as(Seq("pos", "tok")))
          .agg(count(lit(1)).as("ta"),
            expr("bit_xor(IF(pos = 0, cast(conv(substr(md5(concat(" +
              "cast(doc_id as string), ':', norm)), 1, 15), 16, 10) " +
              "as bigint), NULL))").as("cx"),
            countDistinct(col("tok")).as("vocab"))
          .head()
        val vocab = st.getLong(2)
        out += ((r, w1, w2, cnt, st.getLong(0), vocab, st.getLong(1)))
        if (vocab >= target) stopped = true
      }
    }
    Staged.commit(work, "bpe_merges_vocab", mergesDir)
    out.toSeq
      .toDF("round", "w1", "w2", "cnt", "tokens_after", "vocab_size",
        "corpus_xor")
      .orderBy(col("round"))
  }

  /** Token-ID emission — the LAST step of the tokenizer pipeline, the
    * artifact an actual training run consumes: encode every document
    * with q116's staged merge table (q121's one codegen'd map pass),
    * then map each encoded token to its id in q96's frequency-ranked
    * vocabulary (staged; OOV → id 0 — merged tokens and sub-min-count
    * words both land there by construction, exactly as a frozen vocab
    * treats them at serving time). Output per doc: token count, OOV
    * count, and the 60-bit digest of the comma-joined id SEQUENCE in
    * position order, so the hash-compare certifies every id at every
    * position without shipping |tokens| rows through the report.
    *
    * Scale shape: the vocab is model-sized and BROADCAST into the
    * token join; the only corpus-sized shuffle is the groupBy(doc_id)
    * that reassembles the id sequence — the same one-token-explode
    * budget as q55/q94. The oracle re-encodes from the staged merges
    * and replays the id join against the staged vocab.
    */
  def q129BpeTokenIds(s: SparkSession, dir: String): DataFrame = {
    val work = Dedup.stageRoot(dir)
    BpeMerges.need(s, dir, work)
    q96VocabBuild(s, dir).select(col("token_id"), col("token"))
      .stagePublish(work, "vocab")
    val merges = Staged.read(s, work, "bpe_merges")
      .orderBy(col("round"))
      .select(col("w1"), col("w2")).collect()
    val init = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
    val encoded = merges.foldLeft(init) { (df, r) =>
      df.withColumn("norm",
        bpeMergeStep(col("norm"), lit(r.getString(0)), lit(r.getString(1))))
    }
    val vocab = Staged.read(s, work, "vocab")
    encoded
      .select(col("doc_id"),
        posexplode(split(col("norm"), " ")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), col("tok") === col("token"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("tid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"),
        sort_array(collect_list(struct(col("pos"), col("tid"))))
          .as("ps"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("cast(conv(substr(md5(array_join(transform(ps, " +
          "p -> cast(p.tid as string)), ',')), 1, 15), 16, 10) " +
          "as bigint)").as("ids_h60"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB 60-bit hash of md5-hex column `m` — Dedup's sqlH60, one
    * shared definition. */
  private def sqlH60m = Dedup.sqlH60

  /** q116's oracle: the ENTIRE train unrolled — one (election, merge,
    * stats) CTE triple per round, c0 → c[[BpeRounds]], each round
    * re-deriving the election from the previous round's merged corpus
    * (q100's unrolled-recurrence pattern). Fully independent of the
    * engine's staged table: DuckDB re-trains from scratch, so the
    * hash-compare certifies elections, merges, and corpus states of
    * all rounds against an independent implementation.
    */
  private def sqlBpeTrain: String = {
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"c${r - 1}"
      s"""b$r AS (SELECT w1, w2, COUNT(1) AS cnt FROM (
             SELECT ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT ws, unnest(range(1, greatest(len(ws)-1, 0) + 1))
                     AS i
                   FROM (SELECT string_split(norm, ' ') AS ws FROM $prev)
                   WHERE len(ws) >= 2))
           GROUP BY w1, w2 ORDER BY cnt DESC, w1, w2 LIMIT 1),
      c$r AS (SELECT doc_id, ${sqlBpeMerge("norm", "w1", "w2")} AS norm
              FROM $prev CROSS JOIN b$r),
      s$r AS (SELECT $r AS round, b.w1, b.w2, b.cnt,
                CAST(SUM(len(string_split(norm, ' '))) AS BIGINT)
                  AS tokens_after,
                BIT_XOR($sqlH60m) AS corpus_xor
              FROM (SELECT norm,
                      md5(CAST(doc_id AS VARCHAR) || ':' || norm) AS m
                    FROM c$r)
                CROSS JOIN b$r b
              GROUP BY b.w1, b.w2, b.cnt)"""
    }.mkString(",\n      ")
    s"""
      WITH c0 AS (SELECT doc_id, $sqlNorm AS norm FROM documents),
      $rounds
      ${(1 to BpeRounds).map(r => s"SELECT * FROM s$r")
        .mkString("\n      UNION ALL ")}
      ORDER BY round"""
  }

  /** q128's oracle: [[sqlBpeTrain]]'s unrolled recurrence with a
    * measured vocab_size per round and the vocab-target stop applied
    * as a filter — SQL cannot early-return, so DuckDB trains all
    * [[BpeRounds]] rounds and keeps rows up to the first round whose
    * measured vocabulary reaches base + [[BpeVocabBudget]], which is
    * exactly the row set the engine's genuinely-stopping loop emits.
    */
  private def sqlBpeVocabTrain: String = {
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"c${r - 1}"
      s"""b$r AS (SELECT w1, w2, COUNT(1) AS cnt FROM (
             SELECT ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT ws, unnest(range(1, greatest(len(ws)-1, 0) + 1))
                     AS i
                   FROM (SELECT string_split(norm, ' ') AS ws FROM $prev)
                   WHERE len(ws) >= 2))
           GROUP BY w1, w2 ORDER BY cnt DESC, w1, w2 LIMIT 1),
      c$r AS (SELECT doc_id, ${sqlBpeMerge("norm", "w1", "w2")} AS norm
              FROM $prev CROSS JOIN b$r),
      s$r AS (SELECT $r AS round, b.w1, b.w2, b.cnt,
                CAST(SUM(len(string_split(norm, ' '))) AS BIGINT)
                  AS tokens_after,
                (SELECT COUNT(DISTINCT t) FROM
                  (SELECT unnest(string_split(norm, ' ')) AS t
                   FROM c$r)) AS vocab_size,
                BIT_XOR($sqlH60m) AS corpus_xor
              FROM (SELECT norm,
                      md5(CAST(doc_id AS VARCHAR) || ':' || norm) AS m
                    FROM c$r)
                CROSS JOIN b$r b
              GROUP BY b.w1, b.w2, b.cnt)"""
    }.mkString(",\n      ")
    s"""
      WITH c0 AS (SELECT doc_id, $sqlNorm AS norm FROM documents),
      $rounds,
      v0 AS (SELECT COUNT(DISTINCT t) AS v FROM
              (SELECT unnest(string_split(norm, ' ')) AS t FROM c0)),
      u AS (${(1 to BpeRounds).map(r => s"SELECT * FROM s$r")
        .mkString("\n        UNION ALL ")})
      SELECT round, w1, w2, cnt, tokens_after, vocab_size, corpus_xor
      FROM (SELECT u.*,
              MIN(CASE WHEN vocab_size >= v + $BpeVocabBudget
                  THEN round END) OVER () AS sr
            FROM u CROSS JOIN v0)
      WHERE round <= COALESCE(sr, $BpeRounds) ORDER BY round"""
  }

  /** Chi-square independence test — the A/B-analysis primitive: the
    * event_type × value-quartile contingency table with each cell's
    * observed count, expected count under independence
    * (row·col/total), and χ² contribution. Counts are exact longs
    * from ONE partial-agg groupBy (bucket bounds from the broadcast
    * global [min,max] scalar, q103's pattern); expected/contrib are
    * one fixed IEEE tree over those longs, identical in DuckDB. The
    * row/col/total marginals ride windows over the AGGREGATED 20-cell
    * table — model-sized, never the stream (q111's discipline).
    */
  def q114ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"), col("value"))
    val bounds = e.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val cells = e.crossJoin(broadcast(bounds))
      .withColumn("bucket", least(lit(3L),
        floor(((col("value") - col("mn")) * lit(4.0)) /
          (col("mx") - col("mn")))))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("observed"))
    val obsD = col("observed").cast("double")
    cells
      .withColumn("row_tot",
        sum(col("observed")).over(Window.partitionBy(col("event_type"))))
      .withColumn("col_tot",
        sum(col("observed")).over(Window.partitionBy(col("bucket"))))
      .crossJoin(broadcast(cells.agg(sum(col("observed")).as("n_tot"))))
      .withColumn("expected",
        (col("row_tot").cast("double") * col("col_tot").cast("double")) /
          col("n_tot").cast("double"))
      .withColumn("contrib",
        ((obsD - col("expected")) * (obsD - col("expected"))) /
          col("expected"))
      .select(col("event_type"), col("bucket"), col("observed"),
        col("expected"), col("contrib"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** q150 — corpus DRIFT report, the epoch-over-epoch health monitor
    * a continuously-refreshed training corpus needs: per language,
    * compare the standing corpus (doc_id % 10 ≠ 9, the q48/q148
    * convention) against the incoming batch on the four signals that
    * catch a broken upstream feed before it trains — volume
    * (doc counts), length drift (mean whitespace tokens), duplication
    * (fraction of batch docs whose normalized hash already exists in
    * the corpus — the q30/q48 exact tier as a RATE), and vocabulary
    * novelty (fraction of the batch's distinct words unseen in the
    * corpus's vocabulary for that language — a spike means encoding
    * corruption or a domain shift). All ratios divide exact integer
    * aggregates once, in IEEE double, so the oracle hash-matches.
    *
    * Scale shape: two corpus scans (one for doc-level stats, one
    * word explode for vocabulary), partial-agg groupBys, a semi-join
    * on the hash and an anti-join on (lang, word) — no window over
    * the corpus, no pair joins; the report itself is |languages|
    * rows.
    */
  def q150CorpusDrift(s: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 9
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("lang"), isNew.as("is_new"),
        size(split(col("norm"), " ")).as("ntok"), md5(col("norm")).as("nh"))
      .localCheckpoint() // counts + both dup-tier sides read it
    val counts = base.groupBy(col("lang")).agg(
      count(when(!col("is_new"), lit(1))).as("corpus_docs"),
      count(when(col("is_new"), lit(1))).as("batch_docs"),
      sum(when(!col("is_new"), col("ntok")).otherwise(lit(0))).as("ctok"),
      sum(when(col("is_new"), col("ntok")).otherwise(lit(0))).as("btok"))
    val dup = base.where(col("is_new"))
      .join(base.where(!col("is_new")).select(col("nh")).distinct(),
        Seq("nh"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("dup_docs"))
    val lw = t(s, dir, "documents")
      .select(col("lang"), isNew.as("is_new"),
        explode(words(col("text"))).as("w"))
      .distinct()
      .localCheckpoint() // three consumers (bw twice, cw)
    val bw = lw.where(col("is_new")).select(col("lang"), col("w"))
    val cw = lw.where(!col("is_new")).select(col("lang"), col("w"))
    val newWords = bw.join(cw, Seq("lang", "w"), "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("new_words"))
    val batchWords = bw.groupBy(col("lang"))
      .agg(count(lit(1)).as("batch_words"))
    counts
      .join(dup, Seq("lang"), "left")
      .join(newWords, Seq("lang"), "left")
      .join(batchWords, Seq("lang"), "left")
      .select(col("lang"), col("corpus_docs"), col("batch_docs"),
        when(col("corpus_docs") > 0,
          col("ctok").cast("double") / col("corpus_docs").cast("double"))
          .as("corpus_mean_tokens"),
        when(col("batch_docs") > 0,
          col("btok").cast("double") / col("batch_docs").cast("double"))
          .as("batch_mean_tokens"),
        when(col("batch_docs") > 0,
          coalesce(col("dup_docs"), lit(0L)).cast("double")
            / col("batch_docs").cast("double")).as("exact_dup_rate"),
        when(coalesce(col("batch_words"), lit(0L)) > 0,
          coalesce(col("new_words"), lit(0L)).cast("double")
            / col("batch_words").cast("double")).as("new_word_rate"))
      .orderBy(col("lang"))
  }

  /** Stage the drift BASELINE — the corpus-side aggregates the
    * streaming monitor compares every micro-batch against: per-lang
    * doc/token counts, the distinct (lang, word) vocabulary, and the
    * normalized-hash table for the exact-dup probe — the q148
    * archive's `corpus_nh` family ([[Dedup.CorpusNh]]), needed here so
    * a monitor deployment that stages ONLY the drift baseline does not
    * fail on its first micro-batch (round-10 advisor). Like the dedup
    * archive, these grow by append as batches are admitted; the corpus
    * split stands in for the current state.
    */
  def stageDriftBaseline(s: SparkSession, dir: String,
      work: String): Unit = {
    val isNew = col("doc_id") % 10 === 9
    t(s, dir, "documents").where(!isNew)
      .select(col("lang"),
        size(split(normText(col("text")), " ")).as("ntok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("corpus_docs"), sum(col("ntok")).as("ctok"))
      .stagePublish(work, "corpus_stats")
    t(s, dir, "documents").where(!isNew)
      .select(col("lang"), explode(words(col("text"))).as("w"))
      .distinct()
      .stagePublish(work, "corpus_vocab")
    Dedup.CorpusNh.need(s, dir, work)
  }

  /** q150's batch-side signals for ONE batch of (doc_id, lang, text)
    * rows, computed against the STAGED baseline ([[stageDriftBaseline]]
    * stages all three tables: corpus_stats for the per-lang mean-token
    * reference, corpus_vocab for novelty, corpus_nh — shared with the
    * q148 archive — for the exact-dup probe) — the kernel
    * [[graft.streaming.EventStreams.driftMonitorStream]] runs per
    * micro-batch. The report carries `corpus_mean_tokens` next to
    * `batch_mean_tokens` so a length-drift alert is one row-local
    * comparison, exactly as in q150. Identical arithmetic to q150's
    * columns (DriftStreamSpec pins the equality on the full batch
    * split), so the monitor's alerts mean the same thing as the batch
    * report's.
    */
  def driftSignalsOn(s: SparkSession, work: String,
      batch: DataFrame): DataFrame = {
    val b = batch
      .select(col("doc_id"), col("lang"), normText(col("text")).as("norm"))
      .localCheckpoint() // stats + vocabulary both read it
    val stats = b.select(col("lang"),
      size(split(col("norm"), " ")).as("ntok"), md5(col("norm")).as("nh"))
    val counts = stats.groupBy(col("lang")).agg(
      count(lit(1)).as("batch_docs"), sum(col("ntok")).as("btok"))
    val dup = stats
      .join(Staged.read(s, work, "corpus_nh").select(col("nh")).distinct(),
        Seq("nh"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("dup_docs"))
    val bw = b.select(col("lang"),
        explode(split(col("norm"), " ")).as("w")).distinct()
      .localCheckpoint() // anti-join + denominator both read it
    val newWords = bw
      .join(Staged.read(s, work, "corpus_vocab"), Seq("lang", "w"),
        "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("new_words"))
    val batchWords = bw.groupBy(col("lang"))
      .agg(count(lit(1)).as("batch_words"))
    counts
      .join(dup, Seq("lang"), "left")
      .join(newWords, Seq("lang"), "left")
      .join(batchWords, Seq("lang"), "left")
      .join(Staged.read(s, work, "corpus_stats"), Seq("lang"), "left")
      .select(col("lang"), col("batch_docs"),
        when(col("corpus_docs") > 0,
          col("ctok").cast("double") / col("corpus_docs").cast("double"))
          .as("corpus_mean_tokens"),
        when(col("batch_docs") > 0,
          col("btok").cast("double") / col("batch_docs").cast("double"))
          .as("batch_mean_tokens"),
        when(col("batch_docs") > 0,
          coalesce(col("dup_docs"), lit(0L)).cast("double")
            / col("batch_docs").cast("double")).as("exact_dup_rate"),
        when(coalesce(col("batch_words"), lit(0L)) > 0,
          coalesce(col("new_words"), lit(0L)).cast("double")
            / col("batch_words").cast("double")).as("new_word_rate"))
  }

  /** q162 — Z-ORDER clustering key over the corpus: interleave a
    * length bucket (n_chars div 64, capped at 255) with a language
    * bucket (a deterministic 2-letter fold of `lang`, ascii-based so
    * the DuckDB twin is byte-identical) into a 16-bit Morton key
    * ([[CorpusSink.zorderKey]]), plus the zkey div 1024 range bucket a
    * 64-file layout would assign. This is the KEY computation of the
    * multi-dimensional layout [[CorpusSink.writeZOrdered]] executes
    * (ZorderSpec pins the interleave against a plain-Scala reference
    * and measures the file-pruning locality on a planted grid); the
    * catalog row hash-certifies the key itself so the layout is
    * reproducible across engines.
    *
    * Scale shape: one narrow projection over pruned columns — no
    * shuffle, no UDF, all whole-stage-codegen long arithmetic. The
    * write side it feeds is one range repartition (the shuffle you pay
    * ONCE at layout time so every later reader prunes instead of
    * scanning — the canonical 100 TB trade).
    */
  def q162ZorderLayout(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        least(lit(255L), expr("n_chars div 64")).as("len_bucket"),
        ((ascii(substring(col("lang"), 1, 1)) * 31 +
          ascii(substring(col("lang"), 2, 1))) % 256).cast("long")
          .as("lang_bucket"))
      .withColumn("zkey",
        CorpusSink.zorderKey(col("len_bucket"), col("lang_bucket")))
      .withColumn("zbucket", expr("zkey div 1024"))
      .orderBy(col("doc_id"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_zorder_layout" -> (q162ZorderLayout _),
    "q150_corpus_drift" -> (q150CorpusDrift _),
    "q160_batch_perceptron" -> (q160BatchPerceptron _),
    "q56_stratified_sample" -> (q56StratifiedSample _),
    "q132_weighted_sample" -> (q132WeightedSample _),
    "q67_click_attribution" -> (q67ClickAttribution _),
    "q68_corpus_prep" -> (q68CorpusPrep _),
    "q69_length_filter" -> (q69LengthFilter _),
    "q77_hopping_window" -> (q77HoppingWindow _),
    "q58_sequence_pack" -> (q58SequencePack _),
    "q180_fim_spans" -> (q180FimSpans _),
    "q183_token_budget" -> (q183TokenBudget _),
    "q184_temperature_sample" -> (q184TemperatureSample _),
    "q50_lang_profile" -> (q50LangProfile _),
    "q55_tfidf_topterms" -> (q55TfidfTopTerms _),
    "q51_quality_score" -> (q51QualityScore _),
    "q52_token_stats" -> (q52TokenStats _),
    "q177_token_stream_pack" -> (q177TokenStreamPack _),
    "q178_bin_manifest" -> (q178BinManifest _),
    "q179_epoch_shuffle" -> (q179EpochShuffle _),
    "q53_fingerprint" -> (q53Fingerprint _),
    "q54_sessionize" -> (q54Sessionize _),
    "q63_repetition_score" -> (q63RepetitionScore _),
    "q83_heavy_hitters" -> (q83HeavyHitters _),
    "q84_weighted_mix" -> (q84WeightedMix _),
    "q87_corr_stats" -> (q87CorrStats _),
    "q88_pii_scrub" -> (q88PiiScrub _),
    "q89_bigram_lm" -> (q89BigramLm _),
    "q94_bm25" -> (q94Bm25 _),
    "q95_boilerplate" -> (q95Boilerplate _),
    "q96_vocab_build" -> (q96VocabBuild _),
    "q97_importance_weights" -> (q97ImportanceWeights _),
    "q98_scd2_compaction" -> (q98Scd2Compaction _),
    "q101_fuzzy_join" -> (q101FuzzyJoin _),
    "q102_funnel" -> (q102Funnel _),
    "q105_retention" -> (q105Retention _),
    "q107_anomaly" -> (q107Anomaly _),
    "q109_rolling_active" -> (q109RollingActive _),
    "q111_transitions" -> (q111Transitions _),
    "q113_bpe_merge" -> (q113BpeMerge _),
    "q114_chi_square" -> (q114ChiSquare _),
    "q116_bpe_train" -> (q116BpeTrain _),
    "q119_perplexity_filter" -> (q119PerplexityFilter _),
    "q121_bpe_encode" -> (q121BpeEncode _),
    "q182_maxmatch_tokenize" -> (q182MaxmatchTokenize _),
    "q128_bpe_vocab_train" -> (q128BpeVocabTrain _),
    "q129_bpe_token_ids" -> (q129BpeTokenIds _),
    "q190_unigram_mstep" -> (q190UnigramMstep _),
  )

  /** The 16 Morton-interleave terms, spelled identically to
    * [[CorpusSink.zorderKey]]'s column arithmetic. */
  private val sqlZorderTerms: String =
    (0 until 8).map { i =>
      s"(((len_bucket >> $i) & 1) << ${2 * i + 1})" +
        s" + (((lang_bucket >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")

  val oracles: Map[String, String] = Map(
    // the unigram M-step replayed over the ENGINE-STAGED E-step: piece
    // counts, the coverage floor / pruning survival rule, and the
    // renormalization
    "q190_unigram_mstep" -> s"""
      WITH m0 AS (SELECT token, w
                  FROM '__GRAFT_STAGED__/unigram_model0/*.parquet'),
      segs AS (SELECT token, wc
               FROM '__GRAFT_STAGED__/unigram_segs/*.parquet'),
      c AS (SELECT token, CAST(SUM(wc) AS BIGINT) AS c
            FROM segs GROUP BY token),
      counted AS (SELECT m0.token,
          CASE WHEN length(m0.token) = 1
               THEN GREATEST(COALESCE(c.c, 0), 1)
               ELSE c.c END AS cnt
        FROM m0 LEFT JOIN c USING (token)
        WHERE length(m0.token) = 1 OR COALESCE(c.c, 0) > 0),
      z AS (SELECT CAST(SUM(cnt) AS BIGINT) AS z FROM counted)
      SELECT token, CAST(length(token) AS BIGINT) AS n_chars, cnt,
        CAST(cnt AS DOUBLE) / CAST(z AS DOUBLE) AS prob
      FROM counted CROSS JOIN z
      ORDER BY cnt DESC, token""",
    "q162_zorder_layout" -> s"""
      WITH b AS (SELECT doc_id, lang, n_chars,
          LEAST(255, n_chars // 64) AS len_bucket,
          (ascii(substring(lang, 1, 1)) * 31
            + ascii(substring(lang, 2, 1))) % 256 AS lang_bucket
        FROM documents),
      z AS (SELECT *, $sqlZorderTerms AS zkey FROM b)
      SELECT doc_id, lang, n_chars, len_bucket, lang_bucket, zkey,
        zkey // 1024 AS zbucket
      FROM z ORDER BY doc_id""",
    // every ratio divides exact integer aggregates once (sums CAST to
    // BIGINT — DuckDB SUM(int) is HUGEINT); NULL means an empty
    // denominator in BOTH engines
    "q150_corpus_drift" -> s"""
      WITH d AS (SELECT doc_id, lang, $sqlNorm AS norm, $sqlWords AS ws,
                   (doc_id % 10 = 9) AS is_new FROM documents),
      base AS (SELECT doc_id, lang, is_new, len(ws) AS ntok,
                 md5(norm) AS nh FROM d),
      counts AS (SELECT lang,
          COUNT(CASE WHEN NOT is_new THEN 1 END) AS corpus_docs,
          COUNT(CASE WHEN is_new THEN 1 END) AS batch_docs,
          CAST(SUM(CASE WHEN NOT is_new THEN ntok ELSE 0 END) AS BIGINT)
            AS ctok,
          CAST(SUM(CASE WHEN is_new THEN ntok ELSE 0 END) AS BIGINT)
            AS btok
        FROM base GROUP BY lang),
      dup AS (SELECT lang, COUNT(1) AS dup_docs FROM base b
              WHERE is_new AND EXISTS (SELECT 1 FROM base c
                WHERE NOT c.is_new AND c.nh = b.nh)
              GROUP BY lang),
      lw AS (SELECT DISTINCT lang, is_new, unnest(ws) AS w FROM d),
      bw AS (SELECT lang, w FROM lw WHERE is_new),
      cw AS (SELECT lang, w FROM lw WHERE NOT is_new),
      nww AS (SELECT lang, COUNT(1) AS new_words FROM bw
              WHERE NOT EXISTS (SELECT 1 FROM cw
                WHERE cw.lang = bw.lang AND cw.w = bw.w)
              GROUP BY lang),
      bwc AS (SELECT lang, COUNT(1) AS batch_words FROM bw GROUP BY lang)
      SELECT c.lang, corpus_docs, batch_docs,
        CASE WHEN corpus_docs > 0 THEN
          CAST(ctok AS DOUBLE) / CAST(corpus_docs AS DOUBLE) END
          AS corpus_mean_tokens,
        CASE WHEN batch_docs > 0 THEN
          CAST(btok AS DOUBLE) / CAST(batch_docs AS DOUBLE) END
          AS batch_mean_tokens,
        CASE WHEN batch_docs > 0 THEN
          CAST(COALESCE(dup_docs, 0) AS DOUBLE)
            / CAST(batch_docs AS DOUBLE) END AS exact_dup_rate,
        CASE WHEN COALESCE(batch_words, 0) > 0 THEN
          CAST(COALESCE(new_words, 0) AS DOUBLE)
            / CAST(batch_words AS DOUBLE) END AS new_word_rate
      FROM counts c LEFT JOIN dup USING (lang)
      LEFT JOIN nww USING (lang) LEFT JOIN bwc USING (lang)
      ORDER BY lang""",
    "q116_bpe_train" -> sqlBpeTrain,
    // the vocab-target train: all rounds unrolled (SQL cannot early-
    // return), rows kept up to the first measured-vocab target hit —
    // the same rows the engine's genuinely-stopping loop emits
    "q128_bpe_vocab_train" -> sqlBpeVocabTrain,
    // re-encodes from the ENGINE-STAGED merges, ids from the ENGINE-
    // STAGED vocab — OOV (merged tokens, sub-min-count words) is 0
    "q129_bpe_token_ids" -> {
      val enc = (1 to BpeRounds).foldLeft("norm") { (acc, r) =>
        sqlBpeMerge(acc,
          s"COALESCE((SELECT w1 FROM m WHERE round = $r), 'x x')",
          s"COALESCE((SELECT w2 FROM m WHERE round = $r), 'x x')")
      }
      s"""
      WITH m AS (SELECT round, w1, w2
                 FROM '__GRAFT_STAGED__/bpe_merges/*.parquet'),
      v AS (SELECT token_id, token
            FROM '__GRAFT_STAGED__/vocab/*.parquet'),
      c0 AS (SELECT doc_id, $sqlNorm AS norm FROM documents),
      e AS (SELECT doc_id, string_split($enc, ' ') AS ws FROM c0),
      toks AS (SELECT doc_id, i, ws[i] AS tok
               FROM (SELECT doc_id, ws,
                       unnest(range(1, len(ws) + 1)) AS i
                     FROM e)),
      ids AS (SELECT doc_id, i, COALESCE(v.token_id, 0) AS tid
              FROM toks LEFT JOIN v ON toks.tok = v.token),
      per AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_oov,
                string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i) AS seq
              FROM ids GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_oov, $sqlH60m AS ids_h60
      FROM (SELECT doc_id, n_tokens, n_oov, md5(seq) AS m FROM per)
      ORDER BY doc_id"""
    },
    // replays the encode over the ENGINE-STAGED merge table (never
    // retrains); a missing round coalesces to a space-bearing token,
    // which cannot match in the doubled-separator domain — the same
    // no-op a skipped fold is on the engine side
    "q121_bpe_encode" -> {
      val enc = (1 to BpeRounds).foldLeft("norm") { (acc, r) =>
        sqlBpeMerge(acc,
          s"COALESCE((SELECT w1 FROM m WHERE round = $r), 'x x')",
          s"COALESCE((SELECT w2 FROM m WHERE round = $r), 'x x')")
      }
      s"""
      WITH m AS (SELECT round, w1, w2
                 FROM '__GRAFT_STAGED__/bpe_merges/*.parquet'),
      c0 AS (SELECT doc_id, $sqlNorm AS norm FROM documents)
      SELECT doc_id, len(string_split(e, ' ')) AS n_tokens,
        $sqlH60m AS enc_h60
      FROM (SELECT doc_id, e, md5(e) AS m
            FROM (SELECT doc_id, $enc AS e FROM c0))
      ORDER BY doc_id"""
    },
    // greedy MaxMatch replayed declaratively: longest vocab match per
    // (word, position) precomputed (first-char equi-key so the match
    // probe hash-joins), then the greedy chain is a SINGLE-PATH
    // recursive CTE — one row per emitted piece, no path explosion
    "q182_maxmatch_tokenize" -> s"""
      WITH RECURSIVE
      w AS (SELECT word, COUNT(*) AS n_occurrences
            FROM (SELECT unnest($sqlWords) AS word FROM documents)
            WHERE length(word) > 0 GROUP BY word),
      v AS (SELECT tok FROM '__GRAFT_STAGED__/mm_vocab/*.parquet'),
      pos AS (SELECT word, unnest(range(1, length(word) + 1)) AS p
              FROM w),
      m AS (SELECT pos.word, pos.p, MAX(length(v.tok)) AS l
            FROM pos JOIN v
              ON substr(v.tok, 1, 1) = substr(pos.word, CAST(pos.p AS INT), 1)
             AND substr(pos.word, CAST(pos.p AS INT), length(v.tok)) = v.tok
            GROUP BY pos.word, pos.p),
      seg(word, p, piece, step) AS (
        SELECT word, CAST(1 AS BIGINT), CAST(NULL AS VARCHAR), 0 FROM w
        UNION ALL
        SELECT s.word, s.p + m.l,
          substr(s.word, CAST(s.p AS INT), CAST(m.l AS INT)),
          s.step + 1
        FROM seg s JOIN m ON m.word = s.word AND m.p = s.p
        WHERE s.p <= length(s.word)),
      agg AS (SELECT word, COUNT(*) AS n_pieces,
                string_agg(piece, '|' ORDER BY step) AS pieces
              FROM seg WHERE step > 0 GROUP BY word)
      SELECT w.word, w.n_occurrences, agg.n_pieces, agg.pieces
      FROM w JOIN agg USING (word) ORDER BY word""",
    "q119_perplexity_filter" -> s"""
      WITH d AS (SELECT doc_id, lang, $sqlWords AS ws FROM documents),
      bg AS (SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT doc_id, lang, ws,
                     unnest(range(1, greatest(len(ws)-1, 0) + 1)) AS i
                   FROM d WHERE len(ws) >= 2)),
      counted AS (SELECT lang, w1, w2, COUNT(1) AS cnt
                  FROM bg GROUP BY lang, w1, w2),
      heads AS (SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS c1
                FROM counted GROUP BY lang, w1),
      vocab AS (SELECT lang, COUNT(1) AS v FROM heads GROUP BY lang),
      p AS (SELECT lang, w1, w2, ((cnt + 1) * 1000000) // (c1 + v) AS p_1e6
            FROM counted JOIN heads USING (lang, w1)
              JOIN vocab USING (lang)),
      scored AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
          CAST(SUM(p_1e6) AS BIGINT) // CAST(COUNT(1) AS BIGINT)
            AS mean_p_1e6
        FROM bg JOIN p USING (lang, w1, w2) GROUP BY doc_id),
      cut AS (SELECT CAST(SUM(mean_p_1e6) AS BIGINT) // COUNT(1)
                AS corpus_mean_1e6 FROM scored)
      SELECT documents.doc_id, documents.lang,
        COALESCE(n_bigrams, 0) AS n_bigrams, mean_p_1e6,
        corpus_mean_1e6,
        COALESCE(mean_p_1e6 * 2 >= corpus_mean_1e6, FALSE) AS keep
      FROM documents LEFT JOIN scored ON documents.doc_id = scored.doc_id
        CROSS JOIN cut
      ORDER BY documents.doc_id""",
    "q114_chi_square" -> """
      WITH b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
      x AS (SELECT event_type,
              least(3, CAST(floor(((value - mn) * 4.0) / (mx - mn))
                AS BIGINT)) AS bucket
            FROM events CROSS JOIN b),
      cells AS (SELECT event_type, bucket, COUNT(1) AS observed
                FROM x GROUP BY event_type, bucket),
      m AS (SELECT *,
              CAST(SUM(observed) OVER (PARTITION BY event_type) AS BIGINT)
                AS row_tot,
              CAST(SUM(observed) OVER (PARTITION BY bucket) AS BIGINT)
                AS col_tot
            FROM cells),
      tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_tot FROM cells),
      f AS (SELECT event_type, bucket, observed,
              (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                / CAST(n_tot AS DOUBLE) AS expected
            FROM m CROSS JOIN tot)
      SELECT event_type, bucket, observed, expected,
        ((CAST(observed AS DOUBLE) - expected)
           * (CAST(observed AS DOUBLE) - expected)) / expected AS contrib
      FROM f ORDER BY event_type, bucket""",
    "q113_bpe_merge" -> s"""
      WITH d AS (SELECT doc_id, $sqlNorm AS norm, $sqlWords AS ws
                 FROM documents),
      bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT ws, unnest(range(1, greatest(len(ws)-1, 0) + 1))
                     AS i
                   FROM d WHERE len(ws) >= 2)),
      best AS (SELECT w1, w2, COUNT(1) AS cnt FROM bg GROUP BY w1, w2
               ORDER BY cnt DESC, w1, w2 LIMIT 1),
      m AS (SELECT doc_id, w1, w2, cnt, ws,
              ${sqlBpeMerge("norm", "w1", "w2")} AS merged
            FROM d CROSS JOIN best)
      SELECT doc_id, w1, w2, cnt, len(ws) AS n_before,
        len(string_split(merged, ' ')) AS n_after,
        md5(merged) AS merged_hash
      FROM m ORDER BY doc_id""",
    "q111_transitions" -> """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                 FROM events),
      p AS (SELECT event_type,
              lag(event_type) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS prev_type
            FROM e),
      counted AS (SELECT prev_type, event_type, COUNT(1) AS cnt
                  FROM p WHERE prev_type IS NOT NULL
                  GROUP BY prev_type, event_type),
      tot AS (SELECT *, CAST(SUM(cnt) OVER (PARTITION BY prev_type)
                AS BIGINT) AS row_total
              FROM counted)
      SELECT prev_type, event_type AS next_type, cnt,
        CAST(cnt AS DOUBLE) / CAST(row_total AS DOUBLE) AS p
      FROM tot ORDER BY prev_type, next_type""",
    "q109_rolling_active" -> """
      WITH a AS (SELECT DISTINCT user_id,
                   epoch_us(ts) // 86400000000 AS day
                 FROM events),
      dau AS (SELECT day, COUNT(1) AS dau FROM a GROUP BY day),
      c AS (SELECT DISTINCT user_id, day + o AS day
            FROM a, (SELECT unnest(range(0, 7)) AS o)),
      wau AS (SELECT day, COUNT(1) AS wau7 FROM c GROUP BY day)
      SELECT day, dau, wau7,
        CAST(dau AS DOUBLE) / CAST(wau7 AS DOUBLE) AS stickiness
      FROM dau JOIN wau USING (day) ORDER BY day""",
    "q107_anomaly" -> """
      WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                   CASE WHEN event_id % 997 = 0 THEN value * 20.0
                        ELSE value END AS value
                 FROM events),
      w AS (SELECT *,
          CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER fr AS DOUBLE) AS sumv,
          CAST(SUM(CAST(value * value AS DECIMAL(28,6))) OVER fr AS DOUBLE)
            AS sumsq,
          COUNT(1) OVER fr AS n_frame
        FROM e WINDOW fr AS (PARTITION BY event_type ORDER BY ts_us
          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)),
      z AS (SELECT *,
          CASE WHEN n_frame >= 2
                 AND (sumsq - (sumv * sumv) / CAST(n_frame AS DOUBLE))
                       / (CAST(n_frame AS DOUBLE) - 1) > 0
            THEN (value - sumv / CAST(n_frame AS DOUBLE))
                   / sqrt((sumsq - (sumv * sumv) / CAST(n_frame AS DOUBLE))
                          / (CAST(n_frame AS DOUBLE) - 1)) END AS z
        FROM w)
      SELECT event_id, event_type, ts_us, value, n_frame, z
      FROM z WHERE abs(z) > 3
      ORDER BY event_type, ts_us, event_id""",
    "q105_retention" -> """
      WITH a AS (SELECT DISTINCT user_id,
                   epoch_us(ts) // 86400000000 AS day
                 FROM events),
      c AS (SELECT *, MIN(day) OVER (PARTITION BY user_id) AS cohort_day
            FROM a),
      cells AS (SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(1) AS n_users
                FROM c GROUP BY cohort_day, day - cohort_day),
      sized AS (SELECT *, MAX(CASE WHEN offset_days = 0 THEN n_users END)
                  OVER (PARTITION BY cohort_day) AS cohort_size
                FROM cells)
      SELECT cohort_day, offset_days, n_users,
        CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      FROM sized ORDER BY cohort_day, offset_days""",
    "q101_fuzzy_join" -> s"""
      WITH vocab AS (SELECT DISTINCT tok FROM
          (SELECT unnest($sqlWords) AS tok FROM documents)
        WHERE length(tok) >= 3),
      queries AS (SELECT DISTINCT
          substr(tok, 1, (length(tok)+1)//2 - 1)
            || substr(tok, (length(tok)+1)//2 + 1, length(tok)) AS qtok
        FROM vocab),
      vk AS (SELECT tok, unnest([tok] ||
          list_transform(range(1, length(tok)+1),
            i -> substr(tok, 1, i-1) || substr(tok, i+1, length(tok))))
          AS key
        FROM vocab),
      qk AS (SELECT qtok, unnest([qtok] ||
          list_transform(range(1, length(qtok)+1),
            i -> substr(qtok, 1, i-1) || substr(qtok, i+1, length(qtok))))
          AS key
        FROM queries),
      cand AS (SELECT DISTINCT qtok, tok FROM qk JOIN vk USING (key))
      SELECT qtok, tok, CAST(levenshtein(qtok, tok) AS BIGINT) AS dist
      FROM cand WHERE levenshtein(qtok, tok) <= 1
      ORDER BY qtok, tok""",
    "q102_funnel" -> """
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                 FROM events),
      w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
               OVER (PARTITION BY user_id) AS t_view FROM e),
      w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
                 AND ts_us >= t_view THEN ts_us END)
               OVER (PARTITION BY user_id) AS t_click FROM w1),
      w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
                 AND ts_us >= t_click THEN ts_us END)
               OVER (PARTITION BY user_id) AS t_purchase FROM w2),
      g AS (SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
              MIN(t_purchase) AS t_purchase
            FROM w3 GROUP BY user_id)
      SELECT user_id, t_view, t_click, t_purchase,
        CASE WHEN t_purchase IS NOT NULL THEN 3
             WHEN t_click IS NOT NULL THEN 2
             WHEN t_view IS NOT NULL THEN 1
             ELSE 0 END AS funnel_stage
      FROM g ORDER BY user_id""",
    "q94_bm25" -> s"""
      WITH toks0 AS (SELECT doc_id, unnest($sqlWords) AS term FROM documents),
      toks AS (SELECT doc_id, term FROM toks0 WHERE len(term) > 0),
      tf AS (SELECT doc_id, term, COUNT(1) AS tf FROM toks GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      df AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY term),
      tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t_total, COUNT(1) AS n_docs
              FROM dl),
      scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl,
          (((44 * t_total * tf.tf * 1000000)
              // (20 * t_total * tf.tf + 6 * t_total + 18 * dl.dl * n_docs))
            * (2 * n_docs - 2 * df.df + 1)) // (2 * df.df + 1) AS score
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN tot),
      ranked AS (SELECT *, ROW_NUMBER() OVER
          (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM scored)
      SELECT doc_id, rank, term, tf, df, dl, score FROM ranked
      WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q95_boilerplate" -> s"""
      WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      starts AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 5)) AS start
                 FROM w),
      segs AS (SELECT doc_id, (start - 1) // 5 AS seg_idx,
                 array_to_string(ws[start : start + 4], ' ') AS seg
               FROM starts),
      boiler AS (SELECT seg FROM
                   (SELECT DISTINCT doc_id, seg FROM segs)
                 GROUP BY seg HAVING COUNT(1) >= 2),
      flagged AS (SELECT s.doc_id, s.seg_idx, s.seg,
          CASE WHEN b.seg IS NULL THEN 0 ELSE 1 END AS is_boiler
        FROM segs s LEFT JOIN boiler b USING (seg)),
      counted AS (SELECT *,
          COUNT(1) OVER (PARTITION BY doc_id) AS n_segs,
          CAST(SUM(is_boiler) OVER (PARTITION BY doc_id) AS BIGINT)
            AS n_dropped
        FROM flagged)
      SELECT doc_id, seg_idx, md5(seg) AS seg_hash, n_segs, n_dropped
      FROM counted WHERE is_boiler = 0
      ORDER BY doc_id, seg_idx""",
    "q96_vocab_build" -> s"""
      WITH toks0 AS (SELECT unnest($sqlWords) AS token FROM documents),
      toks AS (SELECT token FROM toks0 WHERE len(token) > 0),
      counts AS (SELECT token, COUNT(1) AS cnt FROM toks GROUP BY token),
      tot AS (SELECT COUNT(1) AS t_total FROM toks),
      v AS (SELECT token, cnt FROM counts WHERE cnt >= 5),
      ranked AS (SELECT token, cnt,
          CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT)
            AS token_id,
          CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_cnt
        FROM v)
      SELECT token_id, token, cnt, cum_cnt,
        CAST(cum_cnt AS DOUBLE) / CAST(t_total AS DOUBLE) AS coverage
      FROM ranked CROSS JOIN tot ORDER BY token_id""",
    "q97_importance_weights" -> s"""
      WITH toks0 AS (SELECT doc_id, lang, unnest($sqlWords) AS token
                     FROM documents),
      toks AS (SELECT doc_id, lang, token FROM toks0 WHERE len(token) > 0),
      tf AS (SELECT doc_id, lang, token, COUNT(1) AS tf
             FROM toks GROUP BY doc_id, lang, token),
      ratios AS (SELECT token,
          ((CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) + 1)
             * 1000000) // (CAST(SUM(tf) AS BIGINT) + 1) AS r_1e6
        FROM tf GROUP BY token),
      scored AS (SELECT doc_id, lang, CAST(SUM(tf) AS BIGINT) AS n_tokens,
          CAST(SUM(tf * r_1e6) AS BIGINT) AS score_sum
        FROM tf JOIN ratios USING (token) GROUP BY doc_id, lang)
      SELECT doc_id, lang, n_tokens, score_sum // n_tokens AS importance_1e6
      FROM scored ORDER BY doc_id""",
    "q98_scd2_compaction" -> """
      WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
                 FROM events),
      g AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      r AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS version
            FROM g),
      runs AS (SELECT user_id, version, MIN(event_type) AS state,
                 MIN(ts_us) AS valid_from_us, COUNT(1) AS n_events
               FROM r GROUP BY user_id, version),
      iv AS (SELECT *, lead(valid_from_us) OVER
               (PARTITION BY user_id ORDER BY version) AS valid_to_us
             FROM runs)
      SELECT user_id, version, state, valid_from_us, valid_to_us, n_events,
        valid_to_us IS NULL AS is_current
      FROM iv ORDER BY user_id, version""",
    "q87_corr_stats" -> s"""
      WITH d AS (SELECT lang, n_chars AS x,
                   CAST(len($sqlWords) AS BIGINT) AS y
                 FROM documents),
      g AS (SELECT lang, COUNT(1) AS n,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x*x) AS BIGINT) AS sxx,
              CAST(SUM(y*y) AS BIGINT) AS syy,
              CAST(SUM(x*y) AS BIGINT) AS sxy
            FROM d GROUP BY lang),
      f AS (SELECT lang, n,
              CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
              CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
              CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
            FROM g)
      SELECT lang, n,
        CASE WHEN nd*sxxd - sxd*sxd > 0 AND nd*syyd - syd*syd > 0
          THEN (nd*sxyd - sxd*syd)
               / (sqrt(nd*sxxd - sxd*sxd) * sqrt(nd*syyd - syd*syd)) END
          AS corr_chars_tokens,
        CASE WHEN nd*sxxd - sxd*sxd > 0
          THEN (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) END AS slope,
        CASE WHEN nd*sxxd - sxd*sxd > 0
          THEN (syd - ((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd)) * sxd) / nd
          END AS intercept
      FROM f ORDER BY lang""",
    "q88_pii_scrub" -> """
      WITH a AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or +1-555-01' || CAST(doc_id AS VARCHAR)
            AS aug
        FROM documents),
      sc AS (SELECT doc_id, aug,
          regexp_replace(
            regexp_replace(aug,
              '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
            '\+[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
        FROM a)
      SELECT doc_id,
        len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+'))
          AS n_emails,
        len(regexp_extract_all(aug, '\+[0-9][0-9-]{6,}[0-9]')) AS n_phones,
        md5(scrubbed) AS scrub_hash,
        (len(regexp_extract_all(scrubbed,
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) = 0
         AND len(regexp_extract_all(scrubbed, '\+[0-9][0-9-]{6,}[0-9]')) = 0)
          AS residue_free
      FROM sc ORDER BY doc_id""",
    "q89_bigram_lm" -> s"""
      WITH d AS (SELECT lang, $sqlWords AS ws FROM documents),
      bg AS (SELECT lang, ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT lang, ws,
                     unnest(range(1, greatest(len(ws)-1, 0) + 1)) AS i
                   FROM d WHERE len(ws) >= 2)),
      counted AS (SELECT lang, w1, w2, COUNT(1) AS cnt
                  FROM bg GROUP BY lang, w1, w2),
      scored AS (SELECT lang, w1, w2, cnt,
          CAST(SUM(cnt) OVER (PARTITION BY lang, w1) AS BIGINT) AS head_cnt,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, w1, w2)
            AS rank
        FROM counted)
      SELECT lang, rank, w1, w2, cnt,
        CAST(cnt AS DOUBLE) / CAST(head_cnt AS DOUBLE) AS cond_p
      FROM scored WHERE rank <= 3 ORDER BY lang, rank""",
    "q84_weighted_mix" -> {
      val wcase = mixWeights
        .map { case (l, w) => s"WHEN '$l' THEN CAST($w AS DOUBLE)" }
        .mkString("CASE lang ", " ", " ELSE CAST(0 AS DOUBLE) END")
      s"""
      WITH c AS (SELECT lang, count(1) AS n, $wcase AS w
                 FROM documents GROUP BY lang),
      cw AS (SELECT * FROM c WHERE w > 0),
      q AS (SELECT lang, floor(w * (SELECT MIN(n / w) FROM cw)) AS quota
            FROM cw),
      r AS (SELECT doc_id, lang,
              ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS mix_rank
            FROM documents)
      SELECT r.doc_id, r.lang, r.mix_rank
      FROM r JOIN q ON r.lang = q.lang
      WHERE r.mix_rank <= q.quota
      ORDER BY r.doc_id"""
    },
    // exact counts + literal true: the envelope-oracle pattern (q28/q46)
    "q83_heavy_hitters" -> s"""
      WITH toks AS (SELECT unnest($sqlWords) AS token FROM documents),
      tf AS (SELECT token FROM toks WHERE len(token) > 0),
      exact AS (SELECT token, count(1) AS exact_count FROM tf GROUP BY token)
      SELECT token, exact_count, true AS within_envelope
      FROM exact ORDER BY exact_count DESC, token LIMIT 20""",
    "q77_hopping_window" -> """
      WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
      x AS (SELECT event_type, value,
              unnest([ts_us // 1800000000 * 1800000000,
                      ts_us // 1800000000 * 1800000000 - 1800000000]) AS w_start_us
            FROM e)
      SELECT w_start_us, w_start_us + 3600000000 AS w_end_us, event_type,
        count(1) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM x
      GROUP BY w_start_us, event_type
      ORDER BY w_start_us, event_type""",
    "q69_length_filter" -> s"""
      WITH d AS (SELECT doc_id, lang, len($sqlWords) AS n_tokens FROM documents),
      r AS (SELECT doc_id, lang, n_tokens,
              percent_rank() OVER (PARTITION BY lang
                                   ORDER BY n_tokens, doc_id) AS pr
            FROM d)
      SELECT doc_id, lang, n_tokens,
        CAST(CAST(pr AS DECIMAL(28,6)) AS DOUBLE) AS pr
      FROM r WHERE pr >= 0.05 AND pr <= 0.95
      ORDER BY doc_id""",
    "q68_corpus_prep" -> s"""
      WITH d AS (SELECT doc_id, $sqlNorm AS norm FROM documents),
      w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM d),
      canon AS (SELECT MIN(doc_id) AS doc_id
                FROM (SELECT doc_id, md5(norm) AS nh FROM d) GROUP BY nh),
      q AS (SELECT w.doc_id, w.ws FROM w JOIN canon USING (doc_id)
            WHERE ((0.4 * (CAST(len(list_intersect(list_distinct(ws), ${sqlList(enStop)})) AS DOUBLE)
                             / CAST(len(ws) AS DOUBLE))
                  + 0.3 * (CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS DOUBLE)
                             / CAST(length(norm) AS DOUBLE)))
                  + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)) >= 0.42),
      starts AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 56)) AS start
                 FROM q),
      chunks AS (SELECT doc_id, (start - 1) // 56 AS chunk_idx,
                   ws[start : start + 63] AS chunk
                 FROM starts)
      SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
        md5(array_to_string(chunk, ' ')) AS chunk_hash
      FROM chunks ORDER BY doc_id, chunk_idx""",
    "q67_click_attribution" -> """
      WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
                 FROM events),
      c AS (SELECT user_id, event_id AS click_id, ts_us AS click_us
            FROM e WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us, value
            FROM e WHERE event_type = 'purchase'),
      pairs AS (SELECT p.*, c.click_id, c.click_us
                FROM p JOIN c USING (user_id)
                WHERE c.click_us <= p.purchase_us
                  AND c.click_us > p.purchase_us - 1800000000),
      r AS (SELECT *,
              row_number() OVER (PARTITION BY purchase_id
                                 ORDER BY click_us DESC, click_id DESC) AS rk,
              count(*) OVER (PARTITION BY purchase_id) AS n_clicks
            FROM pairs)
      SELECT purchase_id, user_id, click_id AS attributed_click,
             purchase_us - click_us AS lag_us, n_clicks, value
      FROM r WHERE rk = 1
      ORDER BY purchase_id""",
    "q56_stratified_sample" -> {
      val m = "md5(CAST(doc_id AS VARCHAR))"
      val hex = (1 to 4).map(k =>
        s"(strpos('0123456789abcdef', substr($m, $k, 1)) - 1)")
      val bucket = s"CAST((${hex(0)} * 4096 + ${hex(1)} * 256 + ${hex(2)} * 16 + ${hex(3)}) % 100 AS INT)"
      val rateCase = sampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", " ELSE 0 END")
      s"""
      WITH b AS (SELECT doc_id, lang, $bucket AS bucket FROM documents)
      SELECT doc_id, lang, bucket FROM b
      WHERE bucket < $rateCase
      ORDER BY doc_id"""
    },
    "q132_weighted_sample" -> {
      val m = "md5('ws:' || CAST(doc_id AS VARCHAR))"
      val h60 = (1 to 15).foldLeft("CAST(0 AS BIGINT)") { (acc, k) =>
        s"($acc * 16 + (strpos('0123456789abcdef', substr($m, $k, 1)) - 1))"
      }
      s"""
      WITH d AS (SELECT doc_id, source, greatest(n_chars, 1) AS weight,
          $h60 AS h
        FROM documents),
      p AS (SELECT source, doc_id, weight, h // weight AS priority
        FROM d),
      rk AS (SELECT source, doc_id, weight, priority,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY priority, doc_id) AS rank
        FROM p)
      SELECT source, rank, doc_id, weight, priority
      FROM rk WHERE rank <= 5 ORDER BY source, rank"""
    },
    "q58_sequence_pack" -> s"""
      WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      starts AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 56)) AS start
                 FROM w),
      chunks AS (SELECT doc_id, (start - 1) // 56 AS chunk_idx,
                   ws[start : start + 63] AS chunk
                 FROM starts)
      SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
        md5(array_to_string(chunk, ' ')) AS chunk_hash
      FROM chunks ORDER BY doc_id, chunk_idx""",
    // deterministic FIM cuts: the same two keyed 60-bit md5 hashes
    // reduced mod n+1, spans restated as 1-based inclusive list slices
    "q180_fim_spans" -> {
      def h60(c: String) = (1 to 15).foldLeft("CAST(0 AS BIGINT)") {
        (acc, k) =>
          s"($acc * 16 + (strpos('0123456789abcdef', substr($c, $k, 1)) - 1))"
      }
      s"""
      WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      m AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
          md5('fim1:' || CAST(doc_id AS VARCHAR)) AS m1,
          md5('fim2:' || CAST(doc_id AS VARCHAR)) AS m2
        FROM w),
      h AS (SELECT doc_id, ws, n,
          ${h60("m1")} % (n + 1) AS c1,
          ${h60("m2")} % (n + 1) AS c2
        FROM m),
      c AS (SELECT doc_id, ws, n,
          LEAST(c1, c2) AS cut_lo, GREATEST(c1, c2) AS cut_hi
        FROM h)
      SELECT doc_id, n AS n_tokens, cut_lo, cut_hi,
        cut_lo AS p_len, cut_hi - cut_lo AS m_len, n - cut_hi AS s_len,
        md5(COALESCE(array_to_string(ws[1 : CAST(cut_lo AS INT)], ' '),
          '')) AS prefix_hash,
        md5(COALESCE(array_to_string(
          ws[CAST(cut_lo + 1 AS INT) : CAST(cut_hi AS INT)], ' '), ''))
          AS middle_hash,
        md5(COALESCE(array_to_string(
          ws[CAST(cut_hi + 1 AS INT) : CAST(n AS INT)], ' '), ''))
          AS suffix_hash
      FROM c ORDER BY doc_id"""
    },
    // the same closed-form water-filling: ascending sorted cumsum,
    // first level whose floor((B - cum_before)/m) undercuts its own
    // count is the cap; none => budget covers all (cap = max n)
    "q183_token_budget" -> s"""
      WITH counts AS (SELECT source,
          CAST(SUM(len($sqlWords)) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget
            FROM counts),
      lev AS (SELECT source, n_tokens,
          ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS i,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum_before,
          COUNT(*) OVER (ORDER BY n_tokens, source
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m
        FROM counts),
      cand AS (SELECT lev.*,
          CAST((b.budget - lev.cum_before) // lev.m AS BIGINT) AS t_cand
        FROM lev CROSS JOIN b),
      cap AS (SELECT COALESCE(
          (SELECT t_cand FROM cand WHERE t_cand < n_tokens
           ORDER BY i LIMIT 1),
          (SELECT MAX(n_tokens) FROM counts)) AS cap)
      SELECT c.source, c.n_tokens, cap.cap,
        LEAST(c.n_tokens, cap.cap) AS alloc,
        c.n_tokens > cap.cap AS capped
      FROM counts c CROSS JOIN cap ORDER BY c.source""",
    // temperature sampling: integer-scaled sqrt weights (no double
    // sums), exact BIGINT normalizer, single-expression double ratios
    // with pinned association, 60-bit hash Bernoulli threshold
    "q184_temperature_sample" -> {
      val h60 = (1 to 15).foldLeft("CAST(0 AS BIGINT)") { (acc, k) =>
        s"($acc * 16 + (strpos('0123456789abcdef', substr(m, $k, 1)) - 1))"
      }
      s"""
      WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents
                      GROUP BY lang),
      cw AS (SELECT lang, n_docs,
          CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1e12))
            AS BIGINT) AS w
        FROM counts),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
          CAST(SUM(w) AS BIGINT) AS z FROM cw),
      rates AS (SELECT lang, n_docs,
          CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS share_before,
          CAST(w AS DOUBLE) / CAST(z AS DOUBLE) AS share_target,
          LEAST(1.0, (CAST(w AS DOUBLE) * CAST(total // 4 AS DOUBLE))
            / (CAST(z AS DOUBLE) * CAST(n_docs AS DOUBLE))) AS accept_rate
        FROM cw CROSS JOIN tot),
      th AS (SELECT lang,
          CAST(FLOOR(accept_rate * 1152921504606846976.0) AS BIGINT)
            AS thresh
        FROM rates),
      hs AS (SELECT d.lang,
          md5('temp:' || CAST(d.doc_id AS VARCHAR)) AS m
        FROM documents d),
      acc AS (SELECT hs.lang, COUNT(*) AS n_accepted
        FROM hs JOIN th ON hs.lang = th.lang
        WHERE $h60 < th.thresh GROUP BY hs.lang)
      SELECT r.lang, r.n_docs, r.share_before, r.share_target,
        r.accept_rate, COALESCE(acc.n_accepted, 0) AS n_accepted
      FROM rates r LEFT JOIN acc ON r.lang = acc.lang
      ORDER BY r.lang"""
    },
    "q55_tfidf_topterms" -> s"""
      WITH toks AS (SELECT doc_id, unnest($sqlWords) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(1) AS tf FROM toks GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(1) AS df FROM
               (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df, (tf.tf * 1000000) // df.df AS score
        FROM tf JOIN df USING (term)),
      ranked AS (SELECT *, ROW_NUMBER() OVER
          (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM scored)
      SELECT doc_id, rank, term, tf, df, score FROM ranked
      WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q50_lang_profile" -> s"""
      WITH d AS (SELECT doc_id, lang, list_distinct($sqlWords) AS toks FROM documents),
      h AS (SELECT doc_id, lang AS tagged_lang,
        len(list_intersect(toks, ${sqlList(enStop)})) AS hits_en,
        len(list_intersect(toks, ${sqlList(deStop)})) AS hits_de,
        len(list_intersect(toks, ${sqlList(frStop)})) AS hits_fr
      FROM d)
      SELECT doc_id, tagged_lang, hits_en, hits_de, hits_fr,
        CASE WHEN hits_en = 0 AND hits_de = 0 AND hits_fr = 0 THEN 'unknown'
             WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
             WHEN hits_de >= hits_fr THEN 'de'
             ELSE 'fr' END AS guess
      FROM h ORDER BY doc_id""",
    // the batch-perceptron TRAINING unrolled: epoch k's weight vector
    // is a 1-row CTE of scalar subqueries over epoch k-1's, every sum
    // BIGINT-exact — training replay, not just scoring replay
    "q160_batch_perceptron" -> {
      // DuckDB inlines CTE references, so each epoch must reference
      // its predecessor exactly ONCE (a cross join with the 1-row
      // weight table) — scalar-subquery chaining would expand the
      // plan exponentially in the epoch count
      val pdot = "p.w0 * x0 + p.w1 * x1 + p.w2 * x2 + p.w3 * x3"
      def epoch(name: String, prev: Option[String]) = prev match {
        case None =>
          // w = 0: every margin is 0, the whole corpus updates
          s"""$name AS (SELECT ${(0 to 3).map(i =>
            s"CAST(COALESCE(SUM(y * x$i), 0) AS BIGINT) AS w$i")
              .mkString(", ")}
          FROM f)"""
        case Some(e) =>
          s"""$name AS (SELECT ${(0 to 3).map(i =>
            s"CAST(MAX(p.w$i) + COALESCE(SUM(CASE WHEN y * ($pdot)" +
              s" <= 0 THEN y * x$i END), 0) AS BIGINT) AS w$i")
              .mkString(", ")}
          FROM f CROSS JOIN $e p)"""
      }
      val epochs = (1 to PerceptronEpochs).map(k =>
        epoch(s"e$k", if (k == 1) None else Some(s"e${k - 1}")))
        .mkString(",\n      ")
      val eN = s"e$PerceptronEpochs"
      s"""
      WITH d AS (SELECT doc_id, $sqlNorm AS norm, $sqlWords AS ws
                 FROM documents),
      m AS (SELECT doc_id,
          CAST(len(list_intersect(list_distinct(ws),
            ${sqlList(enStop)})) AS BIGINT) AS sh,
          CAST(len(ws) AS BIGINT) AS nt,
          CAST(length(regexp_replace(norm, '[^a-z]', '', 'g'))
            AS BIGINT) AS al,
          CAST(length(norm) AS BIGINT) AS nl
        FROM d),
      f AS (SELECT doc_id,
          CASE WHEN ((0.4 * (CAST(sh AS DOUBLE) / CAST(nt AS DOUBLE))
              + 0.3 * (CASE WHEN nl > 0 THEN CAST(al AS DOUBLE)
                  / CAST(nl AS DOUBLE) END))
              + 0.3 * least(1.0, CAST(nt AS DOUBLE) / 100.0)) >= 0.42
            THEN 1 ELSE -1 END AS y,
          CAST(1 AS BIGINT) AS x0,
          (1000 * sh) // nt AS x1,
          CASE WHEN nl > 0 THEN (1000 * al) // nl ELSE 0 END AS x2,
          least(1000, 10 * nt) AS x3
        FROM m),
      $epochs
      SELECT doc_id, CAST(y AS INT) AS label,
        CAST($pdot AS BIGINT) AS score,
        CAST(CASE WHEN $pdot > 0 THEN 1 ELSE -1 END AS INT) AS pred,
        (CASE WHEN $pdot > 0 THEN 1 ELSE -1 END) = y AS correct
      FROM f CROSS JOIN $eN p ORDER BY doc_id"""
    },
    "q51_quality_score" -> s"""
      WITH d AS (SELECT doc_id, $sqlNorm AS norm, $sqlWords AS ws FROM documents),
      m AS (SELECT doc_id, len(ws) AS n_tokens,
        CAST(len(list_intersect(list_distinct(ws), ${sqlList(enStop)})) AS DOUBLE)
          / CAST(len(ws) AS DOUBLE) AS stop_ratio,
        CAST(length(regexp_replace(norm, '[^a-z]', '', 'g')) AS DOUBLE)
          / CAST(length(norm) AS DOUBLE) AS alpha_ratio,
        least(1.0, CAST(len(ws) AS DOUBLE) / 100.0) AS len_sat
      FROM d)
      SELECT doc_id, n_tokens, stop_ratio, alpha_ratio,
        ((0.4 * stop_ratio + 0.3 * alpha_ratio) + 0.3 * len_sat) AS quality
      FROM m ORDER BY doc_id""",
    "q52_token_stats" -> s"""
      WITH d AS (SELECT doc_id, $sqlNorm AS norm, $sqlWords AS ws FROM documents)
      SELECT doc_id, len(ws) AS n_ws_tokens,
        len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
        len(list_distinct(ws)) AS n_distinct,
        CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS distinct_ratio
      FROM d ORDER BY doc_id""",
    // the naive global-window spelling of the two-level prefix sum —
    // single-node DuckDB can afford it, and the hash match certifies
    // the distributed decomposition computes the identical stream index
    "q177_token_stream_pack" -> s"""
      WITH toks AS (SELECT doc_id,
          CAST(len($sqlWords) AS BIGINT) AS n_tokens FROM documents),
      cum AS (SELECT doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS global_start
        FROM toks)
      SELECT doc_id, n_tokens, global_start,
        global_start // 256 AS bin_id,
        global_start % 256 AS offset_in_bin
      FROM cum ORDER BY doc_id""",
    // the reverse index: per doc, one row per spanned bin, slice
    // arithmetic restated over the naive global cumsum
    "q178_bin_manifest" -> s"""
      WITH toks AS (SELECT doc_id,
          CAST(len($sqlWords) AS BIGINT) AS n_tokens FROM documents),
      cum AS (SELECT doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS gs
        FROM toks),
      spans AS (SELECT doc_id, n_tokens, gs,
          unnest(generate_series(gs // 256, (gs + n_tokens - 1) // 256))
            AS bin_id
        FROM cum)
      SELECT bin_id, doc_id,
        GREATEST(bin_id * 256 - gs, 0) AS skip,
        LEAST((bin_id + 1) * 256, gs + n_tokens)
          - GREATEST(bin_id * 256, gs) AS take
      FROM spans ORDER BY bin_id, doc_id""",
    // the naive global row_number over the keyed-hash order — the
    // single-node spelling of the block-prefix rank decomposition
    "q179_epoch_shuffle" -> s"""
      WITH toks AS (SELECT doc_id,
          CAST(len($sqlWords) AS BIGINT) AS n_tokens FROM documents),
      tot AS (SELECT SUM(n_tokens) AS total FROM toks),
      bins AS (SELECT unnest(generate_series(0,
                   CAST((total - 1) // 256 AS BIGINT)))
                 AS bin_id FROM tot),
      e AS (SELECT unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)])
              AS epoch),
      keyed AS (SELECT epoch, bin_id,
          md5(CAST(bin_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))
            AS k
        FROM bins CROSS JOIN e)
      SELECT epoch, bin_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, bin_id)
          AS BIGINT) AS pos
      FROM keyed ORDER BY epoch, bin_id""",
    "q53_fingerprint" -> s"""
      WITH d AS (SELECT doc_id, $sqlNorm AS norm, $sqlWords AS ws FROM documents),
      sh AS (SELECT doc_id, norm, list_distinct($sqlShingles) AS sh FROM d)
      SELECT doc_id,
        array_to_string(list_sort(list_transform(sh, x -> md5(x)))[1:4], '|') AS fingerprint,
        list_reduce(
          [CAST(0 AS BIGINT)] ||
            list_transform(range(1, length(norm) + 1), i -> CAST(ascii(norm[i]) AS BIGINT)),
          (h, c) -> (h * 131 + c) % 1000000007) AS rolling_hash,
        len(sh) AS n_shingles
      FROM sh ORDER BY doc_id""",
    "q54_sessionize" -> """
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
      g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM g)
      SELECT user_id, sess_id, MIN(ts_us) AS session_start, MAX(ts_us) AS session_end,
        COUNT(1) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",
    "q63_repetition_score" -> s"""
      WITH d AS (SELECT doc_id, $sqlWords AS ws FROM documents),
      g2 AS (SELECT doc_id,
          list_transform(range(1, greatest(len(ws)-1, 0) + 1),
            i -> ws[i] || ' ' || ws[i+1]) AS g2 FROM d),
      dup AS (SELECT doc_id,
          CASE WHEN len(g2) > 0
            THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
            ELSE 0.0 END AS dup_bigram_frac FROM g2),
      toks AS (SELECT doc_id, unnest(ws) AS w FROM d),
      counts AS (SELECT doc_id, w, COUNT(1) AS c FROM toks GROUP BY doc_id, w),
      top AS (SELECT doc_id, MAX(c) AS top_cnt,
                CAST(SUM(c) AS BIGINT) AS n_words
              FROM counts GROUP BY doc_id)
      SELECT doc_id, n_words,
        CAST(top_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
        dup_bigram_frac
      FROM dup JOIN top USING (doc_id)
      ORDER BY doc_id""",
  )
}
