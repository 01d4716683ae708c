package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import java.sql.Timestamp

/** Structured Streaming transforms over an `events`-shaped stream
  * (`ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE,
  * event_id BIGINT`) — the streaming extension of SURVEY §2.9 (the
  * reference is batch-only; these cover the north-star stream ops).
  *
  * All transforms are `DataFrame → DataFrame` so they run identically
  * on `readStream` sources and on batch frames (the batch twin of
  * session windows is oracle-checked as q54).
  *
  * Scale notes: each op states its state-store footprint — the thing
  * that actually limits a 1000-executor streaming job. Watermarks bound
  * state; keys partition it.
  *
  * The ingest and serving twins keep their state in parquet logs, not
  * in the state store, and drain with `Trigger.AvailableNow` through
  * [[drain]]. `foreachBatch` is at-least-once: a batch retried after
  * its write but before its offset commit, or a whole feed replayed
  * through a fresh checkpoint, runs again. Every twin is therefore
  * effectively-once by CONTENT, under one contract:
  *
  *  1. in-batch dedup — an at-least-once source can repeat a row
  *     inside one batch, so each twin first folds its batch to one row
  *     per key (`dropDuplicates`, or a deterministic MAX fold where a
  *     conflicting redelivery must resolve the same under any
  *     batching);
  *  2. anti-join by content — [[unseen]] drops the rows whose keys
  *     the log already holds, so a replay appends nothing;
  *  3. evaluate before append — the anti-join reads the log the append
  *     then writes, so the frame is `localCheckpoint`ed first
  *     (read-your-own-writes);
  *  4. key log last — a twin that writes several logs or assets
  *     appends its idempotence key log after all of them, and its
  *     earlier writes tolerate a replay, so a crash between two writes
  *     is healed by redelivery rather than frozen.
  *
  * [[appendOnce]] is the whole contract for a twin with one log;
  * [[logged]] is the one existence rule for a log or staged asset.
  */
object EventStreams {

  /** Per-user session aggregation via `session_window` (gap-merged),
    * watermarked so the state store evicts closed sessions. State per
    * key ≈ one open session row per active user.
    */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("session"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Tumbling per-type counts — the canonical windowed aggregation.
    * State = one row per (window, type) until the watermark closes it.
    */
  def tumblingTypeCounts(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Streaming exact dedup on event_id, bounded by the watermark — the
    * streaming face of the q30 exact-dedup op. State = one key per
    * event_id inside the watermark horizon (evicted after it).
    */
  def dedupEvents(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream–static enrichment join: the event stream joins a static
    * dimension (per-type weights) — the canonical streaming lookup.
    * The static side is planned per micro-batch and BROADCAST (no
    * stream-side state at all, unlike stream–stream joins whose state
    * grows with the watermark horizon); at 1000 executors this is the
    * only join shape that costs nothing beyond the stream scan. Works
    * identically on batch frames (spec asserts stream == batch).
    */
  def enrichEvents(events: DataFrame, typeDim: DataFrame): DataFrame =
    events
      .join(broadcast(typeDim), Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"),
        (col("value") * coalesce(col("weight"), lit(0.0))).as("weighted_value"))

  /** Stream–stream interval join — click→purchase attribution pairs,
    * the canonical two-sided stateful join: each purchase matches the
    * same user's clicks from the preceding `horizon`. BOTH sides carry
    * a watermark and the join condition bounds event-time distance, so
    * the state store holds only one horizon's worth of each side per
    * key and rows older than the watermark are evicted — without the
    * time bound the join state would grow forever. Batch twin (same
    * pairs, then latest-click argmax) is the oracle-checked
    * `q67_click_attribution` ([[graft.ops.Text.q67ClickAttribution]]);
    * the spec asserts streamed pairs == batch pairs on the real events
    * table. Works identically on batch frames (the same code path is
    * the batch interval join when the inputs aren't streaming).
    */
  def attributionPairs(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value"))
    val cw = if (c.isStreaming) c.withWatermark("click_ts", horizon) else c
    val pw = if (p.isStreaming) p.withWatermark("purchase_ts", horizon) else p
    // purchases drive the join so `left_outer` means "every purchase,
    // click columns null when none" — the outer row emits only once the
    // watermark passes purchase_ts + horizon and no click can still
    // arrive (asserted batch-by-batch in the spec)
    pw.join(cw,
      col("user_id") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") > col("purchase_ts") - expr(s"interval $horizon"),
      joinType)
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Exactly-once parquet file sink, drained with `Trigger.AvailableNow`
    * — the streaming INGESTION shape: process everything available in
    * bounded micro-batches, commit files through the sink's
    * `_spark_metadata` log, stop. Restarting with the same checkpoint
    * resumes after the last committed batch, so re-runs append nothing
    * for already-seen data (asserted in the spec). At 100 TB this is
    * how a stream lands as the staged parquet the batch catalog (q37)
    * consumes: downstream readers see only committed files, never
    * in-flight ones.
    */
  def parquetSink(events: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    drain(events.writeStream.format("parquet").option("path", path),
      checkpoint)

  case class Scd2Closed(user_id: Long, version: Long, state: String,
      valid_from_us: Long, valid_to_us: Long, n_events: Long)

  /** The one open run per user held in the state store (not emitted —
    * public only because the state encoder's codegen needs the
    * constructor visible, the Ev note in EventStreamsSpec).
    */
  case class Scd2Open(version: Long, state: String,
      from_us: Long, n: Long)

  /** Streaming SCD2/CDC compaction — the streaming twin of the batch
    * [[graft.ops.Text.q98Scd2Compaction]]: per user, consecutive
    * same-`event_type` events collapse into versioned state runs, and
    * a run's SCD2 row is emitted the moment a DIFFERENT state arrives
    * and closes it (Append mode: closed intervals are final and
    * immutable — exactly the rows batch q98 marks `is_current =
    * false`; the still-open run lives ONLY in the state store, since
    * an infinite stream can never finalize it). State per key = one
    * open run (version, state, from, count) — constant per active
    * user, the smallest possible CDC footprint.
    *
    * Ordering contract: events must arrive per-user in event-time
    * order ACROSS micro-batches (within a batch they are sorted here
    * by (ts_us, event_id), q98's tie-break); out-of-order delivery
    * across batches would mis-segment runs in any one-pass CDC
    * consumer — upstream this is the parquetSink replay or a
    * watermark-ordered source. The spec feeds the REAL events table
    * in event-time order over multiple batches and asserts the
    * emitted rows equal batch q98's closed set exactly.
    */
  def scd2Stream(events: Dataset[(Long, String, Long, Long)])
      : Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, String, Long, Long)],
            state: GroupState[Scd2Open]) =>
          val closed = Seq.newBuilder[Scd2Closed]
          var run = state.getOption.orNull
          batch.toSeq.sortBy { case (_, _, tsUs, eid) => (tsUs, eid) }
            .foreach { case (_, tpe, tsUs, _) =>
              run match {
                case null =>
                  run = Scd2Open(1L, tpe, tsUs, 1L)
                case r if r.state == tpe =>
                  run = r.copy(n = r.n + 1)
                case r =>
                  closed += Scd2Closed(user, r.version, r.state,
                    r.from_us, tsUs, r.n)
                  run = Scd2Open(r.version + 1, tpe, tsUs, 1L)
              }
            }
          if (run != null) state.update(run)
          closed.result().iterator
      }
  }

  /** The one AvailableNow drain: set the checkpoint, process
    * everything available in bounded micro-batches, stop. */
  private def drain(sink: DataStreamWriter[Row],
      checkpoint: String): StreamingQuery =
    sink.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[drain]] with `body` run on each micro-batch and its id. */
  private def drain(input: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    drain(input.writeStream.foreachBatch(body), checkpoint)

  /** The log or staged asset at `path`, if it holds data. A directory
    * with no visible (not `_`- or `.`-prefixed) entry counts as
    * absent: a first append that crashed leaves only `_temporary/`,
    * which Spark cannot infer a schema from, and reading it would
    * fail every later batch. The probe goes through the Hadoop
    * FileSystem of the path itself, so it holds on HDFS/S3 as on local
    * disk.
    */
  private def logged(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val visible = fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (visible) Some(graft.ops.Tables.readParquet(s, path)) else None
  }

  /** `df` minus its rows whose `keys` appear in `seen` — the one
    * idempotence anti-join. `seen` is cut to its distinct keys: the
    * anti-join's result does not depend on duplicates there, and the
    * distinct bounds a log whose key repeats (one PQ code row per
    * subspace, several result rows per query).
    */
  private def unseen(df: DataFrame, seen: DataFrame,
      keys: String*): DataFrame =
    df.join(seen.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** [[unseen]] against the log at `path`; all of `df` while there is
    * none. */
  private def unseen(df: DataFrame, path: String,
      keys: String*): DataFrame =
    logged(df.sparkSession, path).fold(df)(unseen(df, _, keys: _*))

  /** A one-log twin: per micro-batch, `rows` computes the batch's
    * rows, [[unseen]] drops those whose `keys` the log at `path`
    * already holds, and the rest is evaluated, then appended. */
  private def appendOnce(input: DataFrame, checkpoint: String,
      path: String, keys: String*)(
      rows: (DataFrame, Long) => DataFrame): StreamingQuery =
    drain(input, checkpoint) { (batch, id) =>
      unseen(rows(batch, id), path, keys: _*)
        .localCheckpoint() // read-your-own-writes: evaluate, then append
        .write.mode("append").parquet(path)
    }

  /** Fold `edges` into the versioned star archive `name`: the previous
    * star ∪ edges re-contract through
    * [[graft.ops.Dedup.connectedComponentsStar]] and republish. The
    * fold is insert-monotone, so any batch split — and any replay —
    * reaches the same star. The fold input is evaluated before the
    * publish (read-your-own-writes; the versioned publish also pins
    * the read's v=N dir).
    */
  private def foldStar(edges: DataFrame, stagedDir: String,
      name: String): Unit = {
    import graft.ops.{Dedup, Staged}
    val folded = logged(edges.sparkSession, Staged.path(stagedDir, name))
      .fold(edges)(_.union(edges)).localCheckpoint()
    val star =
      if (folded.isEmpty) folded
      else Dedup.connectedComponentsStar(folded)
        .where(col("doc_id") =!= col("cluster_id"))
        .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"))
    Staged.write(star.orderBy(col("doc_a"), col("doc_b")), stagedDir, name)
  }

  /** A batch's assignable vectors (nrm > 0; a zero vector has no
    * nearest cell), one row per vec_id. */
  private def assignable(batch: DataFrame): DataFrame =
    batch.where(col("nrm") > 0).dropDuplicates("vec_id")

  /** The nprobe flat-centroid cells of each query (no shuffle). */
  private def probesOf(q: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int): DataFrame =
    graft.ops.Similarity.ivfProbes(q, centroids, nprobe)
      .select(col("query_id"), col("cluster"))

  /** The graph-walk serving twins: the served log is consulted BEFORE
    * the walk, not after. The walk loop's per-round checkpoints run
    * eagerly, so a redelivered query filtered at the end would still
    * pay the whole rounds×beam traversal to append nothing; an
    * all-replay batch skips the walk entirely. `serve` gets the
    * session, the unserved queries and their probes.
    */
  private def walkOnce(queries: DataFrame, path: String,
      centroids: Array[Array[Double]], nprobe: Int, checkpoint: String)(
      serve: (SparkSession, DataFrame, DataFrame) => DataFrame)
      : StreamingQuery =
    drain(queries, checkpoint) { (batch, _) =>
      val q0 = assignable(batch)
      val q = logged(batch.sparkSession, path)
        .fold(q0)(log => unseen(q0,
          log.withColumnRenamed("query_id", "vec_id"), "vec_id"))
        .localCheckpoint() // probes + the walk read it
      if (!q.isEmpty)
        serve(batch.sparkSession, q, probesOf(q, centroids, nprobe))
          .localCheckpoint()
          .write.mode("append").parquet(path)
    }

  /** Streaming exact-dedup ingestion — the q48 nightly-batch shape
    * promoted to a continuous stream: each micro-batch of documents is
    * deduped WITHIN itself (min doc_id per normalized-content hash,
    * q30's election), anti-joined against the STAGED digest table the
    * previous batches built, and only novel digests are appended. The
    * staged table is the same kind of asset as q37's pairs/q78's cells
    * — the index the stream maintains and every later batch consumes.
    * With batches arriving in doc_id order, greedy first-wins equals
    * q30's global min-id election, which the spec asserts on the real
    * documents table; a drained AvailableNow re-run appends nothing
    * (asserted).
    *
    * Scale shape per batch: one hash groupBy of the BATCH (small), one
    * anti-join against the staged parquet keyed on the digest — the
    * one-sided join discipline of q48 (batch × corpus-index, never
    * corpus × corpus), and an append-only write. State lives in
    * parquet, not the state store: a restart resumes from the digest
    * table + checkpoint, and the table is directly queryable.
    */
  def dedupIngest(docs: DataFrame, stagedDir: String,
      checkpoint: String): StreamingQuery =
    appendOnce(docs, checkpoint, s"$stagedDir/corpus_digests",
        "norm_hash") { (batch, _) =>
      batch
        .select(col("doc_id"),
          md5(graft.ops.Text.normText(col("text"))).as("norm_hash"))
        .groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("doc_id"))
    }

  /** Streaming ingest twin of the PACKING family (q177–q179): a
    * continuous corpus feed folds per-doc token counts into a durable
    * log, and the packing index / bin manifest / epoch shuffle are the
    * same batch derivations ([[graft.ops.Text.packIndexOfCounts]] over
    * the log — shared code, so stream == batch is mechanism) run at
    * loader-build time. The COUNTS are what ingest must materialize
    * incrementally (tokenizing is the corpus-heavy pass); the index
    * itself is NOT incrementally maintained, deliberately: a packing
    * index is a global prefix sum over doc order, so a late doc shifts
    * every later offset — the honest streaming contract is
    * "counts are insert-monotone, the index is a deterministic
    * function of the count set", exactly how the IVF families split
    * ingest (assignments) from refresh (retraining).
    *
    * Per micro-batch: in-batch doc_id replays drop, already-ingested
    * docs anti-join away against the log ([[dedupIngest]]'s
    * idempotence — replaying any batch is a no-op), new docs tokenize
    * through the exact batch kernel ([[graft.ops.Text.tokenCountsOf]])
    * and append one narrow (doc_id, n_tokens) row each. State lives in
    * parquet, not the state store; per-batch work is batch-sized, and
    * the log is docs-bound (16 bytes of payload per doc), so a 100 TB
    * crawl's log is ~billions of narrow rows — the same table the
    * batch entry's first stage materializes anyway.
    */
  def packIngestStream(docs: DataFrame, stagedDir: String,
      checkpoint: String): StreamingQuery =
    // in-batch replays fold by MAX count, not dropDuplicates: two
    // deliveries of one doc_id with CONFLICTING text are a feed
    // bug, but the log must still be deterministic under them
    // (dropDuplicates keeps an arbitrary row). ACROSS batches the
    // rule is ARRIVAL-INDEPENDENT (the round-16 unification —
    // previously first-write-wins, which made a conflicting
    // feed's survivor depend on where the batch boundary fell):
    // identical redeliveries drop via the content-keyed anti-join,
    // a conflicting redelivery APPENDS, and readers
    // resolve per doc by the SAME MAX fold
    // ([[resolvedPackCounts]]) — so resolved log content is the
    // per-key maximum over every row ever delivered, identical
    // under ANY batching, while the log file stays append-only.
    // IngestRebatchSpec pins the two-batchings identity.
    appendOnce(docs, checkpoint, s"$stagedDir/pack_counts",
        "doc_id", "n_tokens") { (batch, _) =>
      graft.ops.Text.tokenCountsOf(batch)
        .groupBy(col("doc_id"))
        .agg(max(col("n_tokens")).as("n_tokens"))
    }

  /** The read-side resolve of [[packIngestStream]]'s count log: one
    * row per doc_id, conflicts folded by the same MAX the in-batch
    * rule applies (the arrival-independence contract's read half —
    * every consumer goes through this).
    */
  def resolvedPackCounts(s: SparkSession, stagedDir: String): DataFrame =
    s.read.parquet(s"$stagedDir/pack_counts")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"))

  /** Streaming ingest twin of the VIDEO near-dup family (q185): a
    * continuous feed of per-frame hashes — (doc_id, frame_idx, h0,
    * h1), the hashed-stream boundary the media twins share (decode+hash is
    * a stateless per-row transform upstream of writeStream; payload
    * bytes never enter the stateful stage) — folds into a durable
    * frame-hash log, and the pair set is the batch derivation
    * ([[graft.ops.Multimodal.videoHashPairs]]) over it. Like the
    * packing twin, the PAIRS are deliberately not incrementally
    * maintained: q185's all-frames rule makes a pair's validity depend
    * on both videos' COMPLETE frame sets (a late frame can both mint
    * and kill pairs), so the honest contract is "the frame log is
    * insert-monotone, pairs are a deterministic function of the log".
    *
    * Idempotence is keyed per (doc_id, frame_idx) — NOT per doc — so
    * a crash window that appended only part of a video's frames heals
    * on redelivery (the missing frames anti-join through; the logged
    * ones drop), where a doc-keyed guard would silently freeze the
    * torn video. State is a ~32-byte/frame parquet log, not the state
    * store. The input carries the ONE 128-bit frame hash (`h0`, `h1`)
    * both video folds band since round 17 — q185's position-keyed
    * re-encode fold and the offset-free containment fold (q186/q191)
    * — computed in the one decode pass upstream: one twin, one log,
    * both derivations. (Earlier rounds logged a separate 64-bit `h`
    * for q185; widening the position-keyed banding retired it. A log
    * written by that schema fails the read by name — see the guard —
    * and re-stages, rather than joining on ghost columns.)
    *
    * REDELIVERY RULE (arrival-independent — the round-16 unification):
    * a redelivered row whose content equals a logged row drops (the
    * all-columns anti-join — replays and fresh-checkpoint redeliveries
    * append nothing); a CONFLICTING redelivery (same (doc, frame),
    * different hash — a feed bug) APPENDS, and readers resolve per
    * key by the lexicographic MAX over (h0, h1)
    * ([[resolvedFrameHashLog]]). Log CONTENT as resolved is therefore
    * the per-key maximum over every row ever delivered — identical
    * under ANY batching of the same feed (the old first-write-wins
    * anti-join made the survivor depend on which batch arrived first),
    * while the log file itself stays append-only: determinism moved
    * from write order to the resolve fold. IngestRebatchSpec pins the
    * two-batchings identity.
    */
  def videoHashIngestStream(hashes: DataFrame, stagedDir: String,
      checkpoint: String): StreamingQuery = {
    val path = s"$stagedDir/video_frame_hashes"
    // content-keyed: identical redeliveries drop, conflicting ones
    // append and resolve at read time
    appendOnce(hashes, checkpoint, path,
        "doc_id", "frame_idx", "h0", "h1") { (batch, _) =>
      // a legacy-format log fails by name before the anti-join
      logged(batch.sparkSession, path)
        .foreach(requireFrameHashSchema(_, "videoHashIngestStream"))
      // deterministic in-batch replay fold: the SAME struct-MAX rule
      // the read-side resolver applies, so in-batch and cross-batch
      // redeliveries resolve identically (arrival-independence)
      batch
        .select(col("doc_id"), col("frame_idx"),
          struct(col("h0"), col("h1")).as("hs"))
        .groupBy(col("doc_id"), col("frame_idx"))
        .agg(max(col("hs")).as("hs"))
        .select(col("doc_id"), col("frame_idx"),
          col("hs.h0").as("h0"), col("hs.h1").as("h1"))
    }
  }

  /** Schema guard for the frame-hash log: a log written by the
    * retired (doc_id, frame_idx, h) 64-bit format would make the
    * content anti-join fail with an unresolved-column error deep in
    * the plan; fail by NAME at the boundary instead, telling the
    * operator to re-stage (the hashes re-derive from the payloads —
    * the log is a cache of a deterministic map, so re-staging loses
    * nothing).
    */
  private def requireFrameHashSchema(log: DataFrame,
      site: String): DataFrame = {
    val cols = log.columns.toSet
    require(Set("doc_id", "frame_idx", "h0", "h1").subsetOf(cols),
      s"$site: existing video_frame_hashes log has columns " +
        s"${log.columns.mkString("(", ", ", ")")} — not the 128-bit " +
        s"(doc_id, frame_idx, h0, h1) format this build writes. " +
        s"Delete the log directory and re-run the ingest; frame " +
        s"hashes re-derive deterministically from the stored payloads.")
    log
  }

  /** The read-side resolve of [[videoHashIngestStream]]'s log: one
    * row per (doc_id, frame_idx), conflicts folded by the same
    * lexicographic MAX the in-batch rule applies — the half of the
    * arrival-independence contract every consumer must go through.
    */
  def resolvedFrameHashLog(s: SparkSession, stagedDir: String): DataFrame =
    requireFrameHashSchema(
        s.read.parquet(s"$stagedDir/video_frame_hashes"),
        "resolvedFrameHashLog")
      .groupBy(col("doc_id"), col("frame_idx"))
      .agg(max(struct(col("h0"), col("h1"))).as("hs"))
      .select(col("doc_id"), col("frame_idx"),
        col("hs.h0").as("h0"), col("hs.h1").as("h1"))

  /** Streaming NEAR-DUP pair staging — the q31→q173 pipeline
    * (shingle → minhash → LSH band → exact-Jaccard verify → star
    * archive) as a continuous ingest, closing the one ingest-matrix
    * gap the round-13 verdict named (a production crawl arrives
    * continuously; the batch entry re-derives pairs from the full
    * corpus). Per micro-batch:
    *
    *  1. in-batch doc_id dups drop, then docs already ingested
    *     anti-join away against the signature log ([[dedupIngest]]'s
    *     content-keyed idempotence — replays of any kind are no-ops);
    *  2. the NEW docs shingle and sign through the exact batch
    *     kernels ([[graft.ops.Dedup.hashedShinglesOf]] /
    *     [[graft.ops.Dedup.minhashSignatures]] — shared code, so
    *     stream == batch is mechanism);
    *  3. candidates are band-key matches between the new docs and
    *     (new ∪ already-ingested) — every pair is generated exactly
    *     once, in the batch where its LATER member arrives — and are
    *     verified by exact Jaccard over the shingle log at q31's 0.8;
    *  4. the verified edges fold into the durable STAR archive: the
    *     previous star ∪ new edges re-contract through
    *     [[graft.ops.Dedup.connectedComponentsStar]] (locally
    *     pre-contracted) and the result republishes versioned. The
    *     fold is order-insensitive because a union-find's closure is
    *     insert-monotone — any batch split folds to the SAME star the
    *     one-pass batch derivation stages (q173), which
    *     NeardupStarStreamSpec pins row-for-row.
    *
    * Scale shape per batch: the logs are corpus-linear parquet
    * (signatures: one narrow row/doc; shingles: the same (doc_id, h)
    * table every batch run materializes anyway); candidate work is
    * new×bucket, never corpus×corpus; the star re-contraction touches
    * node-bound frames (the archive is a star, and
    * locallyContracted collapses it in one map pass before CC
    * rounds). State lives in parquet, not the state store.
    */
  def neardupStarStream(docs: DataFrame, stagedDir: String,
      checkpoint: String): StreamingQuery =
    drain(docs, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      import graft.ops.Dedup
      val sigPath = s"$stagedDir/neardup_sigs"
      val shPath = s"$stagedDir/neardup_shingles"
      val bNew = unseen(batch.dropDuplicates("doc_id"), sigPath, "doc_id")
        .localCheckpoint() // shingle + signature passes read it
      val shNew = Dedup.hashedShinglesOf(bNew).localCheckpoint()
      val sigNew = Dedup.minhashSignatures(shNew).localCheckpoint()
      val sigOld = logged(s, sigPath).getOrElse(sigNew.limit(0))
      // this batch's shingles come from the new side only: a replay
      // after a crash between the two appends finds them logged too,
      // and counting both copies would double `inter`
      val shOld = logged(s, shPath)
        .fold(shNew.limit(0))(unseen(_, bNew, "doc_id"))
      val bandsNew = Dedup.bandRows(sigNew)
      val bandsAll = bandsNew.union(Dedup.bandRows(sigOld))
      // new×(new ∪ old): least/greatest normalizes orientation, so a
      // new×new bucket pair (seen from both sides) dedups in the
      // distinct — exactly q31's (doc_a < doc_b) candidate set
      val cand = bandsNew.as("x").join(bandsAll.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("da"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("db"))
        .distinct()
      val shAll = shNew.union(shOld) // cheap re-scan: ckpt + parquet
      val inter = cand
        .join(shAll.select(col("doc_id").as("da"), col("h")), "da")
        .join(shAll.select(col("doc_id").as("db"), col("h")), Seq("db", "h"))
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("inter"))
      val sizes = sigNew.select(col("doc_id"), col("n"))
        .union(sigOld.select(col("doc_id"), col("n")))
      foldStar(Dedup.scoredPairs(inter, sizes, 0.8)
        .select(col("doc_a"), col("doc_b")), stagedDir, "pairs_star_stream")
      // logs append LAST, the signature log (the idempotence key)
      // last of all; a replayed shingle append drops its logged docs
      unseen(shNew, shPath, "doc_id").localCheckpoint()
        .write.mode("append").parquet(shPath)
      sigNew.write.mode("append").parquet(sigPath)
    }

  /** Streaming SEMANTIC dedup pair staging — q92's SemDeDup as a
    * continuous ingest ([[neardupStarStream]]'s shape on the
    * embedding side), WITH the round-14 exact-dup pre-collapse
    * applied at ingest time:
    *
    *  1. new vectors (content-keyed anti-join on the id log;
    *     nrm > 0 — zero-norm vectors never form edges, exactly the
    *     batch rule) assign to their trained cell through the shared
    *     broadcast-centroid argmax ([[graft.ops.Similarity
    *     .cellAssignment]] — zero shuffle);
    *  2. exact copies collapse BEFORE any cosine: a new vector whose
    *     (cell, v) already has a logged representative emits its
    *     (rep, id) edge directly — identical nrm>0 vectors are above
    *     any admissible threshold by definition — and in-batch copy
    *     groups collapse to their min-id member the same way, so a
    *     dup-saturated stream pays one equi-join per batch, never
    *     batch×log cosines over copy mass (the REP log holds one row
    *     per DISTINCT (cell, vector) — sublinear on a dup-heavy
    *     corpus);
    *  3. distinct new representatives verify by exact integer cosine
    *     ≥ [[graft.ops.Similarity.SemDedupThreshold]] against
    *     (logged ∪ in-batch) representatives of their own cell — each
    *     rep pair priced exactly once, in the batch where its later
    *     member arrives;
    *  4. edges fold into the versioned star archive through
    *     [[graft.ops.Dedup.connectedComponentsStar]] — insert-monotone,
    *     so any batch split reaches the same closure the batch
    *     [[graft.ops.Similarity.stageSemPairs]] stages
    *     (SemDedupStreamSpec pins the streamed star == q92's
    *     non-survivor mapping row-for-row, copies split across
    *     batches included).
    */
  def semDedupStarStream(vectors: DataFrame,
      centroids: Array[Array[Double]], stagedDir: String,
      checkpoint: String): StreamingQuery =
    drain(vectors, checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      import graft.ops.Similarity
      val idPath = s"$stagedDir/semdedup_ids"
      val repPath = s"$stagedDir/semdedup_reps"
      val bNew = unseen(assignable(batch), idPath, "vec_id")
        .select(col("vec_id"),
          Similarity.cellAssignment(centroids).as("cluster"),
          col("v"), col("nrm"))
        .localCheckpoint() // dup split + rep election + logs read it
      // this batch's representatives come from the new side only (the
      // neardupStarStream replay note)
      val repsOld = logged(s, repPath).fold(
          bNew.select(col("vec_id").as("rep_id"), col("cluster"),
            col("v"), col("nrm")).limit(0))(
          unseen(_, bNew.select(col("vec_id").as("rep_id")), "rep_id"))
      // exact copies of a LOGGED representative: edge now, no cosine
      val vsLog = bNew.join(repsOld
          .select(col("cluster"), col("v"), col("rep_id")),
        Seq("cluster", "v"), "left")
      val dupVsLog = vsLog.where(col("rep_id").isNotNull)
        .select(col("rep_id").as("doc_a"), col("vec_id").as("doc_b"))
      // in-batch collapse of the remainder: min-id member represents
      val unmatched = vsLog.where(col("rep_id").isNull).drop("rep_id")
      val batchReps = unmatched.groupBy(col("cluster"), col("v"))
        .agg(min(col("vec_id")).as("rep_id"), first(col("nrm")).as("nrm"))
        .localCheckpoint() // dup stars + candidate join + log append
      val dupInBatch = unmatched
        .join(batchReps.select(col("cluster"), col("v"), col("rep_id")),
          Seq("cluster", "v"))
        .where(col("vec_id") =!= col("rep_id"))
        .select(col("rep_id").as("doc_a"), col("vec_id").as("doc_b"))
      // distinct new reps verify against (logged ∪ in-batch) reps of
      // their own cell — each rep pair priced once
      val nr = batchReps.select(col("cluster"),
        col("rep_id").as("na_id"), col("v").as("na_v"),
        col("nrm").as("na_n"))
      val allReps = repsOld.select(col("cluster"),
          col("rep_id").as("nb_id"), col("v").as("nb_v"),
          col("nrm").as("nb_n"))
        .union(batchReps.select(col("cluster"),
          col("rep_id").as("nb_id"), col("v").as("nb_v"),
          col("nrm").as("nb_n")))
      val verified = nr.join(allReps, Seq("cluster"))
        .where(col("na_id") =!= col("nb_id"))
        .select(least(col("na_id"), col("nb_id")).as("doc_a"),
          greatest(col("na_id"), col("nb_id")).as("doc_b"),
          Similarity.cosine(Similarity.idot(col("na_v"), col("nb_v")),
            col("na_n"), col("nb_n")).as("cos"))
        .where(col("cos") >= Similarity.SemDedupThreshold)
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      foldStar(dupVsLog.union(dupInBatch).union(verified),
        stagedDir, "sem_pairs_stream")
      // logs append LAST, the id log (the idempotence key) last of all
      unseen(batchReps.select(col("rep_id"), col("cluster"), col("v"),
          col("nrm")), repPath, "rep_id")
        .localCheckpoint()
        .write.mode("append").parquet(repPath)
      bNew.select(col("vec_id")).write.mode("append").parquet(idPath)
    }

  /** Streaming ingest for the GRAPH family (q187–q189) — the one
    * staged family the round-14 verdict noted had no stream twin. The
    * packing family's contract transfers directly: a late vector can
    * both MINT edges (it becomes someone's nearer neighbor) and KILL
    * them (it displaces rank-k), so honest streaming is an
    * insert-monotone VECTOR LOG plus a derivation refresh
    * ([[refreshKnnGraphFromLog]]), never incremental edge upserts.
    * Per micro-batch: in-batch vec_id replays fold by MAX(v)
    * (deterministic under a conflicting feed — the
    * [[packIngestStream]] rule), new vectors assign to their cell
    * through the model's own [[graft.ops.Similarity.cellAssignment]]
    * (the [[semDedupStarStream]] discipline) and append one narrow
    * row each. State is corpus-linear parquet, never the state store.
    *
    * REDELIVERY RULE (arrival-independent — the round-16
    * unification): identical redeliveries drop via the content-keyed
    * (vec_id, v) anti-join; a CONFLICTING redelivery (same vec_id,
    * different vector — a feed bug) APPENDS, and readers resolve per
    * vec_id by the SAME lexicographic-MAX(v) fold
    * ([[resolvedKnnVectorLog]], which the refresh goes through) — so
    * resolved log content, and therefore the derived graph, is
    * identical under ANY batching of the same feed. nrm and cluster
    * are pure functions of v, so the struct fold can never pair one
    * delivery's vector with another's derived columns.
    */
  def knnGraphIngestStream(vectors: DataFrame,
      centroids: Array[Array[Double]], stagedDir: String,
      checkpoint: String): StreamingQuery =
    // content-keyed: identical redeliveries drop, conflicts append and
    // resolve at read time (arrival-independence)
    appendOnce(vectors, checkpoint, s"$stagedDir/knn_vectors",
        "vec_id", "v") { (batch, _) =>
      import graft.ops.Similarity
      batch.select(col("vec_id"), col("v"))
        .groupBy(col("vec_id")).agg(max(col("v")).as("v"))
        .withColumn("nrm",
          sqrt(Similarity.idot(col("v"), col("v")).cast("double")))
        .select(col("vec_id"),
          Similarity.cellAssignment(centroids).as("cluster"),
          col("v"), col("nrm"))
    }

  /** The read-side resolve of [[knnGraphIngestStream]]'s vector log:
    * one row per vec_id, conflicts folded by the same
    * lexicographic-MAX(v) the in-batch rule applies; nrm/cluster ride
    * the winning row (functions of v). Every consumer — the graph
    * refresh included — goes through this.
    */
  def resolvedKnnVectorLog(s: SparkSession, stagedDir: String): DataFrame =
    s.read.parquet(s"$stagedDir/knn_vectors")
      .groupBy(col("vec_id"))
      .agg(max(struct(col("v"), col("nrm"), col("cluster"))).as("w"))
      .select(col("vec_id"), col("w.cluster").as("cluster"),
        col("w.v").as("v"), col("w.nrm").as("nrm"))

  /** The graph refresh over [[knnGraphIngestStream]]'s vector log:
    * exactly the batch derivation ([[graft.ops.Similarity.knnGraphOf]]
    * ∪ bridges, one capped NN-descent round — shared code, so
    * stream == batch is mechanism, not coincidence), republished as
    * the versioned `knn_graph_stream` asset. KnnGraphIngestStreamSpec
    * pins row-for-row equality with the batch graph over the same
    * vectors under splits, replays, and fresh-checkpoint redelivery.
    */
  def refreshKnnGraphFromLog(s: SparkSession, stagedDir: String): Unit = {
    import graft.ops.{Similarity, Staged}
    val iv = resolvedKnnVectorLog(s, stagedDir)
      .localCheckpoint() // graph, bridges, rescore all read it
    // THE batch derivation, not a restatement of it — a recipe change
    // (degree, rounds, bridge rule) cannot silently fork the stream
    // artifact from the staged batch graph
    Staged.write(Similarity.deriveKnnGraph(iv)._1,
      stagedDir, "knn_graph_stream")
  }

  /** Streaming MEDIA near-dup pair staging — the q175/q176 banded
    * Hamming family ([[graft.ops.Multimodal.bandedHammingPairs]]) as
    * a continuous ingest, completing the dedup ingest-twin matrix
    * across modalities (text: [[neardupStarStream]]; embeddings:
    * [[semDedupStarStream]]; media hashes: here). The input is the
    * HASHED stream (doc_id, h0, h1: 128-bit pHash or audio
    * fingerprint) —
    * the decode+hash map is a stateless per-row transform the caller
    * applies upstream of `writeStream`, so one twin serves both
    * modalities and payload bytes never enter the stateful stage.
    * Per micro-batch:
    *
    *  1. in-batch doc_id dups drop, then already-ingested docs
    *     anti-join away against the hash log (content-keyed
    *     idempotence — replays and fresh-checkpoint redeliveries are
    *     no-ops);
    *  2. candidates are band-key matches between the new hashes and
    *     (new ∪ ingested) through the SAME
    *     [[graft.ops.Banding.hashBandRows]] kernel the batch
    *     entries use — every pair generates exactly once, in the
    *     batch where its LATER member arrives; buckets whose
    *     CUMULATIVE occupancy exceeds the batch cap are skipped for
    *     the batch (edges a bucket emitted before going hot remain in
    *     the archive — the fold is monotone; the batch form drops the
    *     whole bucket, so the two lanes agree exactly whenever no
    *     bucket is hot, which the spec pins, and diverge only by
    *     those early edges on a bucket that heats mid-stream);
    *  3. verified (128-bit Hamming ≤ 3) edges fold into the durable star
    *     archive via [[graft.ops.Dedup.connectedComponentsStar]] —
    *     insert-monotone, so any batch split folds to the same star.
    *
    * State is the hash log: 24 bytes/doc of parquet, not state store —
    * the whole reason the hashed-stream boundary is the right one at
    * 100 TB (the text twin must log shingles; this one logs two
    * longs). The hash is the 128-bit family (4×32-bit band keys) the
    * batch core moved to in round 17 — the 64-bit keying's ~3.3M-row
    * band-space cliff applies to a cumulative ingest log MORE than to
    * any one batch.
    */
  def hammingStarStream(hashes: DataFrame, stagedDir: String,
      checkpoint: String): StreamingQuery =
    drain(hashes, checkpoint) { (batch, _) =>
      import graft.ops.Banding
      val logPath = s"$stagedDir/hamming_hashes"
      val bNew = unseen(batch.dropDuplicates("doc_id"), logPath, "doc_id")
        .localCheckpoint() // bands + verify + log append read it
      val old = logged(batch.sparkSession, logPath)
        .getOrElse(bNew.limit(0))
      val bandsNew = Banding.hashBandRows(bNew)
      val bandsAll = bandsNew.union(Banding.hashBandRows(old))
        .localCheckpoint() // occupancy + join side both read it
      val coldKeys = bandsAll.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") <= Banding.HotCap)
        .select(col("band"), col("bkey"))
      val cand = bandsNew.join(coldKeys, Seq("band", "bkey"), "leftsemi")
        .as("x")
        .join(bandsAll.join(coldKeys, Seq("band", "bkey"), "leftsemi").as("y"),
          col("x.band") === col("y.band") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") =!= col("y.doc_id"))
        // least/greatest normalizes orientation so a new×new bucket
        // pair (seen from both sides) dedups in the distinct
        // struct ordering is lexicographic with doc_id first, so
        // each hash pair stays tied to its own doc after the swap
        .select(least(struct(col("x.doc_id"), col("x.h0"), col("x.h1")),
            struct(col("y.doc_id"), col("y.h0"), col("y.h1"))).as("a"),
          greatest(struct(col("x.doc_id"), col("x.h0"), col("x.h1")),
            struct(col("y.doc_id"), col("y.h0"), col("y.h1"))).as("b"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.h0").as("pa0"), col("a.h1").as("pa1"),
          col("b.h0").as("pb0"), col("b.h1").as("pb1"))
        .distinct()
      foldStar(cand
          .withColumn("hamming",
            expr("bit_count(pa0 ^ pb0) + bit_count(pa1 ^ pb1)")
              .cast("long"))
          .where(col("hamming") <= 3)
          .select(col("doc_a"), col("doc_b")),
        stagedDir, "media_pairs_star_stream")
      // the log appends LAST — after every consumer above evaluated
      bNew.write.mode("append").parquet(logPath)
    }

  /** Streaming IVF index ingest — [[dedupIngest]]'s
    * stream-maintains-a-staged-table pattern composed with q81's zero-shuffle
    * cell assignment: vectors stream in, each batch is assigned to its
    * nearest TRAINED cell by the same broadcast-centroid argmax
    * expression the batch ingest and the training loop share
    * (Similarity.cellAssignment), and the (vec_id, cluster) rows
    * append to the staged cells table. This is the operational form of
    * index refresh at 100 TB: training amortizes across refreshes
    * (the centroids are an input, not a per-batch cost), each
    * micro-batch is a pure map stage — no shuffle, no state store —
    * and the index stays a directly queryable parquet table that q78's
    * search consumes unchanged. Effectively-once by content, keyed on
    * vec_id (the contract in the [[EventStreams]] header).
    * Zero-norm vectors are unassignable and sit out, exactly as in
    * training. IvfIngestStreamSpec asserts the streamed index equals
    * q81's batch-ingested index row-for-row over ≥3 micro-batches.
    */
  def ivfIngestStream(vectors: DataFrame,
      centroids: Array[Array[Double]], stagedDir: String,
      checkpoint: String): StreamingQuery =
    appendOnce(vectors, checkpoint, s"$stagedDir/cells_stream", "vec_id") {
      (batch, _) =>
        assignable(batch).select(col("vec_id"),
          graft.ops.Similarity.cellAssignment(centroids).as("cluster"))
    }

  /** Streaming CODEBOOK REFRESH — q161's batch-linear centroid update
    * as a stream consumer ([[ivfIngestStream]]'s discipline applied to
    * the sufficient-statistics log): each micro-batch is assigned to
    * its nearest trained cell by the shared broadcast-centroid argmax,
    * and the (vec_id, cluster, v) rows append to a staged vector LOG —
    * one table, anti-joined by vec_id before every append, so
    * redelivery (in-batch, drained re-run, or fresh-checkpoint replay)
    * is a no-op and the log never double-counts a vector into the
    * sums. The refreshed codebook is a VIEW over the log
    * ([[streamedCodebookView]]): base corpus sums + the log's own
    * (Σv, n) through the SAME batchSumsOf/mergedCodebook pair q161
    * runs, so streamed == batch is mechanism. Appending the log rather
    * than read-modify-writing a sums table is what makes at-least-once
    * delivery safe: integer sums are not idempotent under re-addition,
    * but an anti-joined append is.
    */
  def codebookRefreshStream(vectors: DataFrame,
      centroids: Array[Array[Double]], stagedDir: String,
      checkpoint: String): StreamingQuery =
    appendOnce(vectors, checkpoint, s"$stagedDir/cb_log", "vec_id") {
      (batch, _) =>
        assignable(batch).select(col("vec_id"), col("v"),
          graft.ops.Similarity.cellAssignment(centroids).as("cluster"))
    }

  /** The stream-refreshed codebook: staged corpus sums merged with the
    * [[codebookRefreshStream]] log's sufficient statistics through the
    * same code path as batch q161. */
  def streamedCodebookView(s: SparkSession, stagedDir: String): DataFrame =
    graft.ops.Similarity.mergedCodebook(
      s.read.parquet(s"$stagedDir/cb_sums"),
      graft.ops.Similarity.batchSumsOf(
        s.read.parquet(s"$stagedDir/cb_log")))

  /** Streaming CLUSTER-BALANCED sampling — q163's stream twin: each
    * micro-batch of vectors is assigned to its nearest trained cell by
    * the shared broadcast-centroid argmax, then folded into a staged
    * per-cell bottom-quota sample via the SAME election batch q163
    * runs (Similarity.clusterSampleElect), so streamed == batch is
    * mechanism. The state is the current sample itself — a MODEL-SIZED
    * table (cells × quota rows), never the corpus — because bottom-k
    * by a total deterministic key order is an insert-monotone monoid:
    * bottomk(S) = bottomk(bottomk(A) ∪ B) for any split S = A ∪ B, so
    * folding batches through intermediate elections cannot disagree
    * with the one-pass batch election (clusterSampleElect's scaladoc
    * carries the two-line proof). Idempotent under EVERY redelivery
    * mode without an anti-join: re-offering a row the sample holds is
    * erased by the vec_id dedup, and re-offering a row the sample
    * already EVICTED re-loses the same election — every current member
    * still beats it by key. Insert-only by contract (like every ingest
    * twin here); deletions ride the tombstone feed + compaction path.
    * The read-merge-publish fold is CRASH-SAFE because the state is a
    * [[graft.ops.Staged]] versioned asset: the merged election lands
    * in a fresh `v=N+1` dir and an atomic symlink swap publishes it,
    * so a crash before the micro-batch commits leaves the sample on
    * its previous complete snapshot — redelivering the batch then
    * re-runs the same deterministic election (the idempotence above),
    * never diverging from the batch form.
    */
  def clusterSampleStream(vectors: DataFrame,
      centroids: Array[Array[Double]], stagedDir: String,
      checkpoint: String): StreamingQuery =
    drain(vectors, checkpoint) { (batch, _) =>
      import graft.ops.{Similarity, Staged}
      val assigned = assignable(batch).select(col("vec_id"), col("label"),
        Similarity.cellAssignment(centroids).as("cluster"))
      val merged = logged(batch.sparkSession,
          Staged.path(stagedDir, "sample_stream"))
        .fold(assigned)(_.select(col("vec_id"), col("label"), col("cluster"))
          .unionByName(assigned)
          .dropDuplicates("vec_id"))
      // versioned publish (Staged): the merged election lands in a
      // fresh v=N+1 dir and swaps in atomically, so a crash mid-write
      // can no longer lose previously elected rows — the sample stays
      // on its last complete snapshot until the swap commits (the
      // read side keeps its pinned v=N listing, so no localCheckpoint
      // is needed either)
      Staged.write(Similarity.clusterSampleElect(merged)
          .select(col("cluster"), col("vec_id"), col("label")),
        stagedDir, "sample_stream")
    }

  /** The stream-maintained sample, ranked through the same election
    * batch q163 runs — (cluster, rank, vec_id, label, h), directly
    * comparable row-for-row.
    */
  def streamedClusterSampleView(s: SparkSession,
      stagedDir: String): DataFrame =
    graft.ops.Similarity.clusterSampleElect(
      s.read.parquet(s"$stagedDir/sample_stream"))

  /** Streaming ingest into a trained [[graft.ops.CellTree]] index — the
    * two-level, three-level, sharded and sharded-hierarchical twins of
    * [[ivfIngestStream]] in one: each micro-batch is assigned by the
    * tree's own map stage ([[graft.ops.CellTree.assign]] — the root
    * expression plus one broadcast model-sized argmax per learned level,
    * the same the trainer assigns with, so streamed == batch is
    * mechanism at every root and depth; the corpus is never touched, no
    * state store) and (vec_id, cell) appends to `log` with the
    * anti-join-by-content effectively-once discipline. A vector consults
    * only its own parent's centroids at every level, so under a hash
    * root per-shard refreshes and this ingest never interfere.
    * Hier/Hier3/Shard/ShardedHier IngestStreamSpec assert streamed ==
    * the trained model's own batch assignment row-for-row plus
    * drained-re-run and fresh-checkpoint-redelivery idempotence.
    */
  def treeIngestStream(vectors: DataFrame, tree: graft.ops.CellTree,
      log: String, checkpoint: String): StreamingQuery =
    appendOnce(vectors, checkpoint, log, "vec_id") { (batch, _) =>
      tree.assign(assignable(batch))
    }

  /** Streaming DELETE-feed ingest — the tombstone half of the index
    * lifecycle (q144's serving-time mask is the consumer): delete
    * events stream in as bare vec_ids and append to the staged
    * tombstone table that every delete-aware search anti-joins. A
    * delete needs NO model at all — no assignment, no codebook — so
    * each micro-batch is a pure projection; the only discipline is
    * the effectively-once append of the [[EventStreams]] header, which
    * also makes deleting an already-deleted id a no-op — delete feeds
    * are rife with redelivery. The index
    * itself is never touched: at 100 TB a delete costs one row in a
    * model-sized side table until q135's compaction report says the
    * accumulated tombstone fraction justifies a refresh.
    * TombstoneStreamSpec asserts the streamed tombstone table drives
    * q144's masked search to the exact batch result.
    */
  def deleteIngestStream(deletes: DataFrame, stagedDir: String,
      checkpoint: String): StreamingQuery =
    appendOnce(deletes, checkpoint, s"$stagedDir/deletes_stream",
        "vec_id") { (batch, _) =>
      batch.select(col("vec_id")).dropDuplicates("vec_id")
    }

  /** Streaming COMPACTION — the refresh half of the delete lifecycle
    * ([[deleteIngestStream]] is the accumulate half, q154/
    * [[graft.ops.Similarity.stageCompactedIndex]] the batch form):
    * each micro-batch of delete ids is folded INTO the index itself —
    * the compacted assignment loses the batch's rows and the consumed
    * feed logs them — so a search over `cells_compact_stream` needs no
    * serving-time mask at any point between micro-batches. Correctness
    * rides the anti-join algebra (A ∖ D₁) ∖ D₂ = A ∖ (D₁ ∪ D₂): per-
    * batch folding commutes with one batch compaction over the union
    * feed, which is exactly what CompactionStreamSpec pins (streamed
    * table == batch `cells_compact` row-for-row, under in-batch
    * redelivery AND a full fresh-checkpoint replay). Idempotence is
    * content-keyed on the consumed-feed log (the anti-join against the
    * log drops redelivered ids before they cost an index rewrite), the
    * same discipline as every sibling ingest.
    *
    * Scale shape: per batch, one broadcast anti-join (delta-sized)
    * over the current assignment plus a rewrite of that linear table —
    * the honest refresh cost. Production paces this trigger by q135's
    * compaction report (rewrite when the tombstone fraction justifies
    * it) rather than per-batch; the fold itself is identical at any
    * pacing, which is what the algebraic identity certifies.
    */
  def compactionStream(deletes: DataFrame, cellsPath: String,
      stagedDir: String, checkpoint: String): StreamingQuery =
    drain(deletes, checkpoint) { (batch, _) =>
      import graft.ops.Staged
      val feed = s"$stagedDir/deletes_compacted_stream"
      val ids = batch.select(col("vec_id")).dropDuplicates("vec_id")
      val fresh = unseen(ids, feed, "vec_id").localCheckpoint()
      if (!fresh.isEmpty) { // a pure redelivery skips the index rewrite
        val s = batch.sparkSession
        val base = logged(s, Staged.path(stagedDir, "cells_compact_stream"))
          .getOrElse(s.read.parquet(cellsPath))
        // versioned publish (Staged): the rewrite lands in a fresh
        // v=N+1 dir and swaps in atomically — the read side keeps its
        // pinned v=N listing (no localCheckpoint needed), and a crash
        // mid-rewrite leaves the index on the old complete snapshot
        Staged.write(unseen(base, broadcast(fresh), "vec_id"),
          stagedDir, "cells_compact_stream")
        fresh.write.mode("append").parquet(feed)
      }
    }

  /** Streaming corpus-drift MONITOR — q150's stream twin: each
    * micro-batch of incoming documents is scored against the STAGED
    * corpus baselines (per-lang stats + vocabulary from
    * [[graft.ops.Text.stageDriftBaseline]]; the exact-dup probe
    * reuses the q148 archive's `corpus_nh`), appending one row per
    * (batch, lang) to the drift log — the feed-health dashboard a
    * continuously-ingesting pipeline watches: a dup-rate or
    * vocabulary-novelty spike in a single micro-batch flags a broken
    * upstream before it trains. Per batch the corpus contributes two
    * staged-parquet probe joins (hash semi-join, vocab anti-join) —
    * never a corpus scan. Signals are PER BATCH, not cumulative
    * (that is the monitor semantics; q150 is the cumulative report),
    * and DriftStreamSpec pins that a single micro-batch carrying the
    * whole batch split reproduces q150's batch columns exactly.
    * Idempotence keys on a CONTENT-derived batch signature (the
    * xxhash64-XOR over the batch's distinct doc ids — order-
    * independent, overflow-free under ANSI), not the engine
    * batch id: batch ids restart at 0 through a fresh checkpoint, so
    * id-keying would silently drop genuinely NEW micro-batches whose
    * ids collide with logged ones — the exact feed-health data a
    * monitor exists to surface (round-10 advisor). A replayed or
    * redelivered batch (same content) appends nothing through ANY
    * checkpoint; new content always lands. The engine batch id is
    * still carried as an observability column.
    */
  def driftMonitorStream(docs: DataFrame, work: String,
      checkpoint: String): StreamingQuery =
    appendOnce(docs, checkpoint, s"$work/drift_stream", "batch_sig") {
      (batch, batchId) =>
        val b = batch.dropDuplicates("doc_id").localCheckpoint()
        val sig = b.agg(coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L))
          .as("batch_sig"))
        graft.ops.Text.driftSignalsOn(batch.sparkSession, work, b)
          .crossJoin(broadcast(sig)) // 1-row scalar
          .withColumn("batch_id", lit(batchId))
    }

  /** Streaming PQ encode ingest — [[ivfIngestStream]]'s twin for the
    * compressed index (q93's nightly batch as a stream): vectors
    * stream in, each micro-batch is encoded by the SAME broadcast-
    * codebook argmin expression training iterates
    * (Similarity.pqCodes) — a pure map stage, 4 bytes of code per
    * (vector, subspace) appended to the staged code table, no state
    * store, no shuffle. The codebook is an input (training amortizes
    * across refreshes); effectively-once by content via in-batch
    * vec_id dedup plus the same anti-join-before-append as
    * [[ivfIngestStream]] (foreachBatch alone is at-least-once under a
    * retry between write and offset commit). PqIngestStreamSpec
    * asserts the streamed code table equals q93's batch-encoded table
    * row-for-row.
    */
  def pqIngestStream(vectors: DataFrame,
      codebook: Array[Array[Array[Long]]], stagedDir: String,
      checkpoint: String): StreamingQuery =
    appendOnce(vectors, checkpoint, s"$stagedDir/pq_codes_stream",
        "vec_id") { (batch, _) =>
      graft.ops.Similarity
        .pqCodes(batch.dropDuplicates("vec_id"), codebook)
        .select(col("vec_id"), col("sub"), col("code"))
    }

  /** Streaming SQ8 encode ingest — [[pqIngestStream]]'s twin for the
    * scalar-quantized layout (q167): vectors stream in, each
    * micro-batch is encoded by the SAME fixed-param kernel the batch
    * stager runs ([[graft.ops.Similarity.sq8Encode]] — shared code
    * path ⇒ streamed == batch is mechanism, and the param arrays are
    * inputs exactly like the PQ codebook: the per-dim min/max
    * "training" amortizes across refreshes). Pure map stage per
    * batch, 64 one-byte codes + one BIGINT norm per vector appended
    * to the staged code table, no state store, no shuffle.
    * Out-of-range components (a stream can carry vectors the params
    * never saw) clamp to the edge buckets inside the shared kernel.
    * Effectively-once by content: in-batch vec_id dedup plus the
    * anti-join-before-append. Sq8IngestStreamSpec pins streamed ==
    * batch-encoded row-for-row plus both redelivery modes.
    */
  def sq8IngestStream(vectors: DataFrame, lo: Array[Long],
      st: Array[Long], stagedDir: String,
      checkpoint: String): StreamingQuery =
    appendOnce(vectors, checkpoint, s"$stagedDir/sq_codes_stream",
        "vec_id") { (batch, _) =>
      graft.ops.Similarity.sq8Encode(batch.dropDuplicates("vec_id"), lo, st)
    }

  /** Streaming ANN SERVING — the query half of the index lifecycle,
    * closing the loop the ingest matrix (exact-dedup / IVF / hier /
    * PQ) opened: micro-batches of QUERY vectors are answered from the
    * staged hier+PQ assets via exactly q136's search chain
    * ([[graft.ops.Similarity.hierPqSearchOn]] — the same code path
    * the batch entry runs, which is what makes streamed == batch a
    * mechanism rather than a test hope). Per batch: tree-descent
    * probes at the given volume-matched width (k1 literal scores +
    * broadcast-table sub scores — no shuffle), candidate equi-join
    * against the staged cells, broadcast-LUT ADC over 4-byte codes,
    * exact re-rank of the model-sized shortlist. Results append to
    * `$work/search_results_stream` — no state store; the INDEX is the
    * state and it lives in parquet, refreshed independently by the
    * ingest streams. Effectively-once per query id by the ingest
    * discipline (anti-join on already-answered query_ids before
    * append): a batch retry, a drained re-run, or a re-submitted
    * query id all append nothing. At 100 TB the per-batch cost is
    * |batch| model-sized probe selections plus one equi-join against
    * the probed slice of the code table — the corpus is never
    * scanned. HierPqSearchStreamSpec pins streamed == batch q136
    * row-for-row on the real embeddings.
    */
  def hierPqSearchStream(queries: DataFrame, dir: String, work: String,
      tree: graft.ops.CellTree, width: Int,
      checkpoint: String): StreamingQuery =
    appendOnce(queries, checkpoint, s"$work/search_results_stream",
        "query_id") { (batch, _) =>
      val q = assignable(batch).localCheckpoint() // probes + search read it
      graft.ops.Similarity.hierPqSearchOn(batch.sparkSession, dir, work, q,
        tree.probes(q, width))
    }

  /** Streaming QUALITY-GATE scoring — q160's serving half as a stream
    * consumer: micro-batches of incoming documents are featurized and
    * scored under the TRAINED staged weights
    * ([[graft.ops.Text.perceptronFeatures]] /
    * [[graft.ops.Text.perceptronPredictions]] — the same code path
    * the batch entry runs, so streamed == batch is mechanism). This
    * is the distilled gate doing its production job: a cheap integer
    * first-pass filter on the ingest stream, trained once per refresh
    * (the ANN-index discipline applied to a classifier — the model is
    * a 1-row staged parquet, the stream never trains). Per batch the
    * cost is one map pass over the batch plus a 4-long weight read;
    * no state store, no shuffle; effectively-once per doc id by the
    * ingest anti-join discipline. PerceptronStreamSpec pins streamed
    * == batch q160 row-for-row.
    */
  def perceptronScoreStream(docs: DataFrame, work: String,
      checkpoint: String): StreamingQuery =
    appendOnce(docs, checkpoint, s"$work/gate_scores_stream", "doc_id") {
      (batch, _) =>
        import graft.ops.{Staged, Text}
        val wr = Staged.read(batch.sparkSession, work, "perceptron_weights")
          .collect()(0) // model-sized: the 4 trained weights
        val w = Array(wr.getLong(0), wr.getLong(1), wr.getLong(2),
          wr.getLong(3))
        Text.perceptronPredictions(
          Text.perceptronFeatures(batch.dropDuplicates("doc_id")), w)
    }

  /** Streaming MATRYOSHKA-prefix serving — [[hierPqSearchStream]]'s
    * twin for q159's two-tier route: micro-batches of query vectors
    * select their nprobe cells from the broadcast flat centroids
    * ([[graft.ops.Similarity.ivfProbes]], no shuffle) and answer
    * through the SAME [[graft.ops.Similarity.matryoshkaSearchOn]]
    * chain the batch entry runs — prefix-integer shortlist over the
    * staged cells, exact full-dim re-rank — so streamed == batch is
    * mechanism. The serving economics are q159's: the per-batch cost
    * is the probed-cell slice priced at 1/4 FLOPs, the corpus is
    * never scanned, and the index refreshes independently of the
    * query stream. Results append-only, effectively-once per query
    * id. MatryoshkaSearchStreamSpec pins streamed == batch q159
    * row-for-row on the real embeddings.
    */
  def matryoshkaSearchStream(queries: DataFrame, dir: String,
      work: String, centroids: Array[Array[Double]], nprobe: Int,
      checkpoint: String): StreamingQuery =
    appendOnce(queries, checkpoint, s"$work/matryoshka_results_stream",
        "query_id") { (batch, _) =>
      graft.ops.Similarity.matryoshkaSearchOn(batch.sparkSession, dir, work,
        probesOf(assignable(batch).localCheckpoint(), centroids, nprobe))
    }

  /** Streaming TOMBSTONE-MASKED serving — the CONSTRAINTS column of
    * the serving-stream matrix (the layout and compression columns
    * have their twins; this is q144's query half as a stream
    * consumer): micro-batches of query vectors select their nprobe
    * cells from the broadcast flat centroids and answer through the
    * SAME [[graft.ops.Similarity.tombstoneSearchOn]] chain the batch
    * entry runs — the staged delete feed anti-joins off BOTH sides
    * before anything is scored, so a deleted corpus row is never a
    * candidate and a DELETED QUERY ID in the stream is silently
    * masked (appends nothing — the serving contract, pinned by spec).
    * Results append-only, effectively-once per query id.
    * TombstoneSearchStreamSpec pins streamed == batch q144
    * row-for-row plus the masked-query behavior.
    */
  def tombstoneSearchStream(queries: DataFrame, dir: String,
      work: String, centroids: Array[Array[Double]], nprobe: Int,
      checkpoint: String): StreamingQuery =
    appendOnce(queries, checkpoint, s"$work/tombstone_results_stream",
        "query_id") { (batch, _) =>
      graft.ops.Similarity.tombstoneSearchOn(batch.sparkSession, dir, work,
        probesOf(assignable(batch).localCheckpoint(), centroids, nprobe))
    }

  /** Streaming GRAPH-WALK serving — the serving twin of the
    * TABLE-BEST-recall route (q189, 0.95/0.81 in the q126 table),
    * closing the one serving-stream matrix gap the round-15 verdict
    * named: micro-batches of query vectors select their nprobe cells
    * from the broadcast flat centroids
    * ([[graft.ops.Similarity.ivfProbes]], no shuffle — the
    * tombstoneSearchStream probe discipline) and answer through the
    * SAME [[graft.ops.Similarity.graphWalkServeOn]] chain the batch
    * entry runs — snapshot-resolved + stamp-cross-checked staged
    * graph/medoids, medoid seeds, [[graft.ops.Similarity
    * .WalkRounds]]×[[graft.ops.Similarity.WalkBeam]] best-first
    * expansion, exact pricing — so streamed == batch is mechanism.
    * The per-batch cost is the walk's bounded score budget per query
    * plus the rounds× graph-table joins amortized over the batch (the
    * q189 economics); the graph refreshes independently of the query
    * stream (the [[knnGraphIngestStream]] log + refresh is the write
    * half). Results append-only, effectively-once per query id.
    * GraphWalkSearchStreamSpec pins streamed == batch q189
    * row-for-row on the real embeddings.
    */
  def graphWalkSearchStream(queries: DataFrame, dir: String,
      work: String, centroids: Array[Array[Double]], nprobe: Int,
      checkpoint: String): StreamingQuery =
    walkOnce(queries, s"$work/graph_walk_results_stream", centroids,
        nprobe, checkpoint) { (s, q, probes) =>
      import graft.ops.Similarity
      Similarity.graphWalkServeOn(Similarity.walkInputs(s, dir,
          Similarity.KnnGraph.resolve(s, dir, work)),
        q.select(col("vec_id").as("query_id"),
          col("v").as("qv"), col("nrm").as("qn")), probes)
    }

  /** Streaming COMPRESSED graph-walk serving — the q194 route's
    * twin, completing the graph family's serving-stream column for
    * the {graph} × {compression} cell: micro-batches of query vectors
    * probe their nprobe cells from broadcast flat centroids and
    * answer through the SAME
    * [[graft.ops.Similarity.graphWalkPqServeOn]] chain the batch
    * entry runs — per-batch ADC LUT from the staged codebook,
    * beam-[[graft.ops.Similarity.WalkPqBeam]] compressed traversal
    * over the staged graph, exact rerank-all tail — so streamed ==
    * batch is mechanism. Per-batch cost: the bounded compressed
    * budget per query plus the rounds× graph joins amortized over the
    * batch; traversal reads 16-byte code rows, exactness only in the
    * model-sized final re-rank. Effectively-once per query id,
    * redeliveries dropped BEFORE the walk (the graphWalkSearchStream
    * note). GraphWalkPqSearchStreamSpec pins streamed == batch q194
    * row-for-row.
    */
  def graphWalkPqSearchStream(queries: DataFrame, dir: String,
      work: String, centroids: Array[Array[Double]], nprobe: Int,
      checkpoint: String): StreamingQuery =
    walkOnce(queries, s"$work/graph_walk_pq_results_stream", centroids,
        nprobe, checkpoint) { (s, q, probes) =>
      import graft.ops.Similarity
      Similarity.graphWalkPqServeOn(s, dir,
        Similarity.KnnGraph.resolve(s, dir, work),
        Similarity.PqIndex.resolve(s, dir, work),
        q.select(col("vec_id").as("query_id"), col("v")), probes)
    }

  /** Streaming SQ8 serving — [[matryoshkaSearchStream]]'s twin for
    * q167's scalar-quantized route, completing the serving-stream
    * matrix for the SECOND compression layout: micro-batches of query
    * vectors select their nprobe cells from the broadcast flat
    * centroids ([[graft.ops.Similarity.ivfProbes]], no shuffle) and
    * answer through the SAME [[graft.ops.Similarity.sq8SearchOn]]
    * chain the batch entry runs — query-side lo/st folds, one
    * codegen'd integer dot per candidate over the staged 1-byte
    * codes (no codebook join), exact re-rank of the shortlist — so
    * streamed == batch is mechanism. Results append-only,
    * effectively-once per query id. Sq8SearchStreamSpec pins
    * streamed == batch q167 row-for-row on the real embeddings.
    */
  def sq8SearchStream(queries: DataFrame, dir: String, work: String,
      centroids: Array[Array[Double]], nprobe: Int,
      checkpoint: String): StreamingQuery =
    appendOnce(queries, checkpoint, s"$work/sq8_results_stream",
        "query_id") { (batch, _) =>
      graft.ops.Similarity.sq8SearchOn(batch.sparkSession, dir, work,
        probesOf(assignable(batch).localCheckpoint(), centroids, nprobe))
    }

  /** Streaming SHARDED serving — [[hierPqSearchStream]]'s twin for
    * the scatter-gather layout (q143's query half): micro-batches of
    * query vectors probe `width` cells in EVERY shard by the trained
    * tree's descent ([[graft.ops.CellTree.probes]] — broadcast
    * model-sized tables, the corpus is never touched by probe
    * selection) and gather through the SAME staged-cells equi-join +
    * top-k window the batch entry runs
    * ([[graft.ops.Similarity.shardedSearchOn]]). Because serving
    * consults only the staged cells and the
    * broadcast centroids, it composes with the layout's operational
    * point: any single shard can retrain concurrently without moving
    * the other shards' assignments, and in-flight queries see a
    * coherent index the moment the staged table swaps. Results
    * append-only, effectively-once per query id by the ingest
    * anti-join discipline. ShardedSearchStreamSpec pins streamed ==
    * batch q143 row-for-row on the real embeddings.
    */
  def shardedSearchStream(queries: DataFrame, dir: String, work: String,
      tree: graft.ops.CellTree, width: Int,
      checkpoint: String): StreamingQuery =
    appendOnce(queries, checkpoint, s"$work/shard_results_stream",
        "query_id") { (batch, _) =>
      val q = assignable(batch).localCheckpoint() // probes + gather read it
      graft.ops.Similarity.shardedSearchOn(batch.sparkSession, dir, work, q,
        tree.probes(q, width))
    }

  case class UserRollup(user_id: Long, n_events: Long, total_value: Double,
      last_ts: Timestamp)

  /** Custom stateful operator via `flatMapGroupsWithState` — the
    * streaming analog of the reference's vertex-program `apply` hook
    * (SURVEY §2.10 X1): per-user running rollup with explicit state,
    * emitting an updated row per key per batch. State (one UserRollup
    * per active user) expires on an EVENT-time timeout one idle-window
    * past the watermark — processing-time timeouts would keep the
    * micro-batch engine scheduling wake-ups forever on a drained
    * source.
    */
  def userRollups(events: Dataset[(Timestamp, Long, Double)],
      watermark: String = "10 minutes",
      idleMs: Long = 3600L * 1000): Dataset[UserRollup] = {
    import events.sparkSession.implicits._
    events
      .toDF("ts", "user_id", "value")
      .withWatermark("ts", watermark)
      .as[(Timestamp, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[UserRollup, UserRollup](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Timestamp, Long, Double)],
            state: GroupState[UserRollup]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserRollup(user, 0L, 0.0, new Timestamp(0)))
            val next = batch.foldLeft(prev) { (acc, e) =>
              UserRollup(user, acc.n_events + 1, acc.total_value + e._3,
                if (e._1.after(acc.last_ts)) e._1 else acc.last_ts)
            }
            state.update(next)
            state.setTimeoutTimestamp(next.last_ts.getTime + idleMs)
            Iterator.single(next)
          }
      }
  }
}
