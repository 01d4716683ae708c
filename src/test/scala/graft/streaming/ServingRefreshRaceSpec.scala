package graft.streaming

import graft.SparkSpec
import graft.ops.{CellTree, Dedup, Similarity, Staged}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** An index REFRESH racing a SERVING STREAM — the production race the
  * versioned publish protocol exists for, pinned end-to-end on a real
  * serving twin: a publish that lands between micro-batches flips the
  * snapshot the NEXT batch serves from, the swap is all-or-nothing
  * (the post-refresh batch reflects exactly the new snapshot — here a
  * compaction that dropped one vector), and the already-served result
  * log is never rewritten. Cleanup is [[Staged.rollback]] — which
  * doubles as the bad-refresh recovery drill: after rollback the
  * stream serves the original snapshot again, byte-for-byte.
  */
class ServingRefreshRaceSpec extends SparkSpec {
  import spark.implicits._

  test("a publish between micro-batches flips the served snapshot; rollback restores it") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val work = Dedup.stageRoot(dir)
    val ckpt =
      java.nio.file.Files.createTempDirectory("race-ckpt").toString

    // production staging path (ensures cells_shard/probes_shard)
    Similarity.q143ShardedAnn(spark, dir).collect()
    // fresh result log (shared path; a stale one would satisfy the
    // effectively-once anti-join and mask rows)
    val logPath = new org.apache.hadoop.fs.Path(
      s"$work/shard_results_stream")
    logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(logPath, true)

    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val kS = Similarity.adaptiveCellCount(
      (n + Similarity.NumShards - 1) / Similarity.NumShards)
    val (tree, _) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Hash(Similarity.NumShards), Seq(kS)))

    val q0 = Similarity.scaledVectors(spark, dir)
      .where(col("vec_id") === 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Long], Double)].head()
    val src = MemoryStream[(Long, Seq[Long], Double)]
    def drain(): Unit =
      EventStreams.shardedSearchStream(
        src.toDF().toDF("vec_id", "v", "nrm"), dir, work, tree,
        width = 2, ckpt).awaitTermination()
    def served(qid: Long): Seq[(Int, Long)] =
      spark.read.parquet(s"$work/shard_results_stream")
        .where(col("query_id") === qid)
        .select(col("rank"), col("neighbor_id"))
        .as[(Int, Long)].collect().toSeq.sortBy(_._1)

    // batch 1: served from the original snapshot
    src.addData(q0)
    drain()
    val s1 = served(0L)
    assert(s1.nonEmpty)
    val n1 = s1.head._2 // the rank-1 neighbor the refresh will drop

    try {
      // REFRESH lands between batches: a compaction that drops n1,
      // published through the production protocol (new version +
      // atomic swap); the pre-swap snapshot stays on disk for any
      // in-flight reader
      val cur = spark.read
        .parquet(Staged.path(work, "cells_shard")).localCheckpoint()
      Staged.write(cur.where(col("vec_id") =!= n1), work, "cells_shard")

      // batch 2: the SAME vector under a fresh query id must be
      // served from the refreshed snapshot — n1 gone, and vec 0
      // itself (no longer the self-excluded id) surfaces at rank 1
      src.addData((1000000L, q0._2, q0._3))
      drain()
      val s2 = served(1000000L)
      assert(s2.nonEmpty)
      assert(!s2.exists(_._2 == n1),
        s"post-refresh batch served the dropped vector $n1: $s2")
      assert(s2.head._2 === 0L,
        s"post-refresh batch should surface vec 0 at rank 1: $s2")
      // the pre-refresh serving history is append-only — untouched
      assert(served(0L) === s1, "the refresh rewrote served history")
    } finally Staged.rollback(work, "cells_shard")

    // rollback restores the original snapshot for the next batch:
    // the same vector under yet another id serves s1's neighbors
    // (plus vec 0 itself, which outranks them at cosine 1)
    src.addData((2000000L, q0._2, q0._3))
    drain()
    val s3 = served(2000000L)
    assert(s3.head._2 === 0L)
    assert(s3.map(_._2).tail === s1.map(_._2).dropRight(1),
      s"post-rollback serving diverged: $s3 vs $s1")
  }
}
