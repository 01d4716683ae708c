package graft.streaming

import graft.SparkSpec
import graft.ops.{CellTree, Dedup, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming sharded serving == batch q143, on the real embeddings:
  * run the batch scatter-gather entry once (it stages cells_shard /
  * probes_shard), then stream the SAME 20 query vectors in 3
  * micro-batches through [[EventStreams.shardedSearchStream]] with
  * the same (deterministically retrained) tree and assert
  * the accumulated result log equals the batch result row-for-row.
  * Both paths compute probes by the same tree descent and gather
  * through the same cell equi-join over the same staged cells, so any
  * divergence is streaming plumbing. Also pins the effectively-once
  * guard: drained re-run and fresh-checkpoint redelivery both append
  * nothing.
  */
class ShardedSearchStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed sharded search equals batch q143 over 3 micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val work = Dedup.stageRoot(dir)
    val ckpt =
      java.nio.file.Files.createTempDirectory("shard-srch-ckpt").toString

    val batch = Similarity.q143ShardedAnn(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSet
    // serve into a clean result log (a stale one would satisfy the
    // anti-join and mask divergence)
    val fs = new org.apache.hadoop.fs.Path(s"$work/shard_results_stream")
    fs.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fs, true)

    // the same model the staging trained (training is deterministic)
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val kS = Similarity.adaptiveCellCount(
      (n + Similarity.NumShards - 1) / Similarity.NumShards)
    val (tree, _) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Hash(Similarity.NumShards), Seq(kS)))

    val qRows = Similarity.scaledVectors(spark, dir)
      .where(col("nrm") > 0 && col("vec_id") < 20)
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Long], Double)].collect().toSeq.sortBy(_._1)
    assert(qRows.size >= 3, s"need >=3 queries, got ${qRows.size}")
    val src = MemoryStream[(Long, Seq[Long], Double)]
    def drain(): Unit =
      EventStreams.shardedSearchStream(
        src.toDF().toDF("vec_id", "v", "nrm"), dir, work, tree,
        width = 2, ckpt).awaitTermination()
    qRows.grouped((qRows.size + 2) / 3).foreach { chunk =>
      src.addData(chunk: _*)
      drain()
    }

    val streamed = spark.read.parquet(s"$work/shard_results_stream")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")

    // drained re-run: no-op
    drain()
    assert(spark.read.parquet(s"$work/shard_results_stream").count()
      === batch.size.toLong)

    // fresh-checkpoint redelivery: no-op by content
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("shard-srch-ckpt2").toString
    val src2 = MemoryStream[(Long, Seq[Long], Double)]
    src2.addData(qRows: _*)
    EventStreams.shardedSearchStream(
      src2.toDF().toDF("vec_id", "v", "nrm"), dir, work, tree,
      width = 2, ckpt2).awaitTermination()
    assert(spark.read.parquet(s"$work/shard_results_stream").count()
      === batch.size.toLong)
  }
}
