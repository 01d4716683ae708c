package graft.streaming

import graft.SparkSpec
import graft.ops.{CellTree, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming SHARDED-HIERARCHICAL ingest == the trained model's own
  * batch assignment, on the real embeddings table — the ingest twin
  * of q169's capacity composition: per-shard two-level trees at the
  * forced [[Similarity.shardHierSizing]] geometry. Train once, stage
  * the 90 % split as the pre-existing index, stream the new split in
  * 3 micro-batches through [[EventStreams.treeIngestStream]],
  * assert row-for-row equality, then both idempotence modes (drained
  * re-run; fresh-checkpoint redelivery — the anti-join-by-content
  * carries it, not the offset log).
  */
class ShardedHierIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stream-ingested sharded-hier cells equal the model's batch assignment over 3 micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val staged =
      java.nio.file.Files.createTempDirectory("shardh-stream").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("shardh-stream-ckpt").toString

    val isNew = col("vec_id") % 10 === 9
    val iv = Similarity.scaledVectors(spark, dir)
      .where(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint()
    val shards = Similarity.NumShards
    val (kSup, kSub) = Similarity.shardHierSizing(
      (iv.count() + shards - 1) / shards)
    val (tree, asg) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Hash(shards), Seq(kSup, kSub)))
    val full = asg.localCheckpoint() // the model's own full assignment
    full.join(iv.where(!isNew).select(col("vec_id")), "vec_id")
      .write.mode("overwrite").parquet(s"$staged/cells_shard_hier_stream")

    val newRows = iv.where(isNew)
      .as[(Long, Seq[Long], Double)].collect().toSeq.sortBy(_._1)
    assert(newRows.size >= 3, s"need >=3 new vectors, got ${newRows.size}")
    val src = MemoryStream[(Long, Seq[Long], Double)]
    def drain(): Unit =
      EventStreams.treeIngestStream(
        src.toDF().toDF("vec_id", "v", "nrm"), tree,
        s"$staged/cells_shard_hier_stream", ckpt)
        .awaitTermination() // AvailableNow: runs until drained
    newRows.grouped((newRows.size + 2) / 3).foreach { chunk =>
      src.addData(chunk: _*)
      drain()
    }

    val streamed = spark.read.parquet(s"$staged/cells_shard_hier_stream")
      .as[(Long, Long)].collect().toSet
    val batch = full.as[(Long, Long)].collect().toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")

    // drained re-run with the same checkpoint: no-op
    drain()
    assert(spark.read.parquet(s"$staged/cells_shard_hier_stream").count()
      === batch.size.toLong)

    // redelivery through a FRESH checkpoint: still a no-op by content
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("shardh-stream-ckpt2").toString
    val src2 = MemoryStream[(Long, Seq[Long], Double)]
    src2.addData(newRows: _*)
    EventStreams.treeIngestStream(
      src2.toDF().toDF("vec_id", "v", "nrm"), tree,
      s"$staged/cells_shard_hier_stream", ckpt2)
      .awaitTermination()
    assert(spark.read.parquet(s"$staged/cells_shard_hier_stream").count()
      === batch.size.toLong)
  }

  test("stream-ingested sharded THREE-level cells equal the depth-3 model's batch assignment") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val staged =
      java.nio.file.Files.createTempDirectory("shardh3-stream").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("shardh3-stream-ckpt").toString

    val isNew = col("vec_id") % 10 === 9
    val iv = Similarity.scaledVectors(spark, dir)
      .where(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint()
    val shards = Similarity.NumShards
    val (k1, k2, k3) = (2, 2, 2) // forced full depth on the small table
    val (tree, asg) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Hash(shards), Seq(k1, k2, k3)))
    val full = asg.localCheckpoint()
    full.join(iv.where(!isNew).select(col("vec_id")), "vec_id")
      .write.mode("overwrite").parquet(s"$staged/cells_shard_hier3_stream")

    val newRows = iv.where(isNew)
      .as[(Long, Seq[Long], Double)].collect().toSeq.sortBy(_._1)
    assert(newRows.size >= 2, s"need >=2 new vectors, got ${newRows.size}")
    val src = MemoryStream[(Long, Seq[Long], Double)]
    newRows.grouped((newRows.size + 1) / 2).foreach { chunk =>
      src.addData(chunk: _*)
      EventStreams.treeIngestStream(
        src.toDF().toDF("vec_id", "v", "nrm"), tree,
        s"$staged/cells_shard_hier3_stream", ckpt)
        .awaitTermination()
    }

    val streamed = spark.read.parquet(s"$staged/cells_shard_hier3_stream")
      .as[(Long, Long)].collect().toSet
    val batch = full.as[(Long, Long)].collect().toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")

    // redelivery through a FRESH checkpoint: a no-op by content
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("shardh3-stream-ckpt2").toString
    val src2 = MemoryStream[(Long, Seq[Long], Double)]
    src2.addData(newRows: _*)
    EventStreams.treeIngestStream(
      src2.toDF().toDF("vec_id", "v", "nrm"), tree,
      s"$staged/cells_shard_hier3_stream", ckpt2)
      .awaitTermination()
    assert(spark.read.parquet(s"$staged/cells_shard_hier3_stream").count()
      === batch.size.toLong)
  }
}
