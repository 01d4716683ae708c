package graft.streaming

import graft.SparkSpec
import graft.ops.{CellTree, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming hier ingest == the trained model's own batch assignment,
  * on the real embeddings table: train the two-level quantizer once
  * ([[CellTree.train]] at [[Similarity.hierSizing]]), stage the
  * 90 % split's assignments as the pre-existing index, stream the new
  * split (vec_id % 10 = 9) in 3 micro-batches through
  * [[EventStreams.treeIngestStream]], and assert the resulting staged
  * table equals the model's full batch assignment row-for-row. Both
  * paths run the SAME two-level argmax (literal super + broadcast-table
  * sub), so any divergence is streaming plumbing — batch boundaries,
  * append semantics, checkpoint replay. Also asserts both idempotence
  * modes of the flat twin's spec: a drained AvailableNow re-run
  * appends nothing, and redelivery through a FRESH checkpoint appends
  * nothing (the anti-join-by-content, not the offset log, carries it).
  */
class HierIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stream-ingested hier cells equal the model's batch assignment over 3 micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val staged =
      java.nio.file.Files.createTempDirectory("hier-stream").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("hier-stream-ckpt").toString

    val isNew = col("vec_id") % 10 === 9
    val iv = Similarity.scaledVectors(spark, dir)
      .where(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint()
    val (k1, k2) = Similarity.hierSizing(iv.count())
    val (tree, asg) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Codebook(k1), Seq(k2)))
    val full = asg.localCheckpoint() // the model's own full assignment
    // pre-existing index: the corpus split's assignments, staged
    full.join(iv.where(!isNew).select(col("vec_id")), "vec_id")
      .write.mode("overwrite").parquet(s"$staged/cells_hier_stream")

    val newRows = iv.where(isNew)
      .as[(Long, Seq[Long], Double)].collect().toSeq.sortBy(_._1)
    assert(newRows.size >= 3, s"need >=3 new vectors, got ${newRows.size}")
    val src = MemoryStream[(Long, Seq[Long], Double)]
    def drain(): Unit =
      EventStreams.treeIngestStream(
        src.toDF().toDF("vec_id", "v", "nrm"), tree,
        s"$staged/cells_hier_stream", ckpt)
        .awaitTermination() // AvailableNow: runs until drained
    newRows.grouped((newRows.size + 2) / 3).foreach { chunk =>
      src.addData(chunk: _*)
      drain()
    }

    val streamed = spark.read.parquet(s"$staged/cells_hier_stream")
      .as[(Long, Long)].collect().toSet
    val batch = full.as[(Long, Long)].collect().toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")

    // drained re-run with the same checkpoint: no-op
    drain()
    assert(spark.read.parquet(s"$staged/cells_hier_stream").count()
      === batch.size.toLong)

    // redelivery through a FRESH checkpoint: still a no-op by content
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("hier-stream-ckpt2").toString
    val src2 = MemoryStream[(Long, Seq[Long], Double)]
    src2.addData(newRows: _*)
    EventStreams.treeIngestStream(
      src2.toDF().toDF("vec_id", "v", "nrm"), tree,
      s"$staged/cells_hier_stream", ckpt2)
      .awaitTermination()
    assert(spark.read.parquet(s"$staged/cells_hier_stream").count()
      === batch.size.toLong)
  }
}
