package graft.streaming

import graft.SparkSpec
import graft.ops.{CellTree, Dedup, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ANN serving == batch q136, on the real embeddings: run
  * the batch hier+PQ+re-rank entry once (it stages cells_hier /
  * probes_hier / pq assets), then stream the SAME 20 query vectors in
  * 3 micro-batches through [[EventStreams.hierPqSearchStream]] at the
  * same volume-matched width and assert the accumulated result log
  * equals the batch result row-for-row — rank, neighbor and cosine.
  * Both paths run Similarity.hierPqSearchOn over the same staged
  * assets, so any divergence is streaming plumbing (batch-boundary
  * probe selection, append semantics, replay). Also pins the
  * effectively-once guard: a drained re-run and a redelivery through
  * a fresh checkpoint both append nothing.
  */
class HierPqSearchStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed hier+PQ search equals batch q136 over 3 micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val work = Dedup.stageRoot(dir)
    val ckpt =
      java.nio.file.Files.createTempDirectory("srch-stream-ckpt").toString

    // batch reference; stages every asset the stream serves from
    val batch = Similarity.q136HierPqRerank(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSet
    // a previous suite run's result log would satisfy the anti-join
    // and mask real divergence — serve into a clean log
    val fs = new org.apache.hadoop.fs.Path(s"$work/search_results_stream")
    fs.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fs, true)

    // the same model the staging trained (training is deterministic)
    val iv = Similarity.scaledVectors(spark, dir)
      .where(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint()
    // raw table count, matching stageHierIndex's own sizing input
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val (k1, k2) = Similarity.hierSizing(n)
    val (tree, _) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Codebook(k1), Seq(k2)))
    val width =
      Similarity.volumeMatchedWidth(k1.toLong * k2, n, nprobe = 2)

    val qRows = iv.where(col("vec_id") < 20)
      .as[(Long, Seq[Long], Double)].collect().toSeq.sortBy(_._1)
    assert(qRows.size >= 3, s"need >=3 queries, got ${qRows.size}")
    val src = MemoryStream[(Long, Seq[Long], Double)]
    def drain(): Unit =
      EventStreams.hierPqSearchStream(
        src.toDF().toDF("vec_id", "v", "nrm"), dir, work, tree,
        width, ckpt).awaitTermination()
    qRows.grouped((qRows.size + 2) / 3).foreach { chunk =>
      src.addData(chunk: _*)
      drain()
    }

    val streamed = spark.read.parquet(s"$work/search_results_stream")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")

    // drained re-run: no-op
    drain()
    assert(spark.read.parquet(s"$work/search_results_stream").count()
      === batch.size.toLong)

    // redelivery of every query through a FRESH checkpoint: no-op by
    // content (already-answered query ids are anti-joined away)
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("srch-stream-ckpt2").toString
    val src2 = MemoryStream[(Long, Seq[Long], Double)]
    src2.addData(qRows: _*)
    EventStreams.hierPqSearchStream(
      src2.toDF().toDF("vec_id", "v", "nrm"), dir, work, tree,
      width, ckpt2).awaitTermination()
    assert(spark.read.parquet(s"$work/search_results_stream").count()
      === batch.size.toLong)
  }
}
