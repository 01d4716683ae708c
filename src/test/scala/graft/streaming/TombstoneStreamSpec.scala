package graft.streaming

import graft.SparkSpec
import graft.ops.{Dedup, Similarity, Staged}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming delete feed == batch tombstones, end to end: the ids
  * q144's batch entry stages are streamed through
  * [[EventStreams.deleteIngestStream]] in 3 micro-batches WITH
  * redelivery (every id arrives 3× inside one batch, then the whole
  * feed replays through a fresh checkpoint), and the streamed table
  * must (a) equal the batch tombstone set exactly — redelivered
  * deletes are no-ops — and (b) drive the q144 masked search to the
  * byte-identical batch result when swapped in as the staged asset.
  */
class TombstoneStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed delete feed equals batch tombstones and drives q144 to the same result") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val work = Dedup.stageRoot(dir)
    val staged =
      java.nio.file.Files.createTempDirectory("del-stream").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("del-ckpt").toString

    val batch = Similarity.q144TombstoneAnn(spark, dir)
      .collect().toSeq // stages index + deletes as a side effect
    val batchDeletes = spark.read.parquet(s"$work/deletes")
      .as[Long].collect().toSet

    // the same feed, streamed: 3 micro-batches, each id delivered 3×
    // WITHIN its batch (delete feeds are rife with redelivery)
    val ids = batchDeletes.toSeq.sorted
    val src = MemoryStream[Long]
    def drain(cp: String, s: MemoryStream[Long]): Unit =
      EventStreams.deleteIngestStream(
        s.toDF().toDF("vec_id"), staged, cp).awaitTermination()
    ids.grouped((ids.size + 2) / 3).foreach { chunk =>
      src.addData(chunk ++ chunk ++ chunk: _*)
      drain(ckpt, src)
    }
    val streamed = spark.read.parquet(s"$staged/deletes_stream")
    assert(streamed.as[Long].collect().toSet === batchDeletes)
    assert(streamed.count() === batchDeletes.size.toLong,
      "in-batch redelivery appended duplicates")

    // full replay through a FRESH checkpoint (offset log forgotten,
    // as after a crash between write and commit): content anti-join
    // must make it a no-op
    val src2 = MemoryStream[Long]
    src2.addData(ids: _*)
    drain(java.nio.file.Files.createTempDirectory("del-ckpt2").toString,
      src2)
    assert(spark.read.parquet(s"$staged/deletes_stream").count()
      === batchDeletes.size.toLong)

    // swap the STREAMED table in as the staged tombstone asset and
    // re-run the masked search: byte-identical to the batch result.
    // Ephemeral publish (durable = false): the swapped-in asset serves
    // this JVM only — no manifest, so a later run can't cross-run-trust
    // the spec's planted table over the real stager's
    val v = Staged.publishDir(work, "deletes")
    spark.read.parquet(s"$staged/deletes_stream")
      .write.mode("overwrite").parquet(v)
    Staged.commit(work, "deletes", v, durable = false)
    val viaStream = Similarity.q144TombstoneAnn(spark, dir)
      .collect().toSeq
    assert(viaStream === batch)
  }

  test("a delete log whose first append crashed is ingested afresh") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val work = Dedup.stageRoot(dir)
    if (!Staged.isFresh(work, "deletes"))
      Similarity.stageDeletes(spark, dir, work)
    val batchDeletes = spark.read.parquet(s"$work/deletes")
      .as[Long].collect().toSet
    // what a crash inside the first `write.mode("append")` leaves: the
    // committer's staging dir and no data file — Spark cannot infer a
    // schema from it, so reading it as a log would fail every batch
    val staged =
      java.nio.file.Files.createTempDirectory("del-crashed").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(staged, "deletes_stream", "_temporary", "0"))
    val src = MemoryStream[Long]
    src.addData(batchDeletes.toSeq.sorted: _*)
    EventStreams.deleteIngestStream(src.toDF().toDF("vec_id"), staged,
      java.nio.file.Files.createTempDirectory("del-crashed-ckpt").toString)
      .awaitTermination()
    val streamed = spark.read.parquet(s"$staged/deletes_stream")
    assert(streamed.as[Long].collect().toSet === batchDeletes)
    assert(streamed.count() === batchDeletes.size.toLong)
  }
}
