package graft.streaming

import graft.SparkSpec
import graft.ops.{Dedup, Staged}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streamed near-dup pair staging == the batch q173 star archive
  * ([[EventStreams.neardupStarStream]] vs [[Dedup.stagePairsStar]]):
  * the SAME corpus split into arbitrary micro-batches must fold to
  * row-for-row the same durable star, because a union-find's closure
  * is insert-monotone — candidates are generated in the batch where a
  * pair's LATER member arrives, verified against the shingle log, and
  * re-contracted into the archive. Also pins the two idempotence
  * properties every ingest twin carries: a drained AvailableNow
  * re-run appends nothing, and a full redelivery through a FRESH
  * checkpoint (the crash-between-write-and-commit case) is a no-op
  * by content, not by offset.
  */
class NeardupStarStreamSpec extends SparkSpec {
  import spark.implicits._

  // 12 near-dup groups of 3: each member changes THE SAME position
  // (pos 20) to its own marker word, so any two members share 35 of
  // their 41 combined 3-gram shingles — J = 35/41 ≈ 0.854 > 0.8
  // (changing DIFFERENT positions would give 32/44 ≈ 0.73 and no
  // pair at all). Plus 24 distinct docs — singletons for the closure.
  private def baseText(g: Int): Seq[String] =
    (0 until 40).map(w => s"g${g}w${(w * 7 + g) % 23}tok$w")
  private val rows: Seq[(Long, String)] =
    (0 until 12).flatMap { g =>
      (0 until 3).map { m =>
        val words = baseText(g).updated(20, s"membermark$m")
        ((g * 10 + m).toLong, words.mkString(" "))
      }
    } ++ (0 until 24).map { j =>
      (1000L + j,
        (0 until 40).map(w => s"solo${j}w${(w * 11 + j) % 29}x$w")
          .mkString(" "))
    }
  // an arbitrary 3-way split that separates dup-group members across
  // batches (members of group g land in batches 0/1/2)
  private val batches: Seq[Seq[(Long, String)]] = {
    val shuffled = rows.sortBy { case (id, _) => (id % 3, id) }
    shuffled.grouped((shuffled.size + 2) / 3).toSeq
  }

  /** The q173 star archive the batch path stages over `rows`. */
  private def batchStar(): Seq[(Long, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("neardup-corpus").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val work = Dedup.stageRoot(dir)
    Dedup.stagePairsStar(spark, dir, work)
    spark.read.parquet(s"$work/pairs_star")
      .as[(Long, Long)].collect().toSeq.sorted
  }

  /** Drain everything `st` holds through the twin into `staged`. */
  private def drain(staged: String, ck: String,
      st: MemoryStream[(Long, String)]): Unit =
    EventStreams.neardupStarStream(
      st.toDF().toDF("doc_id", "text"), staged, ck)
      .awaitTermination() // AvailableNow: runs until drained

  test("streamed star archive equals the batch star over 3 arbitrary batch splits") {
    implicit val sqlCtx = spark.sqlContext
    // batch reference: the q173 star archive over the same corpus
    val batchStar = this.batchStar()
    assert(batchStar.nonEmpty, "planted corpus must produce near-dup pairs")

    val staged =
      java.nio.file.Files.createTempDirectory("neardup-stream").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("neardup-ckpt").toString
    val src = MemoryStream[(Long, String)]
    def drain(ck: String, st: MemoryStream[(Long, String)]): Unit =
      this.drain(staged, ck, st)
    batches.foreach { chunk =>
      src.addData(chunk: _*)
      drain(ckpt, src)
    }
    def readStar(): Seq[(Long, Long)] =
      spark.read.parquet(s"$staged/pairs_star_stream")
        .as[(Long, Long)].collect().toSeq.sorted
    assert(readStar() === batchStar)

    // drained re-run: no-op
    drain(ckpt, src)
    assert(readStar() === batchStar)

    // full redelivery through a FRESH checkpoint: content-keyed
    // idempotence must absorb it (no duplicate log rows, same star)
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("neardup-ckpt2").toString
    val src2 = MemoryStream[(Long, String)]
    src2.addData(rows: _*)
    drain(ckpt2, src2)
    assert(readStar() === batchStar)
    val sigCount = spark.read.parquet(s"$staged/neardup_sigs").count()
    assert(sigCount === rows.size.toLong,
      s"signature log must hold exactly one row per doc, got $sigCount")
  }

  test("a crash between the two log appends heals on redelivery") {
    implicit val sqlCtx = spark.sqlContext
    val expected = batchStar()
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // the first batch, run to completion on its own, gives the writes a
    // crash before the signature append leaves behind: the star archive
    // and the shingle log, with no signature (idempotence key) rows
    val side = tmp("neardup-side")
    val first = MemoryStream[(Long, String)]
    first.addData(batches.head: _*)
    drain(side, tmp("neardup-side-ckpt"), first)
    val staged = tmp("neardup-crashed")
    Staged.write(spark.read.parquet(s"$side/pairs_star_stream"),
      staged, "pairs_star_stream")
    spark.read.parquet(s"$side/neardup_shingles")
      .write.parquet(s"$staged/neardup_shingles")

    // redeliver that batch, then the rest
    val src = MemoryStream[(Long, String)]
    val ckpt = tmp("neardup-crashed-ckpt")
    batches.foreach { chunk =>
      src.addData(chunk: _*)
      drain(staged, ckpt, src)
    }
    assert(spark.read.parquet(s"$staged/pairs_star_stream")
      .as[(Long, Long)].collect().toSeq.sorted === expected)
    val shingles = spark.read.parquet(s"$staged/neardup_shingles")
    assert(shingles.count() === shingles.distinct().count(),
      "the shingle log must hold one copy of each (doc_id, h)")
    assert(shingles.select("doc_id").distinct().count() === rows.size.toLong)
    val sigs = spark.read.parquet(s"$staged/neardup_sigs")
    assert(sigs.count() === rows.size.toLong)
    assert(sigs.select("doc_id").distinct().count() === rows.size.toLong)
  }
}
