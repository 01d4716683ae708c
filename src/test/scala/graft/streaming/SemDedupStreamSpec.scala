package graft.streaming

import graft.SparkSpec
import graft.ops.{Dedup, Similarity, Staged}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streamed SemDeDup pair staging == batch q92
  * ([[EventStreams.semDedupStarStream]] vs
  * [[Similarity.stageSemPairs]] + CC): the same corpus streamed in
  * arbitrary micro-batches — exact-dup groups deliberately SPLIT
  * across batches — must fold to the star of exactly q92's
  * components, because the per-batch edges (dup-vs-log, in-batch
  * dup, verified rep pairs) imply the same transitive closure as the
  * batch pre-collapsed candidate set, and a union-find fold is
  * insert-monotone. Also pins the pre-collapse economics at ingest
  * time (the representative log holds one row per DISTINCT (cell,
  * vector) — copy mass never inflates it) and both idempotence modes.
  */
class SemDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  /** The planted corpus written under a fresh dir, q92's expected
    * (rep_id, member) star, the trained centroids and the scaled
    * vector rows a stream feeds. */
  private def fixture(): (Seq[(Long, Long)], Array[Array[Double]],
      Seq[(Long, Seq[Long], Double)]) = {
    val d = java.nio.file.Files.createTempDirectory("semdedup-stream-corpus").toString
    val g = 120
    val base: Seq[Float] =
      Array.tabulate(64)(dim => 10.0f + 0.001f * (dim % 3)).toSeq
    def nearDup(j: Int): Seq[Float] =
      base.updated(j % 64, base(j % 64) + 0.01f + 0.001f * j)
    def far(j: Int): Seq[Float] =
      Array.tabulate(64) { dim =>
        (if (dim / 16 == j % 4) 8.0f else 0.0f) + 0.002f * ((j + dim) % 5)
      }.toSeq
    val rows = (0 until g).map(j => (j.toLong, base, 0)) ++
      (0 until 15).map(j => (10000L + j, nearDup(j), 1)) ++
      (0 until 12).map(j => (20000L + j, far(j), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    // batch reference: q92's component mapping (rep_id, member) —
    // exactly the global star a stream fold must reach
    val expected = Similarity.q92SemanticDedup(spark, d)
      .where(!col("is_survivor"))
      .select(col("rep_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(expected.nonEmpty, "planted corpus must produce sem clusters")

    // the SAME trained centroids the batch staged its cells with
    // (stageIvfIndex below the flat clamp == trainCodebook, deterministic)
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    val (centroids, _) =
      Similarity.trainCodebook(spark, d, Similarity.adaptiveCellCount(n))

    val vecRows = Similarity.scaledVectors(spark, d)
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Long], Double)].collect().toSeq
    (expected, centroids, vecRows)
  }

  // id % 3 split scatters every copy group and near-dup across batches
  private def batches(vecRows: Seq[(Long, Seq[Long], Double)])
      : Seq[Seq[(Long, Seq[Long], Double)]] = {
    val shuffled = vecRows.sortBy { case (id, _, _) => (id % 3, id) }
    shuffled.grouped((shuffled.size + 2) / 3).toSeq
  }

  test("streamed sem-pair star equals batch q92 components over 3 batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val (expected, centroids, vecRows) = fixture()
    val staged =
      java.nio.file.Files.createTempDirectory("semdedup-stream").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("semdedup-ckpt").toString
    val src = MemoryStream[(Long, Seq[Long], Double)]
    def drain(ck: String, st: MemoryStream[(Long, Seq[Long], Double)]): Unit =
      EventStreams.semDedupStarStream(
        st.toDF().toDF("vec_id", "v", "nrm"), centroids, staged, ck)
        .awaitTermination()
    batches(vecRows).foreach { chunk =>
      src.addData(chunk: _*)
      drain(ckpt, src)
    }
    def readStar(): Seq[(Long, Long)] =
      spark.read.parquet(s"$staged/sem_pairs_stream")
        .as[(Long, Long)].collect().toSeq.sorted
    assert(readStar() === expected)

    // pre-collapse economics: the rep log holds one row per DISTINCT
    // (cell, vector) — the 120-copy group contributes exactly one
    val reps = spark.read.parquet(s"$staged/semdedup_reps").count()
    assert(reps === (1 + 15 + 12).toLong,
      s"rep log must be distinct-vector-sized, got $reps")

    // drained re-run + fresh-checkpoint full redelivery: no-ops
    drain(ckpt, src)
    assert(readStar() === expected)
    val ckpt2 =
      java.nio.file.Files.createTempDirectory("semdedup-ckpt2").toString
    val src2 = MemoryStream[(Long, Seq[Long], Double)]
    src2.addData(vecRows: _*)
    drain(ckpt2, src2)
    assert(readStar() === expected)
    assert(spark.read.parquet(s"$staged/semdedup_ids").count() ===
      vecRows.size.toLong)
  }

  test("a crash between the two log appends heals on redelivery") {
    implicit val sqlCtx = spark.sqlContext
    val (expected, centroids, vecRows) = fixture()
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def drain(staged: String, ck: String,
        st: MemoryStream[(Long, Seq[Long], Double)]): Unit =
      EventStreams.semDedupStarStream(
        st.toDF().toDF("vec_id", "v", "nrm"), centroids, staged, ck)
        .awaitTermination()
    val split = batches(vecRows)
    // the first batch, run to completion on its own, gives the writes a
    // crash before the id append leaves behind: the star archive and
    // the representative log, with no id (idempotence key) rows
    val side = tmp("semdedup-side")
    val first = MemoryStream[(Long, Seq[Long], Double)]
    first.addData(split.head: _*)
    drain(side, tmp("semdedup-side-ckpt"), first)
    val staged = tmp("semdedup-crashed")
    Staged.write(spark.read.parquet(s"$side/sem_pairs_stream"),
      staged, "sem_pairs_stream")
    spark.read.parquet(s"$side/semdedup_reps")
      .write.parquet(s"$staged/semdedup_reps")

    // redeliver that batch, then the rest
    val src = MemoryStream[(Long, Seq[Long], Double)]
    val ckpt = tmp("semdedup-crashed-ckpt")
    split.foreach { chunk =>
      src.addData(chunk: _*)
      drain(staged, ckpt, src)
    }
    assert(spark.read.parquet(s"$staged/sem_pairs_stream")
      .as[(Long, Long)].collect().toSeq.sorted === expected)
    val reps = spark.read.parquet(s"$staged/semdedup_reps")
    assert(reps.count() === (1 + 15 + 12).toLong)
    assert(reps.select("rep_id").distinct().count() === reps.count(),
      "the representative log must hold one row per rep_id")
    val ids = spark.read.parquet(s"$staged/semdedup_ids")
    assert(ids.count() === vecRows.size.toLong)
    assert(ids.distinct().count() === vecRows.size.toLong)
  }
}
