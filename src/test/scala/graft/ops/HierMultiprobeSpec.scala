package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tree-descent multi-probe over the two-level index (q120):
  * HierIvfSpec's macro×micro geometry plus a planted SUB-CELL boundary
  * pair inside macro 0 —
  *
  *   - query 5  = macro0 + 0.05·micro  → quantizes into the micro-0
  *     sub-cell (closer to the +0.5 centroid than the −0.5 one)
  *   - vector 35 = macro0 − 0.15·micro → quantizes into the SIBLING
  *     micro-1 sub-cell
  *
  * cos(5, 35) ≈ 0.98 beats every micro-0 member (≈ 0.92), so the true
  * nearest lives one sub-cell over: 1-probe search (q118, own cell
  * only) must miss it; q120's tree descent keeps the query's 2 nearest
  * (super, sub) cells — its own and the sibling — and recovers it at
  * rank 1. This pins the probe's second level: a super-only probe
  * (q79's flat shape on the super id) could not express "sibling
  * sub-cell", and a flat scan of all k1·k2 centroids is what descent
  * exists to avoid.
  */
class HierMultiprobeSpec extends SparkSpec {
  import spark.implicits._

  private def vec(m: Int, micro: Float, jitter: Float) =
    Array.tabulate(64) { i =>
      (if (i / 8 == m) 1.0f else 0.0f) +
        (if (i / 8 == 4 + m) micro else 0.0f) +
        (if (i == 63 && m != 3) jitter else 0.0f)
    }

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-hier-mp").toString
    val groups = for {
      m <- 0 until 4; u <- 0 until 2; i <- 0 until 3
    } yield ((20 + m * 20 + u * 10 + i).toLong,
      vec(m, if (u == 0) 0.5f else -0.5f, 0.01f * (i + 1)), 0)
    (groups ++ Seq(
      (5L, vec(0, 0.05f, 0f), 0),    // boundary query
      (35L, vec(0, -0.15f, 0f), 0))) // its true nearest, sibling cell
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val cellOf: Map[Long, Long] =
    CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Codebook(4), Seq(2)))._2
      .as[(Long, Long)].collect().toMap

  test("boundary pair straddles sibling sub-cells of one super") {
    assert(cellOf(5L) != cellOf(35L), cellOf.toString)
    assert(cellOf(5L) / 2 === cellOf(35L) / 2,
      s"must share the super: ${cellOf(5L)}, ${cellOf(35L)}")
  }

  /** Train → descend → in-cell top-5 over the planted corpus. */
  private def hierSearch(nprobe: Int) = {
    val (tree, asg) = CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Codebook(4), Seq(2)))
    val iv = Similarity.scaledVectors(spark, dir).join(asg, "vec_id")
      .select($"vec_id", $"cell".as("cluster"), $"v", $"nrm")
      .localCheckpoint() // probe + corpus sides both read it
    val queries = iv.where($"vec_id" < 20).select($"vec_id", $"v", $"nrm")
    val probes = tree.probes(queries, nprobe)
      .withColumnRenamed("cell", "cluster")
      .join(queries.withColumnRenamed("vec_id", "query_id"), "query_id")
      .select($"query_id", $"cluster", $"v".as("qv"), $"nrm".as("qn"))
    Similarity.searchCells(probes, iv, topK = 5)
  }

  private def top(nprobe: Int): Seq[Long] =
    hierSearch(nprobe)
      .where($"query_id" === 5L).orderBy($"rank")
      .select($"neighbor_id").as[Long].collect().toSeq

  test("own-cell (1-probe) search misses the cross-sub-cell nearest") {
    assert(!top(1).contains(35L), top(1).toString)
  }

  test("tree-descent 2-probe recovers it at rank 1") {
    assert(top(2).head === 35L, top(2).toString)
  }

  test("descent plan stays equi-joins — no cartesian blowup") {
    val p = hierSearch(nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }
}
