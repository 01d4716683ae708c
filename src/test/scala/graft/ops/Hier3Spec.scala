package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Three-level coarse quantizer (q141/q142): a planted
  * macro×mid×micro geometry — 2 well-separated macro clusters, each
  * holding 2 mid clusters, each holding 2 micro clusters of 3 members
  * (24 vectors). Level 1 (k1=2) must separate the macros, level 2
  * (k2=2) the mids WITHIN each macro, level 3 (k3=2) the micros
  * WITHIN each mid — three scales a 4096-cell two-level index cannot
  * keep adding at 100 TB; the third [[CellTree]] level pass
  * is the capacity lift. Also pins the q141 staged-search path and
  * the q142 beam-descent probe, plus the [[Similarity.hierFactors3]]
  * sizing contract above the two-level ceiling.
  */
class Hier3Spec extends SparkSpec {
  import spark.implicits._

  // macro m: 1.0 in dims 8m..8m+7; mid d: ±0.5 in dims 16+8m..;
  // micro u: ±0.25 in dims 32+8m.. — every block is macro-private, so
  // cross-macro vectors are orthogonal at all three scales
  private def vec(m: Int, d: Int, u: Int, jitter: Float) =
    Array.tabulate(64) { i =>
      (if (i / 8 == m) 1.0f else 0.0f) +
        (if (i / 8 == 2 + m) (if (d == 0) 0.5f else -0.5f) else 0.0f) +
        (if (i / 8 == 4 + m) (if (u == 0) 0.25f else -0.25f) else 0.0f) +
        (if (i == 63) jitter else 0.0f)
    }

  /** groups((m,d,u)) = the 12 vec_ids of that micro cluster — dense
    * enough that the forced q141 sizing (32 leaves at this n) keeps
    * ~3 members per leaf instead of isolating every vector. Micro
    * (0,0,0) holds ids 0..11 so the vec_id < 20 probe gate selects
    * exactly that micro cluster as the query set.
    */
  private val groups: Map[(Int, Int, Int), Seq[Long]] =
    (for (m <- 0 to 1; d <- 0 to 1; u <- 0 to 1) yield {
      val idx = m * 4 + d * 2 + u
      val base = if (idx == 0) 0L else idx * 100L
      (m, d, u) -> (0 until 12).map(base + _)
    }).toMap

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-hier3").toString
    groups.toSeq.sortBy(_._2.head)
      .flatMap { case ((m, dd, u), ids) =>
        ids.zipWithIndex.map { case (id, i) =>
          (id, vec(m, dd, u, 0.01f * (i + 1)), 0)
        }
      }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val cellOf: Map[Long, Long] =
    CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Codebook(2), Seq(2, 2)))._2
      .as[(Long, Long)].collect().toMap

  test("each level separates its scale: micro leaves, mid cells, macro supers") {
    for (m <- 0 to 1; d <- 0 to 1) {
      val leaves = Seq(0, 1).map(u => groups((m, d, u)).map(cellOf).distinct)
      // each micro cluster is pure (all 12 members share one leaf)...
      assert(leaves.forall(_.size == 1), s"($m,$d) impure micro: $leaves")
      // ...sibling micros split into DIFFERENT leaves...
      assert(leaves(0) != leaves(1), s"($m,$d) merged micros: $leaves")
      // ...but share the same level-2 cell (leaf div k3)
      assert(leaves(0).head / 2 === leaves(1).head / 2,
        s"($m,$d) split across level-2 cells: $leaves")
    }
    for (m <- 0 to 1) {
      // the two mids of a macro sit in different level-2 cells of the
      // SAME super (cell2 div k2)
      val cell2 = Seq(0, 1).map(d => cellOf(groups((m, d, 0)).head) / 2)
      assert(cell2.distinct.size === 2, s"macro $m merged mids: $cell2")
      assert(cell2.map(_ / 2).distinct.size === 1,
        s"macro $m split across supers: $cell2")
    }
    // distinct macros never share a super
    val supers = Seq(0, 1).map(m => cellOf(groups((m, 0, 0)).head) / 4)
    assert(supers.distinct.size === 2, supers.toString)
  }

  test("every vector is assigned and cell ids stay under k1*k2*k3") {
    assert(cellOf.size === 96)
    assert(cellOf.values.forall(c => c >= 0 && c < 8), cellOf.toString)
  }

  test("q141 staged search returns only the query's micro peers") {
    // q141 trains at hier3Sizing defaults (over-segmenting a 3-member
    // micro is correct quantizer behavior on 24 vectors; the pin is
    // PURITY): every neighbor for query 0 must be a micro-(0,0,0) peer
    val got = Similarity.q141AnnIvfHier3(spark, dir)
      .where($"query_id" === 0L).orderBy($"rank")
      .select($"neighbor_id").as[Long].collect().toSeq
    assert(got.nonEmpty, "query 0 found no in-cell neighbors")
    assert(got.toSet.subsetOf((1L to 11L).toSet), got.toString)
  }

  test("q142 beam descent reaches past the own leaf at the volume-matched width") {
    val got = Similarity.q142Hier3Multiprobe(spark, dir)
      .where($"query_id" === 0L).orderBy($"rank")
      .select($"neighbor_id").as[Long].collect().toSeq
    // cross-micro cosine tops out ~0.77 vs ~1.0 within the micro, so
    // every returned neighbor must be a micro peer; the volume-matched
    // descent must reach sibling leaves — a full top-5 needs more
    // members than the query's own ~3-member leaf holds
    assert(got.toSet.subsetOf((1L to 11L).toSet), got.toString)
    assert(got.size === 5, s"descent never left the own leaf: $got")
  }

  test("hierFactors3 sizing: every factor <= 64, product covers the target") {
    for (want <- Seq(4097L, 10000L, 65536L, 262144L)) {
      val (k1, k2, k3) = Similarity.hier3Sizing(want * Similarity.CellTarget)
      assert(k1 >= 2 && k1 <= 64 && k2 >= 2 && k2 <= 64 &&
        k3 >= 2 && k3 <= 64, s"$want -> ($k1,$k2,$k3)")
      assert(k1.toLong * k2 * k3 >= math.min(want, 262144L),
        s"$want -> ($k1,$k2,$k3) undershoots")
    }
  }
}
