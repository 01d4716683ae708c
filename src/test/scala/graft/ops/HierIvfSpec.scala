package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Two-level coarse quantizer (q118): a planted macro×micro geometry —
  * 4 well-separated macro clusters (axis dim-blocks 0–3), each holding
  * 2 micro clusters (macro direction ± a private component in dim
  * block 4–7), 3 members each. Level 1 (k1=4) must separate the
  * macros; level 2 (k2=2) must separate the micros WITHIN each macro —
  * the geometry a flat k=4 codebook cannot resolve (it has one cell
  * per macro, so micro pairs share a cell) and a flat k=8 codebook is
  * clamped out of at scale. Also pins the staged-search path: q118's
  * top-2 for a planted query is exactly its micro-cluster peers.
  */
class HierIvfSpec extends SparkSpec {
  import spark.implicits._

  // macro m: 1.0 in dims 8m..8m+7; micro u: ±0.5 in dims 32+8m..32+8m+7
  private def vec(m: Int, u: Int, jitter: Float) =
    Array.tabulate(64) { i =>
      (if (i / 8 == m) 1.0f else 0.0f) +
        (if (i / 8 == 4 + m) (if (u == 0) 0.5f else -0.5f) else 0.0f) +
        (if (i == 63 && m != 3) jitter else 0.0f)
    }

  /** groups(m)(u) = the 3 vec_ids of macro m, micro u. Macro-0 micro-0
    * holds ids 0..2 so q118's vec_id < 20 probe gate selects exactly
    * that micro cluster as the query set.
    */
  private val groups: Seq[Seq[Seq[Long]]] = Seq(
    Seq(Seq(0L, 1L, 2L), Seq(30L, 31L, 32L)),
    Seq(Seq(40L, 41L, 42L), Seq(50L, 51L, 52L)),
    Seq(Seq(60L, 61L, 62L), Seq(70L, 71L, 72L)),
    Seq(Seq(80L, 81L, 82L), Seq(90L, 91L, 92L)))

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-hier").toString
    (for {
      m <- 0 until 4; u <- 0 until 2; (id, i) <- groups(m)(u).zipWithIndex
    } yield (id, vec(m, u, 0.01f * (i + 1)), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val cellOf: Map[Long, Long] =
    CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Codebook(4), Seq(2)))._2
      .as[(Long, Long)].collect().toMap

  test("level 2 separates micro clusters; level 1 separates macros") {
    for (m <- 0 until 4) {
      val cells = groups(m).map(_.map(cellOf).distinct)
      // each micro cluster is pure (all 3 members co-cell)...
      assert(cells.forall(_.size == 1), s"macro $m impure micro: $cells")
      // ...the two micros of a macro land in DIFFERENT sub-cells...
      assert(cells(0) != cells(1), s"macro $m merged micros: $cells")
      // ...but share the same SUPER cell (cell div k2)
      assert(cells(0).head / 2 === cells(1).head / 2,
        s"macro $m split across supers: $cells")
    }
    // distinct macros never share a super cell
    val supers = groups.map(_.head.map(cellOf).head / 2)
    assert(supers.distinct.size === 4, supers.toString)
  }

  test("every vector is assigned and cell ids stay under k1*k2") {
    assert(cellOf.size === 24)
    assert(cellOf.values.forall(c => c >= 0 && c < 8), cellOf.toString)
  }

  test("q118 staged search returns only the query's micro peers on top") {
    // the q118 path trains at its own defaults (k2=4 — which may
    // over-segment a 3-member micro cluster into sub-cells; that is
    // correct quantizer behavior on a 24-vector corpus, so the pin is
    // on PURITY, not count): every returned neighbor for query 0 must
    // be a micro-0 peer — never a cross-micro or cross-macro vector
    val got = Similarity.q118AnnIvfHier(spark, dir)
      .where($"query_id" === 0L).orderBy($"rank")
      .select($"neighbor_id").as[Long].collect().toSeq
    assert(got.nonEmpty, "query 0 found no in-cell neighbors")
    assert(got.toSet.subsetOf(Set(1L, 2L)), got.toString)
  }
}
