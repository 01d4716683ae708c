package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** What the oracles cannot see. They replay the STAGED (cells, probes)
  * tables, so a changed tree would still pass them; this pins the
  * tables themselves and the descent's beam rule.
  */
class CellTreeSpec extends SparkSpec {
  import CellTree.{Codebook, Hash, Shape}

  private val dir = "/root/testdata/sf0.001"

  test("staged index families match the committed digests") {
    // one line per member: name, count, sum(xxhash64(*)), schema —
    // recorded from the per-shape trainers this tree replaced
    val want = scala.io.Source.fromFile(
      resourcePath("cell_tree_digests.tsv")).getLines().toSeq
    val work = java.nio.file.Files.createTempDirectory("cell-tree").toString
    val families = Seq(Similarity.IvfIndex, Similarity.HierIndex,
      Similarity.Hier3Index, Similarity.ShardedIndex,
      Similarity.ShardedHierIndex)
    families.foreach(_.need(spark, dir, work))
    val got = families.flatMap(_.names).map { n =>
      val df = Staged.read(spark, work, n)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head()
      s"$n\t${r.getLong(0)}\t${r.getDecimal(1)}\t${df.schema.simpleString}"
    }
    assert(got === want)
  }

  test("descent beams and the IVF sizing rule") {
    // (root keep, b_1, …, b_L) at widths 1, 2, 8 and 37
    val beams = Seq(
      Shape(Codebook(4), Nil) ->
        Seq(Seq(1), Seq(2), Seq(4), Seq(4)),
      Shape(Codebook(10), Seq(10)) ->
        Seq(Seq(1, 1), Seq(2, 2), Seq(8, 8), Seq(10, 37)),
      Shape(Codebook(3), Seq(4, 5)) ->
        Seq(Seq(2, 2, 1), Seq(2, 2, 2), Seq(3, 3, 8), Seq(3, 9, 37)),
      Shape(Hash(4), Seq(16)) ->
        Seq(Seq(4, 1), Seq(4, 2), Seq(4, 8), Seq(4, 37)),
      Shape(Hash(4), Seq(3, 6)) ->
        Seq(Seq(4, 2, 1), Seq(4, 2, 2), Seq(4, 3, 8), Seq(4, 8, 37)),
      Shape(Hash(5), Seq(2, 3, 4)) ->
        Seq(Seq(5, 2, 2, 1), Seq(5, 2, 2, 2), Seq(5, 2, 3, 8),
          Seq(5, 5, 11, 37)))
    for ((shape, want) <- beams)
      assert(Seq(1, 2, 8, 37).map(shape.beams) === want, shape)
    // flat under the clamp; a codebook root and one level up to 4096
    // cells; two levels above — the branch no spec corpus reaches
    assert(Similarity.ivfShape(500L) === Shape(Codebook(4), Nil))
    assert(Similarity.ivfShape(200000L) === Shape(Codebook(10), Seq(10)))
    assert(Similarity.ivfShape(10000000L) ===
      Shape(Codebook(17), Seq(17, 17)))
  }
}
