package graft.genomics

import graft.SparkSpec
import org.apache.spark.sql.Row

import scala.util.Random

/** The small-input fast path must be indistinguishable from the Spark
  * path: same golden contig on the reference sample, same result on
  * random branching graphs.
  */
class LocalAssemblySpec extends SparkSpec {
  import spark.implicits._

  test("golden sample through the local engine") {
    val (v, e) = LocalAssembly.parse(resourcePath("GraphLab_Input_short.txt"))
    assert(v.map(_.id).toSet === Set(33L, 10L, 38L))
    assert(e.toSet === Set((33L, 10L), (10L, 38L)))
    val span = LocalAssembly.assembleFrom(v, e, 33L, 38L).get
    assert(span.offset === 1304 && span.length === 2719)
    assert(span.content.count(_ == 'N') === 2371)
  }

  test("segment-deque foldSorted equals the naive left fold on random span lists (all cases)") {
    import graft.functions.{Span, StitchAggregator, StitchFolds}
    val rng = new Random(29)
    (0 until 300).foreach { trial =>
      val n = 1 + rng.nextInt(10)
      val spans = (0 until n).map { _ =>
        val l = 2 + rng.nextInt(12)
        Span(rng.nextInt(120), l, Seq.fill(l)("ACGT"(rng.nextInt(4))).mkString)
      }.sortBy(s => (s.offset, s.length, s.content)).toIndexedSeq
      val naive = spans.tail.foldLeft(spans.head)(StitchAggregator.step)
      assert(StitchFolds.foldSorted(spans) === naive, s"trial $trial: $spans")
    }
  }

  test("segment-deque foldPath equals the naive step fold on random paths (incl. non-monotonic)") {
    import graft.functions.{Span, StitchAggregator}
    val rng = new Random(23)
    (0 until 300).foreach { trial =>
      val n = 1 + rng.nextInt(10)
      val spans = (0 until n).map { _ =>
        val l = 2 + rng.nextInt(12)
        Span(rng.nextInt(120), l, Seq.fill(l)("ACGT"(rng.nextInt(4))).mkString)
      }.toList
      val naive = spans.dropRight(1).foldRight(spans.last)(StitchAggregator.step)
      assert(LocalAssembly.foldPath(spans) === naive, s"trial $trial: $spans")
    }
  }

  test("local engine equals the Spark engine on random branching graphs") {
    val rng = new Random(17)
    (0 until 5).foreach { trial =>
      val n = 10 + rng.nextInt(20)
      val verts = (0 until n).map { i =>
        LocalAssembly.V(i.toLong, 5 + rng.nextInt(20),
          Seq.fill(5 + rng.nextInt(20))("ACGT"(rng.nextInt(4))).mkString,
          rng.nextInt(400), rng.nextDouble())
      }.map(v => v.copy(content = v.content.take(v.length).padTo(v.length, 'A'))).toVector
      val edges = (0 until n).flatMap { i =>
        (0 until rng.nextInt(3)).map(_ => (i.toLong, rng.nextInt(n).toLong))
      }.filter { case (a, b) => a != b }.distinct.toVector
      val dest = (n - 1).toLong

      val local = LocalAssembly.assembleFrom(verts, edges, 0L, dest).get
      val vDf = verts.map(v => Read(v.id, v.length, v.content, v.offset, v.score)).toDF()
      val eDf = edges.map { case (a, b) => OverlapEdge(a, b) }.toDF()
      val Row(o: Int, l: Int, c: String) =
        Assembly.assembleFrom(vDf, eDf, 0L).head()
      assert((o, l, c) === ((local.offset, local.length, local.content)), s"trial $trial")

      // phase 1+2 parity: next_id per vertex
      val sparkNext = Assembly.bestSuccessor(vDf, eDf)
        .select($"id", $"next_id").as[(Long, Long)].collect().toMap
      val localNext = LocalAssembly.phases12(verts, edges, dest).map { case (k, v) => k -> v._2 }
      assert(sparkNext === localNext, s"trial $trial next ids")
    }
  }
}
