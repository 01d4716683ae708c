package graft.genomics

import graft.{JobCount, SparkSpec}
import graft.functions.{Span, StitchAggregator}
import org.apache.spark.sql.DataFrame

/** The one superstep loop behind [[Assembly.stitchIterative]] (dense)
  * and [[Assembly.stitchIterativeFrontier]] (frontier): both schedules
  * reach the state of a plain-Scala synchronous superstep loop, round
  * for round, and each pays one eager action for its initial state plus
  * exactly 3 Spark jobs per superstep (two shuffle map stages and the
  * counting checkpoint).
  */
class StitchSuperstepSpec extends SparkSpec {
  import spark.implicits._

  /** id -> (next_id, span). */
  private type Graph = Map[Long, (Long, Span)]

  /** Synchronous supersteps: every read merges its successor's span of
    * the previous round (a successor id that is absent merges nothing),
    * until no span moves or `maxIters` rounds ran. Returns the state
    * and the rounds run, the last no-move round included.
    */
  private def supersteps(g: Graph, maxIters: Int): (Map[Long, Span], Int) = {
    var state = g.map { case (id, (_, s)) => id -> s }
    var moved = g.nonEmpty
    var rounds = 0
    while (moved && rounds < maxIters) {
      val next = state.map { case (id, s) =>
        id -> state.get(g(id)._1).fold(s)(c => StitchAggregator.step(s, c))
      }
      moved = next.exists { case (id, s) =>
        (s.offset, s.length) != ((state(id).offset, state(id).length))
      }
      state = next
      rounds += 1
    }
    (state, rounds)
  }

  private def frame(g: Graph): DataFrame =
    g.toSeq.map { case (id, (nx, s)) => (id, nx, s.offset, s.length, s.content) }
      .toDF("id", "next_id", "offset", "length", "content")

  private def spans(out: DataFrame): Map[Long, Span] =
    out.select($"id", $"offset", $"length", $"content").as[(Long, Int, Int, String)]
      .collect().map { case (id, o, l, c) => id -> Span(o, l, c) }.toMap

  private val loops = Seq[(String, (DataFrame, Int) => DataFrame)](
    "dense" -> ((v, n) => Assembly.stitchIterative(v, n)),
    "frontier" -> ((v, n) => Assembly.stitchIterativeFrontier(v, n)))

  /** A 6-read chain with gaps (case D) and overlaps (case B). */
  private val chain: Graph = Map(
    0L -> ((1L, Span(0, 6, "AAAAAA"))),
    1L -> ((2L, Span(10, 6, "CCCCCC"))),
    2L -> ((3L, Span(14, 6, "GGGGGG"))),
    3L -> ((4L, Span(30, 6, "TTTTTT"))),
    4L -> ((5L, Span(35, 6, "ACACAC"))),
    5L -> ((-1L, Span(50, 6, "GTGTGT"))))

  test("each schedule: one eager action for the initial state, then 3 jobs per superstep") {
    val (expected, rounds) = supersteps(chain, 64)
    assert(rounds === 6)
    loops.foreach { case (name, loop) =>
      val (out, jobs) = JobCount(spark)(loop(frame(chain), 64))
      assert(jobs === 1 + 3 * rounds, s"$name: $jobs jobs for $rounds supersteps")
      assert(spans(out) === expected, name)
      // maxIters = 0 runs only the initial checkpoint; empty input
      // likewise stops after it, with no superstep (an input with no
      // partitions materialises without a job)
      val (init, initJobs) = JobCount(spark)(loop(frame(chain), 0))
      assert(initJobs === 1, s"$name: initial state")
      assert(spans(init) === chain.map { case (id, (_, s)) => id -> s }, name)
      val (empty, emptyJobs) = JobCount(spark)(loop(frame(Map.empty), 64))
      assert(emptyJobs <= 1, s"$name: empty input")
      assert(empty.isEmpty, name)
    }
  }

  test("a next_id that points at an absent read merges nothing; both schedules agree") {
    // 2 -> 99 (absent), 6 -> 7 -> 98 (absent), 8 is a leaf
    val g: Graph = Map(
      0L -> ((1L, Span(0, 5, "AAAAA"))),
      1L -> ((2L, Span(4, 5, "CCCCC"))),
      2L -> ((99L, Span(12, 5, "GGGGG"))),
      6L -> ((7L, Span(40, 8, "TTTTTTTT"))),
      7L -> ((98L, Span(30, 5, "ACGTA"))),
      8L -> ((-1L, Span(3, 4, "TTTT"))))
    val (expected, _) = supersteps(g, 64)
    assert(expected(2L) === g(2L)._2 && expected(7L) === g(7L)._2)
    loops.foreach { case (name, loop) =>
      assert(spans(loop(frame(g), 64)) === expected, name)
    }
  }

  test("a 2-cycle stopped by maxIters: both schedules hold the state of that round") {
    // both reads still move in the 2nd superstep and the 3rd confirms
    // the fixpoint, so maxIters = 1 stops the loop mid-way
    val g: Graph = Map(
      0L -> ((1L, Span(8, 6, "AAAAAA"))),
      1L -> ((0L, Span(9, 6, "CCCCCC"))))
    val (fixpoint, rounds) = supersteps(g, 64)
    assert(rounds === 3)
    Seq(1, 2).foreach { k =>
      val (expected, _) = supersteps(g, k)
      if (k == 1) assert(expected !== fixpoint)
      loops.foreach { case (name, loop) =>
        assert(spans(loop(frame(g), k)) === expected, s"$name, maxIters $k")
      }
    }
  }
}
