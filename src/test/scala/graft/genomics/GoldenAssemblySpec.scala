package graft.genomics

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end golden test on the reference's own 3-read sample
  * (src/test/resources/GraphLab_Input_short.txt: chain 33 → 10 → 38).
  * Both hops are case-D disjoint-right merges with hand-computed N gaps
  * (FIXTURES.md §1): gap(33→10) = 3326−1304−119 = 1903,
  * gap(10→38) = 3891−3326−104 = 461; assembled span 1304 .. 3891+132.
  */
class GoldenAssemblySpec extends SparkSpec {
  import spark.implicits._

  private val c33 = "NAAGCGTATTGAAGGCTCGGTCTGGCCAAAGTCNATCCGTTGCTCCACGCCAAAAGTGAGAGGCACCTGTCAGATTGAGCGTGCAGCCAGTGAATCCCCGCATTTTATGCGTTTTCATG"
  private val c10 = "TTTTCCGGACACAGTTCCGGATGGTCAGCCCGAAGCACATCAGCAACCCGAACAATACCGGCGACAGCCGGAACTGCCGTTCCGGTGTGCAGATTAATGACAGC"
  private val c38 = "NGTNTTTGNGCAGTNACTGCTGCGGTATATCGCTGCCGNGCTGGGTGTCTCGTATGAGCAGCTTTCCCGGAATTACGCCCAGATGAGCTACTCCACGGCACGGGCCAGTGCGAACGAGTCGTGGGCGTACTT"

  private val expected = c33 + "N" * 1903 + c10 + "N" * 461 + c38

  private def sample = {
    val vertices = Seq(
      Read(33L, 119, c33, 1304, 0.980775),
      Read(10L, 104, c10, 3326, 0.988595),
      Read(38L, 132, c38, 3891, 0.975873)).toDF()
    val edges = Seq(OverlapEdge(33L, 10L), OverlapEdge(10L, 38L)).toDF()
    (vertices, edges)
  }

  test("fixture sanity: lengths match declared read lengths") {
    assert(c33.length === 119 && c10.length === 104 && c38.length === 132)
  }

  test("closed-form assembly from source 33 matches hand-computed contig") {
    val (v, e) = sample
    val Row(offset: Int, len: Int, contig: String) =
      Assembly.assembleFrom(v, e, source = 33L).head()
    assert(offset === 1304)
    assert(len === 3891 + 132 - 1304)
    assert(contig === expected)
  }

  test("iterative fixpoint agrees with the closed form") {
    val (v, e) = sample
    val withNext = Assembly.bestSuccessor(v, e)
    val out = Assembly.stitchIterative(withNext)
    val Row(contig: String) = out.where($"id" === 33L).select($"content").head()
    assert(contig === expected)
  }

  test("dead-end prune: leaf 38 survives as destination, and as tag-only mode flags nothing else") {
    val (v, e) = sample
    val flagged = Assembly.withValidFlag(v, e, destId = 38L)
    assert(flagged.where(!$"valid").count() === 0)
    // with a different destination, 38 is a dead end
    val flagged2 = Assembly.withValidFlag(v, e, destId = 5L)
    assert(flagged2.where(!$"valid").select($"id").as[Long].collect().toSeq === Seq(38L))
    assert(Assembly.pruneDeadEnds(v, e, destId = 5L).count() === 2)
  }

  test("best successor picks the only successor; leaf gets -1 sentinel") {
    val (v, e) = sample
    val next = Assembly.bestSuccessor(v, e)
      .select($"id", $"next_id").as[(Long, Long)].collect().toMap
    assert(next === Map(33L -> 10L, 10L -> 38L, 38L -> -1L))
  }

  test("best successor breaks score ties toward the smallest dst id") {
    val v = Seq(
      Read(1L, 3, "AAA", 0, 0.5),
      Read(2L, 3, "CCC", 10, 0.9),
      Read(3L, 3, "GGG", 20, 0.9)).toDF()
    val e = Seq(OverlapEdge(1L, 2L), OverlapEdge(1L, 3L)).toDF()
    val next = Assembly.bestSuccessor(v, e)
      .where($"id" === 1L).select($"next_id").as[Long].head()
    assert(next === 2L)
  }

  test("GraphLab TSV loader parses the sample format (variable successor tail)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tsv")
    val f = dir.resolve("sample.txt")
    java.nio.file.Files.writeString(f,
      s"33\t119\t$c33\t1304\t0.980775 10\t\t\t\n" +
      s"10\t104\t$c10\t3326\t0.988595 38\t\t\t\n" +
      s"38\t132\t$c38\t3891\t0.975873 \t\t\t\n")
    val (v, e) = Reads.loadGraphTsv(spark, f.toString)
    assert(v.count() === 3)
    assert(e.as[(Long, Long)].collect().toSet === Set((33L, 10L), (10L, 38L)))
    val r33 = v.where($"id" === 33L).as[Read].head()
    assert(r33 === Read(33L, 119, c33, 1304, 0.980775))
  }

  test("auto source/destination: both engines derive (33, 38) from the sample graph") {
    // the reference's own TODO (assembly_final.cpp:670): source = the
    // unique in-degree-0 head of the best-path graph, destination =
    // its chain end — derived, not typed
    val (v, e) = sample
    assert(AssemblyCli.autoSourceDest(
      Assembly.bestSuccessor(v, e), None, None) === ((33L, 38L)))
    // a supplied flag wins over the derivation
    assert(AssemblyCli.autoSourceDest(
      Assembly.bestSuccessor(v, e), Some(10L), None) === ((10L, 38L)))
    val lv = Vector(
      LocalAssembly.V(33L, 119, c33, 1304, 0.980775),
      LocalAssembly.V(10L, 104, c10, 3326, 0.988595),
      LocalAssembly.V(38L, 132, c38, 3891, 0.975873))
    val le = Vector((33L, 10L), (10L, 38L))
    assert(AssemblyCli.autoSourceDestLocal(lv, le, None, None)
      === ((33L, 38L)))
  }

  test("auto source: ambiguous graphs fail by name, listing the candidate heads") {
    // two disjoint 2-read chains → two in-degree-0 heads → refusal
    // naming both (never a silent guess of either contig)
    val v = Seq(
      Read(1L, 10, "A" * 10, 0, 0.9), Read(2L, 10, "C" * 10, 20, 0.8),
      Read(5L, 10, "G" * 10, 0, 0.9), Read(6L, 10, "T" * 10, 20, 0.8))
      .toDF()
    val e = Seq(OverlapEdge(1L, 2L), OverlapEdge(5L, 6L)).toDF()
    val err = intercept[RuntimeException](
      AssemblyCli.autoSourceDest(Assembly.bestSuccessor(v, e), None, None))
    assert(err.getMessage.contains("2 chain heads") &&
      err.getMessage.contains("1, 5"), err.getMessage)
    val lv = Vector(
      LocalAssembly.V(1L, 10, "A" * 10, 0, 0.9),
      LocalAssembly.V(2L, 10, "C" * 10, 20, 0.8),
      LocalAssembly.V(5L, 10, "G" * 10, 0, 0.9),
      LocalAssembly.V(6L, 10, "T" * 10, 20, 0.8))
    val lerr = intercept[RuntimeException](
      AssemblyCli.autoSourceDestLocal(lv, Vector((1L, 2L), (5L, 6L)),
        None, None))
    assert(lerr.getMessage.contains("2 chain heads"), lerr.getMessage)
  }

  test("pathMembers walks the chain and is cycle-safe") {
    val (v, e) = sample
    val withNext = Assembly.bestSuccessor(v, e)
    import spark.implicits._
    assert(Assembly.pathMembers(withNext, 33L).as[Long].collect().toSet === Set(33L, 10L, 38L))
    assert(Assembly.pathMembers(withNext, 10L).as[Long].collect().toSet === Set(10L, 38L))
    // 2-cycle: 1 → 2 → 1 must terminate
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("id", "next_id")
    assert(Assembly.pathMembers(cyc, 1L).as[Long].collect().toSet === Set(1L, 2L))
  }
}
