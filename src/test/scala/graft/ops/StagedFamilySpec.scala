package graft.ops

import graft.SparkSpec

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The staged-family rule ([[Staged.Family]]): a family is fresh only
  * when every member is, a derived family carries the lineage of its
  * sources' current versions and rebuilds when one moves, and each
  * asset has one producer — so a consumer of one member never
  * republishes another family's asset.
  */
class StagedFamilySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.list(p).iterator().asScala.foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  test("q161 restages a half-published codebook family") {
    val work = Dedup.stageRoot(dir)
    val first = Similarity.q161CodebookRefresh(spark, dir).collect().toSeq
    // a failure between the two publishes of stageCodebookSums:
    // cb_sums committed, cb_batch never published
    Files.delete(Paths.get(work, "cb_batch"))
    deleteTree(Paths.get(work, ".v", "cb_batch"))
    Staged.unmarkForTesting(work, "cb_batch")
    val again = Similarity.q161CodebookRefresh(spark, dir).collect().toSeq
    assert(again === first)
  }

  test("cells has one producer: q79 after q78 keeps the cells version") {
    val work = Dedup.stageRoot(dir)
    Seq("cells", "probes", "probes_wide").foreach(Staged.invalidate(work, _))
    Similarity.q78AnnIvfTrained(spark, dir).collect()
    val v = Staged.versionOf(work, "cells")
    assert(v.isDefined)
    Similarity.q79AnnIvfMultiprobe(spark, dir).collect()
    assert(Staged.versionOf(work, "cells") === v,
      "q79 republished the cells q78 staged")
  }

  test("a derived family rebuilds when its source moves and resolves stamped") {
    val work = Files.createTempDirectory("staged-family").toString
    var builds = 0
    lazy val base: Staged.Family = Staged.Family("base")()((_, _, w) =>
      Staged.write(Seq(1L, 2L).toDF("id"), w, "base"))
    lazy val derived: Staged.Family =
      Staged.Family("d1", "d2")("b" -> base("base")) { (s, _, w) =>
        builds += 1
        val stamp = Some(derived.lineage(w))
        Staged.write(Staged.read(s, w, "base"), w, "d1", group = stamp)
        Staged.write(Staged.read(s, w, "base"), w, "d2", group = stamp)
      }
    derived.need(spark, dir, work)
    derived.need(spark, dir, work)
    assert(builds === 1, "a fresh derived family rebuilt")
    val v1 = Staged.versionOf(work, "base").get
    assert(Staged.groupOf(work, "d1") === Some(s"b=$v1"))

    // the source moves: the derived family is stale until rebuilt
    Staged.write(Seq(3L).toDF("id"), work, "base")
    val snap = derived.resolve(spark, dir, work)
    assert(builds === 2)
    val v2 = Staged.versionOf(work, "base").get
    assert(v2 !== v1)
    assert(snap.keySet === Set("base", "d1", "d2"))
    assert(snap("base").endsWith(v2))
    assert(Staged.groupOf(work, "d2") === Some(s"b=$v2"))
    assert(spark.read.parquet(snap("d1")).as[Long].collect().toSeq ===
      Seq(3L))

    // a half-published family (one member lost) rebuilds whole
    Staged.invalidate(work, "d2")
    derived.need(spark, dir, work)
    assert(builds === 3)
  }
}
