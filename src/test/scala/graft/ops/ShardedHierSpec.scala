package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sharded × HIERARCHICAL ANN (q169): ShardedAnnSpec's planted
  * 4-cluster geometry (consecutive vec_ids, so `pmod(vec_id, 4)`
  * scatters every cluster across all 4 shards) run through the
  * per-shard two-level quantizer. Pins the properties the composition
  * must inherit from BOTH parents:
  *
  *  1. shard-disjoint LEAF id ranges at depth — the gather still
  *     needs no dedup (q143's property, now over kSup·kSub leaves);
  *  2. the scatter-gather descent probes EVERY shard's tree and
  *     recovers cross-shard neighbors (own-shard probing cannot);
  *  3. refresh independence AT DEPTH: adding vectors to one shard
  *     leaves every other shard's two-level assignments byte-for-byte
  *     unchanged — no seed, centroid, or Lloyd mean crosses a shard
  *     at either level.
  *
  * Round 13 extends every pin ONE LEVEL DEEPER over
  * a [[CellTree]] with a hash root and three learned levels (the full
  * depth the 10¹⁰ = shards × hier3 capacity claim composes):
  * shard-disjoint leaf ranges at depth 3, genuine branching at every
  * level (no fictional depth), the three-stage beam descent
  * ([[CellTree.probes]]) probing every shard, and refresh
  * independence of the full three-level path.
  */
class ShardedHierSpec extends SparkSpec {
  import spark.implicits._

  private val Shards = 4
  private val (kSup, kSub) = (2, 2) // shardHierSizing below the clamp

  private def vec(c: Int, j: Int) =
    Array.tabulate(64) { i =>
      (if (i / 8 == c) 1.0f else 0.0f) +
        (if (i == 63) 0.01f * (j + 1) else 0.0f)
    }

  private def plant(extraShard0: Int): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-shardh").toString
    val base = for (c <- 0 to 3; j <- 0 to 15)
      yield ((c * 16 + j).toLong, vec(c, j), 0)
    val extra = (0 until extraShard0).map { e =>
      val v = Array.tabulate(64)(i =>
        if (i >= 32 && i < 40) 1.0f else if (i == 62) 0.01f * (e + 1) else 0.0f)
      ((64 + 4 * e).toLong, v, 0)
    }
    (base ++ extra).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val dir = plant(extraShard0 = 0)
  private lazy val trained =
    CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Hash(Shards), Seq(kSup, kSub)))

  test("leaf id ranges are shard-disjoint: cell div (kSup*kSub) == vec_id mod shards") {
    val bad = trained._2
      .where(expr(s"cell div ${kSup * kSub}").cast("int")
        =!= pmod(col("vec_id"), lit(Shards)))
      .count()
    assert(bad === 0)
  }

  test("the descent probes every shard and the gather recovers cross-shard neighbors") {
    val (tree, asg) = trained
    val iv = Similarity.scaledVectors(spark, dir).join(asg, "vec_id")
      .select(col("vec_id"), col("cell").as("cluster"), col("v"),
        col("nrm"))
      .localCheckpoint()
    val queries = iv.where(col("vec_id") === 0)
      .select(col("vec_id"), col("v"), col("nrm"))
    val probes = tree.probes(queries, width = 2)
    // scatter: all 4 shards probed, exactly `width` leaves each
    val byShard = probes
      .groupBy(expr(s"cell div ${kSup * kSub}").as("shard"))
      .count().as[(Long, Long)].collect().toMap
    assert(byShard.keySet === (0L to 3L).toSet, s"shards probed: $byShard")
    byShard.values.foreach(n => assert(n === 2L))
    val top = Similarity.searchCells(
      probes.withColumnRenamed("cell", "cluster")
        .join(queries.withColumnRenamed("vec_id", "query_id"), "query_id")
        .select(col("query_id"), col("cluster"),
          col("v").as("qv"), col("nrm").as("qn")),
      iv, topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    // query 0 is cluster 0 (members 0..15); the gather must surface a
    // neighbor from at least one FOREIGN shard
    assert(top.subsetOf((1L to 15L).toSet), s"got $top")
    assert((1 to 3).exists(sh => top.exists(_ % Shards == sh)),
      s"no cross-shard neighbor in $top")
  }

  test("refresh independence at depth: shard-0 growth leaves foreign shards' trees untouched") {
    val before = trained._2
      .where(pmod(col("vec_id"), lit(Shards)) =!= 0)
      .as[(Long, Long)].collect().toMap
    val after =
      CellTree.train(spark, plant(extraShard0 = 8),
          CellTree.Shape(CellTree.Hash(Shards), Seq(kSup, kSub)))._2
        .where(pmod(col("vec_id"), lit(Shards)) =!= 0)
        .as[(Long, Long)].collect().toMap
    assert(after === before,
      "a shard-0 refresh moved another shard's two-level assignment")
  }

  // ---- one level deeper: sharded × THREE-level ----

  private val (h1, h2, h3) = (2, 2, 2)
  private lazy val trained3 =
    CellTree.train(spark, dir,
      CellTree.Shape(CellTree.Hash(Shards), Seq(h1, h2, h3)))

  test("3-level per shard: leaf ranges are shard-disjoint at full depth") {
    val bad = trained3._2
      .where(expr(s"cell div ${h1 * h2 * h3}").cast("int")
        =!= pmod(col("vec_id"), lit(Shards)))
      .count()
    assert(bad === 0)
  }

  test("3-level per shard: the tree genuinely branches at every level") {
    // decompose each leaf id into its (shard, sup, mid, leaf) path
    val paths = trained3._2
      .select(
        expr(s"cell div ${h1 * h2 * h3}").as("shard"),
        expr(s"(cell div ${h2 * h3}) % $h1").as("sup"),
        expr(s"(cell div $h3) % $h2").as("mid"),
        expr(s"cell % $h3").as("leaf"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // every shard uses >1 level-1 super (the blocks separate)
    val supsPerShard = paths.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.size).toMap
    assert(supsPerShard.keySet === (0L to 3L).toSet)
    supsPerShard.foreach { case (sh, n) =>
      assert(n === h1, s"shard $sh used $n of $h1 supers") }
    // below level 1, branching exists (some parent splits) — the
    // 4-block × jitter geometry guarantees separable structure at
    // depth; a collapsed level would mean the third Lloyd pass never
    // actually partitioned anything
    val midsSomewhere = paths.groupBy(p => (p._1, p._2)).view
      .mapValues(_.map(_._3).distinct.size).values
    assert(midsSomewhere.exists(_ > 1),
      "no (shard, sup) ever split at level 2 — the depth is fictional")
    val leavesSomewhere = paths.groupBy(p => (p._1, p._2, p._3)).view
      .mapValues(_.map(_._4).distinct.size).values
    assert(leavesSomewhere.exists(_ > 1),
      "no (shard, sup, mid) ever split at level 3 — the depth is fictional")
  }

  test("3-level descent probes every shard and the gather recovers cross-shard neighbors") {
    val (tree, asg) = trained3
    val iv = Similarity.scaledVectors(spark, dir).join(asg, "vec_id")
      .select(col("vec_id"), col("cell").as("cluster"), col("v"),
        col("nrm"))
      .localCheckpoint()
    val queries = iv.where(col("vec_id") === 0)
      .select(col("vec_id"), col("v"), col("nrm"))
    val probes = tree.probes(queries, width = 2)
    val byShard = probes
      .groupBy(expr(s"cell div ${h1 * h2 * h3}").as("shard"))
      .count().as[(Long, Long)].collect().toMap
    assert(byShard.keySet === (0L to 3L).toSet, s"shards probed: $byShard")
    byShard.values.foreach(n => assert(n === 2L))
    val top = Similarity.searchCells(
      probes.withColumnRenamed("cell", "cluster")
        .join(queries.withColumnRenamed("vec_id", "query_id"), "query_id")
        .select(col("query_id"), col("cluster"),
          col("v").as("qv"), col("nrm").as("qn")),
      iv, topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top.subsetOf((1L to 15L).toSet), s"got $top")
    assert((1 to 3).exists(sh => top.exists(_ % Shards == sh)),
      s"no cross-shard neighbor in $top")
  }

  test("refresh independence at FULL depth: shard-0 growth leaves foreign 3-level trees untouched") {
    val before = trained3._2
      .where(pmod(col("vec_id"), lit(Shards)) =!= 0)
      .as[(Long, Long)].collect().toMap
    val after =
      CellTree.train(spark, plant(extraShard0 = 8),
          CellTree.Shape(CellTree.Hash(Shards), Seq(h1, h2, h3)))._2
        .where(pmod(col("vec_id"), lit(Shards)) =!= 0)
        .as[(Long, Long)].collect().toMap
    assert(after === before,
      "a shard-0 refresh moved another shard's three-level assignment")
  }
}
