package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sharded partition-local ANN (q143): a planted 4-cluster geometry
  * whose members have CONSECUTIVE vec_ids, so the `pmod(vec_id, 4)`
  * shard key scatters every cluster across all 4 shards — each
  * query's true neighbors live mostly in FOREIGN shards. Pins the
  * three properties that make sharding the capacity dimension above
  * a single refresh partition:
  *
  *  1. shard-disjoint cell id ranges (the gather needs no dedup);
  *  2. the scatter-gather NECESSITY: own-shard-only probing loses the
  *     cross-shard neighbors the full probe list recovers;
  *  3. refresh INDEPENDENCE: adding vectors to one shard leaves every
  *     other shard's assignments byte-for-byte unchanged — the
  *     property that lets a 100 TB index refresh one bounded shard at
  *     a time instead of as a monolithic retrain.
  */
class ShardedAnnSpec extends SparkSpec {
  import spark.implicits._

  private val Shards = 4
  // cluster c (0..3): 1.0 in dims 8c..8c+7; member j of 16 adds a
  // distinct tiny jitter at dim 63 for deterministic neighbor order.
  // ids c*16 + j are consecutive, so each shard holds 4 members of
  // every cluster.
  private def vec(c: Int, j: Int) =
    Array.tabulate(64) { i =>
      (if (i / 8 == c) 1.0f else 0.0f) +
        (if (i == 63) 0.01f * (j + 1) else 0.0f)
    }

  private def plant(extraShard0: Int): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-shard").toString
    val base = for (c <- 0 to 3; j <- 0 to 15)
      yield ((c * 16 + j).toLong, vec(c, j), 0)
    // extras land ONLY in shard 0 (ids ≡ 0 mod 4), in a direction no
    // base cluster uses, so shard 0's Lloyd genuinely moves
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
  private lazy val trained = CellTree.train(spark, dir,
    CellTree.Shape(CellTree.Hash(Shards), Seq(kS)))
  private val kS = 4 // adaptiveCellCount(ceil(64/4)=16) = 4

  test("cell id ranges are shard-disjoint: cell div kS == vec_id mod shards") {
    val bad = trained._2
      .where((col("cell") / kS).cast("int") =!= pmod(col("vec_id"), lit(Shards)))
      .count()
    assert(bad === 0)
  }

  test("scatter-gather recovers cross-shard neighbors; own-shard probing misses them") {
    val (tree, asg) = trained
    val iv = Similarity.scaledVectors(spark, dir).join(asg, "vec_id")
      .select(col("vec_id"), col("cell").as("cluster"), col("v"), col("nrm"))
      .localCheckpoint()
    val queries = iv.where(col("vec_id") === 0)
      .select(col("vec_id"), col("v"), col("nrm"))
    val probeAll = tree.probes(queries, width = 2)
      .withColumnRenamed("cell", "cluster")
      .join(queries.withColumnRenamed("vec_id", "query_id"), "query_id")
      .select(col("query_id"), col("cluster"),
        col("v").as("qv"), col("nrm").as("qn"))
    val top = Similarity.searchCells(probeAll, iv, topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    // query 0 is cluster 0 (members 0..15); its 5 nearest are all in
    // cluster 0 and at least one per foreign shard must surface
    assert(top.subsetOf((1L to 15L).toSet), s"got $top")
    for (sh <- 1 to 3)
      assert(top.exists(_ % Shards == sh),
        s"no neighbor from shard $sh in $top")
    // own-shard-only probing (the anti-pattern the scatter exists to
    // avoid) can only ever return own-shard candidates
    val probeOwn = probeAll.where((col("cluster") / kS).cast("int") === 0)
    val topOwn = Similarity.searchCells(probeOwn, iv, topK = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(topOwn.forall(_ % Shards == 0), s"got $topOwn")
    assert((top -- topOwn).nonEmpty)
  }

  test("refreshing one shard leaves every other shard's assignments byte-identical") {
    val dirB = plant(extraShard0 = 8)
    val asgA = trained._2
    val asgB = CellTree.train(spark, dirB,
      CellTree.Shape(CellTree.Hash(Shards), Seq(kS)))._2
    val foreign = (df: org.apache.spark.sql.DataFrame) =>
      df.where(pmod(col("vec_id"), lit(Shards)) =!= 0)
        .as[(Long, Long)].collect().toMap
    assert(foreign(asgA) === foreign(asgB))
    // and the refreshed shard absorbed its extras: every new vector is
    // assigned, and only to shard-0 cells
    val extras = asgB.where(col("vec_id") >= 64)
      .select(col("vec_id"), (col("cell") / kS).cast("int").as("shard"))
      .as[(Long, Int)].collect().toMap
    assert(extras.size === 8)
    assert(extras.values.forall(_ == 0))
  }

  test("an all-zero embedding stages without a cell") {
    // the hash root covers nrm > 0 rows only, like the codebook root: a
    // zero vector has no direction, and scoring it against a centroid
    // would divide by its zero norm
    val d = java.nio.file.Files.createTempDirectory("graft-shard0").toString
    val base = for (c <- 0 to 3; j <- 0 to 15)
      yield ((c * 16 + j).toLong, vec(c, j), 0)
    (base :+ ((64L, Array.fill(64)(0.0f), 0)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val work = java.nio.file.Files.createTempDirectory("graft-shard0-work")
      .toString
    Similarity.ShardedIndex.need(spark, d, work)
    val cells = Staged.read(spark, work, "cells_shard")
      .select(col("vec_id")).as[Long].collect().toSet
    assert(cells === (0L until 64L).toSet)
    assert(Staged.read(spark, work, "probes_shard").count() > 0)
  }
}
