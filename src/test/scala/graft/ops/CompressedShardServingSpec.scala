package graft.ops

import graft.SparkSpec

/** q158 — the compressed+constrained serving chain over the SHARDED
  * scatter-gather layout. Pins the q153 constraint properties hold
  * unchanged over the sharded tables, that the gather is REAL (served
  * neighbors come from shards other than the query's own), and that a
  * warm run re-stages nothing.
  */
class CompressedShardServingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val work = Dedup.stageRoot(dir)

  private def mtime(name: String): Long =
    new java.io.File(s"$work/$name/_SUCCESS").lastModified()

  test("q158 honors mask and filter through the sharded compressed chain") {
    val labels = Similarity.scaledVectors(spark, dir)
      .select("vec_id", "label").as[(Long, Long)].collect().toMap
    val got = Similarity.q158ShardedCompressed(spark, dir)
      .select("query_id", "rank", "neighbor_id", "label")
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (q, _, n, lab) =>
      assert(q % 7 != 3 && n % 7 != 3, s"tombstoned id in ($q, $n)")
      assert(n != q, "self-match served")
      assert(labels(n) === labels(q), s"cross-label row ($q, $n)")
      assert(lab === labels(q), "output label is not the query's")
    }
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted === (1 to rs.size).toList,
        s"ranks not dense for query $q")
    }
  }

  test("the gather is real: some served neighbor lives in a foreign shard") {
    // shard(v) = v mod NumShards (the hash root's pmod key); a
    // same-shard-only result would mean the scatter never left the
    // query's own partition — exactly the defect ShardedAnnSpec pins
    // for the exact route, re-pinned here over the compressed chain
    val got = Similarity.q158ShardedCompressed(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.exists { case (q, n) =>
      q % Similarity.NumShards != n % Similarity.NumShards },
      "every served neighbor shares the query's shard — gather not exercised")
  }

  test("q158 never re-stages warm assets") {
    Similarity.q158ShardedCompressed(spark, dir).collect() // warm
    val names = Seq("cells_shard", "probes_shard", "pq_codes",
      "pq_codebook", "deletes")
    val marks = names.map(mtime)
    Similarity.q158ShardedCompressed(spark, dir).collect()
    assert(names.map(mtime) === marks, "q158 re-staged a warm asset")
  }
}
