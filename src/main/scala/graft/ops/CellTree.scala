package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The coarse quantizer behind every IVF index: a ROOT partition, then
  * zero or more LEARNED levels, each splitting every parent cell into
  * `k` sub-cells with centroids held in a model-sized broadcast TABLE
  * (cluster, sub, cv, cnrm) — never collected, never literal, which is
  * what makes the depth stackable.
  *
  * The root is either the trained literal codebook
  * ([[Similarity.trainCodebookOn]], k ≤ 64 centroids travelling as plan
  * literals) or the hash shard `pmod(vec_id, shards)`. A hash root
  * makes every shard an independent index: no seed, centroid or Lloyd
  * mean ever crosses a parent boundary, so retraining one shard cannot
  * move any other shard's assignments, and a query must probe every
  * shard (the scatter-gather layout). Both roots cover only `nrm > 0`
  * rows: a zero vector has no direction and gets no cell.
  *
  * Cell ids compose as `cell_l = cell_{l-1}·k_l + sub`, so the leaf id
  * ranges of distinct parents (and of distinct shards) are disjoint and
  * a multi-probe gather needs no dedup. Search over the leaves is the
  * one in-cell equi-join ([[Similarity.searchCells]]); the staged
  * (cells, probes) pair is the interface, and no consumer can tell the
  * root or the depth.
  *
  * Sizes: flat is the depth-0 codebook tree (≤ 64 cells); two levels
  * reach 64² = 4096 cells and three 64³ = 262,144 ≈ 537M vectors at
  * [[Similarity.CellTarget]]; shards multiply indexes on top.
  */
final class CellTree private (val shape: CellTree.Shape,
    centroids: Array[Array[Double]], levels: Seq[DataFrame]) {
  import CellTree._

  /** Leaf cell (vec_id, cell) of every `nrm > 0` row of a (vec_id, v,
    * nrm) frame under this trained model — the pure map stage streaming
    * ingest runs per micro-batch, and the same root expression and
    * per-level argmax the trainer assigns with, so streamed == batch is
    * mechanism. Only model-sized tables are broadcast; the input is
    * never shuffled on a corpus key, and a row consults only its own
    * parent's centroids at every level.
    */
  def assign(vecs: DataFrame): DataFrame = {
    val iv = vecs.where(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"))
    val top = iv.select(col("vec_id"),
      rootCell(shape.root, centroids).as("cell"))
    levels.zip(shape.ks).foldLeft(top) { case (asg, (cents, k)) =>
      descend(iv.join(asg.withColumnRenamed("cell", "cluster"), "vec_id"),
        cents, k)
    }
  }

  /** Probe list (query_id, cell) of a (vec_id, v, nrm) query frame by
    * one beam descent. The codebook root keeps [[Similarity.ivfProbes]]'
    * top min(b₁, k) cells; the hash root keeps every shard. Each learned
    * level scores only its parents' children from the broadcast table
    * and keeps the beam's best per (query, shard) by `cos desc nulls
    * last, cell` (a codebook root counts as one shard), so the last
    * level keeps `width` leaves per shard. Beams run upward from
    * b_L = width with b_{l-1} = max(1, ⌈b_l/k_l⌉) + 1 ([[Shape.beams]]):
    * just enough parents that their children can fill the next quota,
    * plus one for the boundary case. A leaf whose parent ranks below the
    * beam is not descended — recall against the beam is measured, not
    * assumed (SCALING.md hier3 rows). Selection cost per query and shard
    * is k_root + Σ k_l·b_{l-1} centroid scores, never the corpus.
    */
  def probes(queries: DataFrame, width: Int): DataFrame = {
    val q = queries.where(col("nrm") > 0)
    val beams = shape.beams(width)
    val top = shape.root match {
      case Codebook(_) =>
        Similarity.ivfProbes(q, centroids, beams.head)
          .withColumn("shard", lit(0))
      case Hash(shards) =>
        q.select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qn"))
          .crossJoin(broadcast(q.sparkSession.range(shards)
            .select(col("id").cast("int").as("cluster"))))
          .withColumn("shard", col("cluster"))
    }
    levels.zip(shape.ks).zip(beams.tail).foldLeft(top) {
      case (front, ((cents, k), beam)) =>
        val w = Window.partitionBy(col("query_id"), col("shard"))
          .orderBy(col("cos").desc_nulls_last, col("cell"))
        front.join(broadcast(cents), Seq("cluster"))
          .select(col("query_id"), col("shard"), col("qv"), col("qn"),
            cellOf(k).as("cell"),
            when(col("cnrm") > 0,
              Similarity.idot(col("qv"), col("cv")).cast("double")
                / (col("qn") * col("cnrm"))).as("cos"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= beam)
          .select(col("query_id"), col("shard"), col("qv"), col("qn"),
            col("cell").as("cluster"))
    }.select(col("query_id"), col("cluster").as("cell"))
  }
}

object CellTree {

  /** The root partition: a trained literal codebook of `k` cells, or
    * the hash of vec_id into `shards` independent indexes. */
  sealed trait Root
  final case class Codebook(k: Int) extends Root
  final case class Hash(shards: Int) extends Root

  /** A tree before training: its root and each learned level's k. */
  final case class Shape(root: Root, ks: Seq[Int]) {
    require(ks.forall(k => k >= 2 && k <= 64),
      s"cell tree levels need 2 <= k <= 64: $ks")

    /** Independent indexes: a codebook root is one shard. */
    def shards: Int = root match {
      case Hash(n) => n
      case Codebook(_) => 1
    }

    /** Leaf cells in one shard. */
    def cellsPerShard: Long = ks.foldLeft(root match {
      case Codebook(k) => k.toLong
      case Hash(_) => 1L
    })(_ * _)

    /** The descent's keep counts at `width`: the root's, then b_1..b_L
      * with b_L = width and b_{l-1} = max(1, ⌈b_l/k_l⌉) + 1. */
    def beams(width: Int): Seq[Int] = {
      val learned = if (ks.isEmpty) Nil
        else ks.tail.foldRight(List(width)) { (k, acc) =>
          (math.max(1, (acc.head + k - 1) / k) + 1) :: acc
        }
      val b1 = learned.headOption.getOrElse(width)
      (root match {
        case Codebook(k) => math.min(b1, k)
        case Hash(n) => n
      }) :: learned
    }
  }

  /** Lloyd rounds per learned level. */
  private val LevelIters = 3

  /** Train `shape` over the corpus's `nrm > 0` rows: the root (the
    * codebook by [[Similarity.trainCodebookOn]], or the hash), then for
    * each level one checkpointed parent-keyed frame, [[trainSubCells]]
    * and the argmax assignment that keys the next level. Every shard and
    * every parent trains in the same corpus-wide jobs — no driver loop
    * over cells. Returns the model and the corpus's leaf assignment
    * (vec_id, cell).
    */
  def train(s: SparkSession, dir: String,
      shape: Shape): (CellTree, DataFrame) = {
    val vecs = Similarity.scaledVectors(s, dir).where(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint() // the root and every level scan it
    val centroids = shape.root match {
      case Codebook(k) => Similarity.trainCodebookOn(vecs, k, iters = 5)._1
      case Hash(_) => Array.empty[Array[Double]]
    }
    var asg = vecs.select(col("vec_id"),
      rootCell(shape.root, centroids).as("cell"))
    val levels = shape.ks.map { k =>
      val ivs = vecs.join(asg.withColumnRenamed("cell", "cluster"), "vec_id")
        // seeding, every Lloyd round and the final assign scan it
        .localCheckpoint()
      val cents = trainSubCells(ivs, k, LevelIters)
      asg = descend(ivs, cents, k)
      cents
    }
    (new CellTree(shape, centroids, levels), asg)
  }

  /** The root cell of a (vec_id, v, nrm) row. */
  private def rootCell(root: Root, centroids: Array[Array[Double]]): Column =
    root match {
      case Codebook(_) => Similarity.cellAssignment(centroids)
      case Hash(shards) => pmod(col("vec_id"), lit(shards)).cast("int")
    }

  private def cellOf(k: Int): Column =
    col("cluster").cast("long") * k + col("sub")

  /** One level down: each row of a parent-keyed (vec_id, v, nrm,
    * cluster) frame to its best sub-cell, as (vec_id, cell). */
  private def descend(ivs: DataFrame, cents: DataFrame, k: Int): DataFrame =
    hierAssign(ivs, cents).select(col("vec_id"), cellOf(k).as("cell"))

  /** Cosine of a member row against a centroid ROW (cv, cnrm) — the
    * table-join twin of [[Similarity.cellAssignment]]'s literal-column
    * argmax; −2 (below any real cosine) when the centroid degenerated to
    * zero norm, so `max` never elects it. Members have `nrm > 0`.
    */
  private def hierScore: Column =
    coalesce(
      when(col("cnrm") > 0,
        Similarity.idot(col("v"), col("cv")).cast("double")
          / (col("nrm") * col("cnrm"))),
      lit(-2.0))

  /** Per-vector argmax over its OWN parent's sub-centroids: join on the
    * parent id against the broadcast centroid table (k candidate rows per
    * vector), then one partial-agg max of (cos, −sub) — ties to the
    * lowest sub id, exactly [[Similarity.cellAssignment]]'s policy.
    */
  private def hierAssign(ivs: DataFrame, cents: DataFrame): DataFrame =
    ivs.join(broadcast(cents), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        struct(hierScore.as("cos"), (-col("sub")).as("negsub")).as("sc"))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(max(col("sc")).as("m"))
      .select(col("vec_id"), col("cluster"),
        (-col("m.negsub")).cast("int").as("sub"))

  /** One learned level's trainer: given a parent-keyed corpus frame
    * `ivs` = (vec_id, v, nrm, cluster) — `cluster` is the parent cell id
    * at any granularity (a codebook cell, a shard, a deeper cell) —
    * train `k` sub-centroids per parent with the broadcast-TABLE Lloyd:
    * greedy farthest-point seeding WITHIN each parent (all parents at
    * once; seed 0 is the md5-min member, each next seed the member
    * minimizing max-cosine to the parent's seeds — k−1 rounds of join +
    * argmin, bounded by k ≤ 64, not by parent count), then `iters`
    * shared Lloyd rounds (one broadcast-join assignment pass + one
    * partial-agg integer mean update over the whole corpus per round).
    * Degenerate corners: a sub-centroid that loses every member drops
    * out of the update (fewer live subs — deterministic); a parent with
    * fewer members than k re-elects an existing seed whose duplicate
    * centroid never wins the tie-broken argmax. Returns (cluster, sub,
    * cv, cnrm).
    */
  private def trainSubCells(ivs: DataFrame, k: Int,
      iters: Int): DataFrame = {
    var cents = ivs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(
          md5(concat(lit("hier:"), col("vec_id").cast("string"))),
          col("vec_id"))))
      .where(col("rk") === 1)
      .select(col("cluster"), lit(0).as("sub"),
        col("v").as("cv"), col("nrm").as("cnrm"))
      .localCheckpoint()
    for (j <- 1 until k) {
      val far = ivs.join(broadcast(cents), Seq("cluster"))
        .select(col("cluster"), col("vec_id"), col("v"), col("nrm"),
          hierScore.as("cos"))
        .groupBy(col("cluster"), col("vec_id"))
        .agg(max(col("cos")).as("mc"),
          first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      val pick = far
        .select(col("cluster"),
          struct(col("mc"), col("vec_id"), col("v"), col("nrm")).as("c"))
        .groupBy(col("cluster")).agg(min(col("c")).as("c"))
        .select(col("cluster"), lit(j).as("sub"),
          col("c.v").as("cv"), col("c.nrm").as("cnrm"))
      cents = cents.unionByName(pick).localCheckpoint()
    }
    for (_ <- 1 to iters) {
      val asg = hierAssign(ivs, cents)
      val sums = asg
        .join(ivs.select(col("vec_id"), col("v")), Seq("vec_id"))
        .select(col("cluster"), col("sub"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("sub"), col("dim"))
        .agg(expr("sum(x) div count(1)").as("w"))
      cents = sums
        .groupBy(col("cluster"), col("sub"))
        .agg(array_sort(collect_list(struct(col("dim"), col("w"))))
          .as("ps"))
        .select(col("cluster"), col("sub"),
          expr("transform(ps, p -> p.w)").as("cv"))
        .withColumn("cnrm", sqrt(
          expr("aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)")
            .cast("double")))
        .localCheckpoint()
    }
    cents
  }
}
