package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._
import graft.genomics.Assembly

/** The reference's three assembly phases (prune / best-successor /
  * interval-stitch, /root/reference/assembly_final.cpp:155-182, :251-325,
  * :402-624) exposed as oracle-checked catalog queries.
  *
  * The aligned-reads graph is derived deterministically from `documents`
  * inside the query (and identically inside the DuckDB oracle): four
  * 30-char windows per long-enough document at offsets 0/25/65/100 —
  * adjacent overlap (stitch case B), two `N` gaps (case D) — with edges
  * window i → i+1, i+2 and a pseudo-random score from the read id's md5.
  * Window 2 is the designated destination, so window 3 is a prunable
  * dead end and the argmax has real branching to resolve.
  */
object GenomicsCatalog {

  private val windows = Seq((0, 0), (1, 25), (2, 65), (3, 100))
  private val edgePairs = Seq((0, 1), (0, 2), (1, 2), (1, 3), (2, 3))

  /** Deterministic score in [0,1): first 4 hex digits of md5(id). */
  private val scoreExpr =
    expr("cast(conv(substr(md5(cast(id as string)), 1, 4), 16, 10) as double) / 65536.0")

  /** (vertices(doc_id,id,offset,length,content,score), edges(src,dst)). */
  def readsGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), Text.normText(col("text")).as("nt"))
      .where(length(col("nt")) >= 130)
    val win = explode(array(windows.map { case (i, o) =>
      struct(lit(i).as("i"), lit(o).as("off"))
    }: _*))
    val vertices = docs
      .select(col("doc_id"), col("nt"), win.as("w"))
      .select(col("doc_id"),
        (col("doc_id") * 10 + col("w.i")).as("id"),
        col("w.off").as("offset"), lit(30).as("length"),
        expr("substr(nt, w.off + 1, 30)").as("content"))
      .withColumn("score", scoreExpr)
    val edges = docs
      .select(col("doc_id"),
        explode(array(edgePairs.map { case (a, b) =>
          struct(lit(a).as("a"), lit(b).as("b"))
        }: _*)).as("e"))
      .select((col("doc_id") * 10 + col("e.a")).as("src"),
        (col("doc_id") * 10 + col("e.b")).as("dst"))
    (vertices, edges)
  }

  /** Phase 1, tag-only prune (assembly_final.cpp:155-182): no-successor
    * reads that are not a destination get valid=false.
    */
  def q70PruneFlag(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = readsGraph(s, dir)
    Assembly.withValidFlag(v, e, col("id") % 10 === 2)
      .select(col("id"), col("valid"))
      .orderBy(col("id"))
  }

  /** Phase 2, per-read argmax successor (assembly_final.cpp:251-325),
    * deterministic ties (score desc, id asc); leaves keep -1.
    */
  def q71BestSuccessor(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = readsGraph(s, dir)
    Assembly.bestSuccessor(v, e)
      .select(col("id"), col("next_id"))
      .orderBy(col("id"))
  }

  /** Phase 3, closed-form interval stitch (assembly_final.cpp:402-624):
    * one contig per document in a single aggregation.
    */
  def q72StitchContigs(s: SparkSession, dir: String): DataFrame = {
    val (v, _) = readsGraph(s, dir)
    Assembly.stitchContigs(v, "doc_id").orderBy(col("doc_id"))
  }

  /** Phase 3 again, through the registered typed-Aggregator UDAF
    * (SURVEY §2.10 X2) — same algebra, custom-UDAF surface; shares
    * q72's independent window-form oracle.
    */
  def q73StitchUdaf(s: SparkSession, dir: String): DataFrame = {
    s.udf.register("stitch_span", udaf(graft.functions.StitchAggregator,
      org.apache.spark.sql.Encoders.product[graft.functions.Span]))
    val (v, _) = readsGraph(s, dir)
    v.groupBy(col("doc_id"))
      .agg(expr("stitch_span(offset, length, content)").as("r"))
      .select(col("doc_id"), col("r.offset").as("offset"),
        col("r.length").as("length"), col("r.content").as("contig"))
      .orderBy(col("doc_id"))
  }

  /** Phase 3 in its faithful iterative form (the reference's engine-3
    * fixpoint, assembly_final.cpp:402-624): every read re-merges its
    * chosen successor's current span per superstep until nothing moves.
    * One row per read — each ends holding the fold of its whole
    * `next_id` chain, so this oracles the X4/J3/P6 loop machinery that
    * was previously spec-only.
    */
  def q74StitchIterative(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = readsGraph(s, dir)
    Assembly.stitchIterative(Assembly.bestSuccessor(v, e))
      .select(col("id"), col("offset"), col("length"), col("content").as("contig"))
      .orderBy(col("id"))
  }

  /** The find-phase scatter's *intended* invalidation
    * (assembly_final.cpp:318-319; garbage as written per the arg-swap
    * bug, SURVEY §2.11): children not chosen by some parent get
    * valid=false.
    */
  def q75NonbestInvalid(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = readsGraph(s, dir)
    Assembly.invalidateNonBest(v, e)
      .select(col("id"), col("valid"))
      .orderBy(col("id"))
  }

  /** q74's fixpoint under the reference's actual `context.signal` delta
    * scheduling (assembly_final.cpp:619, SURVEY §2.10 X4): only parents
    * of last round's changed vertices re-merge. Identical converged
    * state, frontier-proportional per-round work — the variant you'd
    * run on a long-tail graph. Shares q74's oracle verbatim.
    */
  def q76StitchFrontier(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = readsGraph(s, dir)
    Assembly.stitchIterativeFrontier(Assembly.bestSuccessor(v, e))
      .select(col("id"), col("offset"), col("length"), col("content").as("contig"))
      .orderBy(col("id"))
  }

  /** PageRank fixed-point iterations for [[q100PageRank]] — 5 rounds
    * covers the derived graph's depth-3 chains with slack, so the
    * emitted ranks are the converged DAG values.
    */
  private val PrIters = 5
  private val PrScale = 1000000000000L

  /** PageRank over the derived reads graph — GraphLab's canonical
    * example vertex program (the app the reference's framework ships
    * as its hello-world), expressed as the same gather/apply loop as
    * q74: per round, every edge forwards `85·r(src) div (100·outdeg)`
    * and every vertex applies `base + Σ inflow` with
    * `base = 15·SCALE div 100`. All arithmetic is BIGINT with
    * truncating div at SCALE=10¹² — both engines evaluate the
    * identical integer recurrence, so 5 unrolled iterations
    * hash-match exactly (the ln()/double-mass forms would not).
    * Dangling vertices keep base rank (their mass is dropped, the
    * common simplification; documented rather than redistributed).
    *
    * Scale shape: outdeg is computed ONCE and joined to the edge list
    * before the loop (the static `degEdges` frame is the analog of
    * q74's bind-once projection); each round is one hash equi-join on
    * src + one partial-aggregated groupBy on dst — the canonical
    * iterate-until-fixpoint shuffle pair, with the left-join back to
    * the vertex list keeping rank-less sinks alive. Plan depth grows
    * linearly in rounds; at 5 rounds no checkpoint is needed (q74's
    * counted-checkpoint convergence, Eager.checkpointCounting, is the
    * unbounded-round variant).
    */
  def q100PageRank(s: SparkSession, dir: String): DataFrame = {
    val (v, e) = readsGraph(s, dir)
    val verts = v.select(col("id")).localCheckpoint()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val degEdges = e.join(outDeg, "src").localCheckpoint()
    val base = 15L * PrScale / 100L
    var ranks = verts.select(col("id"), lit(PrScale).as("pr"))
    for (_ <- 1 to PrIters) {
      val inflow = degEdges.join(ranks, degEdges("src") === ranks("id"))
        .select(col("dst"), expr("(85 * pr) div (100 * outdeg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = verts.join(inflow, verts("id") === inflow("dst"), "left")
        .select(verts("id"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("pr"))
    }
    ranks.join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), col("pr"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      .orderBy(col("id"))
  }

  /** Distributed triangle counting over the derived reads graph — the
    * third classic graph kernel beside CC (q35/q37) and PageRank
    * (q100). The standard two-join formulation on ORIENTED edges:
    * every edge here already points from a lower to a higher window
    * index, so each triangle {a<b<c} is counted exactly once as
    * e(a,b) ⋈ e(b,c) ⋈ e(a,c) — no /6 dedup, no symmetric blowup.
    * (On a general graph the same plan runs after degree-based
    * orientation — orient each edge toward the higher-degree
    * endpoint — which bounds the join fan-out by the arboricity; the
    * derived DAG gives that orientation for free.) Per document the
    * window DAG closes {0,1,2} and {1,2,3}, so the expected count is
    * exactly 2 per long-enough doc — a structurally known answer the
    * oracle re-derives relationally.
    *
    * Scale shape: two hash equi-joins on vertex ids (the wedge join
    * on the shared middle vertex, then the closing-edge join on the
    * (a,c) pair) + one partial-aggregated groupBy. Nothing is ever
    * materialized per-wedge beyond the join stream.
    */
  def q104Triangles(s: SparkSession, dir: String): DataFrame = {
    val (_, e) = readsGraph(s, dir)
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"))
    val e3 = e.select(col("src").as("a"), col("dst").as("c"))
    e1.join(e2, "b").join(e3, Seq("a", "c"))
      .groupBy(expr("a div 10").as("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q70_prune_flag" -> (q70PruneFlag _),
    "q71_best_successor" -> (q71BestSuccessor _),
    "q72_stitch_contigs" -> (q72StitchContigs _),
    "q73_stitch_udaf" -> (q73StitchUdaf _),
    "q74_stitch_iterative" -> (q74StitchIterative _),
    "q75_nonbest_invalid" -> (q75NonbestInvalid _),
    "q76_stitch_frontier" -> (q76StitchFrontier _),
    "q100_pagerank" -> (q100PageRank _),
    "q104_triangles" -> (q104Triangles _),
  )

  // ---- oracle SQL ----

  private def hx(str: String, k: Int) =
    s"(strpos('0123456789abcdef', substr($str, $k, 1)) - 1)"

  /** DuckDB twin of [[scoreExpr]]. */
  private val sqlScore = {
    val m = "md5(CAST(id AS VARCHAR))"
    s"CAST(${hx(m, 1)} * 4096 + ${hx(m, 2)} * 256 + ${hx(m, 3)} * 16 + ${hx(m, 4)} AS DOUBLE) / 65536.0"
  }

  private val sqlGraph = {
    val winRows = windows.map { case (i, o) => s"($i, $o)" }.mkString(", ")
    val edgeRows = edgePairs.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""docs AS (SELECT doc_id, ${Text.sqlNorm} AS nt FROM documents
                 WHERE length(${Text.sqlNorm}) >= 130),
      verts AS (SELECT doc_id, doc_id * 10 + w.i AS id, w.off AS off, 30 AS len,
                  substr(nt, w.off + 1, 30) AS content
                FROM docs, (VALUES $winRows) w(i, off)),
      scored AS (SELECT *, $sqlScore AS score FROM verts),
      edges AS (SELECT doc_id * 10 + e.a AS src, doc_id * 10 + e.b AS dst
                FROM docs, (VALUES $edgeRows) e(a, b))"""
  }

  /** Unrolled k-hop closure over `nxt`, one UNION arm per hop count.
    * Depth = `windows.size - 1`: within a document, every edge strictly
    * increases the window index, so no `next_id` chain can exceed that
    * many hops — and deriving the depth here (instead of hard-coding 3)
    * means adding a window to the constants automatically deepens the
    * oracle's closure to match.
    */
  private val sqlChainHops = (1 to windows.size - 1).map { k =>
    val joins = (2 to k)
      .map(j => s"JOIN nxt n$j ON n${j - 1}.dst = n$j.src").mkString(" ")
    s"UNION SELECT n1.src, n$k.dst FROM nxt n1 $joins"
  }.mkString("\n        ")

  /** Independent derivation of the stitch for ascending-offset,
    * never-left-extending read sets (the derived windows are exactly
    * that; cases B/C/D only): the *window form* of SURVEY §2.4 A6. Each
    * read's contribution is a pure function of the running exclusive end
    * `prev = max(off+len)` over earlier reads, concatenated in offset
    * order. Agreeing with Spark's left-fold form from two different
    * formulations makes this a stronger oracle than a transcription.
    * (A `list_reduce` transcription was tried first but DuckDB 1.0's
    * list_reduce mis-evaluates repeat/substr after the first iteration.)
    */
  private val sqlStitchWindow = """
      folded AS (
        SELECT doc_id, off, len, content,
          max(off + len) OVER (PARTITION BY doc_id ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        FROM verts),
      segs AS (
        SELECT doc_id, off, len, prev,
          CASE WHEN prev IS NULL THEN content
               WHEN off + len <= prev THEN ''
               WHEN off >= prev THEN repeat('N', off - prev) || content
               WHEN off = prev - 1 THEN substr(content, 2, len - 1)
               ELSE substr(content, prev - off + 1, off + len - prev)
          END AS seg
        FROM folded)"""

  /** Shared by q74 and q76 — two schedulings of one fixpoint. */
  private val sqlIterativeOracle = s"""
      WITH $sqlGraph,
      succ AS (SELECT e.src, e.dst, s.score,
          ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY s.score DESC, e.dst) AS rn
        FROM edges e JOIN scored s ON e.dst = s.id),
      nxt AS (SELECT src, dst FROM succ WHERE rn = 1),
      chain AS (
        SELECT id AS vid, id AS mid FROM verts
        $sqlChainHops),
      mem AS (SELECT c.vid, v.off, v.len, v.content
              FROM chain c JOIN verts v ON c.mid = v.id),
      folded2 AS (
        SELECT vid, off, len, content,
          max(off + len) OVER (PARTITION BY vid ORDER BY off
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        FROM mem),
      segs2 AS (
        SELECT vid, off, len, prev,
          CASE WHEN prev IS NULL THEN content
               WHEN off + len <= prev THEN ''
               WHEN off >= prev THEN repeat('N', off - prev) || content
               WHEN off = prev - 1 THEN substr(content, 2, len - 1)
               ELSE substr(content, prev - off + 1, off + len - prev)
          END AS seg
        FROM folded2)
      SELECT vid AS id, MIN(off) AS "offset",
        MAX(off + len) - MIN(off) AS "length",
        string_agg(seg, '' ORDER BY off) AS contig
      FROM segs2 GROUP BY vid ORDER BY id"""

  /** q100's twin: the identical BIGINT recurrence, one CTE per round —
    * unrolled from the same (PrIters, PrScale) constants, so deepening
    * the loop deepens the oracle (the sqlChainHops derivation rule).
    */
  private val sqlPageRank = {
    val base = 15L * PrScale / 100L
    val iterCtes = (1 to PrIters).map { k =>
      s"""r$k AS (SELECT v.id, $base + COALESCE(f.inflow, 0) AS pr
        FROM verts v LEFT JOIN (
          SELECT de.dst,
            CAST(SUM((85 * r.pr) // (100 * de.outdeg)) AS BIGINT) AS inflow
          FROM de JOIN r${k - 1} r ON de.src = r.id GROUP BY de.dst) f
          ON f.dst = v.id)"""
    }.mkString(",\n      ")
    s"""
      WITH $sqlGraph,
      deg AS (SELECT src, COUNT(1) AS outdeg FROM edges GROUP BY src),
      de AS (SELECT e.src, e.dst, d.outdeg
             FROM edges e JOIN deg d USING (src)),
      r0 AS (SELECT id, CAST($PrScale AS BIGINT) AS pr FROM verts),
      $iterCtes
      SELECT r.id, r.pr, COALESCE(d.outdeg, 0) AS outdeg
      FROM r$PrIters r LEFT JOIN deg d ON r.id = d.src
      ORDER BY r.id"""
  }

  val oracles: Map[String, String] = Map(
    "q100_pagerank" -> sqlPageRank,
    "q104_triangles" -> s"""
      WITH $sqlGraph
      SELECT e1.src // 10 AS doc_id, COUNT(1) AS n_triangles
      FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY e1.src // 10 ORDER BY doc_id""",
    "q70_prune_flag" -> s"""
      WITH $sqlGraph
      SELECT v.id, (e.src IS NOT NULL OR v.id % 10 = 2) AS valid
      FROM verts v
      LEFT JOIN (SELECT DISTINCT src FROM edges) e ON v.id = e.src
      ORDER BY v.id""",
    "q71_best_successor" -> s"""
      WITH $sqlGraph,
      succ AS (SELECT e.src, e.dst, s.score,
          ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY s.score DESC, e.dst) AS rn
        FROM edges e JOIN scored s ON e.dst = s.id)
      SELECT v.id, COALESCE(b.dst, CAST(-1 AS BIGINT)) AS next_id
      FROM verts v
      LEFT JOIN (SELECT src, dst FROM succ WHERE rn = 1) b ON v.id = b.src
      ORDER BY v.id""",
    "q72_stitch_contigs" -> s"""
      WITH $sqlGraph,$sqlStitchWindow
      SELECT doc_id, MIN(off) AS "offset",
        MAX(off + len) - MIN(off) AS "length",
        string_agg(seg, '' ORDER BY off) AS contig
      FROM segs GROUP BY doc_id ORDER BY doc_id""",
    "q73_stitch_udaf" -> s"""
      WITH $sqlGraph,$sqlStitchWindow
      SELECT doc_id, MIN(off) AS "offset",
        MAX(off + len) - MIN(off) AS "length",
        string_agg(seg, '' ORDER BY off) AS contig
      FROM segs GROUP BY doc_id ORDER BY doc_id""",
    // Iterative-fixpoint oracle: each read's converged span equals the
    // window-form fold over its next_id chain's members; offsets ascend
    // along every chain, so the same independent window formulation as
    // q72 applies per chain. The closure's unroll depth is DERIVED from
    // `windows` (see sqlChainHops) so editing the graph constants cannot
    // silently truncate the oracle's chains. q76 (the frontier-scheduled
    // spelling of the same fixpoint) shares it verbatim.
    "q74_stitch_iterative" -> sqlIterativeOracle,
    "q76_stitch_frontier" -> sqlIterativeOracle,
    "q75_nonbest_invalid" -> s"""
      WITH $sqlGraph,
      succ AS (SELECT e.src, e.dst, s.score,
          ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY s.score DESC, e.dst) AS rn
        FROM edges e JOIN scored s ON e.dst = s.id),
      nxt AS (SELECT src, dst FROM succ WHERE rn = 1),
      demoted AS (SELECT DISTINCT e.dst AS id
                  FROM edges e JOIN nxt n ON e.src = n.src
                  WHERE e.dst <> n.dst)
      SELECT v.id, (d.id IS NULL) AS valid
      FROM verts v LEFT JOIN demoted d ON v.id = d.id
      ORDER BY v.id""",
  )
}
