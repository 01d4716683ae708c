package graft.genomics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Eager

/** Greedy path-based genome assembly, rebuilt Spark-first.
  *
  * The reference (/root/reference/assembly_final.cpp) runs three GraphLab
  * vertex programs over a read-overlap graph: prune dead-end reads
  * (:155-182), pick each read's highest-scoring successor (:251-325),
  * then iteratively stitch successor content into each read with overlap
  * trimming and `N` gap-fill until a fixpoint (:402-624). Here each phase
  * is a declarative DataFrame transform; the stitch has a closed form
  * (one aggregation per contig) plus a faithful iterative form for the
  * general graph case.
  *
  * Deterministic deviations from the reference (documented in SURVEY.md
  * §2.11): argmax ties break toward the smallest successor id (the
  * reference keeps GraphLab's nondeterministic gather order); the fold
  * order is ascending `(offset, length, content)` (the reference folds in
  * gather order).
  */
object Assembly {

  // ---------------------------------------------------------------------
  // Phase 1 — dead-end prune (exempt_reads_program, assembly_final.cpp:155-182)
  // ---------------------------------------------------------------------

  /** Tag-only mode, faithful to the reference: a read with no successor
    * that is not the designated destination gets `valid = false`
    * (assembly_final.cpp:174-176; the flag is never consumed downstream —
    * SURVEY.md §2.11). Left join against the distinct edge sources is the
    * degree-existence test (`num_out_edges() == 0`).
    */
  def withValidFlag(vertices: DataFrame, edges: DataFrame, destId: Long): DataFrame =
    withValidFlag(vertices, edges, col("id") === lit(destId))

  /** Generalized prune tag: `isDest` marks destination reads (resolved
    * against the joined frame), enabling per-group destinations — e.g.
    * one designated read per document in the catalog's derived graph.
    */
  def withValidFlag(vertices: DataFrame, edges: DataFrame, isDest: Column): DataFrame = {
    val hasSucc = edges.select(col("src")).distinct()
    vertices
      .join(hasSucc, vertices("id") === hasSucc("src"), "left")
      .withColumn("valid", col("src").isNotNull || isDest)
      .drop("src")
  }

  /** Filter mode (the *intended* semantics): drop invalid reads. */
  def pruneDeadEnds(vertices: DataFrame, edges: DataFrame, destId: Long): DataFrame =
    withValidFlag(vertices, edges, destId).where(col("valid")).drop("valid")

  // ---------------------------------------------------------------------
  // Phase 2 — best successor (find_max_children, assembly_final.cpp:251-325)
  // ---------------------------------------------------------------------

  /** Per-read argmax over successors: gather `(dst, dst.score)` along out
    * edges (assembly_final.cpp:269-272) and keep the highest-scoring
    * successor id as `next_id` (:298-309). One shuffle (the groupBy);
    * `max_by` gives map-side partial aggregation, exactly the reference's
    * partial-then-final gather monoid. Leaves keep `next_id = -1`
    * (the reference leaves the field default-initialised, :283-288).
    * Ties: highest score, then smallest dst (deterministic; see header).
    */
  def bestSuccessor(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val succScore = edges.join(
      vertices.select(col("id").as("_dst_id"), col("score").as("_dst_score")),
      col("dst") === col("_dst_id"))
    val best = succScore
      .groupBy(col("src"))
      .agg(max_by(col("dst"), struct(col("_dst_score"), negate(col("dst")))).as("next_id"))
    vertices
      .join(best, vertices("id") === best("src"), "left")
      .drop("src")
      .withColumn("next_id", coalesce(col("next_id"), lit(-1L)))
  }

  /** The *intended* semantics of the find-phase scatter
    * (assembly_final.cpp:318-319): after best-successor selection, every
    * child that some parent did NOT choose gets `valid = false`. As
    * written the reference compares against a swapped-args message
    * (score in the id field, assembly_final.cpp:317 vs the ctor at :232 —
    * SURVEY §2.11), so its own predicate is garbage; this is the
    * documented intended form. A child chosen by one parent but passed
    * over by another is still invalidated — the reference's scatter only
    * ever writes `false`, so any demotion wins.
    *
    * Shape: one aggregation (the argmax) + one distinct on demoted ids +
    * a left join to tag — no per-row UDFs, all hash-partitioned on ids.
    */
  def invalidateNonBest(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val next = bestSuccessor(vertices, edges)
      .select(col("id").as("p_id"), col("next_id").as("p_next"))
    val demoted = edges
      .join(next, edges("src") === col("p_id"))
      .where(col("dst") =!= col("p_next"))
      .select(col("dst").as("demoted_id"))
      .distinct()
    vertices
      .join(demoted, vertices("id") === demoted("demoted_id"), "left")
      .withColumn("valid", col("demoted_id").isNull)
      .drop("demoted_id")
  }

  // ---------------------------------------------------------------------
  // Phase 3 — interval stitch (merge, assembly_final.cpp:402-624)
  // ---------------------------------------------------------------------

  /** One stitch step: fold child read `n` into the accumulated span `acc`
    * (both `struct(offset, length, content)`). Direct transcription of the
    * apply-phase case analysis (assembly_final.cpp:459-598), inclusive-end
    * convention `e = offset + length - 1`:
    *
    *  - A  (`offset_n < cur_offset`, :469):
    *    - A1 disjoint-left (`e_n < cur_offset`, :473): child ++ N-gap ++ cur
    *    - A2 covers-past-end (`e_n > e_cur`, :489): full replace by child
    *    - A3 left-overlap (otherwise, :503): prepend child's first
    *      `length_n - 1` chars — the reference does NOT trim by the actual
    *      overlap width; reproduced as-spec'd (SURVEY.md §2.11)
    *  - B  (`cur_offset <= offset_n < e_cur`, :520): if `e_n > e_cur`
    *    append the part of child past `e_cur` (:541-553), else contained →
    *    no-op
    *  - C  (`offset_n == e_cur`, :558): append child minus its first char
    *    (1-base overlap trim)
    *  - D  (`offset_n > e_cur`, :571): cur ++ N-gap ++ child
    *
    * C++ `substr(start, len)` is 0-based; `Column.substr` is 1-based —
    * every start position below is the C++ one plus 1.
    */
  def stitchStep(acc: Column, n: Column): Column = {
    val co = acc.getField("offset")
    val cl = acc.getField("length")
    val cc = acc.getField("content")
    val no = n.getField("offset")
    val nl = n.getField("length")
    val nc = n.getField("content")
    val eC = Intervals.endInclusive(co, cl)
    val eN = Intervals.endInclusive(no, nl)

    def span(o: Column, l: Column, c: Column): Column =
      struct(o.as("offset"), l.as("length"), c.as("content"))

    val gapL = co - no - nl // :479
    val a1 = span(no, nl + gapL + cl, concat(nc, repeat(lit("N"), gapL), cc))
    val a2 = span(no, nl, nc)
    val a3 = span(no, cl + nl - 1, concat(nc.substr(lit(1), nl - 1), cc))
    val bLen = nl + no - co - cl // :542
    val b = span(co, cl + bLen, concat(cc, nc.substr(co + cl - no + 1, bLen)))
    val cAdj = span(co, cl + nl - 1, concat(cc, nc.substr(lit(2), nl - 1)))
    val gapR = Intervals.gapRight(co, cl, no) // :574
    val d = span(co, cl + gapR + nl, concat(cc, repeat(lit("N"), gapR), nc))

    when(no < co, when(eN < co, a1).when(eN > eC, a2).otherwise(a3))
      .when(no >= co && no < eC, when(eN > eC, b).otherwise(span(co, cl, cc)))
      .when(no === eC, cAdj)
      .otherwise(d)
  }

  /** Aggregate expression: stitch all reads of a group into one contig,
    * folding in ascending `(offset, length, content)` order. Returns
    * `struct(offset, length, content)`.
    *
    * This is the closed form of the reference's O(path-length) fixpoint
    * (SURVEY.md §3.3): because `next_id` defines a functional path, the
    * backward re-signaling loop converges to exactly the left-fold of the
    * path's reads — computed here in ONE aggregation (no iteration, no
    * lineage growth). Partial `collect_list`s combine map-side, so the
    * only shuffle is the groupBy itself.
    */
  def stitchedSpan(
      offset: Column = col("offset"),
      length: Column = col("length"),
      content: Column = col("content")): Column = {
    val arr = sort_array(collect_list(struct(
      offset.as("offset"), length.as("length"), content.as("content"))))
    // linear segment fold (graft.functions.StitchFoldExpr) — the
    // aggregate() HOF spelling computes the same value but re-copies
    // the growing contig per element (quadratic on deep groups)
    call_function("stitch_fold", arr)
  }

  /** Closed-form per-group assembly: one contig row per group. */
  def stitchContigs(reads: DataFrame, groupCol: String): DataFrame = {
    graft.GraftExtensions.ensureRegistered(reads.sparkSession)
    val s = stitchedSpan()
    reads.groupBy(col(groupCol)).agg(
      s.getField("offset").as("offset"),
      s.getField("length").as("length"),
      s.getField("content").as("contig"))
  }

  /** Faithful iterative form (general graphs): each superstep every read
    * re-merges its chosen successor's *current* span, exactly the
    * reference's engine-3 fixpoint (assembly_final.cpp:402-624) — growth
    * propagates backwards one hop per superstep; `localCheckpoint` per
    * iteration cuts lineage (the classic iterative-DataFrame failure
    * mode). Converges in O(longest path) supersteps; `maxIters` guards
    * the cycle livelock the reference would hit (SURVEY.md §7.3).
    *
    * Input must carry `id, next_id, offset, length, content` (leaf
    * sentinel `next_id = -1`).
    */
  def stitchIterative(vertices: DataFrame, maxIters: Int = 64): DataFrame =
    stitchSupersteps(vertices, maxIters, frontier = false)

  /** Active-set (frontier) variant of [[stitchIterative]] — the
    * reference's `context.signal(edge.source())` delta scheduling
    * (assembly_final.cpp:619, SURVEY §2.10 X4) made explicit: each
    * superstep, ONLY parents whose chosen child changed last round
    * re-merge; everything else is carried through untouched. Same
    * fixpoint as the dense form. What is frontier-proportional is the
    * child side: only last round's changed reads are shuffled and
    * joined, so the merge work shrinks with the active set on a
    * long-tail workload (most chains short, few deep). The parent side
    * — the whole state — is still shuffled every round, as the older
    * semi-join + anti-join spelling of this schedule also did.
    */
  def stitchIterativeFrontier(vertices: DataFrame, maxIters: Int = 64): DataFrame =
    stitchSupersteps(vertices, maxIters, frontier = true)

  /** The one superstep loop behind both schedules. A round is
    * `state LEFT JOIN child ON next_id = c_id`, where the child side is
    * the whole state (dense) or only the reads whose span changed last
    * round (`_ch`, frontier); a parent with no child row keeps its span.
    * The round's one [[Eager.checkpointCounting]] materialises the next
    * state and counts its changed reads, which is both the loop
    * condition and the next frontier — a merge that changes content
    * always moves (offset, length): cases A1/A2/A3/B/C/D all grow or
    * shift. The initial state carries `_ch = true` (signal_all,
    * assembly_final.cpp:732), so its own checkpoint counts the vertices
    * and an empty input runs no round.
    *
    * The merge hint keeps each round at 3 jobs (two shuffle map stages
    * and the checkpoint): without it AQE demotes the join to a
    * broadcast after both shuffles have run, which costs a 4th job.
    */
  private def stitchSupersteps(vertices: DataFrame, maxIters: Int,
      frontier: Boolean): DataFrame = {
    var (state, changed) = Eager.checkpointCounting(vertices
      .select(col("id"), col("next_id"), col("offset"), col("length"), col("content"),
        lit(true).as("_ch")), col("_ch"))
    var it = 0
    while (changed > 0 && it < maxIters) {
      val child = (if (frontier) state.where(col("_ch")) else state)
        .select(col("id").as("c_id"), col("offset").as("c_offset"),
          col("length").as("c_length"), col("content").as("c_content"))
        .hint("merge")
      val acc = struct(col("offset").as("offset"), col("length").as("length"),
        col("content").as("content"))
      val n = struct(col("c_offset").as("offset"), col("c_length").as("length"),
        col("c_content").as("content"))
      val merged = when(col("c_id").isNull, acc).otherwise(stitchStep(acc, n))
      // bind the merged struct ONCE, then project its fields; the
      // pre-merge span rides the same projection for the change flag
      val (next, movedRows) = Eager.checkpointCounting(
        state.join(child, col("next_id") === col("c_id"), "left")
          .select(col("id"), col("next_id"), merged.as("m"),
            col("offset").as("p_offset"), col("length").as("p_length"))
          .select(col("id"), col("next_id"),
            col("m.offset").as("offset"),
            col("m.length").as("length"),
            col("m.content").as("content"),
            (col("m.offset") =!= col("p_offset") ||
              col("m.length") =!= col("p_length")).as("_ch")),
        col("_ch"))
      state = next
      changed = movedRows
      it += 1
    }
    state.drop("_ch")
  }

  /** Ids on the `next_id` chain starting at `source` with their hop
    * index, by pointer doubling: O(log path-length) rounds, each one
    * self-join — the scalable replacement for walking the chain one hop
    * at a time. Invariant: after round k, `members` holds every node
    * within 2^k−1 hops and `jump` maps exactly 2^k hops, so each round
    * labels the next power-of-two stretch. Cycle-safe: revisited ids
    * keep their minimum hop and the member set reaches a fixpoint.
    * Returns `(id, hop)`.
    */
  def pathWithHops(vertices: DataFrame, source: Long, maxRounds: Int = 40): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    var members = Seq((source, 0L)).toDF("id", "hop").localCheckpoint()
    var jump = vertices
      .where(col("next_id") =!= lit(-1L))
      .select(col("id"), col("next_id").as("ptr"), lit(1L).as("d"))
      .localCheckpoint()
    var grew = true
    var round = 0
    while (grew && round < maxRounds) {
      // the drain check rides the members checkpoint: an id is newly
      // reached when no old member row fed its group
      val stepped = members.join(jump, Seq("id"))
        .select(col("ptr").as("id"), (col("hop") + col("d")).as("hop"),
          lit(false).as("_old"))
      val (next, reached) = Eager.checkpointCounting(
        members.withColumn("_old", lit(true)).union(stepped)
          .groupBy(col("id"))
          .agg(min(col("hop")).as("hop"), max(col("_old")).as("_old")),
        !col("_old"))
      members = next.drop("_old")
      grew = reached > 0
      jump = jump.as("a").join(
          jump.select(col("id").as("b_id"), col("ptr").as("b_ptr"),
            col("d").as("b_d")),
          col("a.ptr") === col("b_id"))
        .select(col("a.id").as("id"), col("b_ptr").as("ptr"),
          (col("a.d") + col("b_d")).as("d"))
        .localCheckpoint()
      round += 1
    }
    members
  }

  /** Ids on the `next_id` chain starting at `source` (membership only). */
  def pathMembers(vertices: DataFrame, source: Long, maxRounds: Int = 40): DataFrame =
    pathWithHops(vertices, source, maxRounds).select(col("id"))

  /** End-to-end closed-form assembly of the contig reachable from
    * `source`: best successor over ALL reads (faithful to the reference,
    * whose prune phase only tags `valid` and never filters
    * (assembly_final.cpp:175, SURVEY §2.11) — so a dead-end CAN be
    * chosen and end the path there), then path labeling and a one-shot
    * fold in PATH order: `stitch(r0, stitch(r1, … stitch(r_{k-1}, r_k)))`,
    * the closed form of the reference's bottom-up re-signaling fixpoint
    * (assembly_final.cpp:619). On monotonic-offset paths this equals the
    * offset-ordered fold of [[stitchedSpan]]; on non-monotonic paths the
    * reference itself is gather-order nondeterministic, and path order
    * is the canonical choice. Returns one row `(offset, length, contig)`.
    *
    * Takes no destination: the prune phase is tag-only in the reference
    * (the `valid` flag is never consumed, SURVEY §2.11), so the
    * destination id has no effect on the assembled path — a previous
    * `dest` parameter was dropped because it was silently ignored.
    */
  def assembleFrom(
      vertices: DataFrame,
      edges: DataFrame,
      source: Long): DataFrame = {
    graft.GraftExtensions.ensureRegistered(vertices.sparkSession)
    val withNext = bestSuccessor(vertices, edges)
    val path = pathWithHops(withNext, source)
    val reads = withNext.join(path, Seq("id"))
    // collect in hop order and right-fold with the linear segment fold
    // (stitch_fold_path, graft.functions.StitchFoldExpr); an empty path
    // (source absent) folds to a null span
    val arr = sort_array(collect_list(struct(
      col("hop").as("hop"),
      struct(col("offset").as("offset"), col("length").as("length"),
        col("content").as("content")).as("r"))))
    reads
      .agg(arr.as("harr"))
      .select(call_function("stitch_fold_path",
        transform(col("harr"), x => x.getField("r"))).as("s"))
      .select(col("s.offset").as("offset"), col("s.length").as("length"),
        col("s.content").as("contig"))
  }
}
