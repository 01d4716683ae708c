package graft.ops

import graft.SparkSpec

/** Physical-plan assertions at sf0.001 — the "is Catalyst doing what we
  * designed for" checks: filters reach the parquet scan, projections
  * prune the read schema, small sides broadcast, top-k avoids a global
  * sort, and the approx sketch stays inside its error envelope.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntryPlans.executedPlan(spark, dir, q)

  test("q02 pushes both filters into the parquet scan and prunes columns") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate") && p.contains("l_quantity"), p)
    // read schema carries only the 5 needed columns, not all 16
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_tax"), read)
  }

  test("q03 broadcasts the filtered customer dimension") {
    assert(plan("q03_segment_revenue").contains("BroadcastHashJoin"))
  }

  test("q49 lateral decorrelates to a ranked equi-join, never a nested loop") {
    // DecorrelateInnerQuery must rewrite the per-customer ORDER BY +
    // LIMIT subquery into a window-rank + equi-join — the plan shape
    // whose drift BENCH_r06 flagged; pinned so a Spark-side planner
    // change (or a lost pushed filter) fails loudly instead of as a
    // silent slowdown
    val p = plan("q49_sql_lateral")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("Window"), p.take(800))
    // the c_custkey <= 200 gate reaches both parquet scans (customer
    // directly; orders via the decorrelated subquery's domain)
    assert(p.linesIterator.count(_.contains("PushedFilters: [IsNotNull"))
      >= 2 || p.contains("LessThanOrEqual"), p.take(1200))
  }

  test("q14 plans global top-k as TakeOrderedAndProject (no full sort)") {
    assert(plan("q14_top_k").contains("TakeOrderedAndProject"))
  }

  test("q31 signature table materializes once, not per consumer") {
    // the 16-minima+size aggregation runs ONCE at build time into an
    // eager localCheckpoint; the executed plan must therefore read the
    // signatures as an in-memory RDD scan and contain NO min aggregates.
    // A plan with partial_min back in it means the staging flipped and
    // every consumer (both band self-join sides + the sizes join) is
    // re-aggregating the full shingle scan again — the r3 regression.
    val p = plan("q31_minhash_pairs")
    assert(p.contains("ExistingRDD"), p.take(800))
    assert(!p.contains("partial_min"), p.take(800))
  }

  test("q33 shingle self-join keeps AQE skew handling enabled and unforced") {
    // the df-cap bounds per-key fan-out; residual skew inside the cap is
    // AQE's job — so the plan must stay adaptive and the self-join must
    // not be hint-forced to a strategy that bypasses skew splitting
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    val p = plan("q33_jaccard_pairs")
    assert(p.contains("AdaptiveSparkPlan"), p.take(500))
    // no join-strategy hint anywhere in the q33 build (hint NODES survive
    // into the analyzed plan, so their absence is checkable; match the
    // node class names only — a bare "hint" substring would trip on any
    // column name or literal containing those letters)
    val analyzed = graft.SparkEntry.queries("q33_jaccard_pairs")(spark, dir)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("ResolvedHint"),
      analyzed.take(500))
  }

  test("q31 and q33 leave nothing registered with the cache manager") {
    // both read their shingle set several times; a lazy `.cache()` of it
    // that is never released stays pinned for the JVM's life, and a
    // second q31 then hits Spark's "Asked to cache already cached data"
    spark.catalog.clearCache()
    val cacheManager = spark.sharedState.cacheManager
    Seq("q31_minhash_pairs", "q33_jaccard_pairs", "q31_minhash_pairs").foreach { q =>
      graft.SparkEntry.queries(q)(spark, dir).collect()
      assert(cacheManager.isEmpty, s"$q left cached data behind")
    }
  }

  test("q90/q91 ADC joins broadcast the LUT; no join ever falls back to a cartesian") {
    // the ADC design rests on the corpus side staying a code-row scan
    // joined against a BROADCAST lookup table: a plan that shuffles the
    // codes to a sort-merge join (or worse, degenerates to a cartesian)
    // has lost the property that makes PQ search affordable at 100 TB
    Seq("q90_pq_adc", "q91_ivfpq_search").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(800)}")
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(800)}")
    }
  }

  test("q39 bucketed join shuffles NEITHER side and scans buckets") {
    val p = plan("q39_bucketed_join")
    // the SortMergeJoin must consume bucket-partitioning directly: no
    // exchange on either join key (the agg's exchange on
    // o_orderpriority is expected and fine), and the scans are bucketed
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("hashpartitioning(o_orderkey")
      && !p.contains("hashpartitioning(l_orderkey"), p)
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p)
  }

  test("q59 bloom prefilter is answer-preserving vs the exact q57") {
    // bloom has no false negatives and the verify join removes false
    // positives, so the two decontamination spellings must agree row
    // for row at any fpp
    val exact = graft.SparkEntry.queries("q57_decontaminate")(spark, dir).collect()
    val bloom = graft.SparkEntry.queries("q59_bloom_decontaminate")(spark, dir).collect()
    assert(bloom.toSeq == exact.toSeq)
  }

  test("q67 attribution is an equi-join on user, never a cartesian") {
    // the 30-min range predicate must ride INSIDE the user_id equi-join
    // (as a post-join condition), not degrade the plan to a nested-loop
    // cross product — the difference between one shuffle and O(n²) rows
    val p = plan("q67_click_attribution")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("Join") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("q48 is a one-sided band join over staged tables, never corpus x corpus") {
    // the catalog's most expensive query: pin the shape so a silent
    // plan flip (re-derived signatures, cache substitution, or a
    // two-sided/cartesian candidate join) fails loudly instead of
    // showing up as an unexplained 2x bench swing
    val p = plan("q48_incremental_ingest")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // staged inputs (hx / sh / sigN) are eager checkpoints: every
    // consumer reads an ExistingRDD scan, and the 16-minima signature
    // aggregation runs once at build time, never per consumer. The
    // exact/near tiers' own min(doc_id) aggregates are expected; a
    // partial_min over the shingle hash `h` would mean the signature
    // derivation flipped back into the runtime plan (the r3 regression
    // shape q31 pins against)
    assert(p.contains("ExistingRDD"), p.take(800))
    val sigMins = "partial_min\\(([^)]*)\\)".r.findAllMatchIn(p)
      .map(_.group(1)).filter(a => a.contains("h#") || a.contains("%")).toSeq
    assert(sigMins.isEmpty, sigMins.mkString("; "))
    // one-sided split: the new-batch and corpus predicates are pushed
    // BELOW the band join (a filter on each side), so candidates are
    // bands(new) x bands(corpus) and corpus x corpus pairs never form
    val splits = p.linesIterator.filter(_.contains("% 10) = 9)")).toSeq
    assert(splits.exists(_.contains("NOT")), splits.mkString("\n"))
    assert(splits.exists(!_.contains("NOT")), splits.mkString("\n"))
  }

  test("q68 corpus prep fuses the gate before the explode via a semi-join election") {
    // the survivor election must be a LeftSemi (never materializing the
    // canon side into the output), and dropped/low-quality documents
    // must be filtered BEFORE the packing explode — the Generate node
    // sits above the join+filter, so pruned docs never fan out
    val p = plan("q68_corpus_prep")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    val genAt = p.indexOf("Generate")
    val joinAt = p.indexOf("LeftSemi")
    // physical plans print top-down: the generator appears above (before)
    // the semi-join it consumes
    assert(genAt >= 0 && joinAt > genAt, s"gen@$genAt join@$joinAt")
  }

  test("q123 exact tier elects family reps by partial agg, never a quadratic self-join") {
    // the exact tier must be ONE groupBy(h) electing min(doc_id) as the
    // family representative, then an equi-join back on h — n-1 pairs
    // per digest family. A LessThan(doc_id, doc_id) join condition
    // reappearing here means the C(n,2) digest self-join came back
    // (the round-7 `weak` finding): one 1e5-copy boilerplate family
    // would again be 5e9 join rows on a single hot key
    val p = plan("q123_dedup_agreement")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("partial_min"), p.take(1200))
    val selfPair = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("doc_id"))
      .filter(l => "doc_id#\\d+L? < doc_id#\\d+L?".r
        .findFirstIn(l).isDefined).toSeq
    assert(selfPair.isEmpty, selfPair.mkString("\n"))
  }

  test("q43 unpivot plans as a generator stage, no join or extra shuffle") {
    val p = plan("q43_unpivot")
    // the melt is an Expand over the aggregated frame — adding a metric
    // must never add a join or a per-metric shuffle
    assert(p.contains("Expand"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q107 windows only GROWING range frames, never a moving one") {
    // a moving RANGE frame is recomputed from scratch per row (no
    // retraction) — the 61 s sf0.1 cliff in SCALING.md; the committed
    // prefix-sum form may only use unbounded-preceding (incremental)
    // frames. A RangeFrame with a finite negative lower bound
    // reappearing here means someone reverted to the cliff.
    val p = plan("q107_anomaly")
    assert(!p.contains("RangeFrame, -"), p.take(1000))
    assert(p.contains("unboundedpreceding"), p.take(1000))
  }

  test("q94 broadcasts the vocabulary-sized df and totals sides") {
    val p = plan("q94_bm25")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q112 refresh reads staged partials, never re-aggregating the corpus split") {
    // the staged side must enter the merge as a parquet scan of the
    // model-sized partial table; a plan whose UNION side re-scans
    // lineitem for the corpus split has lost the incremental property.
    // (Asserted structurally, not by the staged path substring — the
    // rendered FileScan location truncates, and the versioned stage
    // root's fingerprint suffixes push the asset name past the cut.)
    val p = plan("q112_incremental_agg")
    assert(p.contains("graft_staged"), p.take(1500))
    // exactly ONE lineitem scan survives — the delta split; the corpus
    // split arrives pre-aggregated from the staged parquet
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem")) === 1,
      p.take(1500))
  }

  test("q46 approx percentiles stay within 1% of exact") {
    Relational.q46ApproxPercentilesRaw(spark, dir).collect().foreach { r =>
      val (a50, e50) = (r.getDouble(1), r.getDouble(2))
      val (a90, e90) = (r.getDouble(3), r.getDouble(4))
      assert(math.abs(a50 - e50) / e50 < 0.01, s"p50: approx $a50 exact $e50")
      assert(math.abs(a90 - e90) / e90 < 0.01, s"p90: approx $a90 exact $e90")
    }
  }

  test("q46 envelope form certifies every group in-plan") {
    Relational.q46ApproxPercentiles(spark, dir).collect().foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(4), r.toString)
    }
  }

  test("q28 approx_count_distinct stays within 5% of exact") {
    val r = Relational.q28ApproxDistinctRaw(spark, dir).head()
    val (ap, ep) = (r.getLong(0), r.getLong(1))
    val (ao, eo) = (r.getLong(2), r.getLong(3))
    assert(math.abs(ap - ep).toDouble / ep < 0.05, s"parts: approx $ap exact $ep")
    assert(math.abs(ao - eo).toDouble / eo < 0.05, s"orders: approx $ao exact $eo")
  }

  test("q28 envelope form certifies both sketches in-plan") {
    val r = Relational.q28ApproxDistinct(spark, dir).head()
    assert(r.getBoolean(1) && r.getBoolean(3), r.toString)
  }

  test("q131 scores against a BROADCAST centroid table and elects by partial agg") {
    // the centroid model is |labels| rows — it must ride a broadcast
    // nested-loop against the test split, never a shuffled join; the
    // per-vector argmax must be a partial-aggregated max_by (one row
    // per test vector crosses the shuffle), not a window over the
    // |test|·|labels| score stream
    val p = plan("q131_centroid_classify")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_max_by") || p.contains("partial_maxby")
      || p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("max_by")), p.take(1500))
  }

  test("q143 sharded search gathers through a hash equi-join, never a corpus nested-loop") {
    // the scatter half (queries x model-sized shard-centroid table) is
    // allowed to be a broadcast nested-loop — but that runs at STAGE
    // time inside stageShardedIndex. The search plan q143 returns must
    // be the same cell-keyed hash equi-join every other staged index
    // uses: a CartesianProduct or a nested-loop against the CORPUS here
    // would mean the gather degenerated to all-pairs
    val p = plan("q143_sharded_ann")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("cluster")), p.take(1500))
  }

  test("q144 masks tombstones with BROADCAST anti-joins; q145 folds the label into the join key") {
    // the delete delta is model-sized: a shuffled anti-join here would
    // re-partition the corpus to exclude a handful of ids
    val p144 = plan("q144_tombstone_ann")
    assert(p144.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      p144.take(1500))
    assert(!p144.contains("SortMergeJoin") ||
      !p144.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      "tombstone mask fell back to a shuffled anti-join")
    // the filter is part of the hash-join KEY (cluster AND label):
    // candidates failing it are never scored — not a post-join Filter
    // on a wider candidate set
    val p145 = plan("q145_filtered_ann")
    assert(p145.linesIterator.exists(l =>
      l.contains("Join") && l.contains("cluster") && l.contains("label")),
      p145.take(1500))
    assert(!p145.contains("CartesianProduct")
      && !p145.contains("BroadcastNestedLoopJoin"), p145.take(800))
  }

  test("q146 broadcasts the query shingle set; fusion joins stay model-sized hash joins") {
    val p = plan("q146_hybrid_rrf")
    // the lexical route is q57's shape: the 20-query shingle set rides
    // a broadcast, never a shuffled self-join of the corpus shingles
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q134 novelty never plans a pair join — df rides a 1:1 hash join back") {
    // the whole point of the df-count spelling: novelty is linear in
    // total shingles. A shingle-keyed SELF-join (h = h between two
    // shingle streams with doc_id on both sides) or any nested-loop
    // reappearing here means someone reverted to pairwise overlap —
    // the q115 shape without its SourceDfCap guard
    val p = plan("q134_shingle_novelty")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    val pairJoin = p.linesIterator
      .filter(l => l.contains("Join") &&
        "doc_id#\\d+L? < doc_id#\\d+L?".r.findFirstIn(l).isDefined).toSeq
    assert(pairJoin.isEmpty, pairJoin.mkString("\n"))
    // the df side enters as a partial-agg count, proving the groupBy
    // spelling survived
    assert(p.contains("partial_count") || p.contains("count(1)"),
      p.take(1500))
  }

  test("q168 folds the label into the candidate join key and never goes cartesian") {
    val p = plan("q168_sq8_constrained")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the candidate join hashes on (cluster AND label) — a wrong-label
    // candidate is never SQ8-priced; a post-filter spelling would show
    // label only in a Filter, not in a join key list
    val keyed = p.linesIterator.filter(l => l.contains("Join") &&
      l.contains("cluster#") && l.contains("label#")).toSeq
    assert(keyed.nonEmpty, p.take(2000))
  }

  test("q169 gathers through one cell equi-join; probes never touch the corpus quadratically") {
    val p = plan("q169_sharded_hier_ann")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the gather is the standard cell equi-join (cluster = cluster);
    // shard count and per-shard depth are invisible to the plan
    assert(p.linesIterator.exists(l => l.contains("Join") &&
      "cluster#\\d+L?".r.findFirstIn(l).isDefined), p.take(2000))
  }

  test("q163 plans the salted election as two rank-limited stages, both pre-cut map-side") {
    val p = plan("q163_cluster_balanced_sample")
    // the two-stage salted bottom-k must appear as two Window stages
    // whose rank predicates Spark pushes into WindowGroupLimit (a
    // partial top-k BEFORE each exchange — the salted form composes
    // with the optimizer instead of fighting it); a single whole-cell
    // window here would be the skew exposure the salting removes
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      p.take(2000))
    assert(p.linesIterator.count(_.trim.matches("^[+:\\- ]*Window .*")) >= 2
      || p.linesIterator.count(_.contains("Window")) >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q170 decodes video in narrow map stages — no shuffle carries payload except the spread") {
    val p = plan("q170_video_decode")
    // exactly two Exchanges: the round-robin spread of the staged
    // blob read (small files pack into one split — the repartition
    // parallelizes the codec map, see ensureMediaTable) and the final
    // global orderBy; demux and per-frame decode all ride
    // mapPartitions/SerializeFromObject, and nothing joins
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, p.take(2000))
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q175/q176 band-join on (band,bkey) — never a pair nested-loop; verify is codegen'd bit_count") {
    for (q <- Seq("q122_simhash_pairs", "q175_image_phash_pairs",
        "q176_audio_fp_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      // the only nested-loop allowed is the 1-row hot_buckets scalar
      // cross (the house pattern for global diagnostics); any OTHER
      // BroadcastNestedLoopJoin would mean the candidate join lost its
      // band keys and went all-pairs
      val bnl = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .toSeq
      assert(bnl.size <= 1 && bnl.forall(_.contains("Cross")),
        s"$q: ${p.take(800)}")
      // the candidate join is an equi-join keyed on the band pair,
      // with the Hamming verify riding it as a codegen'd condition
      assert(p.contains("band") && p.contains("bkey"), s"$q: ${p.take(800)}")
      assert(p.contains("bit_count"), s"$q: ${p.take(800)}")
    }
  }

  test("q177 runs no corpus-wide single-partition window — the prefix sum is two-level") {
    val p = plan("q177_token_stream_pack")
    // every Window over the corpus is partitioned by blk; the ONLY
    // unpartitioned window is over the block-offsets frame, which the
    // plan reaches exclusively under the broadcast exchange (the
    // model-sized side). A partitionless window directly over the
    // documents scan would re-introduce the global sort this entry
    // exists to avoid.
    val lines = p.linesIterator.toSeq
    val windowSpecs = lines.filter(_.contains("windowspecdefinition"))
    assert(windowSpecs.nonEmpty, p.take(1200))
    val corpusWindows = windowSpecs.filterNot(_.contains("blk"))
    // the offsets window has no 'blk' partition key but IS the
    // broadcast side: assert it exists and the plan broadcasts it back
    assert(corpusWindows.size <= windowSpecs.size, p.take(1200))
    assert(lines.exists(l => l.contains("windowspecdefinition") &&
      l.contains("blk")), "within-block cumsum must be partitioned: " + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q190's M-step pre-aggregates the staged segmentations before the model join") {
    val p = plan("q190_unigram_mstep")
    // piece counts map-side combine under the segs scan; the 1-row
    // normalizer is the deliberate broadcast scalar
    assert(p.contains("partial_sum"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      p.take(1500))
  }

  test("q185/q186/q191 candidates ride band equi-joins — never a pair nested-loop") {
    for (q <- Seq("q185_video_phash_pairs", "q186_video_clip_pairs",
        "q191_video_cut_containment")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(1200))
      // the only nested-loop is the deliberate 1-row hot_buckets scalar
      val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnl <= 1, s"$q: " + p.take(1500))
      assert(p.contains("bit_count"), s"$q: " + p.take(1200))
    }
  }

  test("q183/q184 broadcast their model-sized rate/cap tables back onto the scan") {
    for (q <- Seq("q183_token_budget", "q184_temperature_sample")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), s"$q: " + p.take(1200))
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(1200))
      // the corpus-heavy side aggregates BEFORE any join: a partial
      // count/sum must appear under the scan side
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q: " + p.take(1200))
    }
  }

  test("q187 prices in-cell pairs through the cluster equi-join with a pushed k cut") {
    val p = plan("q187_knn_graph")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("the round-16 walk family's final mile: broadcast equi-joins, pushed top-k, no UDF") {
    // the walk rounds themselves are eagerly checkpointed (model-sized
    // frontiers — their plans are pinned by q189's EXPLAIN.md shape);
    // what the FINAL plan must show is the serving tail — and it
    // differs by entry: q194 re-ranks via broadcast vector fetches +
    // a pushed top-k; q195 is the bare rank window over the
    // checkpointed visited frame (all joins live inside the eager
    // loop — a join HERE would mean corpus work after the walk);
    // q196 re-ranks survivors through the broadcast label join. None
    // may carry a cartesian or a UDF.
    for (q <- Seq("q194_graph_walk_pq_rerank",
        "q195_graph_compacted_walk", "q196_graph_walk_escalated")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: " + p.take(1200))
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
        s"$q: " + p.take(1200))
    }
    val p194 = plan("q194_graph_walk_pq_rerank")
    assert(p194.contains("BroadcastHashJoin") &&
      p194.contains("WindowGroupLimit"), p194.take(1200))
    val p195 = plan("q195_graph_compacted_walk")
    assert(p195.contains("WindowGroupLimit") &&
      p195.contains("Scan ExistingRDD") && !p195.contains("Join"),
      p195.take(1200))
    // q196 with nobody deficient (sf0.001 fills at the serving beam):
    // the driver skip leaves the bare checkpointed base + the
    // presentation sort — corpus work after the walk would be a bug
    val p196 = plan("q196_graph_walk_escalated")
    assert(p196.contains("Scan ExistingRDD") && !p196.contains("Join"),
      p196.take(1200))
  }

  test("q180 is a pure map stage: no join, no aggregate, only the presentation sort exchanges") {
    val p = plan("q180_fim_spans")
    assert(!p.contains("Join"), p.take(1200))
    assert(!p.contains("HashAggregate"), p.take(1200))
    // the ONLY exchange is the final orderBy's range partitioning —
    // the FIM cut + slice arithmetic must ride the scan
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      "non-presentation exchange in a map-stage operator: " + p.take(1500))
  }

  test("q181 broadcasts the query side and pushes the top-k as WindowGroupLimit") {
    val p = plan("q181_hard_negatives")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q182 applies max_match per distinct word (above the agg), codegen'd, never a UDF") {
    val df = graft.SparkEntry.queries("q182_maxmatch_tokenize")(spark, dir)
    // the expression survives optimization as the custom Catalyst node
    // (physical toString hides it: Catalyst collapses the projection
    // into the final HashAggregate's result expressions — which is
    // itself the per-TYPE guarantee, evaluated once per distinct word)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("max_match("), opt.take(1200))
    val p = df.queryExecution.executedPlan.toString
    val lines = p.linesIterator.toSeq
    // per-TYPE application: the segmentation's output column is born in
    // the FINAL aggregate (above the shuffle), and the token-stream
    // explode sits strictly below it
    val agg = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("pieces_arr"))
    val gen = lines.indexWhere(_.contains("Generate explode"))
    assert(agg >= 0 && gen > agg,
      "max_match must apply to the aggregated word table: " + p.take(1500))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      p.take(1200))
  }
}

/** Helper giving specs access to executed plans of catalog queries. */
object SparkEntryPlans {
  def executedPlan(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
}
