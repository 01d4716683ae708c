package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to a markdown
  * file — the "is the plan the one we designed" evidence artifact
  * (regenerate with `sbt 'runMain graft.Explain <sfDir> EXPLAIN.md'`).
  */
object Explain {
  private val headline = Seq(
    "q02_filter_project", // pushdown + pruning
    "q03_segment_revenue", // broadcast + shuffle join + top-k
    "q05_local_supplier", // star join
    "q14_top_k", // TakeOrderedAndProject
    "q24_asof_join", // single window pass
    "q31_minhash_pairs", // one partial-agg groupBy for 16 minima
    "q34_embedding_top_pairs", // codegen'd vec_ldot kernel
    "q43_unpivot", // Expand generator, no per-metric join
    "q48_incremental_ingest", // one-sided band join, new x corpus
    "q79_ann_ivf_multiprobe", // staged-index IVF search: equi-join on cell id at any nprobe
    "q54_sessionize", // one shuffle, window + agg colocated
    "q59_bloom_decontaminate", // codegen'd bloom_might_contain prefilter
    "q67_click_attribution", // interval self-join: equi on user, range inside
    "q68_corpus_prep", // fused dedup->gate->pack: one wide shuffle
    "q69_length_filter", // one lang-partitioned window, rest rides the scan
    "q65_global_ratio", // broadcast 1-row total, no empty-frame window
    "q82_neardup_ivf", // in-cell pair join: n^2/k blocking, hash equi-join
    "q83_heavy_hitters", // codegen'd cms_estimate probe over partial-agg exact counts
    "q85_dup_spans", // semi-join position marking + gaps-and-islands merge
    "q90_pq_adc", // broadcast-LUT ADC: corpus side scans 4-byte codes only
    "q91_ivfpq_search", // cell prune equi-join + ADC, no vector touch
    "q94_bm25", // broadcast df + scalar corpus totals, partial-agg tf/dl
    "q95_boilerplate", // filtered-broadcast boilerplate membership join
    "q100_pagerank", // iterated equi-join + partial-agg groupBy rounds
    "q102_funnel", // three chained windows + groupBy on ONE Exchange
    "q107_anomaly", // bucketed sliding aggregate: broadcast partials + bounded boundary joins (not a RANGE window)
    "q112_incremental_agg", // staged mergeable partials + delta, corpus never rescanned
    "q116_bpe_train", // iterated election: one bigram shuffle + broadcast merge map per round, lineage cut per round
    "q119_perplexity_filter", // LM = one bigram shuffle; scoring = hash equi-join; cut = broadcast scalar
    "q122_simhash_pairs", // banded equi-join in Hamming space, never all-pairs; hot buckets semi-filtered
    "q123_dedup_agreement", // exact tier = min-id family star (partial-agg rep election, n-1 rows/family); three full-outer pair-key joins, model-sized output
    "q127_quality_survivors", // staged-cluster equi-join + ONE partial-agg max_by election, no window over the corpus
    "q117_ivfpq_multiprobe", // probes join widens candidates; ADC pricing plan unchanged vs q91
    "q118_ann_ivf_hier", // two-level staged index: search equi-join identical to q78's, key = k1*k2 cell
    "q126_recall_report", // scoring = pair-keyed join of two staged model-sized top-5 tables
    "q128_bpe_vocab_train", // vocab-target training: per-round bigram shuffle + broadcast merges, early stop
    "q129_bpe_token_ids", // one token-explode shuffle + broadcast staged-vocab join
    "q130_ivfpq_rerank", // ADC shortlist broadcast into two equi-joins; corpus side stays 4-byte codes
    "q131_centroid_classify", // broadcast |labels|-row model + partial-agg max_by election
    "q132_weighted_sample", // per-source bottom-k window over integer priorities, one shuffle
    "q133_matryoshka_recall", // four prefix curves ride ONE broadcast corpus scan
    "q134_shingle_novelty", // df groupBy + 1:1 hash join back — NO pair join
    "q135_index_compaction", // two staged epochs; report joins model-sized
    "q136_hier_pq_rerank", // hier probes->cells equi-join + PQ ADC + broadcast shortlist re-rank
    "q137_rerank_width_report", // one ADC pass, three prefix re-ranks, staged-table scoring joins
    "q138_dedup_agreement_staged", // staged-input production entry: matrix joins only, no pair re-derivation
    "q139_recall_report_staged", // staged-input production entry: two model-sized scoring joins
    "q140_semantic_decon_staged", // staged-input production entry: in-cell screen over warm cells
    "q141_ann_ivf_hier3", // three-level staged index: search equi-join STILL q78's, key = k1*k2*k3 leaf
    "q142_hier3_multiprobe", // beam-descent probes->cells equi-join at the volume-matched width
    "q143_sharded_ann", // scatter-gather over shard-disjoint cell ids: same equi-join, gather = the top-k window
    "q144_tombstone_ann", // q79's staged search + broadcast LEFT-ANTI tombstone mask on both sides
    "q145_filtered_ann", // label folded into the candidate hash-join KEY, never a post-filter
    "q146_hybrid_rrf", // staged ANN equi-join + broadcast shingle semi-join, integer-exact RRF fuse of two model-sized lists
    "q147_mmr_diversify", // staged top-20 + |Q|*pool^2 sim table; 5 greedy window+join rounds, all model-sized
    "q148_ingest_dedup_staged", // batch-only text derivation; corpus side = two staged-parquet equi-join probes
    "q149_source_capped_ann", // staged pool + 1:1 source join; the per-source cap is TWO stacked windows, no iteration
    "q150_corpus_drift", // two corpus scans -> partial-agg groupBys + hash semi/anti joins; |languages|-row report
    "q151_serving_stack", // mask (broadcast anti) -> cap (two windows) -> MMR (greedy rounds); corpus cost = q79's one equi-join
    "q152_tombstone_hier3", // q144's mask plan verbatim over the three-level staged tables: depth changes nothing
    "q153_compressed_serving", // mask+filter bind BEFORE ADC pricing: anti-joins on the staged cells, label in the candidate key
    "q154_compacted_search", // post-compaction: q79's search with NO mask; tombstoned queries drop by left-semi
    "q156_escalated_filtered", // deficiency aggregate -> broadcast semi-join routes ONLY thin queries to the staged wide probes
    "q157_jpeg_decode", // staged blob read -> spread -> one decode map: pure per-blob CPU
    "q158_sharded_compressed", // q153's chain over the sharded staged tables: layout-agnostic by construction
    "q159_matryoshka_serving", // prefix slice+dot pricing on q79's candidate join, exact full-dim rerank of the shortlist
    "q161_codebook_refresh", // batch-linear refresh: batch posexplode partial-agg + model-sized staged join, no corpus scan
    "q162_zorder_layout", // Morton key: narrow pruned scan, whole-stage-codegen long arithmetic, zero shuffle
    "q163_cluster_balanced_sample", // staged-assignment equi-join + md5 key + per-cell bottom-k window: linear, key-deterministic
    "q164_prototype_prune", // two linear passes: partial-agg centroid sums -> broadcast-join cosine scoring + per-cell window
    "q165_d4_pipeline", // staged-edge CC -> shuffle anti-join on the cells join's own key -> q164's survivor-only scoring
    "q166_hier3_curation", // q164's plan verbatim over the three-level staged assignment: depth changes nothing
    "q167_sq8_rerank", // SQ8 pricing: candidates touch codes + one BIGINT, query-side lo/st folds broadcast, exact rerank tail
    "q168_sq8_constrained", // mask+filter BEFORE SQ8 pricing: delta anti-joins on staged cells, label in the candidate key
    "q169_sharded_hier_ann", // per-shard tree descent + scatter-gather: same cell equi-join, ids shard-disjoint at depth
    "q170_video_decode", // AVI demux + per-frame JPEG decode over the staged blobs: spread + one narrow map
    "q171_prototype_prune_radix", // radix order-statistic keep: partial-agg digit counts, windows bounded by the radix
    "q172_group_consistent_ann", // group-consistent snapshot read: same search plan, consistency in path resolution
    "q173_staged_survivors_star", // global-star pair archive: CC trivial on a star, survivors ride an anti-join
    "q174_prototype_prune_auto", // self-routing prune: occupancy count -> broadcast semi/anti split -> window or radix lane
    "q175_image_phash_pairs", // pHash image near-dup: narrow decode+hash map, (band,bkey) equi-join, codegen'd bit_count verify
    "q176_audio_fp_pairs", // audio fingerprint near-dup: same banded core over WAV frame-energy signs
    "q177_token_stream_pack", // two-level distributed prefix sum: block windows + broadcast offsets, no global sort
    "q178_bin_manifest", // the reverse loader index: q177's prefix sum + one codegen'd sequence generator, no extra join
    "q179_epoch_shuffle", // keyed-hash epoch shuffle: block-prefix rank (hash's own byte = the range partition), no global sort
    "q155_png_decode", // Inflater + per-row filter inversion over the staged blobs: spread + one narrow map
    "q160_batch_perceptron", // per-epoch filter + partial-agg to a 4-long weight row; scoring is one codegen'd map pass
    "q187_knn_graph", // dup-collapsed in-cell k-NN: (cluster,v) window, rep equi-join pricing, WindowGroupLimit cuts
    "q188_knn_descent", // staged-graph serve: a parquet read + presentation sort (the build rides the staging lane)
    "q189_graph_walk", // final walk round: broadcast frontier equi-joins, anti-join dedup, per-query rank window
    "q192_graph_walk_masked", // q189's shape + two broadcast anti-joins (result mask + query mask)
    "q193_graph_walk_filtered", // q189's shape + label join, ranks re-drawn over matching survivors
    "q194_graph_walk_pq_rerank", // ADC-priced final round (codes join + broadcast LUT + partial-agg sum) + exact re-rank of the broadcast shortlist
    "q195_graph_compacted_walk", // q189's shape over the compacted pair, no result mask
    "q196_graph_walk_escalated", // narrow keep-side anti-join ∪ deficient 2x-beam re-walk, escalated flag
    "q197_graph_walk_pruned", // q189's rank tail over the pruned-read walk (per-round partition-dir reads)
    "q190_unigram_mstep", // staged-segs partial-agg counts + model join + 1-row broadcast normalizer
    "q191_video_cut_containment", // cut-sampled frames through the (band,bkey) equi-join + delta-vote groupBy
    "q72_stitch_contigs") // closed-form stitch aggregation

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "EXPLAIN.md"
    val spark = SparkEntry.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# EXPLAIN — headline physical plans\n\n")
    sb.append(s"Formatted plans at `$sfDir` (regenerate: " +
      "`sbt 'runMain graft.Explain <sfDir> EXPLAIN.md'`). What to look\n" +
      "for: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`\n" +
      "for dimensions, partial→final `HashAggregate` pairs, " +
      "`WholeStageCodegen` spans, `TakeOrderedAndProject` for top-k.\n" +
      "Generated at bench scale (sf0.1) so broadcast/AQE decisions here\n" +
      "are the benched ones; the r6 sf0.001→sf0.1 diff showed identical\n" +
      "join/scan shapes for every pinned query (q02/q03/q31/q48/q59/q68).\n")
    headline.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
