package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe above sf0.1 (the largest driver-generated sf).
  *
  * Builds a `factor`×-replicated copy of the sf0.1 `documents` and
  * `embeddings` tables — ids offset per copy — and runs the
  * dedup/similarity/assembly families against it. Two replication
  * modes, selected by `SPARK_GRAFT_PERTURB`:
  *
  *  - **dup-heavy (default, content byte-identical)**: every original
  *    near-dup pair fans out to copy² cross-pairs and every document
  *    gains factor−1 exact twins, so the probe stresses a
  *    ~90%-duplicate corpus — the worst realistic shape for LSH
  *    banding, candidate verification, and connected components
  *    (CommonCrawl-scale crawls are dup-heavy in exactly this way).
  *  - **perturbed (`SPARK_GRAFT_PERTURB=<denom>`, e.g. 25)**: each
  *    non-zero copy deterministically mutates ~1/denom of its tokens
  *    (selection = xxhash64(word, copy) % denom, suffix = copy id — no
  *    RNG anywhere). Mutation is keyed by (word, copy) ONLY, so two
  *    near-dup documents inside one copy mutate their shared words
  *    identically and the ORIGINAL dup structure is preserved per
  *    copy, while cross-copy Jaccard drops below the 0.8 near-dup
  *    threshold (denom 25 → ~4% of tokens → ~12% of 3-gram shingles
  *    per copy → cross-copy J ≈ 0.78). Net effect: the duplicate RATE
  *    stays constant as the corpus grows — the input-tracking curve a
  *    real 10× corpus follows, vs the dup-heavy mode's worst-case
  *    pair explosion.
  *
  * Numbers land in SCALING.md next to the sf0.1 bench for the same
  * queries. Derived data is ephemeral (JVM temp dir), like Spark's own
  * shuffle files; /root/testdata stays untouched.
  */
object ScaleProbe {

  /** Replicate `src`'s documents/embeddings/events tables `factor`× into
    * a temp dir (idempotent per (factor, perturb) — existing replicas
    * are reused). Returns the replica dir. `perturbDenom`: None =
    * byte-identical copies; Some(d) = mutate ~1/d of tokens per copy,
    * deterministic per (word, copy).
    */
  /** `SPARK_GRAFT_PLANT_BOILERPLATE=1`: after replication, add one
    * synthetic document PER SOURCE carrying the same 60-word
    * boilerplate sentence — a shingle block present in every source
    * (source-df = |sources| ≫ SourceDfCap), the q115 adversarial case
    * the round-6 verdict asked to probe: without the guard each of its
    * ~58 shingles joins C(|sources|,2) ways; with it they are dropped
    * and counted once.
    */
  private def plantBoilerplate: Boolean =
    sys.env.get("SPARK_GRAFT_PLANT_BOILERPLATE").contains("1")

  /** `SPARK_GRAFT_PLANT_COPIES=N`: after replication, add N EXACT
    * copies of one embedding row (fresh vec_ids ≥ 950,000,000) — the
    * CommonCrawl boilerplate-page shape for the EMBEDDING side: k-means
    * cannot split identical vectors, so all N land in ONE IVF cell.
    * Before the round-14 exact-dup pre-collapse, stageSemPairs priced
    * C(N,2) cosines inside that cell's candidate join (10^4 copies ≈
    * 5·10^7 cosines; quadratic in N); after it, the copies collapse to
    * one representative before any pairwise work, so the q92/q165
    * verify cost must stay FLAT as N grows (SCALING.md round 14).
    */
  private def plantCopies: Int =
    sys.env.get("SPARK_GRAFT_PLANT_COPIES").map(_.toInt).getOrElse(0)

  def ensureReplica(spark: SparkSession, src: String, factor: Int,
      perturbDenom: Option[Int], cpus: Int): String = {
    val tag0 = perturbDenom.map(d => s"x${factor}p$d").getOrElse(s"x$factor")
    val tag1 = if (plantBoilerplate) s"${tag0}b" else tag0
    val tag = if (plantCopies > 0) s"${tag1}c$plantCopies" else tag1
    val out = s"${sys.props("java.io.tmpdir")}/graft_scaleprobe/$tag"
    // id offset per copy keeps copies disjoint while preserving every
    // original id (copy 0 is the original table verbatim)
    val offset = 10000000L
    def replicate(table: String, idCols: String*): Unit = {
      val dst = s"$out/$table.parquet"
      if (!new java.io.File(dst).exists()) {
        val base = spark.read.parquet(s"$src/$table.parquet")
          .withColumn("_k", explode(sequence(lit(0), lit(factor - 1))))
        val withIds = idCols.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + col("_k") * offset))
        val perturbed = perturbDenom match {
          case Some(d) if table == "documents" =>
            // suffix with no separator ("wordx3") so the tokenizer sees
            // ONE changed word, not an inserted extra token
            withIds.withColumn("text",
              when(col("_k") === 0, col("text")).otherwise(
                array_join(
                  transform(split(col("text"), " "),
                    w => when(pmod(xxhash64(w, col("_k")), lit(d)) === 0,
                      concat(w, lit("x"), col("_k"))).otherwise(w)),
                  " ")))
          case _ => withIds
        }
        val withPlant =
          if (plantBoilerplate && table == "documents") {
            val sent = (1 to 60).map(i => s"boiler$i").mkString(" ")
            val planted = spark.read.parquet(s"$src/$table.parquet")
              .select(col("source")).distinct()
              .withColumn("doc_id",
                monotonically_increasing_id() + 900000000L)
              .withColumn("text", lit(sent))
              .withColumn("lang", lit("en"))
              .withColumn("n_chars", length(lit(sent)).cast("long"))
              .select(perturbed.drop("_k").columns.map(col): _*)
            perturbed.drop("_k").unionByName(planted)
          } else perturbed.drop("_k")
        val withCopies =
          if (plantCopies > 0 && table == "embeddings") {
            // N exact copies of the corpus's first embedding — one
            // dup-saturated IVF cell by construction (identical
            // vectors assign identically)
            val one = spark.read.parquet(s"$src/$table.parquet")
              .orderBy(col("vec_id")).limit(1)
              .select(col("embedding"), col("label"))
            val copies = one
              .withColumn("_c",
                explode(sequence(lit(0), lit(plantCopies - 1))))
              .withColumn("vec_id", col("_c").cast("long") + 950000000L)
              .drop("_c")
              .select(withPlant.columns.map(col): _*)
            withPlant.unionByName(copies)
          } else withPlant
        withCopies
          .repartition(cpus)
          .write.mode("overwrite").parquet(dst)
      }
    }
    replicate("documents", "doc_id")
    replicate("embeddings", "vec_id")
    // events offsets user_id too: copies are new USERS at the original
    // per-user event density — the realistic growth shape for the
    // attribution join (same-user replication would instead square the
    // per-user click×purchase pairs, a synthetic quadratic)
    replicate("events", "event_id", "user_id")
    out
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val perturb = sys.env.get("SPARK_GRAFT_PERTURB").map(_.toInt)
    val spark = SparkEntry.session(cpus)
    val out = ensureReplica(spark, src, factor, perturb, cpus.toInt)

    // the families whose 100 TB design claims this probe tests; q34 is
    // excluded by design — its guard admits ≤100k vectors but the point
    // of the probe is the SCALE paths, and 20k² all-pairs is the
    // baseline we explicitly route around (q41/q42)
    val all = Seq(
      "q30_exact_dedup", "q31_minhash_pairs", "q32_simhash",
      "q33_jaccard_pairs", "q35_dedup_clusters", "q36_dedup_survivors",
      "q37_staged_survivors", "q173_staged_survivors_star",
      "q40_cosine_topk", "q41_ann_lsh",
      "q42_ann_ivf", "q47_label_centroids", "q48_incremental_ingest",
      "q78_ann_ivf_trained", "q79_ann_ivf_multiprobe", "q81_ann_ivf_ingest",
      "q82_neardup_ivf", "q83_heavy_hitters", "q84_weighted_mix",
      "q85_dup_spans", "q90_pq_adc", "q91_ivfpq_search",
      "q92_semantic_dedup", "q93_pq_ingest",
      "q87_corr_stats", "q88_pii_scrub", "q89_bigram_lm",
      "q94_bm25", "q95_boilerplate", "q97_importance_weights",
      "q98_scd2_compaction", "q99_semantic_decon", "q100_pagerank",
      "q102_funnel", "q104_triangles", "q105_retention",
      "q106_knn_classify", "q107_anomaly", "q108_wav_decode",
      "q109_rolling_active", "q111_transitions",
      "q113_bpe_merge", "q114_chi_square", "q115_source_overlap",
      "q116_bpe_train", "q117_ivfpq_multiprobe", "q118_ann_ivf_hier",
      "q119_perplexity_filter", "q120_hier_multiprobe",
      "q121_bpe_encode", "q122_simhash_pairs", "q123_dedup_agreement",
      "q124_image_embed", "q125_image_resize", "q126_recall_report",
      "q127_quality_survivors", "q128_bpe_vocab_train",
      "q129_bpe_token_ids", "q130_ivfpq_rerank",
      "q131_centroid_classify", "q132_weighted_sample",
      "q133_matryoshka_recall", "q134_shingle_novelty",
      "q135_index_compaction", "q136_hier_pq_rerank",
      "q137_rerank_width_report", "q141_ann_ivf_hier3",
      "q142_hier3_multiprobe", "q143_sharded_ann",
      "q144_tombstone_ann", "q145_filtered_ann", "q146_hybrid_rrf",
      "q147_mmr_diversify", "q148_ingest_dedup_staged",
      "q149_source_capped_ann", "q150_corpus_drift",
      "q151_serving_stack", "q152_tombstone_hier3",
      "q153_compressed_serving", "q154_compacted_search",
      "q155_png_decode", "q156_escalated_filtered", "q157_jpeg_decode",
      "q158_sharded_compressed", "q159_matryoshka_serving",
      "q160_batch_perceptron", "q161_codebook_refresh",
      "q162_zorder_layout", "q163_cluster_balanced_sample",
      "q164_prototype_prune", "q165_d4_pipeline",
      "q174_prototype_prune_auto",
      "q175_image_phash_pairs", "q176_audio_fp_pairs",
      "q177_token_stream_pack", "q178_bin_manifest", "q179_epoch_shuffle",
      "q180_fim_spans", "q181_hard_negatives", "q182_maxmatch_tokenize",
      "q183_token_budget", "q184_temperature_sample",
      "q185_video_phash_pairs", "q186_video_clip_pairs",
      "q187_knn_graph", "q188_knn_descent", "q189_graph_walk",
      "q190_unigram_mstep", "q191_video_cut_containment",
      "q192_graph_walk_masked", "q193_graph_walk_filtered",
      "q194_graph_walk_pq_rerank", "q195_graph_compacted_walk",
      "q196_graph_walk_escalated", "q197_graph_walk_pruned",
      "q198_graph_walk_converged",
      "q166_hier3_curation", "q167_sq8_rerank",
      "q168_sq8_constrained", "q169_sharded_hier_ann",
      "q170_video_decode",
      // q103/q110/q112 read lineitem/orders, which the replica does
      // not materialize (documents/embeddings/events only)
      "q80_ppm_decode",
      "q57_decontaminate", "q59_bloom_decontaminate",
      "q67_click_attribution", "q68_corpus_prep", "q69_length_filter",
      "q77_hopping_window",
      "q72_stitch_contigs", "q74_stitch_iterative",
      "q76_stitch_frontier")
    // optional 2nd arg: comma-separated filter (higher factors only pay
    // for the scale-path queries, not the pair-explosion-bound ones)
    val probes = args.lift(1)
      .map(f => all.filter(f.split(",").toSet))
      .getOrElse(all)

    // warm (codegen + parquet footers), then one timed run per query —
    // at this size steady-state JIT effects are amortized by the work
    spark.read.parquet(s"$out/documents.parquet").limit(1).collect()
    spark.read.parquet(s"$out/embeddings.parquet").limit(1).collect()
    // SPARK_GRAFT_REPEAT=2 times each query twice IN ONE JVM: staged
    // freshness is per-run (Staged's in-memory set), so run 2 is the
    // genuinely WARM serving cost — run 1 absorbs any index/archive
    // staging the entry guards on. Only the last run's time is carried
    // into the JSON total; both are printed.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)
    val results = probes.map { name =>
      val runs = (1 to repeat).map { i =>
        val t0 = System.nanoTime()
        val (n, err) =
          try (SparkEntry.queries(name)(spark, out).count(), None)
          catch { case e: Throwable =>
            (-1L, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
          }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val tag = if (repeat > 1) s" run$i" else ""
        println(f"PROBE $name%-22s ${if (err.isEmpty) f"$dt%8.2f s  rows=$n" else s"FAILED $dt%.2f s ${err.get}"}$tag")
        (dt, n, err)
      }
      val (dt, n, err) = runs.last
      (name, dt, n, err)
    }
    val qs = results.map { case (k, v, _, _) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, None) => v }.sum
    val mode = perturb.map(d => s""","perturb":$d""").getOrElse("")
    println(s"""{"metric":"scaleprobe_total","value":$total,"unit":"sec","factor":$factor$mode,"queries":$qs}""")
    spark.stop()
    if (results.exists(_._4.nonEmpty)) sys.exit(1)
  }
}
