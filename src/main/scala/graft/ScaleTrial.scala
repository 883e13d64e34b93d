package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth trial: build a `factor`-times replica of an existing
  * SF directory and time a curated set of scale-representative
  * queries at 1x and at `factor`x, printing the observed growth
  * ratios. This substantiates EXPLAIN.md's "would survive 100x"
  * claims with measured numbers instead of plan reading alone.
  *
  * Replication semantics (chosen so operator behavior stays
  * interesting, not degenerate):
  *  - lineitem/orders: keys shift per replica (disjoint key spaces —
  *    joins and rollups grow linearly, join fan-out is unchanged);
  *  - documents: ids shift AND each replica appends a replica token
  *    to the text, so replicas are NEAR-duplicates (higher-jaccard
  *    than random but not byte-equal) — the LSH + connected-
  *    components path gets a 10x-denser dup graph, exactly the
  *    stress a bigger crawl produces, and the edge count crosses the
  *    driver-union-find bound so the DISTRIBUTED star-rounds tier
  *    runs;
  *  - events: ids shift, user ids shift per replica (key cardinality
  *    grows with data, per-key skew shape preserved);
  *  - region/nation/customer/supplier/part/embeddings: copied as-is
  *    (dimensions stay dimensions; the all-pairs embedding tiers are
  *    deliberately excluded from the query list — their scale path
  *    is LSH/IVF, measured separately via q28/q33/q34).
  *
  * Usage: runMain graft.ScaleTrial [baseSfDir] [factor] [workDir]
  */
object ScaleTrial {

  private val TrialQueries = Seq(
    "q01_pricing_summary", // full-scan agg
    "q03_segment_revenue", // fact-fact join + agg
    "q24_dedup_exact", // hash-keyed dedup
    "q28_minhash_dedup", // LSH candidate generation + verify
    "q82_dup_clusters", // connected components over the dup graph
    "q50_describe_lineitem", // one-pass moments + distributed quantiles
    "q67_token_batches", // two-phase prefix sum
    "q70_grouped_percentiles", // per-group exact quantiles
    "q73_salted_skew_join", // skew-mitigated join
    "q107_topk_custom_operator", // custom map-side-pruned top-k plan
    "q118_equi_depth_hist", // exact NTILE machinery
    "q119_key_skew_profile", // key-distribution diagnostic
    "q130_curation_pipeline", // composed curation plan
    "q138_line_dedup_rewrite", // line-level dedup + rewrite
    "q140_bigram_fluency", // LM scoring with in-engine model
    "q149_global_row_ids", // two-phase global numbering
    "q153_column_stats", // one-scan ANALYZE (exact-NDV audit tier)
    "q188_column_stats_approx", // ANALYZE default: no multi-distinct Expand
    "q189_cross_corpus_bloom", // bloom-prefixed anti-join screen
    "q181_mad_outliers", // events family: 2 rounds of quantile machinery
    "q192_exact_substr_dedup", // token-span dedup on a 10x-denser dup corpus
    "q173_sessionize", // events family: gap-based keyed-window sessions
    "q190_best_of_cluster", // keep-best over the EXACT pair tier (block², audit-only)
    "q196_best_of_cluster_lsh", // keep-best over LSH edges — the scale tier
    "q191_curriculum_batches", // quality-sharded cumsum packing
    "q198_shard_manifest", // partial-agg manifest: nShards rows out
    "q199_span_decontaminate", // bench-gram broadcast + drop-set rewrite
    "q200_contamination_report", // broadcast semi join, bench-sized rollup
    "q201_release_manifest", // composed release pipeline, one plan
    "q197_intradoc_line_dedup", // zero-shuffle projection: must be ~flat
    "q202_sparse_cosine_pairs", // df-capped posting join on a denser corpus
    "q204_source_novelty", // gram-keyed argmin + tiny cum window
    "q206_manifest_merge", // two manifests + an nShards-row join
    "q208_exact_heavy_tokens", // CMS screen + candidate-only exact agg
    "q210_fluency_bands", // LM scoring + distributed-rank CDF lookup
    "q211_release_card", // six 1-row branches, scalar assembly
    "q212_heldout_fluency", // model left joins, crawl-side scan
    "q213_heldout_fluency_local", // broadcast-model udf projection
    "q214_ccnet_keep", // the composed held-out gate
    "q215_curation_funnel", // four stage aggregates, four rows out
    "q217_minhash_calibration", // row-local md5 sigs + df-capped posting join
    "q218_token_diversity", // zero-shuffle run-length fold: must be ~flat
    "q219_bpe_fertility", // train+encode compose + source rollup
    "q220_calibrated_fluency", // LM scores + 2 rounds of quantile machinery
    "q221_nearest_duplicates", // q202 pairs + doc-keyed argmax rollup
    "q222_epoch_shuffle", // hash-sharded two-phase prefix rank
    "q223_vocab_coverage", // counts-of-counts spectrum + tiny window
    "q224_split_leakage", // q202 pairs + hash-split label joins
    "q225_packing_efficiency", // q67 prefix plan + batch rollup
    "q227_budget_waterfill", // one source rollup + tiny solve
    "q230_length_spectrum", // row-local bucket + tiny groupBy
    "q231_contamination_radius", // seed semi-join + frontier rounds
    "q233_contamination_by_source", // q92 sweep + source rollup
    "q234_quality_length_joint", // LM scores + CDF + bucket rollup
    "q235_cleaning_impact_card", // five 1-row branches, scalar assembly
    "q236_source_quota", // per-source sharded quality cumsum
    "q237_source_overlap", // gram-keyed self-join, source-df bounded
    "q238_interleaved_order", // per-source two-phase rank + closed form
    "q239_eval_holdout", // custom TopK: k-bounded heaps before shuffle
    "q240_length_packing", // per-bucket two-phase rank + pack rollup
    "q241_jump_reshard", // row-local codegen loop + 1-row rollup
    "q242_release_packing", // curation -> quota -> packing, one plan
    "q243_source_overlap_sketch", // one partial-agg signature pass
    "q244_code_shape_gate", // row-local line algebra: must be ~flat-linear
    "q245_encoding_noise", // row-local counts + source rollup
    "q246_license_screen", // row-local classify + source×class rollup
    "q247_weighted_reservoir", // TakeOrdered heaps: k fixed, ~flat
    "q249_dup_flow_matrix", // fp-keyed self-join riding dup mass
    "q250_epoch_allocation", // one source rollup + tiny tier solve
    "q251_source_health", // five per-source branches, |sources| rows out
    "q252_epoch_schedule", // broadcast alloc join + bounded explode
    "q253_eval_windows", // row-local hash offset + slice: must be ~flat
    "q254_cell_suppression", // two tiny rollups: must be ~flat
    "q255_retrieval_triplets", // q165 candidate-sized scoring + tiny assembly
    "q256_pack_boundaries", // q240 assignment + row-local slot algebra
    "q257_sampled_quantiles", // hash-slice sample + bucketed counts pass
    "q258_screen_artifact", // at-rest bloom route + bucketed anti join
    "q259_viterbi_fertility", // word-type DP + vocab-literal fold
    "q260_paragraph_gate", // row-local paragraph algebra: must be ~flat
    "q261_horizon_dedup", // keyed collect + row-local chain fold
    "q262_knn_labels", // probe-broadcast exact-cosine + k-row votes
    "q265_bitext_margin", // one sim matrix reused by both kNN sides
    "q267_type_growth", // first-occurrence groupBy + 10-row broadcast
    "q268_collocations", // vocab-sized count groupBys + TakeOrdered
    "q269_containment_pairs", // q26 block tier, size filter dropped
    "q270_winnowing_pairs", // row-local selection + df-capped postings
    "q271_kn_fluency", // checkpointed bigram model, crawl-side scan
    "q272_ess_card", // q170 + per-source folds
    "q273_screen_agreement", // three screens + |screens|^2 rollup
    "q274_containment_winnowed", // winnowed candidates + exact verify
    "q275_dispersion_card", // no-pair-join sum-vector identity: ~flat-linear
    "q276_centroid_outliers", // broadcast centroids + quantile machinery
    "q277_burst_detect", // daily rollup + 2 keyed windows: must be ~flat
    "q278_centroid_drift", // two |labels|xdim rollups + tiny join
    "q279_rolling_active", // 7x fan-out of distinct (user,day), no window
    "q280_script_mix", // row-local class counts + |sources| rollup
    "q281_compression_ratio", // narrow deflate UDF: must be ~flat-linear
    "q282_value_drift", // decile cuts + bucket rollups on 10x events
    "q283_affinity_lift", // per-user type-set self-join, |types|^2 out
    "q284_modularity_card", // LPA rounds + label joins (embeddings as-is)
    "q285_hourly_profile", // |types|x24 rollup on 10x events: ~flat
    "q286_stationary_mix", // |types|^2 kernel + rounds: rollup-bound
    "q287_concentration_card", // user rollup + tiny Lorenz algebra
    "q288_cluster_separation", // centroid + quantile passes (embeddings as-is)
    "q289_zipf_profile", // (source,token) rollup on 10x docs
    "q290_assortativity", // shared edge relation + integer sums
    "q291_fk_integrity", // anti joins on 10x facts (disjoint key spaces)
    "q292_key_uniqueness", // exact count_distinct per table at 10x
    "q293_growth_accounting", // user-keyed lag + weekly rollup, 10x users
    "q294_gap_profile", // keyed lag + quantile machinery on 10x events
    "q295_path_motifs", // two keyed leads + |types|^3 rollup, 10x events
    "q296_anisotropy_card", // dim^2 products rollup + kernel rounds
    "q297_homoglyph_screen", // row-local regex pair + source rollup
    "q298_anisotropy_sampled", // the q296 hash-slice knob: kernel on ~half
    "q299_postings_materialized", // at-rest bucketed postings, 0-Exchange self-join
    "q300_portable_simhash_pairs", // 64-accumulator doc rollup + chunk buckets
    "q301_vocab_utilization", // word-TYPE greedy walk + piece rollup
    "q303_memorization_spectrum", // span exposure + threshold join, O(tokens)
    "q304_luhn_screen", // row-local regex + integer fold: must be ~flat
    "q305_corr_matrix", // one map-side moment pass over 10x lineitem
    "q307_prefix_jaccard", // lossless prefix-filter candidates + exact verify
    "q308_windowed_pmi", // window-2 pair rollup, Zipf-bounded pair vocab
    "q309_length_drift_ks", // domain-bounded CDF window: must be ~flat
    "q312_portable_minhash_pairs", // portable-LSH candidates ride dup density
    "q322_jump_portable", // row-local jump walk + 1-row rollup: must be ~flat-linear
    "q323_perceptron_exact", // integer GD rounds over persisted features
    "q324_perceptron_served", // train + ZERO-shuffle serve: the classifier serving economics
    "q325_perceptron_sampled", // the 100 TB knob: training rides the FIXED slice fraction
    "q335_portable_incremental_neardups") // inc×base probe: rides increment + dup mass, never base²

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val workDir = if (args.length > 2) args(2) else "/tmp/graft_scale"
    // optional 4th arg: comma-separated query names — rerun a subset
    // against the (idempotent) replica without paying for the rest.
    // Unknown names fail FAST (before the expensive replica build),
    // not as a silent zero-query run.
    val only = if (args.length > 3) args(3).split(",").toSet
      else Set.empty[String]
    val unknown = only.diff(TrialQueries.toSet)
    require(unknown.isEmpty,
      s"not in TrialQueries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = Bench.timingSession()
    val scaledDir = s"$workDir/x$factor"
    buildScaled(spark, baseDir, scaledDir, factor)
    Bench.warmUp(spark, baseDir)
    Bench.warmUp(spark, scaledDir)
    println(f"${"query"}%-28s ${"base_s"}%8s ${"x" + factor + "_s"}%8s ratio")
    TrialQueries.filter(q => only.isEmpty || only(q)).foreach { name =>
      val fn = SparkEntry.queries(name)
      val base = Bench.best2(fn(spark, baseDir))
      val scaled = Bench.best2(fn(spark, scaledDir))
      println(f"$name%-28s $base%8.2f $scaled%8.2f ${scaled / base}%5.1fx")
    }
    spark.stop()
  }

  /** Write the scaled twin of `baseDir` into `outDir` (idempotent —
    * skipped when the directory already holds a _SUCCESS-complete
    * lineitem). */
  def buildScaled(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    if (new java.io.File(s"$outDir/lineitem.parquet/_SUCCESS").exists())
      return
    val t = Tables(spark, baseDir)
    def replicate(df: DataFrame, shift: Map[String, Long],
        perReplica: DataFrame => DataFrame = identity): DataFrame = {
      val reps = (0 until factor).map { i =>
        val shifted = shift.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(i * span))
        }
        perReplica(shifted.withColumn("replica", lit(i))).drop("replica")
      }
      reps.reduce(_ unionAll _)
    }
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1
    val okSpan = span(t.orders, "o_orderkey")
    val docSpan = span(t.documents, "doc_id")
    val evSpan = span(t.events, "event_id")
    val userSpan = t.events.agg(max(col("user_id"))).head.getLong(0) + 1
    val out = new java.io.File(outDir)
    out.mkdirs()
    // small dims copy as-is
    Seq("region", "nation", "customer", "supplier", "part",
      "embeddings").foreach { n =>
      spark.read.parquet(s"$baseDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }
    replicate(t.orders, Map("o_orderkey" -> okSpan))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    replicate(t.documents, Map("doc_id" -> docSpan),
      d => d.withColumn("text",
          concat(col("text"), lit(" replica"), col("replica")))
        .withColumn("n_chars", length(col("text"))))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // events: replicate the RAW ts column byte-for-byte (nanosAsLong
    // covers legacy TIMESTAMP(NANOS) files; current micros files read
    // as NTZ and rewrite as NTZ) — Tables.events normalizes either
    // encoding on read, so the replica behaves exactly like the base
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawEvents = spark.read.parquet(s"$baseDir/events.parquet")
    replicate(rawEvents,
      Map("event_id" -> evSpan, "user_id" -> userSpan))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // lineitem written LAST (its _SUCCESS is the completion marker)
    replicate(t.lineitem, Map("l_orderkey" -> okSpan))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }
}
