package graft.operators

import graft.{JobStacks, SparkEntry, SparkSpec, Tables, Views}

/** Convention: building a declared query's DataFrame (calling its `fn`,
  * no action) starts no Spark job. Work started at construction runs
  * before the caller can plan, cache or cancel the query, and is paid
  * again by every caller that only wanted the plan. Once each fixture
  * table has been read (so `Tables` holds its schema), only the queries
  * below start jobs at construction, each for the reason given; a new
  * eager query must be added here with its reason, and an entry whose
  * query turned lazy must be removed.
  */
class ConstructionJobsConventionSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val eager: Map[String, String] = Seq(
    "writes a scratch file, table or media corpus and reads it back" -> Seq(
      "q03_csv_roundtrip", "q03b_orc_roundtrip", "q03c_json_roundtrip", "q03d_text_roundtrip",
      "q03e_corrupt_records", "q03g_gzip_roundtrip", "q03f_schema_evolution",
      "q60_partition_pruned", "q205_dynamic_partition_pruning", "q73_sorted_export",
      "q74_schema_evolution", "q87_merge_upsert", "q88_zorder_layout", "q90_compact_files",
      "q54_bucketed_join", "q206_image_phash_dedup", "q33d_image_decode", "q33e_jpeg_decode",
      "q33f_binaryfile_ingest", "q33h_image_resize", "q33i_video_frames", "q33g_audio_decode",
      "q33j_audio_frames"),
    "iterates on the driver: connected components, ALS, SVM, k-means, PCA, graph fixed points" -> Seq(
      "q38_connected_components", "q38b_connected_components_df", "q39_als_complete",
      "q40_svm_predict", "q32b_semantic_dedup_groups", "q53_kmeans", "q176_pca_power",
      "q127_minhash_cc_dedup", "q146_dedup_stack", "q91_pagerank", "q208_kcore",
      "q155_label_propagation", "q169_bfs_hops", "q184_weighted_sssp", "q138_recursive_pareto"),
    "reads a small driver-side value that shapes the plan (quantile pivot, hot keys, filter size)" -> Seq(
      "q196_exact_median_2pass", "q122_adaptive_salted_join", "q48_bloom_blocklist"),
    "localCheckpoints an intermediate that the plan reads more than once" -> Seq(
      "q115_source_divergence", "q203_naive_bayes", "q26_ngram_jaccard", "q27_minhash_lsh",
      "q28_simhash", "q28b_simhash64", "q29_simhash_pairs", "q29b_simhash64_pairs",
      "q29c_simhash64_wide_pairs", "q93_dup_spans", "q125_paragraph_dedup",
      "q128_incremental_dedup", "q142_ppjoin_exact", "q175_source_novelty",
      "q177_containment_join", "q105_cohort_retention", "q106_funnel", "q204_growth_accounting",
      "q114_rolling_actives", "q116_itemset_pairs", "q149_concurrency_sweep",
      "q137_boilerplate_strip", "q198_deletion_cascade", "q97_cooccur",
      "q109_backbone_triangles", "q110_link_prediction", "q143_incremental_rollup",
      "q150_quantile_shard_merge", "q167_incremental_join", "q195_kmv_intersect"),
  ).flatMap { case (why, names) => names.map(_ -> why) }.toMap

  test("constructing a declared query starts no Spark job unless it is a listed eager query") {
    Views.tables.foreach(t => if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t))
    val stacks = SparkEntry.specs.map(q => q.name -> JobStacks(spark)(q.fn(spark, dir))._2).toMap
    assert(eager.keySet.diff(stacks.keySet).isEmpty, s"unknown queries: ${eager.keySet.diff(stacks.keySet)}")
    val unlisted = stacks.collect { case (name, s) if s.nonEmpty && !eager.contains(name) => s"$name (${s.size} stages)" }
    assert(unlisted.isEmpty, s"construction started Spark jobs: ${unlisted.toSeq.sorted.mkString(", ")}")
    val stale = eager.keys.filter(stacks(_).isEmpty)
    assert(stale.isEmpty, s"listed as eager but started no job: ${stale.toSeq.sorted.mkString(", ")}")
    // DedupOps.spread sizes its repartition from the plan; reading the
    // frame's `rdd` instead ran its upstream shuffles here (19 jobs in
    // q146's construction) and again at execution
    val spread = stacks.collect { case (name, s) if s.exists(_.contains("DedupOps$.spread")) => name }
    assert(spread.isEmpty, s"DedupOps.spread started jobs while constructing ${spread.toSeq.sorted.mkString(", ")}")
  }
}
