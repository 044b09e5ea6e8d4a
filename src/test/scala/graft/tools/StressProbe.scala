package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostic (Test/runMain graft.tools.StressProbe, not part of `sbt
  * test`): scale probe for the text operators. Builds a corpus K× the
  * sf0.1 documents table (id-shifted exact copies — worst case for the
  * dedup family: every doc sits in a K-clone cluster, so pair counts and
  * cluster sizes blow up K²/2-fold) and times the expensive operators on
  * it. The point is trend, not absolutes: a candidate path that is
  * genuinely bucketed should scale ~linearly in corpus size here, while
  * anything accidentally quadratic in the DATA (not just in the clone
  * pairs) explodes and flags itself.
  */
object StressProbe {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Session.build("graft-stress-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val src = "/root/testdata/sf0.1"
    val dir = s"/tmp/graft-stress-x$copies"
    val docsOut = new java.io.File(s"$dir/documents.parquet")
    if (!docsOut.isDirectory) {
      new java.io.File(dir).mkdirs()
      val d = spark.read.parquet(s"$src/documents.parquet")
      val rep = (0 until copies).map(i =>
        d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
        .reduce(_ unionByName _)
      rep.repartition(32).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      // embeddings replicate too (id-shifted, so clones keep identical
      // vectors — again the ANN/dedup worst case: every sign-code bucket
      // and IVF cell holds K copies of each original)
      val em = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until copies).map(i =>
          em.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
        .reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      // the rest ride along unchanged so any query resolves
      for (t <- Seq("region", "nation", "customer", "supplier",
          "part", "orders", "lineitem", "events"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(s"[stress] corpus: $nDocs docs (${copies}x sf0.1)")

    for (name <- Seq("d_dedup_exact", "d_dedup_fingerprint", "d_token_stats",
        "d_dedup_simhash", "d_dedup_minhash", "d_dedup_spans", "d_dup_ratio",
        "d_corpus_pipeline", "d_chunks_cdc", "d_bpe_merges", "d_bm25",
        "d_sparse_cosine", "d_sparse_cosine_frac", "d_pack_sequences",
        "d_shuffle",
        "s_cosine_topk", "s_hamming_topk", "s_ann_pq", "s_ann_ivfpq",
        "s_dedup_semantic", "s_quantize_int8",
        "s_ann_rerank", "d_sample_pps", "d_winsorize", "d_top_terms",
        "d_profile", "d_split", "q_triangles", "q_scd2",
        "d_distinct_hll", "d_domain_cap", "d_curriculum", "d_snapshot_diff",
        "m_frame_dedup", "q_quantiles_exact",
        "d_sample_weighted", "d_normalize", "d_fold_accents",
        "d_preference_pairs", "d_quantile_sketch", "d_split_exact",
        "s_standardize", "m_phash_dedup", "q_bloom_prune",
        "d_batch_buckets", "d_decontam_fuzzy",
        "d_sample_estimate", "d_validate", "d_distinct_overlap",
        "d_token_fertility", "q_skew_advisor", "q_hierarchy",
        "s_ann_graph_expand", "m_keyframes", "s_bitext_mine",
        "d_phrase_search", "m_clip_filter", "m_image_entropy",
        "d_watermark_detect", "s_pack_semantic", "d_phrase_indexed",
        "d_search_bm25", "d_phrase_kwic", "q_ivm_rollup",
        "d_fuzzy_term", "d_search_bool", "d_search_near", "q_resample",
        "d_jsonl_roundtrip", "d_csv_roundtrip",
        "d_quality_classifier", "m_audio_gain", "d_fim_split",
        "s_search_served", "m_motion_profile")) {
      val t0 = System.nanoTime()
      try {
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        println(f"[stress] $name%-20s ${(System.nanoTime() - t0) / 1e9}%8.2fs  rows=$n")
      } catch { case e: Throwable =>
        println(s"[stress] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
