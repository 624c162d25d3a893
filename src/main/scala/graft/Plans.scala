package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump formatted physical plans for the headline queries to a markdown
  * file — the reviewable artifact of the ".explain and iterate" loop.
  * `runMain graft.Plans [outFile] [sfDir]`. */
object Plans {
  val Headline = Seq(
    "q01_scan_filter_sort", "q03_join_multiway", "q08_agg_tpch_q1",
    "q13_window_rank", "q16_topk", "q24_event_tumbling", "q34_minhash_bands",
    "q36_cosine_topk", "q41_asof_join", "q54_tpch_q3", "q57_correlated_subquery",
    "q56_window_dist", "q60_join_full", "q66_chunk", "q68_sessionize",
    "q74_top_bigrams", "q76_decontaminate", "q77_embedding_norms",
    "q80_pack_bins", "q88_range_join_binned", "q91_bloom_semi_join",
    "q92_cdc_passages", "q93_inverted_index", "q96_funnel", "q99_winsorized",
    // r11: the skew-proof percentile and the three decorrelation shapes
    // whose PLAN is the whole point (COUNT-bug patch, aggregate-join MIN,
    // once-computed HAVING scalars)
    "q112_percentile_disc_sharded", "q135_tpch_q13", "q138_tpch_q2",
    "q139_tpch_q11",
    // r12: the galaxy join (r11 ADVICE — it was pinned but not dossiered)
    // and the five new rewrite shapes completing all 22 TPC-H classes
    "q140_tpch_q8", "q141_tpch_q9", "q142_tpch_q12", "q143_tpch_q4",
    "q144_tpch_q6", "q145_tpch_q14",
    // r17: the saved-index SERVE plan — the dossier shows the scan side
    // reading only the index artifact (codes partition-pruned by the
    // probe join, vectors fetched via the broadcast shortlist)
    "q157_ann_index_serve",
    // r18: ExactSubstr — the dossier shows ONE documents scan feeding the
    // k-gram generate, one hash-partitioned exchange for corpus-wide
    // window multiplicity, and the sparse per-doc island windows
    "q161_exact_substr_spans")

  /** The bounded EXACT-ORACLE audit lanes and their uncapped production
    * twins, in one place (r17 verdict #8 — the contracts live in each
    * lane's scaladoc; this table closes the discoverability gap). Emitted
    * into the PLANS.md preamble so regeneration preserves it. */
  val BoundedAudits: Seq[(String, String, String, String)] = Seq(
    ("q33_jaccard_pairs", "doc_id < 40",
      "q50_neardup_confirmed — banded MinHash over the FULL corpus",
      "exact all-pairs word-set Jaccard is only honest on a subset; the band join is the scale route"),
    ("q36_cosine_topk", "queries: vec_id < 5 (corpus side UNCAPPED)",
      "q153_ivfpq_rerank / q157_ann_index_serve — IVF-PQ + exact rerank",
      "brute-force cosine is the truth spelling the ANN recall audits measure against"),
    ("q37_neardup_embedding", "vec_id < 300",
      "q39_lsh_buckets (candidate generation) + q152_semdedup (cluster-then-dedup)",
      "exact all-pairs cosine audit; the LSH/cluster routes never form corpus² pairs"),
    ("q44_explode_tokens", "doc_id < 10",
      "q74_top_bigrams / q89 / q116_bigram_rarity — same explode, FULL corpus, reduced",
      "the lane gates GENERATOR semantics row-for-row, so its output is the token table itself"),
    ("q53_char_ngram_jaccard", "doc_id < 20",
      "q50_neardup_confirmed — banded MinHash over 3-word shingles",
      "the fixture's dense char-3-gram space makes shared-token joins all-pairs, like q33"),
    ("q83_posexplode", "doc_id < 5",
      "q66_chunk — full-corpus positional explode, reduced to chunks",
      "the q44 contract for the positional variant: output IS the per-position inventory"))

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "docs/PLANS.md"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$dir`; shuffle.partitions=4; AQE on (plans shown pre-execution).\n")
    sb.append("\n## Bounded-audit lanes → uncapped production twins\n\n")
    sb.append("Six lanes cap their input BY CONTRACT (each scaladoc carries the\n")
    sb.append("rationale): they are exact-oracle audits of a feature whose honest\n")
    sb.append("exact spelling is all-pairs, or inventory outputs that gate row-level\n")
    sb.append("semantics. None is a scale path — the uncapped twin column is what a\n")
    sb.append("100 TB deployment runs, and each twin is itself a gated lane.\n\n")
    sb.append("| audit lane | cap | uncapped production twin | why the cap stays |\n")
    sb.append("|---|---|---|---|\n")
    BoundedAudits.foreach { case (lane, cap, twin, why) =>
      sb.append(s"| $lane | $cap | $twin | $why |\n")
    }
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    Option(new java.io.File(out).getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
