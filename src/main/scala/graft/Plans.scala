package graft

import java.nio.file.{Files, Paths}

/**
 * Dumps formatted physical plans for the flagship operators to PLANS.md —
 * the reviewable evidence that each plan has the shape §5's scale rules
 * demand (broadcasts, pushdown, single shuffles, no cartesians).
 * Run: sbt "runMain graft.Plans"
 */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // 4 cores whatever the host, so the partition counts in PLANS.md
    // match the ones PlanAuditSpec pins
    val spark = GraftSession(cores = 4)

    val picks = Seq(
      "g03_onehop_fwd" -> "One-hop lookup, literal fast path: ids probe the subject-clustered cache (zone-map batch pruning), dead reverse branch folded away - a plain Filter+Project, zero joins, zero exchanges (r12)",
      "g07_onehop_multi" -> "Output-category filter as a denormalized scan predicate (no node join — the r2 regression fix)",
      "g08_category_hierarchy" -> "Category-hierarchy expansion: subclass-expanded pinned input broadcast + arrays_overlap category predicate (r4 bench outlier was load noise; PlanAuditSpec pins the shape)",
      "g15_qualified" -> "Qualified (conglomerate) match: literal qualifier filters at the scan (r13: coarse [min,max] range conjunct makes the 40-id probe zone-map prunable)",
      "g36_batch_lookup" -> "Batched lookup serving: N tagged probes in ONE job - probes ride as data (map_probe tag fan-out + per-tag pair probes), plan size constant in batch size",
      "p74_image_neardup" -> "Image dHash near-dup: batched mapPartitions decode (payloads never shuffle), 16-bit banded hamming bucket join, never all-pairs",
      "p77_video_neardup" -> "Video fingerprint near-dup: per-frame dHash strict-majority fold in batched mapPartitions, the SAME banded hamming bucket join as images/audio",
      "p78_url_dedup" -> "URL dedup: canonicalization as native regexp/array exprs inside the scan, struct-argmax keep-best aggregation - map-side partial combine, one exchange, no window",
      "p79_domain_cap" -> "Domain balancing: rank<=k plans as WindowGroupLimit with a Partial stage BEFORE the exchange - each map task ships at most k rows per registered domain",
      "p80_boilerplate" -> "Boilerplate removal: threshold-bounded (domain,line) template set BROADCASTS into a left-anti join - corpus lines never shuffle for the removal; rebuild is one id-keyed ordered aggregation",
      "p82_random_projection" -> "Sign random projection: literal +-1 matrix rides the plan, one narrow codegen scan of zip_with multiplies + fixed-order folds - no exchange, no join",
      "p85_warc_ingest" -> "WARC ingest: binaryFile source, one parse task per record-gzipped segment (not splittable - the Common Crawl parallelism unit), parsing runs where the bytes land",
      "p88_cdc_chunks" -> "CDC chunks: rolling hash, boundary selection, and per-chunk md5 all inside array expressions of ONE narrow scan - explode is the only post-scan op, no exchange",
      "p89_cdc_shared" -> "CDC shared pairs: bucketed chunk-hash self-join behind a doc-frequency guard - k rows per shared chunk, never all-pairs",
      "p92_html_extract" -> "HTML extraction: the whole script/style/comment/entity/whitespace chain is ONE codegen'd projection - no exchange, no join, no UDF",
      "p93_cdx_index" -> "CDX index: urlkey/digest/size are narrow expressions computed in the parse tasks; the urlkey range-sort that makes the index binary-searchable is the only exchange",
      "p94_sft_render" -> "SFT rendering: per-turn length arithmetic + loss-span structs inside one narrow scan, explode the only post-scan op - no exchange",
      "p95_link_graph" -> "Link graph: href extraction + relative resolution + canonicalization narrow in the scan, one explode, one (src,dst)-keyed distinct - the single shuffle an edge list needs",
      "p100_pagerank" -> "PageRank final iteration: ranks-to-edges src-keyed join + dst-keyed sum + teleport add over checkpointed inputs - lineage truncated per round so the plan is ONE round deep, not ten",
      "p101_robots_filter" -> "Robots filtering: ONE host-equi LEFT ANTI join with the startsWith residual as join filter; rule extraction rides the robots scan",
      "p103_hll_distinct" -> "HLL sketch: ONE hash-keyed aggregation to <=m register rows (map-side-combined max) + a scalar integer fold - the corpus ships only (bucket, rho) pairs",
      "p104_cms_heavyhitters" -> "Count-min: constant-depth explode + uniform (row,col) aggregation bounded at depth*width rows; estimates are a zero-join literal-map probe scan",
      "g20_meta_kg" -> "Meta KG: aggregation over denormalized categories, no join",
      "g28_trapi_response" -> "TRAPI envelope: codegen'd to_json parts; grouping shuffles are keyed on answer ids (AQE picks broadcast for the small answer-side joins at runtime)",
      "p02_ngram_jaccard" -> "Jaccard pairs: inverted-index join with df-cutoff guard, never all-pairs",
      "p03_minhash_lsh" -> "Banded MinHash-LSH: explode + band-hash self-join",
      "p22_lsh_verified" -> "Production dedup ordering: LSH candidates + exact jaccard verification on candidates only (never all-pairs)",
      "p05_embed_dup" -> "Embedding near-dup: multi-table sign-LSH bucket equi-join",
      "p07_ann_lsh" -> "LSH ANN: bucket join against broadcast probes",
      "p13_sessionize" -> "Sessionize: one user-keyed window + aggregation",
      "p28_ann_ivfpq" -> "IVF+PQ: coarse lists restrict the scan, ADC scores 32x-compressed codes; probe tables broadcast",
      "p31_ann_ivfpq_residual" -> "Residual IVFPQ (FAISS shape): centroid id + residual codes in ONE encode projection (lambda-bound, non-nullable key so no inferred filter re-inline); per-(probe,list) ADC tables broadcast",
      "p34_semdedup" -> "SemDeDup: zero-shuffle per-row cluster assignment; quadratic confined within clusters (the centroid_id-keyed self-join)",
      "p36_dup_spans" -> "Duplicated spans: one O(n) rolling-hash scan, (id,hash)-only explode, uniform hash-keyed groupBy + linear join-back",
      "p38_ann_sq8" -> "SQ8 ANN: literal-range encode/dequantize projections, one corpus scan, broadcast probes, rank window is the only exchange",
      "p44_ann_ivfsq" -> "IVF x SQ8: list id + byte codes in ONE encode projection; coarse lists restrict the scan, rank window is the only exchange",
      "p63_dsir" -> "DSIR importance resampling: trained bucket models as literals; the one-element explode barrier keeps dsir_score to a SINGLE post-spread evaluation with acceptance filtered above it (r11 fix)",
      "p65_tfidf" -> "tf-idf keywords: df rides as DATA (no bounded artifact — vocabulary is unbounded at scale); WindowGroupLimit prunes the per-doc top-k before the rank exchange",
      "p69_interp" -> "Interpolated LM scoring: trained count tables + learned lambdas as literals, one narrow scan through the native interp_score expression",
      "p117_langid_trained" -> "Trained char-n-gram langid: O(langs x buckets) literal artifact + ONE narrow scan through the native langid_vote expression - no join, no shuffle for the corpus",
      "p118_pdf_extract" -> "PDF text extraction: one parse task per .warc.gz segment, batched mapPartitions decode (xref walk + FlateDecode + BT/ET machine) - bytes never cross a shuffle",
      "p121_fim" -> "FIM transform: hash gates, char cuts, and PSM/SPM renders as md5/substr expressions in ONE narrow codegen scan - no exchange",
      "p125_frontier" -> "Crawl frontier: ONE window partitioned by host - the politeness domain IS the partitioning key, no global sort anywhere",
      "p127_main_content" -> "Main-content extraction: block split + per-block link-density lambdas in one codegen'd projection - no exchange, no UDF",
      "p128_sft_packing" -> "SFT packing: per-shard pack windows (packSequences topology) + one id-keyed join of span rows onto pack offsets")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.Plans` at $sfDir. See SURVEY.md §5 for the\n")
    sb.append("rules these plans are audited against (PlanAuditSpec enforces the\n")
    sb.append("load-bearing properties in CI).\n")
    for ((key, note) <- picks) {
      val df = SparkEntry.queries(key)(spark, sfDir)
      sb.append(s"\n## $key — $note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
