package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump: `.explain("formatted")` for named queries.
  *
  * Two uses, one session and one explain loop:
  *  - `tools/run.sh graft.PlanDump <sfDir> [PLANS.md]` writes the headline
  *    query per operator family to PLANS.md — the artifact backing
  *    SCALE.md's plan-shape claims (pushed filters, pruned schemas,
  *    broadcast joins, partial aggregation, TakeOrderedAndProject,
  *    single-exchange windows). The committed PLANS.md was generated at
  *    `SPARK_GRAFT_CPUS=4` on the sf0.01 test tables.
  *  - `tools/run.sh graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...`
  *    writes `<outDir>/<query>_<suffix>.txt` — the before/after plan
  *    artifacts OPTIMIZATION_r*.md cites.
  * Runs at the bench's geometry (`graft.core.Session.cpus` cores, shuffle
  * partitions = cores) so the dumped plan is the one the bench executes.
  */
object PlanDump {

  /** One representative per family — chosen where the plan shape IS the
    * scale argument.
    */
  private val Headline = Seq(
    "q_filter_project",      // pushdown + pruning at the scan
    "q_agg_lineitem",        // partial agg before one exchange
    "q_join_revenue_nation", // 5-table join, all broadcast, zero join shuffles
    "q_topk_parts",          // TakeOrderedAndProject, no global sort
    "q_asof_join",           // one window shuffle, no join operator
    "q_semi_join",           // existence probe, no fan-out
    "q_dedup_minhash",       // fused native kernels inside codegen
    "q_knn_brute",           // codegen'd dot products, per-query heap top-k
    "q_decontaminate",       // broadcast semi probe, corpus never shuffles
    "q_token_packing",       // per-shard prefix-sum window
    "q_tumbling_window",     // event-time rollup
    "q_table_log_skipping",  // manifest-level file pruning
    "q_dedup_embedding",     // banded-LSH candidates, no block cartesian
    "q_faers_top_drugs",     // analytics report: partial agg + top-k sink
    "q_pii_scan",            // scan-side regex projection, zero shuffles
    "q_bigram_lm",           // distributed LM: keyed count joins
    "q_data_profile_approx", // one-pass KMV profile, no Expand blowup
    "q_bloom_semi_join",     // scalar-subquery bloom probe in the scan's filters
    "q_triangle_count",      // degree-oriented wedge join, hash shuffles only
    "q_oov_rate",            // broadcast vocab anti-join, top-k vocab build
    "q_char_entropy",        // fused entropy kernel, pure scan projection
    "q_text_normalize",      // codegen'd unaccent, zero shuffles
    "q_hybrid_rrf",          // two bounded top-k lists, full-join fusion
    "q_skew_diagnosis",      // hot-key census: one groupBy + top-k
    "q_skew_safe_join",      // partial salting: hashpartitioning(k, _salt)
    "q_label_propagation",   // broadcast labels onto checkpointed edges
    "q_faers_fact",          // the 9-join fact: one case-key exchange reused
    "q_dedup_incremental",   // corpus index probed, never self-joined
    "q_reservoir_sample",    // heap-aggregate sample, no sort window
    "q_embed_quantize",      // int8 codes: pure scan-side projection
    "q_knn_pq",              // long-key argmin codes in HashAggregate, broadcast ADC
    "q_fuzzy_match",         // Ed-Join q-gram prefix candidates, no block quadratic
    "q_dedup_containment",   // probing-prefix SSJoin (forced at-scale mode)
    "q_assoc_rules",         // basket self-join co-partitioned on the order key
    "q_semdedup",            // cluster-blocked pairs: broadcast centroids, one cluster-id shuffle
    "q_shortest_paths",      // frontier relaxation: per-dst partial min before the distance join
    "q_sliding_window",      // slide generator fused before the partial agg
    "q_sorted_neighborhood", // rank-window candidates as a flat equi-join
    "q_negative_sampling",   // hash-ring successors: bounded equi-join
    "q_url_normalize",       // scan-side regexp chain + one hash agg
    "q_kcore",               // peel rounds: keyed degree agg + keep-set joins
    "q_chi2_features",       // decimal contingency + TakeOrderedAndProject
    "q_perplexity_filter",   // LM-score buckets: distinct-score cutoff window
    "q_hard_negatives",      // similarity ceiling before the per-anchor heap
    "q_zorder_key",          // codegen'd Morton key, pure projection
    "q_dedup_substring",     // linear anchor join + doc-bounded interval sweep
    "q_ks_drift",            // bounded cumulative window over aggregated bins
    "q_asof_native",         // custom AsOfJoinExec: one exchange+sort per side
    "q_asof_broadcast",      // BroadcastAsOfJoin: zero left-side exchanges
    "q_asof_nearest",        // nearest direction through the same operator
    "q_table_log_auto",      // FileIndex pruning driven by the query's WHERE
    "q_table_log_hidden",    // transform-translated pruning + optimized write
    "q_table_log_dv",        // merge-on-read anti-join over dv sidecars
    "q_table_log_eq",        // scan-free equality-delete anti-join
    "q_ngram_generate",      // Generate node streaming shingles, no array
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.core.Session.local(appName = "graft-plandump",
      extra = Map("spark.sql.warehouse.dir" ->
        graft.queries.Scratch.dir("plandump_warehouse")))
    spark.sparkContext.setLogLevel("ERROR")
    def explain(name: String): Option[String] =
      SparkEntry.queries.get(name).map { fn =>
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"(failed: ${e.getMessage})" }
      }
    if (args.length >= 4) {
      val Array(_, outDir, suffix, list) = args.take(4)
      Files.createDirectories(Paths.get(outDir))
      list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        explain(name) match {
          case None => System.err.println(s"unknown query: $name")
          case Some(plan) =>
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            println(s"wrote $outDir/${name}_$suffix.txt")
        }
      }
    } else {
      val out = args.lift(1).getOrElse("PLANS.md")
      // sf0.01 is below the SSJoin size threshold — zero it so the
      // containment plan documents the at-scale (prefix) formulation
      spark.conf.set("spark.graft.ssjoin.directMaxInputBytes", "0")
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans for headline queries\n\n")
      sb.append(s"Auto-generated by `graft.PlanDump` on `$sfDir`. One representative\n")
      sb.append("query per operator family; see SCALE.md for what each shape proves.\n")
      Headline.foreach { name =>
        explain(name).foreach { plan =>
          sb.append(s"\n## $name\n\n```\n")
          sb.append(plan.trim)
          sb.append("\n```\n")
        }
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out")
    }
    spark.stop()
  }
}
