package graft

/** Driver-contract guards: every query has an oracle (the repo's
  * "no rows-only checks" claim, machine-enforced), names are unique
  * across the map unions, and the smoke entry returns rows — the
  * driver's t1 gate, pinned as a test so a regression fails here
  * before it fails a round. */
class ContractSpec extends SparkSpec {

  test("every SparkEntry query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).toSeq.sorted}")
  }

  test("query-map unions never shadow a name") {
    // ALL four constituents of the ++ union, the inline base map
    // (marts/dup_check/reconcile_*) included — a base key colliding
    // with a pipeline key would shadow just as silently
    val maps = Seq(
      SparkEntry.baseQueries.keySet,
      graft.pipelines.OperatorQueries.all.keySet,
      graft.pipelines.ExtensionQueries.queries.keySet,
      graft.pipelines.ModelQueries.queries.keySet,
      graft.pipelines.CurationQueries.queries.keySet)
    val pairwise = maps.combinations(2).flatMap { case Seq(a, b) => a & b }.toSet
    assert(pairwise.isEmpty, s"shadowed query names: ${pairwise.toSeq.sorted}")
    // and the union must be size-additive — catches any collision the
    // pairwise sweep would miss if a constituent list goes stale
    assert(SparkEntry.queries.size == maps.map(_.size).sum,
      "query-map union lost entries to shadowing")
  }

  test("smoke entry returns rows on the smallest fixture") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  // ── fragile-output-type gate ─────────────────────────────────────────
  // The r8/r9 driver-hash-red class was exactly this: a query whose
  // OUTPUT schema carries float/double/decimal crosses the DuckDB oracle
  // hash only if every such column is produced by the repo's determinism
  // contract (single IEEE ops in a fixed mirrored order, or exact decimal
  // integer arithmetic). Every allowlisted column below is hash-green in
  // CORRECTNESS_r09/r10; adding a NEW fragile-typed edge (or silently
  // changing an existing one's type) fails here first, forcing the
  // conscious choice: integer-quantize the edge (the weight_q/skew_x1e6
  // pattern) or extend the allowlist WITH a mirrored-IEEE oracle.
  // Schema-only — no jobs run.
  test("no query output carries an unallowlisted float/double/decimal") {
    import org.apache.spark.sql.types._
    def fragile(dt: DataType): Boolean = dt match {
      case DoubleType | FloatType => true
      case _: DecimalType         => true
      case ArrayType(e, _)        => fragile(e)
      case MapType(k, v, _)       => fragile(k) || fragile(v)
      case s: StructType          => s.fields.exists(f => fragile(f.dataType))
      case _                      => false
    }
    val allowed = Set(
    "customer_sales_report/PRICE:double",
    "customer_sales_report/QUANTITY:double",
    "customer_sales_report/SALE_AMOUNT:double",
    "product_performance/AVG_SALE_PRICE:double",
    "product_performance/PROFIT:double",
    "product_performance/TOTAL_QUANTITY_SOLD:double",
    "product_performance/TOTAL_SALES_AMOUNT:double",
    "q_agg_cube/sum_qty:double", "q_agg_rollup/sum_qty:double",
    "q_agg_stats/avg_qty:double", "q_agg_stats/max_qty:double",
    "q_agg_stats/min_qty:double", "q_contam_bloom/containment:double",
    "q_contam_pairs/containment:double",
    "q_contam_summary/max_containment:double",
    "q_customer_tier_scalable/TOTAL_SALES:double",
    "q_dedup_cosine/cos:double", "q_dedup_cosine_incremental/cos:double",
    "q_dedup_cosine_lsh/cos:double", "q_dedup_cosine_lsh_pinned/cos:double",
    "q_dedup_incremental/jaccard:double",
    "q_dedup_jaccard/jaccard:double",
    "q_dedup_jaccard_adaptive/jaccard:double",
    "q_dedup_minhash_lsh/jaccard:double", "q_dedup_semantic/cos:double",
    "q_drift_bins/a_frac:double", "q_drift_bins/b_frac:double",
    "q_drift_bins/gap:double", "q_drift_kl_batch/kl_per_token:double",
    "q_drift_kl_batch/unseen_frac:double",
    "q_drift_kl_source/kl_per_token:double",
    "q_drift_summary/max_gap:double", "q_drift_summary/tvd:double",
    "q_emb_quantize/scale:double", "q_events_ab_welch/mean_a:double",
    "q_events_ab_welch/mean_b:double", "q_events_ab_welch/t_stat:double",
    "q_events_ab_welch/var_a:double", "q_events_ab_welch/var_b:double",
    "q_events_cooccurrence/conf_ab:double",
    "q_events_cooccurrence/conf_ba:double",
    "q_events_cooccurrence/lift:double",
    "q_events_cooccurrence/support:double",
    "q_events_gapfill_locf/bucket_value:double",
    "q_events_gapfill_locf/locf_value:double",
    "q_events_hourly_bands/p50:double", "q_events_hourly_bands/p95:double",
    "q_events_sessionize/total_value:double",
    "q_events_sliding/total_value:double",
    "q_events_transitions/prob:double",
    "q_events_value_quantiles/value:double",
    "q_events_windowed/max_value:double",
    "q_events_windowed/min_value:double",
    "q_events_windowed/total_value:double", "q_expr_cast/line_dbl:double",
    "q_expr_math/disc_dev:double", "q_expr_math/price_r1:decimal(12,1)",
    "q_expr_math/qty_mod7:double", "q_expr_math/qty_sqrt:double",
    "q_expr_null_repair/qty_or_zero:double",
    "q_filter_range/l_discount:double", "q_grouping_sets/sum_qty:double",
    "q_incr_agg/avg_v:double", "q_incr_agg/max_v:double",
    "q_incr_agg/min_v:double", "q_incr_agg/sum_v:double",
    "q_join_asof/asof_value:double", "q_join_asof/value:double",
    "q_join_salted/l_quantity:double", "q_merge_upsert/c_acctbal:double",
    "q_nb_calibration/accuracy:double", "q_nb_cv/accuracy:double",
    "q_outlier_mad/dev:double", "q_outlier_mad/mad:double",
    "q_outlier_mad/med:double", "q_outlier_mad/value:double",
    "q_pivot/F:double", "q_pivot/O:double",
    "q_row_construction/score:double", "q_scale_minmax/minmax:double",
    "q_scale_minmax/value:double", "q_scale_robust/robust_z:double",
    "q_scd2_merge/s_acctbal:double", "q_sim_bruteforce_topk/cos:double",
    "q_sim_ivf_topk/cos:double", "q_sim_lsh_topk/cos:double",
    // PQ/ADC distance: fixed-order sum of sequential L2Sq folds, oracle
    // mirrors the pivot + left-assoc addition (r15)
    "q_sim_pq_topk/adist:double", "q_sim_ivfpq_topk/adist:double",
    "q_sim_pq_indexed/adist:double", "q_sim_ivfpq_indexed/adist:double",
    // refine stage: exact sequential-fold cosines, the bruteforce_topk
    // mirrored-IEEE convention (hash-green in CORRECTNESS since r16)
    "q_sim_pq_refined/cos:double", "q_sim_ivfpq_refined/cos:double",
    "q_sim_pq_indexed_refined/cos:double",
    "q_sim_ivfpq_indexed_refined/cos:double",
    "q_sort_limit_topk/o_totalprice:double",
    "q_star_revenue/revenue:double", "q_stats_bootstrap/ci_hi:double",
    "q_stats_bootstrap/ci_lo:double", "q_stats_bootstrap/mean:double",
    "q_stats_corr/corr:double", "q_stats_corr/intercept:double",
    "q_stats_corr/slope:double", "q_text_langid/score_de:double",
    "q_text_langid/score_en:double", "q_text_langid/score_es:double",
    "q_text_langid/score_fr:double", "q_text_langid_confusion/frac:double",
    "q_text_novelty/novelty:double", "q_text_pmi/lift:double",
    "q_text_quality/avg_token_len:double",
    "q_text_quality/punct_ratio:double", "q_text_quality/quality:double",
    "q_text_quality/stop_ratio:double",
    "q_text_repetition/dup_2gram_frac:double",
    "q_text_repetition/dup_3gram_frac:double",
    "q_text_repetition/dup_tok_frac:double", "q_text_tfidf/weight:double",
    "q_text_vocab_coverage/coverage:double", "q_topk_agg/c_acctbal:double",
    "q_unpivot/value:double", "q_window_lag_lead/next_price:double",
    "q_window_lag_lead/o_totalprice:double",
    "q_window_lag_lead/prev_price:double",
    "q_window_range_time/sum_hour:double",
    "q_window_rank_family/c_acctbal:double",
    "q_window_rank_family/cd:double",
    "q_window_running_sum/l_quantity:double",
    "q_window_running_sum/running_qty:double",
    "q_window_value_family/first_price:double",
    "q_window_value_family/last_price:double",
    "q_window_value_family/o_totalprice:double",
    "q_window_value_family/second_price:double",
    "supplier_performance/TOTAL_REVENUE:double",
    "supplier_performance/TOTAL_STOCK_SOLD:double")
    val scanned = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, sf).schema.fields.collect {
        case f if fragile(f.dataType) =>
          s"$name/${f.name}:${f.dataType.simpleString}"
      }
    }.toSet
    val added = scanned -- allowed
    val stale = allowed -- scanned
    assert(added.isEmpty,
      s"NEW fragile-typed query edges (hash-divergence risk — quantize " +
        s"to integers or allowlist with a mirrored-IEEE oracle): " +
        s"${added.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"stale allowlist entries (edge removed or type changed — prune): " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }
}
