package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.ExecutedPlan.collectAll
import org.apache.spark.sql.execution.window.WindowExec

/** Enforces COVERAGE.md's "bounded frame" prose as a plan property over the
  * ENTIRE gate: no query's physical plan may contain an un-partitioned
  * `WindowExec` (a single-partition global sort at scale) unless it is on
  * the whitelist below, where every entry documents WHY its input is bounded
  * and pins that bound with the window input's actual row-count metric.
  *
  * A global window over a corpus-sized input is the classic silent scale
  * killer: correct at test SF, a one-task straggler at 100 TB. The bounded
  * cases here are all frames the plan has already collapsed to a capped
  * cardinality (band configs, vocabulary caps, decile/threshold rollups,
  * label/source cross-tabs) before the window runs.
  */
class BoundedWindowSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  /** queries allowed an un-partitioned WindowExec: name -> (max input rows
    * at sf0.001, why the input is bounded at ANY scale). */
  private val bounded: Map[String, (Long, String)] = Map(
    "p101_data_map" -> (1024L,
      "decile-grid cross-tab: both windows run over the ≤10×10 cell frame / per-decile rollup"),
    "p40_bpe_pairs" -> (4096L,
      "merge ranking runs over the capped adjacent-pair vocabulary, never the corpus"),
    "p41_vocab_prune" -> (4096L,
      "prune ranking runs over the capped vocabulary frame"),
    "p46_pmi_collocations" -> (4096L,
      "PMI ranking runs over the min-count-filtered bigram vocabulary"),
    "p47_kmeans_embeddings" -> (1024L,
      "centroid init numbering sits over a LIMIT K frame (metric reads the pre-limit scan)"),
    "p50_source_overlap" -> (1024L,
      "overlap ranking runs over the |sources|^2 pair domain (a few hundred rows at most)"),
    "p52_entity_blocking" -> (65536L,
      "candidate ranking runs over MaxDf-capped blocking pairs — the hot gram never joins"),
    "p55_dedup_audit" -> (1024L,
      "audit windows run over the pair-bounded truth tier"),
    "p64_curriculum_stages" -> (65536L,
      "stage boundaries come from the value-domain-bounded surprisal histogram"),
    "p67_vocab_coverage" -> (4096L,
      "coverage curve runs over the capped vocabulary frame"),
    "p78_rfm_segments" -> (65536L,
      "three ExactPercentile cumulations over value-domain-bounded rec/freq/monetary histograms"),
    "p79_lang_temperature" -> (1024L,
      "temperature normalization runs over the one-row-per-language frame"),
    "p83_vocab_growth" -> (64L,
      "Heaps curve cumulates over the 10-row decile frame"),
    "p121_heaps_fit" -> (64L,
      "OLS cumulations run over the 10-row decile frame — the p83 class"),
    "p126_stump_split" -> (65536L,
      "stump ranking runs over the <= dims*bins candidate frame (960 cells at " +
        "any corpus size; bound covers whichever descendant the metric reads)"),
    "p150_cusum_changepoint" -> (4096L,
      "the CUSUM cumulation and peak ranking run over the per-DAY count " +
        "frame — bounded by the date span at ANY corpus size (~366 here)"),
    "p143_quota_apportionment" -> (1024L,
      "the largest-remainder priority ranking runs over the per-source " +
        "apportionment frame — |sources| rows at ANY corpus size (20 here)"),
    "p140_ks_test" -> (10001L,
      "the ECDF cumulations run over the 4dp-quantized distinct-score " +
        "frame — <= 10^4+1 rows at ANY corpus size (the p133 class)"),
    "p141_spearman_corr" -> (16384L,
      "the midrank cumulations run over the two distinct-VALUE frames " +
        "(4dp score <= 10^4+1 rows; doc-length domain-bounded), never the " +
        "corpus — ranks join back via broadcast"),
    "p139_bh_fdr" -> (1024L,
      "the BH step-up rank/count windows run over the per-source statistic " +
        "frame — |sources| rows at ANY corpus size (20 here); the corpus-" +
        "sized work is the upstream sufficient-sum partial agg"),
    "p209_decile_lift_table" -> (65536L,
      "the decile-boundary cumulations (ExactPercentile one-level histogram " +
        "over the integer activity domain) and the 10-row gains walk — " +
        "value-domain-bounded at ANY corpus size (the p78 class)"),
    "p200_sprt_sequential" -> (4096L,
      "the LLR cumulation runs over the per-DAY frame — bounded by the " +
        "date span at ANY corpus size (the p150 class)"),
    "p201_daily_autocorrelation" -> (4096L,
      "the row numbering runs over the per-DAY frame — bounded by the " +
        "date span at ANY corpus size (the p150 class)"),
    "p194_conformal_coverage" -> (4096L,
      "the residual-quantile cumulation (ExactPercentile two-phase) runs " +
        "over the integer-bucketed |value-mu| histogram — value-domain " +
        "bounded (~500 cells) at ANY corpus size; corpus-sized work is the " +
        "upstream partial agg"),
    "p197_quality_pareto" -> (1024L,
      "the cumulative-token-share window runs over the per-SOURCE quality " +
        "ranking — |sources| rows at ANY corpus size (20 here)"),
    "p135_poisson_bootstrap" -> (512L,
      "the CI percentile cumulation (ExactPercentile one-level histogram) " +
        "runs over the B=200 replicate-mean frame — 200 rows at ANY corpus " +
        "size; the corpus-sized work is the upstream map-side partial agg"),
    "p133_roc_auc" -> (10001L,
      "the Mann-Whitney cumulation runs over the 4dp-quantized distinct-score " +
        "frame — <= 10^4+1 rows at ANY corpus size (value-domain bounded, " +
        "the p83 class)"),
    "p118_cluster_purity" -> (1024L,
      "kmeans-init numbering over a LIMIT K frame (p47's whitelisted pattern); " +
        "appears twice because the init subtree feeds both assign passes"),
    "p85_quality_ensemble" -> (65536L,
      "decile boundaries come from the value-domain-bounded score histogram"),
    "p108_block_lm_trim" -> (65536L,
      "P10 cut cumulates over the 6dp-gridded block-score histogram — value-domain-bounded (avg of 10 ln-probs in a fixed range), the p85/p64 class"),
    "p155_mann_whitney" -> (16384L,
      "the below-count cumulation runs over the 2dp distinct-VALUE frame " +
        "(<= 10^4+1 rows at ANY corpus size — the p141 midrank class)"),
    "p223_kruskal_wallis" -> (16384L,
      "the midrank cumulation runs over the distinct doc-length frame — " +
        "value-domain-bounded at ANY corpus size (the p141/p155 midrank class)"),
    "p225_cliffs_delta" -> (16384L,
      "the pair-count cumulations run over the distinct doc-length frame — " +
        "value-domain-bounded at ANY corpus size (the p141/p155 class); the " +
        "row-level n_en x n_ot pair space is never materialized"),
    "p230_rbo_token_ranks" -> (1024L,
      "the global re-rank windows see only the per-partition top-20 " +
        "survivors (<= 20 * shufflePartitions rows — a CONFIGURATION " +
        "bound, not a data bound; the partition-local rank is " +
        "pid-partitioned); the depth frame is literal 1..20"),
    "p232_runs_test" -> (4096L,
      "the lag runs over the per-DAY count frame — bounded by the date " +
        "span at ANY corpus size (the p150/p222 class; ~31 days here)"),
    "p244_ad_ksample" -> (16384L,
      "the pooled mid-cumulative runs over the distinct doc-length frame — " +
        "value-domain-bounded at ANY corpus size (the p141/p155 midrank " +
        "class); the per-language cumulation is lang-partitioned"),
    "p246_pettitt_changepoint" -> (4096L,
      "the U_t prefix sum runs over the per-DAY count frame — bounded by " +
        "the date span at ANY corpus size (the p232/p237 class)"),
    "p248_dunning_g2" -> (64L,
      "the rank numbering sits over a LIMIT 15 frame (p47's whitelisted " +
        "pattern); the vocabulary-wide cut is TakeOrderedAndProject"),
    "p251_durbin_watson" -> (4096L,
      "the residual lag runs over the per-DAY count frame — bounded by " +
        "the date span at ANY corpus size (the p232 class)"),
    "p253_page_hinkley" -> (4096L,
      "running mean / m_t / min-so-far all cumulate over the per-DAY " +
        "count frame — date-span-bounded (the p232/p246 class)"),
    "p256_hurst_exponent" -> (4096L,
      "the day numbering runs over the per-DAY count frame — date-span-" +
        "bounded; the R/S cumulations are (scale, segment)-partitioned"),
    "p259_ljung_box" -> (4096L,
      "the rank join runs over the per-DAY count frame — date-span-" +
        "bounded (the p201 skeleton; ~31 days here)"),
    "p262_chow_break" -> (4096L,
      "the midpoint split numbering runs over the per-DAY count frame — " +
        "date-span-bounded (the p232/p246 class)"),
    "p263_wilcoxon_signed_rank" -> (4096L,
      "the midrank cumsum runs over the distinct |d| value frame — " +
        "bounded by the day span (<= one row per distinct daily gap)"),
    "p265_fisher_g" -> (4096L,
      "the day numbering runs over the per-DAY count frame; the " +
        "day x Fourier-frequency grid is (span x span/2)-bounded — a " +
        "calendar property (~31 x 14 here)"),
    "p266_turning_points" -> (4096L,
      "lag/lead run over the per-DAY count frame — date-span-bounded " +
        "(the p232/p251 class)"),
    "p267_mood_median" -> (16384L,
      "the grand-median cumsum runs over the distinct doc-length value " +
        "frame — value-domain-bounded (the p141/p155/p244 midrank class)"),
    "p271_sample_entropy" -> (4096L,
      "lead/numbering run over the per-DAY count frame; the template pair " +
        "frame is (span^2)-bounded — a calendar property (the p246 class)"),
    "p272_cox_stuart" -> (4096L,
      "the half-split numbering runs over the per-DAY count frame — " +
        "date-span-bounded (the p232/p246 class)"),
    "p275_pacf_durbin_levinson" -> (4096L,
      "the rank join runs over the per-DAY count frame — date-span-" +
        "bounded (the p201/p259 skeleton)"),
    "p278_ansari_bradley" -> (16384L,
      "the both-ends score cumsum runs over the distinct doc-length " +
        "value frame — value-domain-bounded (the p244/p267 midrank class)"),
    "p279_cusum_squares" -> (4096L,
      "the squared-residual cumsum and numbering run over the per-DAY " +
        "count frame — date-span-bounded (the p150/p253 class)"),
    "p280_bartels_rank" -> (4096L,
      "the midrank cumsum runs over the distinct daily-count value frame " +
        "and the lead over the day frame — both span/value-bounded"),
    "p281_kpss_stationarity" -> (4096L,
      "the partial-sum cumsum and numbering run over the per-DAY count " +
        "frame — date-span-bounded (the p253/p279 class)"),
    "p284_dunn_posthoc" -> (16384L,
      "the midrank cumsum runs over the distinct doc-length value frame — " +
        "value-domain-bounded (the p223 midrank machinery, verbatim)"),
    "p286_nelson_aalen" -> (4096L,
      "the at-risk and hazard cumsums run over the distinct event-time " +
        "frame — bounded by the date span (the p188 risk-set class)"),
    "p287_lepage" -> (16384L,
      "both component cumsums share the distinct doc-length value frame — " +
        "value-domain-bounded (the p244/p267/p278 midrank class)"),
    "p156_quantile_sketch" -> (512L,
      "cumulative counts run over the constant 256-bin histogram (the " +
        "sketch's whole point); exact-side selection is two-phase bucketed"),
    "p162_cvm_two_sample" -> (16384L,
      "the ECDF cumulations run over the 2dp distinct-value frame — the " +
        "p140/p155 class"),
    "p172_quantile_band_drift" -> (64L,
      "the lag runs over the per-WEEK band frame — bounded by the date " +
        "span at ANY corpus size (5 weeks here)"),
    "p174_negative_sampling" -> (64L,
      "the cumulative-share window runs over the LIMIT 20 top-word frame"),
    "p188_km_survival" -> (4096L,
      "the at-risk reverse cumulation and the product-limit running sum " +
        "run over the per-DAY risk table — bounded by the date span at ANY " +
        "corpus size (the p150 class; ~30 days here)"),
    "p212_wilson_ranking" -> (1024L,
      "the LCB ranking runs over the per-SOURCE sufficient-count frame — " +
        "|sources| rows at ANY corpus size (the p143/p197 class)"),
    "q15_join_theta" -> (4096L,
      "banded decomposition: the window sits over a ≤K-rows-per-band frame (BandedThetaJoin)"),
    "q69_tpch_q15" -> (1024L,
      "global max over the per-supplier aggregate (one row per supplier; avoids rescanning lineitem)"),
  )

  /** exempt from the row-bound check entirely — semantics force a global
    * running frame and the QueryDef documents the 100-TB variant inline. */
  private val exempt: Map[String, String] = Map(
    "q79_window_frames" ->
      ("a global running total is single-partition by construction; " +
        "RelationalQueries3.scala documents that a 100-TB running total " +
        "would be windowed per key or per time bucket"))

  /** first descendant of the window's input chain carrying a row-count
    * metric (Sort/Exchange wrappers in between don't count rows). */
  private def inputRows(w: WindowExec): Option[Long] = {
    val below = w.children.flatMap(collectAll)
    below.flatMap(_.metrics.get("numOutputRows")).headOption.map(_.value)
  }

  test("no gate query plans an un-partitioned window over an unbounded input") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, SharedSpark.sf)
      // compiled (pre-execution) plan: under AQE this is the initial plan,
      // which still carries every WindowExec the query will run
      val globalWins = collectAll(df.queryExecution.executedPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      if (globalWins.nonEmpty && !exempt.contains(name)) {
        bounded.get(name) match {
          case None =>
            offenders += s"$name (not whitelisted, ${globalWins.size} global window(s))"
          case Some((maxRows, why)) =>
            // execute once so the metrics populate, then re-walk the FINAL
            // plan (AQE may have replanned) and check the actual input size
            df.queryExecution.executedPlan.execute().count()
            val finalWins = collectAll(df.queryExecution.executedPlan)
              .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
            for (w <- finalWins; rows <- inputRows(w))
              if (rows > maxRows)
                offenders += s"$name (documented bound $maxRows exceeded: $rows rows — $why)"
        }
      }
    }
    assert(offenders.isEmpty,
      "un-partitioned corpus-risk windows found:\n  " + offenders.mkString("\n  "))
  }
}
