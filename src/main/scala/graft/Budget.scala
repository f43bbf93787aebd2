package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicInteger

/** Per-key bench-budget guard (round 9, VERDICT r8 item 1): the round-7
  * episode lost 40+ s of bench without any single commit noticing,
  * because nothing ENFORCED the recorded per-key bands. This pins them:
  * the 20 slowest BENCH_r08 keys each carry a recorded warm band, and a
  * measured warm run must stay under band × 1.5, normalized by the
  * in-band job canary (the host-weather axis BASELINE.md's two-canary
  * protocol separates from code regressions — a degraded scheduler
  * inflates every multi-job key together, and the canary scales the
  * budget with it instead of crying wolf).
  *
  * Two tiers, because the suite shares one local[2] SparkContext and a
  * JVM can hold only one master: `suiteTier` (local[2], sf0.01) runs
  * inside `sbt test` via BudgetSpec on every build; `benchTier`
  * (local[32], sf0.1 — the bench config itself) runs via the
  * `graft.BudgetCheck` main at round close. Bands are warm medians of 3
  * recorded at the stated config (`BudgetCheck record <tier>` re-emits
  * them); the recording's own job canary rides along as the
  * normalization denominator.
  *
  * Red-demo hook: GRAFT_BUDGET_SLOW_KEY=<key> sleeps 2× the key's band
  * inside the timed section, proving the guard actually fails when a
  * key is artificially slowed (recorded in BASELINE.md round 9). */
object Budget {

  /** A recorded budget tier: config label, the job canary measured when
    * the bands were recorded, and key → warm-seconds band. */
  final case class Tier(label: String, healthyCanary10: Double,
      bands: Map[String, Double])

  /** The guarded set = BENCH_r08's 20 slowest keys — exactly the
    * surface where the round-7 drift concentrated. */
  val guardedKeys: Seq[String] = Seq(
    "q_layout_hilbert", "q_graph_hits", "q_layout_skipping",
    "q_sample_dsir", "q_eval_minhash_recall", "q_graph_closeness",
    "q_graph_reach", "q_dedup_prefix_filter", "q_dedup_simhash_pairs",
    "q_stats_spearman", "q_vec_label_noise", "q_basket_rules",
    "q_customer_rfm", "q_join_salted", "q_sim_sparse_topk",
    "q_graph_lpa", "q_sample_ess", "q_graph_local_bridges",
    "q_graph_pagerank", "q_join_asof_nearest")

  // Bands recorded 2026-08-15 (round 9) at the current code; re-record
  // with `sbt "runMain graft.BudgetCheck record <tier>"` after any
  // deliberate perf-relevant change.
  val suiteTier: Tier = Tier("local[2] sf0.01", 0.358, Map(
    "q_layout_hilbert" -> 0.15, "q_graph_hits" -> 0.65,
    "q_layout_skipping" -> 0.15, "q_sample_dsir" -> 0.35,
    "q_eval_minhash_recall" -> 0.30, "q_graph_closeness" -> 0.60,
    "q_graph_reach" -> 0.50, "q_dedup_prefix_filter" -> 0.40,
    "q_dedup_simhash_pairs" -> 0.35, "q_stats_spearman" -> 0.50,
    "q_vec_label_noise" -> 0.25, "q_basket_rules" -> 0.30,
    "q_customer_rfm" -> 0.45, "q_join_salted" -> 0.25,
    "q_sim_sparse_topk" -> 0.45, "q_graph_lpa" -> 0.55,
    "q_sample_ess" -> 0.25, "q_graph_local_bridges" -> 0.35,
    "q_graph_pagerank" -> 0.35, "q_join_asof_nearest" -> 0.25))

  val benchTier: Tier = Tier("local[32] sf0.1", 0.679, Map(
    "q_layout_hilbert" -> 0.15, "q_graph_hits" -> 1.35,
    "q_layout_skipping" -> 0.15, "q_sample_dsir" -> 0.95,
    "q_eval_minhash_recall" -> 0.90, "q_graph_closeness" -> 1.15,
    "q_graph_reach" -> 1.10, "q_dedup_prefix_filter" -> 1.10,
    "q_dedup_simhash_pairs" -> 0.95, "q_stats_spearman" -> 1.45,
    "q_vec_label_noise" -> 1.15, "q_basket_rules" -> 0.80,
    "q_customer_rfm" -> 1.05, "q_join_salted" -> 1.25,
    "q_sim_sparse_topk" -> 0.85, "q_graph_lpa" -> 0.90,
    "q_sample_ess" -> 0.85, "q_graph_local_bridges" -> 1.00,
    "q_graph_pagerank" -> 0.65, "q_join_asof_nearest" -> 1.15))

  /** Job-count caps — the wall-band guard's exact twin for the OTHER
    * axis round 8-9 optimized: a key's scheduler exposure is its job
    * COUNT (BASELINE.md per-job floor: ~11-26 ms/job healthy, ~75 ms on
    * a degraded driver host), and unlike wall time the count is
    * config-invariant (measured identical at local[2]/sf0.01 and
    * local[32]/sf0.1), so no canary normalization is needed. Guarded
    * set = the keys whose counts the round-8/9 work pinned down
    * (session-cached artifacts, bounded-census driver folds, iteration
    * unrolls); cap = measured + 2 (AQE may add a stage job as data
    * shifts) — a reverted fold or dropped cache costs 3-20 jobs and
    * trips the cap, while organic variance does not. Enforced by
    * JobCapSpec on every `sbt test`. Red demo:
    * GRAFT_JOBCAP_BREAK_KEY=<key> submits 3 extra jobs inside that
    * key's counting window (exercised at round-9 close, BASELINE.md). */
  // Re-recorded at round-10 close from the full warm census
  // (target/jobcount_r10_final.log, fleet total 1592): every round-9
  // cap refreshed to its new measured count + 2, plus a cap for every
  // key the round-10 job work touched (caches, census-window folds,
  // lazy Dist checkpoint) so a reverted fold trips the guard.
  val jobCaps: Map[String, Int] = Map(
    "q_stats_ljung_box" -> 4, "q_eval_auroc" -> 6,
    "q_eval_pr_auc" -> 6,
    // kappa re-measured round 11 (centroidPred session artifact): 4 + 2
    "q_eval_kappa" -> 6,
    "q_stats_jackknife" -> 6, "q_eval_cluster_purity" -> 9,
    // round-11 cut keys (each measured post-cut + 2):
    "q_privacy_k_anon" -> 6, "q_privacy_l_diversity" -> 7,
    "q_vec_centroid_classify" -> 5, "q_text_langid" -> 9,
    "q_relational_division" -> 11, "q_embed_drift" -> 10,
    // round-11 dailyCensus-adopted time-series family (measured + 2;
    // ljung_box/theil_sen/mann_kendall/changepoint tightened in place):
    "q_stats_seasonal_mk" -> 9, "q_stats_autocorr" -> 5,
    "q_stats_cusum" -> 6, "q_stats_ewma" -> 4,
    "q_stats_decompose" -> 4, "q_stats_anomaly_stl" -> 5,
    "q_stats_runs_test" -> 4,
    "q_stats_granger" -> 5, "q_stats_kendall_tau" -> 5,
    "q_eval_rouge" -> 4, "q_eval_bleu" -> 4,
    "q_sample_dsir" -> 3, "q_sample_ess" -> 4,
    "q_graph_link_jaccard" -> 8, "q_graph_local_bridges" -> 8,
    "q_eval_ndcg" -> 5, "q_eval_map" -> 5,
    "q_events_markov_stationary" -> 8, "q_eval_ks_score" -> 6,
    "q_privacy_dp_quantile" -> 10, "q_sim_sparse_topk" -> 5,
    "q_text_bpe_train" -> 4, "q_text_bpe_encode" -> 4,
    "q_eval_lift_gains" -> 8, "q_graph_hits" -> 11,
    "q_layout_hilbert" -> 5, "q_layout_skipping" -> 5,
    "q_sim_mmr" -> 9, "q_multimodal_phash_hamming" -> 5,
    "q_graph_closeness" -> 9, "q_customer_rfm" -> 12,
    "q_stats_chisq" -> 7, "q_stats_cramers_v" -> 7,
    "q_stats_theil_sen" -> 4, "q_stats_levene" -> 8,
    "q_stats_dw" -> 4, "q_stats_breusch_pagan" -> 4,
    // bh/holm/fisher re-measured round 11 (pinned ksFamily census): 2 + 2
    "q_stats_bh" -> 4, "q_stats_holm" -> 4,
    "q_stats_fisher_combine" -> 4,
    // langid_eval re-measured round 11 (shared prediction frame): 9 + 2
    "q_eval_langid" -> 11, "q_ml_target_encode" -> 7,
    "q_ml_woe_iv" -> 7, "q_events_lateness" -> 9,
    "q_text_keywords" -> 4, "q_text_search_tfidf" -> 3,
    // pmi/llr re-measured round 11 (margin-table rework, ADVICE r10:
    // +2/+3 jobs traded for removing the bigram-frame global-window
    // serialization): caps = new measured (10/7) + 2
    "q_text_llr" -> 9, "q_text_pmi" -> 12,
    "q_text_perplexity" -> 7, "q_text_perplexity_bigram" -> 9,
    "q_text_pack" -> 8, "q_eval_cms_error" -> 9,
    "q_events_window_funnel" -> 14,
    // re-measured round 11 (deg_sum = 2×intra fold): 11 + 2
    "q_graph_modularity" -> 13,
    "q_graph_lpa" -> 14, "q_multimodal_block_jaccard" -> 10,
    "q_multimodal_storage_audit" -> 6, "q_dedup_prefix_filter" -> 10,
    "q_ann_ivfpq" -> 9, "q_eval_pq_recall" -> 8,
    "q_embed_pq" -> 5, "q_stats_pettitt" -> 7,
    "q_stats_cooks_distance" -> 8, "q_stats_mann_kendall" -> 7,
    "q_stats_benford" -> 5, "q_stats_psi" -> 4,
    "q_stats_changepoint" -> 4, "q_sample_neyman" -> 5,
    "q_stats_ks" -> 7, "q_stats_kruskal" -> 8,
    "q_stats_mannwhitney" -> 6, "q_stats_wilcoxon" -> 7,
    "q_abc_analysis" -> 5, "q_stats_spearman" -> 10,
    "q_events_concurrency" -> 7, "q_eval_ece" -> 5,
    "q_eval_mcnemar" -> 4, "q_eval_slice_audit" -> 6,
    "q_text_quality_classifier" -> 6, "q_eval_calibration_slope" -> 4,
    "q_stats_pacf" -> 6, "q_events_attribution" -> 6,
    "q_pipeline_mix" -> 5, "q_agg_kmv_merge" -> 12)

  /** Runs `body` and counts the Spark jobs it submits — the one
    * job-count primitive behind JobCapSpec, graft.JobCount and Bench's
    * `n_jobs`. Listener events post asynchronously
    * (listenerBus.waitUntilEmpty is private[spark]), so both edges of
    * the window are drained: poll until the count is stable across two
    * consecutive checks. The leading drain matters because an attached
    * listener receives queued events from before the attach, which
    * would overcount the window on a loaded host. Callers must run
    * nothing else on the session meanwhile. */
  def jobsDuring[A](s: SparkSession)(body: => A): (A, Int) = {
    val counter = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        counter.incrementAndGet(): Unit
      }
    }
    def quiesce(): Unit = {
      var prev = -1
      var spins = 0
      while (prev != counter.get() && spins < 20) {
        prev = counter.get()
        Thread.sleep(50)
        spins += 1
      }
    }
    s.sparkContext.addSparkListener(l)
    try {
      quiesce()
      counter.set(0)
      val a = body
      quiesce()
      (a, counter.get())
    } finally s.sparkContext.removeSparkListener(l)
  }

  /** Count the Spark jobs one warm run of `key` submits: warm untimed
    * first (artifact builds and codegen land outside the window). Safe
    * in the suite because each forked test JVM runs its suites
    * sequentially, so no concurrent suite's jobs can land in the
    * window. */
  def countJobs(s: SparkSession, sfDir: String, key: String): Int = {
    val fn = SparkEntry.queries(key)
    fn(s, sfDir).count()
    jobsDuring(s) {
      fn(s, sfDir).count()
      if (sys.env.get("GRAFT_JOBCAP_BREAK_KEY").contains(key))
        (1 to 3).foreach(_ => s.range(1).count())
    }._2
  }

  /** Median-of-3 of 10 trivial one-row jobs — Bench's canary_10jobs. */
  def canary10(s: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      (1 to 10).foreach(_ => s.range(1).count())
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)

  final case class Result(key: String, measuredSec: Double,
      budgetSec: Double, bandSec: Double, scale: Double) {
    def ok: Boolean = measuredSec <= budgetSec
    def line: String =
      f"${if (ok) "OK  " else "OVER"} $key%-26s ${measuredSec}%6.2f s" +
        f"  budget ${budgetSec}%6.2f (band $bandSec%5.2f x 1.5" +
        f" x canary $scale%4.2f)"
  }

  /** Warm each guarded key once, then take the best of 2 timed runs
    * against band × 1.5 × canary-scale. The canary is measured in the
    * SAME session immediately before, so host weather moves the budget,
    * not the verdict. `onlyKeys` restricts the checked set — BudgetSpec
    * uses it to re-time just the breached keys after a healthy re-probe
    * (a stall that starts after the canary read and ends before the
    * re-probe would otherwise fail the build on weather). */
  def check(s: SparkSession, sfDir: String, tier: Tier,
      onlyKeys: Seq[String] = Nil): Seq[Result] = {
    val base = guardedKeys.filter(tier.bands.contains)
    val keys =
      if (onlyKeys.isEmpty) base else base.filter(onlyKeys.toSet)
    // warm EVERYTHING first (caches, codegen, JIT), THEN read the
    // canary: measured before any warmup it prices JVM cold start, not
    // host weather, and a 2-3× cold reading would silently loosen every
    // budget below regression-detection strength
    keys.foreach(k => SparkEntry.queries(k)(s, sfDir).count())
    val scale = math.max(1.0, canary10(s) / tier.healthyCanary10)
    val slowKey = sys.env.get("GRAFT_BUDGET_SLOW_KEY")
    keys.map { k =>
      val band = tier.bands(k)
      val fn = SparkEntry.queries(k)
      val measured = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(s, sfDir).count()
        // red-demo sleep is SCALE-PROOF (round 11): a fixed 2×band
        // sleep fit under a weather-inflated budget (retry canary read
        // 3.27× during the r11 validation run), silently passing the
        // demo — sleep past the scaled budget so the injected breach
        // adjudicates deterministically under any host weather
        if (slowKey.contains(k))
          Thread.sleep(math.ceil(
            (math.max(band * 1.5, band + 0.15) * scale + band) * 1000).toLong)
        (System.nanoTime() - t0) / 1e9
      }.min
      // absolute noise floor: on sub-0.3s bands the ×1.5 margin is
      // thinner than the ~0.1s scheduling jitter a 27-suite run can add
      // to any single key (q_join_salted breached at +0.13s once with
      // zero code change, round 9) — a regression that matters still
      // clears band + 0.15s easily
      Result(k, measured,
        math.max(band * 1.5, band + 0.15) * scale, band, scale)
    }
  }

  /** Median-of-3 warm timings per guarded key — the recording pass that
    * produces the Tier band map source text. */
  def record(s: SparkSession, sfDir: String): (Double, Seq[(String, Double)]) = {
    val c = canary10(s)
    val rows = guardedKeys.map { k =>
      val fn = SparkEntry.queries(k)
      fn(s, sfDir).count()
      val med = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(s, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
      k -> med
    }
    (c, rows)
  }
}

/** Round-close budget enforcement at the BENCH config (local[32],
  * sf0.1), plus the band recorder for both tiers.
  *
  * Usage:
  *   sbt "runMain graft.BudgetCheck"                — check benchTier, exit 1 on breach
  *   sbt "runMain graft.BudgetCheck record bench"   — emit fresh benchTier bands
  *   sbt "runMain graft.BudgetCheck record suite"   — emit fresh suiteTier bands
  */
object BudgetCheck {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("check")
    val tierName = args.lift(1).getOrElse("bench")
    val (master, parts, sfDir, tier) =
      if (tierName == "suite")
        ("local[2]", "2", "/root/testdata/sf0.01", Budget.suiteTier)
      else ("local[32]", "32", "/root/testdata/sf0.1", Budget.benchTier)
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    // same untimed warmup the bench does, so one-time artifact builds
    // never land inside a guarded key's timing
    Bench.warmupKeys.foreach { k =>
      try SparkEntry.queries.get(k).foreach(_(spark, sfDir).count())
      catch { case _: Throwable => () }
    }
    if (mode == "record") {
      val (c, rows) = Budget.record(spark, sfDir)
      println(f"// recorded canary10 = $c%.3f  (${tier.label})")
      rows.foreach { case (k, v) =>
        println(f"""    "$k" -> ${math.max(0.05, math.ceil(v * 20) / 20)}%.2f,""")
      }
    } else {
      val res = Budget.check(spark, sfDir, tier)
      res.foreach(r => println(r.line))
      val over = res.filterNot(_.ok)
      if (over.nonEmpty) {
        System.err.println(s"BUDGET BREACH: ${over.map(_.key).mkString(", ")}")
        spark.stop()
        sys.exit(1)
      }
      println(s"BUDGET OK: ${res.size} keys within band × 1.5 (${tier.label})")
    }
    spark.stop()
  }
}
