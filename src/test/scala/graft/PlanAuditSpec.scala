package graft

/** Catalog-wide scale-bug tripwire — the plan analog of FixtureCanarySpec:
  * sweeps every query's static physical plan at sf0.001 and FAILS BY NAME
  * when a regression introduces a cartesian product, a broadcast
  * nested-loop join, a new partition-less WindowExec or a new
  * `coalesce(1)` (all rows to one partition — the shape that cannot exist
  * at 100 TB unless the input was provably bounded first), or when a
  * query's Exchange count or build-job count rises above its frozen
  * budget. The allowlists below are the frozen sets of bounded-input
  * exceptions; growing them is a reviewed decision, not an accident. */
class PlanAuditSpec extends SparkSpec {

  test("no cartesian products, no BNLJ, global windows frozen to allowlist") {
    // Global-window allowlist: each entry is bounded BEFORE the window —
    //   q125_rrf_fusion (2): both retrieval legs are cut to top-100 by
    //     TakeOrderedAndProject before the single-partition rank window;
    //   q131_pareto_frontier: frontier scan over pre-aggregated group rows;
    //   q154_sketch_wau: the trailing merge window sees one sketch row per
    //     DAY (tiny mergeable state at any sf);
    //   q74_vocab_coverage: sort+limit prunes to the top-40 vocab rows
    //     before the rank window (40 rows at any corpus size).
    // (q89/q89b left the list in round 10: the counting-sort plan's
    // windows are partitioned by flag / (flag, cell) over the bounded
    // grid aggregate, so no partition-less WindowExec remains.)
    val allowedGlobalWindows = Map(
      "q125_rrf_fusion" -> 2,
      "q131_pareto_frontier" -> 1,
      "q154_sketch_wau" -> 1,
      "q74_vocab_coverage" -> 1,
      // q191: block-offset running sum over the n/65536-row block-sum
      // aggregate (the second level of the two-level prefix scan —
      // 100 TB ≈ 10^5 block rows in one task, never doc rows)
      "q191_token_budget_select" -> 1,
      // q192: per-source offset window over the ≤|sources|-row count
      // aggregate (q89b's shape)
      "q192_length_gini" -> 1,
      // q193: per-language offset window over the ≤|languages|-row
      // count aggregate (q89b's shape)
      "q193_perplexity_buckets" -> 1,
      // q150: the corpus total over the coalesced ≤|sources|×|buckets|-row
      // (source, bucket) count
      "q150_psi_drift" -> 1,
      // q203: the corpus total over the coalesced ≤|langs|×|buckets|×
      // |sources|-row cell aggregate
      "q203_t_closeness" -> 1,
      // q212: the horizon maximum over the coalesced ≤2×span-row
      // (death, key) count, then the reverse (at-risk) and forward
      // (survival-curve) cumulative sums over the duration GRID — all
      // bounded by the observation span in hours at any corpus size
      // (q195's spine shape)
      "q212_survival_km" -> 3,
      // q214: allocation totals over the ≤|sources|-row sufficient-
      // statistics aggregate (q192's shape)
      "q214_neyman_allocation" -> 1,
      // q216: the calibration total and cumulative count (one frame
      // order, one WindowExec), then the threshold minimum, all over the
      // coalesced ≤4×(1e6+1)-row (half, label, micro-score) count —
      // bounded by the [0, 1e6] value DOMAIN, not the corpus
      "q216_conformal_threshold" -> 2,
      // q217: the rank cumulative runs over the n_chars value-domain
      // histogram (q216's counting-sort move) — domain-bounded, never
      // corpus rows
      "q217_mannwhitney_u" -> 1,
      // q220: CDF cumulative + lead gap over the same value-domain
      // histogram as q217 — domain-bounded
      "q220_wasserstein_drift" -> 1,
      // q221: global-CDF cumulative + total over the ≤|n_chars domain|
      // histogram (the per-source windows are partitioned and the
      // corpus only sees the broadcast dictionary)
      "q221_quantile_norm" -> 2,
      // q222: centered 7-day trend window over the DAY GRID — bounded by
      // the observation span at any corpus size (q195's spine rule)
      "q222_seasonal_decomposition" -> 1,
      // q226: baseline + tilt-normalizer totals over the ≤|sources|-row
      // loss aggregate (q214's shape; two frames → two WindowExec)
      "q226_doremi_weights" -> 2)

    // BNLJ allowlist: BroadcastNestedLoopJoinExec is legitimate exactly
    // when the broadcast side is BOUNDED (a handful of query rows, a
    // 1-row aggregate, a histogram) and the predicate is non-equi — the
    // "stream the big table past a tiny broadcast" shape that DOES hold at
    // 100 TB. Every entry here is that shape: ANN query sets (q23/
    // q137b), 1-row stats broadcasts (q38/q57/q63/q69/q74/q82/q88/q140/
    // q159), bounded histogram/frontier sides (q117/q125/q149),
    // pair/range predicates over bounded sides (q44/q51/q108/q146),
    // and q172's 1-row contingency-total broadcast. (q128's entry left
    // the list in round 13 — its node-spine crossJoin now lives inside
    // the checkpointed model-table lineage.) A NEW BNLJ — or a count
    // regression on an existing one — fails by name.
    val allowedBnlj = Map(
      "q108_pmi_cooccur" -> 1, "q117_bm25" -> 2, "q125_rrf_fusion" -> 3,
      "q137b_pq_serve" -> 1,
      "q140_mixture_weights" -> 1, "q146_triangle_count" -> 2,
      "q149_ks_drift" -> 3,
      "q159_dataset_card" -> 1,
      // (q164b left the list in round 10: the vec_argmin_cell kernel
      // replaced the broadcast-dim crossJoin fan-out, so no BNLJ remains
      // in its plan)
      "q172_mutual_information" -> 1,
      // q187: DSIR's λ table derives from a crossJoin of the ≤256-row
      // bucket histogram with the 1-row corpus-totals broadcast
      "q187_dsir_weights" -> 1,
      // q197: the sorted 40-element resample-means row crossJoins the
      // 1-row full-corpus-mean broadcast (both sides bounded by B=40)
      "q197_bootstrap_ci" -> 1,
      // (q199's q197-style combine was fused into the fan aggregate in
      // round 14 — its crossJoin and BNLJ are gone)
      // q191: the 1-row token-budget broadcast against the doc stream
      "q191_token_budget_select" -> 1,
      // q194: NB training scalars ride 1-row broadcasts — the scal1 × v
      // 1-row×1-row join, the vocab-stream × scalars crossJoin, and the
      // per-doc-stream × dscal crossJoin (4 = those three + the scalar
      // join replicated in dscal's lineage branch in the static plan)
      "q194_nb_classifier" -> 4,
      // q179: the ground-truth all-pairs join runs on the metrology
      // sample bounded to ~100 docs by a data-derived rate (truth must
      // be exact there); 7 = that join + the 1-row corpus-count
      // broadcast replicated across the sample's lineage branches
      "q179_lsh_quality" -> 7,
      // q205: the 9-row Benford literal table LEFT-joins digit counts
      // with no equi-key surviving the 1-row total crossJoin
      "q205_benford_audit" -> 1,
      // q206: the 1-row anchor-date broadcast against per-customer rows
      "q206_rfm_segments" -> 1,
      // q219: the power-iteration chain re-broadcasts each 1-row iterate
      // (v1, v2 twice, then λ and trace rows) against the corpus or
      // against another 1-row frame
      "q219_top_pc_power" -> 5,
      // q221: the inverse-CDF range join of two DOMAIN-BOUNDED histograms
      // (per-source ≤ sources×|n_chars domain| rows vs global ≤|domain|
      // rows) — q51's bounded range-join shape
      "q221_quantile_norm" -> 1,
      // q223: the 1-row distinct-bigram total broadcast against the
      // scored pair stream (q69's LM-normalizer shape)
      "q223_kneser_ney_lm" -> 1,
      // q224: the 1-row state-count broadcast (π₀) and the 1-row event
      // total broadcast — every other join is keyed on the bounded
      // state set
      "q224_markov_stationary" -> 2,
      // q225: the 1-row per-class threshold frame broadcast against the
      // scored stream
      "q225_label_noise" -> 1,
      // q226: the 1-row vocabulary-size broadcast against the pair
      // stream (q69's LM-normalizer shape)
      "q226_doremi_weights" -> 1,
      "q23_cosine_topk" -> 1,
      "q38_trends_gold" -> 1, "q44_theta_cohorts" -> 1,
      "q51_range_join" -> 1, "q57_tfidf" -> 1,
      "q63_temperature_sample" -> 1, "q69_bigram_lm" -> 1,
      "q74_vocab_coverage" -> 1, "q82_rolling_dau" -> 1,
      "q88_calendar_spine" -> 1)

    // coalesce(1) allowlist: a CoalesceExec to one partition sends every
    // row to one task, like a partition-less window, so each entry states
    // the bound of its input — it must sit right after an aggregate whose
    // size does not grow with the corpus. Counts are plan nodes: a
    // coalesced frame used by two branches appears twice.
    val allowedSingleCoalesces = Map(
      // q150: the (source, bucket) count — ≤ |sources|×|buckets| rows
      "q150_psi_drift" -> 1,
      // q203: the (lang, bucket, source) cell aggregate — ≤ |langs|×
      // |buckets|×|sources| rows
      "q203_t_closeness" -> 1,
      // q212: the (death, key) user count — ≤ 2 × the observation span
      // in hours rows (key: a death's duration or a censored start hour)
      "q212_survival_km" -> 1,
      // q216: the (half, label, micro-score) count — ≤ 4×(1e6+1) rows,
      // bounded by the micro-value domain
      "q216_conformal_threshold" -> 1,
      // q224: the ≤|types|²+|types|-row transition matrix (two plan
      // nodes) and the ≤|types|-row π₀ of the π ← πP iteration
      "q224_markov_stationary" -> 3)

    // Isolated-SQLConf session: the sweep must see the DEFAULT broadcast
    // threshold and static (AQE-off) plans regardless of what any
    // concurrently-running suite sets on the shared session — a sibling's
    // momentary autoBroadcastJoinThreshold=-1 turns threshold-eligible
    // broadcast joins into SMJ and fails the frozen budget by +2 shuffles
    // per join (observed on q89/q89b).
    val audit = isolated("spark.sql.adaptive.enabled" -> "false")
    locally {
      val results = PlanAudit.sweep(audit, sf())
      val errors = results.collect { case (n, c) if c.error.isDefined =>
        s"$n: ${c.error.get}" }
      assert(errors.isEmpty, s"plan build failed:\n${errors.mkString("\n")}")

      val cart = results.collect { case (n, c) if c.cartesian > 0 => n }
      assert(cart.isEmpty, s"CartesianProductExec in: ${cart.mkString(", ")}")

      val badBnlj = results.collect {
        case (n, c) if c.bnlj > allowedBnlj.getOrElse(n, 0) =>
          s"$n (${c.bnlj} > ${allowedBnlj.getOrElse(n, 0)})"
      }
      assert(badBnlj.isEmpty,
        "NEW BroadcastNestedLoopJoinExec beyond the bounded-broadcast " +
          s"allowlist: ${badBnlj.mkString(", ")}")

      val staleBnlj = allowedBnlj.keys.filterNot(n =>
        results.exists { case (qn, c) => qn == n && c.bnlj > 0 })
      assert(staleBnlj.isEmpty,
        s"stale BNLJ allowlist entries: ${staleBnlj.mkString(", ")}")

      val badWindows = results.collect {
        case (n, c) if c.globalWindows > allowedGlobalWindows.getOrElse(n, 0) =>
          s"$n (${c.globalWindows} > ${allowedGlobalWindows.getOrElse(n, 0)})"
      }
      assert(badWindows.isEmpty,
        "NEW partition-less WindowExec (all rows -> one partition). " +
          "Either bound the input before the window or, if provably " +
          s"bounded, extend the allowlist: ${badWindows.mkString(", ")}")

      // allowlist hygiene: entries that stopped matching are stale
      val stale = allowedGlobalWindows.keys.filterNot(n =>
        results.exists { case (qn, c) => qn == n && c.globalWindows > 0 })
      assert(stale.isEmpty,
        s"stale global-window allowlist entries: ${stale.mkString(", ")}")

      val badCoalesces = results.collect {
        case (n, c) if c.singleCoalesces > allowedSingleCoalesces.getOrElse(n, 0) =>
          s"$n (${c.singleCoalesces} > ${allowedSingleCoalesces.getOrElse(n, 0)})"
      }
      assert(badCoalesces.isEmpty,
        "NEW coalesce(1) (all rows -> one partition). Apply it only right " +
          "after an aggregate whose size does not grow with the corpus, " +
          s"and extend the allowlist with that bound: ${badCoalesces.mkString(", ")}")
      val staleCoalesces = allowedSingleCoalesces.keys.filterNot(n =>
        results.exists { case (qn, c) => qn == n && c.singleCoalesces > 0 })
      assert(staleCoalesces.isEmpty,
        s"stale coalesce(1) allowlist entries: ${staleCoalesces.mkString(", ")}")

      // frozen Exchange budget (PlanAudit): a refactor that
      // silently ADDS a shuffle or broadcast to any catalog query fails
      // here by name — invisible to correctness gates and sub-second
      // sf0.1 timings, ruinous at 100 TB. Regenerate the budget only for
      // deliberate plan changes, justified in the commit message.
      val unbudgeted = results.collect {
        case (n, c) if c.error.isEmpty && !ShuffleBudget.budget.contains(n) => n
      }
      assert(unbudgeted.isEmpty,
        "queries missing from the frozen shuffle budget (run " +
          "`sbt \"runMain graft.PlanAudit <sf0.001 dir> src/test/scala/graft/ShuffleBudget.scala\"` " +
          "and commit): " +
          unbudgeted.mkString(", "))
      val overBudget = results.collect {
        case (n, c) if c.error.isEmpty && ShuffleBudget.budget.contains(n) &&
            (c.shuffles > ShuffleBudget.budget(n)._1 ||
             c.broadcasts > ShuffleBudget.budget(n)._2) =>
          s"$n (shuffles ${c.shuffles} vs ${ShuffleBudget.budget(n)._1}, " +
            s"broadcasts ${c.broadcasts} vs ${ShuffleBudget.budget(n)._2})"
      }
      assert(overBudget.isEmpty,
        s"Exchange count rose above the frozen budget: ${overBudget.mkString("; ")}")

      // frozen build-job budget (PlanAudit writes JobBudget beside
      // ShuffleBudget): every job a query launches while its DataFrame is
      // built is driver and scheduling latency before the action starts
      val noJobBudget = results.collect {
        case (n, c) if c.error.isEmpty && !JobBudget.budget.contains(n) => n
      }
      assert(noJobBudget.isEmpty,
        s"queries missing from the frozen job budget: ${noJobBudget.mkString(", ")}")
      val overJobs = results.collect {
        case (n, c) if c.error.isEmpty && JobBudget.budget.get(n).exists(c.buildJobs > _) =>
          s"$n (${c.buildJobs} build jobs vs ${JobBudget.budget(n)})"
      }
      assert(overJobs.isEmpty,
        s"build-job count rose above the frozen budget: ${overJobs.mkString("; ")}")
    }
  }
}
