package graft

/** Board-wide plan lints — every query SparkEntry declares is checked
  * against the generic scale rules, so a NEW query (or a refactor of a
  * shared helper) can never ship a quadratic plan without failing CI.
  * PlanShapeSpec pins deep per-query shapes for the flagships; this
  * spec is the wide net: the rules below hold for ALL 129+ queries.
  *
  *  1. No `CartesianProduct` anywhere — an unkeyed shuffled product is
  *     never acceptable at 100 TB.
  *  2. `BroadcastNestedLoopJoin` only where a documented broadcast
  *     scalar fold (a 1-row aggregate riding into the row stream —
  *     corpus totals, calibration constants, k-row centroid tables)
  *     makes it the CORRECT plan; each such query is allowlisted with
  *     the exact count so an extra one still fails.
  *  3. The wide fact table (`lineitem`, 16 columns) is never scanned
  *     at full width — column pruning must reach the parquet scan.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // query -> max BroadcastNestedLoopJoin occurrences (all are broadcast
  // 1-row/centroid-table folds, grep-verified crossJoin(broadcast(...))
  // call sites; VERDICT r6 re-audited the full list)
  private val bnljBudget: Map[String, Int] = Map(
    "dedup_semdedup" -> 2,      // centroid table + cluster-size fold
    "q_cms_point" -> 1,         // 1-row count-min grid fold
    "q_cms_rollup" -> 2,        // single-pass grid + rolled-up grid folds
    "q_freq_topk" -> 1,         // (n_total, mg sketch) 1-row fold
    "q_gate_auc" -> 0,          // r13: cumOver's bounds fold became a
                                // construction-time 1-row driver agg
                                // with LITERAL anchors — no crossJoin,
                                // no BNLJ, in any cumOver plan. The
                                // NB-chain folds execute inside the
                                // distinct-score localCheckpoint
    "q_gate_auc_raw" -> 0,      // same — zero BNLJ since r13
    "q_gate_auc_by" -> 0,       // same — zero BNLJ since r13
    "q_gate_ece" -> 3,          // same NB scored-chain folds
    "q_gate_reliability" -> 3,  // same NB scored-chain folds
    "q_gate_calibration" -> 7,  // per-gate corpus-constant folds
    "q_gate_confusion" -> 3,    // same NB scored-chain folds
    "q_gate_kappa" -> 3,        // same NB scored-chain folds
    "q_gate_fleiss" -> 1,       // 1-row item-stats × cat-stats fold
    "q_gate_pr" -> 1,           // totals fold over the checkpointed
                                // distinct-score table (NB folds +
                                // bounds live behind the checkpoint)
    "q_ann_recall" -> 3,        // ivf centroid table + query fold (2)
                                // + brute-force query fold (1)
    "q_hard_negatives" -> 1,    // brute-force 1-row query-vector fold
    "q_histogram" -> 1,         // (min, max) bounds fold
    "q_kmv_overlap" -> 3,       // two kmv sketches + union sketch
    "q_registrable_domain" -> 1, // 1-row folded PSL rule array
    "q_resample_gaps" -> 1,     // hour grid × broadcast type set
    "q_skew_stats" -> 1,        // corpus moments fold
    "q_temperature_mix" -> 1,   // stratum-weight normalizer fold
    "q_unimax_mix" -> 3,        // 1-row L fold (planned twice: it sits
                                // under BOTH the waterline fold and
                                // the output projection) + the 1-row
                                // (k, c_k) waterline fold — all onto
                                // the domain-bounded strata table
    "q_decontaminate_ladder" -> 1, // the semantic rung's suite probe
                                // × broadcast k-row centroid table
                                // (the verbatim/fuzzy rungs are pure
                                // equi-join serving)
    "q_decontaminate_sem" -> 1, // benchmark probe × broadcast k-row
                                // centroid table (suite-bounded probe
                                // side; the corpus assignment's own
                                // centroid scan sits behind the
                                // checkpoint in a construction plan)
    "q_decontaminate_sem_indexed" -> 1, // same probe fold; the corpus
                                // assignment is the persisted artifact
    "sim_bruteforce_topk" -> 1, // 1-row query-vector fold
    "sim_ivf_kmeans" -> 2,      // centroid table + query fold
    "sim_ivf_topk" -> 2,        // centroid table + query fold
    "sim_kmeans" -> 1,          // k-row centroid fold
    "sim_pq_adc" -> 3,          // codebook + distance tables + query
    "sim_pq_appended" -> 2,     // same serving folds as sim_pq_indexed
    "sim_rp_project" -> 1,      // 1-row folded JL sign-matrix array
    "sim_pq_indexed" -> 2,      // distance tables + query fold
    "sim_pq_rerank" -> 3,       // codebook + distance tables + query
    "sim_pq_trained" -> 3,      // trained codebook + tables + query
    "sim_sq8_topk" -> 3,        // grid fold ×2 (encode + scan) + query
    "sim_sq8_indexed" -> 2,     // grid fold (scan only) + query
    "q_bootstrap_ci" -> 0,      // bootstrapMeanCIBy's CI/totals join on
                                // stratum (was 1: a replicate-CI fold)
    "q_bootstrap_diff" -> 1,    // the 1-row per-metric means fold
    "q_exact_mad" -> 6,         // two exactQuantiles passes × (1-row
                                // total fold + ≤1-row rank pick) + the
                                // 1-row median fold onto the deviation
                                // pass + the final 1-row assembly —
                                // every side 1-row/|q|-row bounded
    "q_curriculum_tiers" -> 1,  // the ≤2-cut array fold; the scored
                                // rows (with unigramLm's 1-row total
                                // fold) are checkpointed once for the
                                // sketch and the tier pass (was 3 when
                                // both planned the scoring), and the
                                // hdrQuantiles rank scan is join-free
                                // (was 6 with its q-list × sketch folds)
    "q_hdr_drift" -> 0,         // hdrDriftBy's totals join on stratum
                                // (was 2: one totals fold per pair)
    "q_hdr_weighted" -> 0,      // hdrQuantilesBy's rank scan is one
                                // window + explode, join-free (was 2)
    "q_hdr_quantile" -> 2,      // exactQuantiles' 1-row total fold + its
                                // broadcast rank pick; the sketch side
                                // is join-free (was 4)
    "q_source_pareto" -> 1,     // 1-row total-mass fold onto the
                                // domain-bounded strata table
    "q_mwu_by_lang" -> 0,       // zero since r13 (cumOver literal
                                // anchors — no bounds-fold BNLJ)
    "q_ks_test" -> 0,           // same — zero BNLJ since r13
    "q_ks_raw" -> 0,            // same, raw-score hazard form
    "q_ks_by_lang" -> 0,        // same, stratified
    "q_exact_quantile" -> 2,    // 1-row total fold + the broadcast
                                // <=|q|-row rank pick (hdrQuantiles'
                                // join shape); cumOver folds gone r13
    "q_exact_quantile_by" -> 0, // rank pick is an equi-join on
                                // stratum; cumOver folds gone r13
    "q_exact_quantile_outlier" -> 2, // q_exact_quantile's shape with
                                // injected 1e300/NaN adversaries
    "q_exact_quantile_prefix" -> 2, // same shape on the shared-prefix
                                // string column (LCP-stripped proxy)
    "q_exact_quantile_w" -> 2,  // same folds as q_exact_quantile,
                                // mass-weighted
    "q_pct_rank" -> 1,          // the 1-row corpus-total fold onto the
                                // mapping; cumOver folds gone r13
    "q_quantile_norm" -> 2,     // the 1-row n_g fold onto the stratum
                                // ranks AND onto the rank-space bucket
                                // explode — both 1-row broadcasts; the
                                // rank transfer itself is an EQUI-join
                                // since r12; cumOver folds gone r13
    "q_quantile_norm_raw" -> 2, // same folds, raw-score hazard form
    "q_source_gini" -> 0,       // smallDomain plain window since r13 —
                                // no grid, no folds at all
    "q_winsorize" -> 1,         // the 1-row clip-cuts fold per row; the
                                // hdrQuantiles side is join-free (was 3)
    "q_rate_anomaly" -> 3,      // 1-row n/median/MAD folds onto the
                                // domain-bounded hourly bucket table
    "q_retrieval_ndcg" -> 1,    // bm25TopK's (N, avgdl) fold, inherited
    "q_rrf_fusion" -> 4,        // bm25 (N, avgdl) fold + the 3-seed-row
                                // broadcast brute-cosine join, each
                                // planned twice (runs feed the fuse AND
                                // the per-source rank join-back) —
                                // query side always the seed batch
    "text_bm25" -> 1,           // (N, avgdl) corpus-stats fold
    "text_bm25_appended" -> 1,  // same fold over the appended index
    "text_bm25_indexed" -> 1,   // same fold over the persisted index
    "text_classify" -> 3,       // model rows + prior + vocab-size folds
    "text_js_drift" -> 1,       // (total_p, total_q, v) fold — the KL
                                // shape, both halves share one pass
    "text_kl_drift" -> 1,       // (total_p, total_q) fold
    "text_perplexity" -> 1,     // corpus token-total fold
    "text_perplexity_kn" -> 1,  // 1-row distinct-bigram-total (B) fold
    "text_perplexity_ref" -> 1, // reference-model total fold
    "text_tfidf" -> 1           // corpus doc-count fold
  ).withDefaultValue(0)

  private case class Audit(plan: String, maxUnpartWin: Int,
      fullScan: Map[String, Set[String]],
      benchedScan: Map[String, Set[String]])

  /** Runs `body` under a QueryExecutionListener and returns its value
    * with every query execution it ran, listener bus drained. */
  private def capturing[T](body: => T)
      : (T, List[org.apache.spark.sql.execution.QueryExecution]) = {
    val captured =
      scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.execution.QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val v = body
      org.apache.spark.sql.graft.TestBridge.waitListenerBus(spark)
      (v, captured.synchronized(captured.toList))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Parquet columns read by the plans Bench's timed action executes
    * on `df` — it runs, on the sf0.001 fixture, so the lint sees
    * exactly what the board times. */
  private def benchedScanColumns(df: org.apache.spark.sql.DataFrame)
      : Map[String, Set[String]] =
    scanColumns(capturing(Bench.action(df))._2.map(_.executedPlan): _*)

  // One construction pass for every lint below. The listener
  // additionally captures CONSTRUCTION-TIME executions (driver-finish
  // statistics — mannWhitneyU, spearman, chi², krippendorff — run
  // their whole pipeline inside query construction and return a
  // LocalRelation; without the listener their plans would be
  // invisible to every audit here, which is exactly how the r11
  // single-task rank windows shipped unseen).
  private lazy val audits: Map[String, Audit] = {
    // print full metadata so ReadSchema/Location never truncate away
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    SparkEntry.queries.map { case (name, fn) =>
      val ((df, finalPlan), construction) = capturing {
        val df = fn(spark, dir)
        (df, df.queryExecution.executedPlan)
      }
      val all = construction.map(_.executedPlan) :+ finalPlan
      name -> Audit(finalPlan.toString,
        all.map(unpartitionedWindows).max,
        scanColumns(finalPlan), benchedScanColumns(df))
    }
  }

  private lazy val plans: Map[String, String] =
    audits.view.mapValues(_.plan).toMap

  /** Every node of a physical plan, descending through the AQE
    * wrapper (its pre-adaptive inputPlan — partitionSpec is decided
    * at planning; AQE never changes it) and into subqueries. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case _ => p.children
    }
    (p +: kids.flatMap(allNodes)) ++ p.subqueries.flatMap(allNodes)
  }

  /** Parquet columns actually read by the plans, per table location
    * — the ground truth for what a plan pays at the scan. Partition
    * columns ride along in `output`; both sides of a comparison
    * include them identically, so they never produce a spurious
    * diff. */
  private def scanColumns(ps: org.apache.spark.sql.execution.SparkPlan*)
      : Map[String, Set[String]] =
    ps.flatMap(allNodes).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",") ->
          f.output.map(_.name).toSet
    }.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).toSet).toMap

  /** Scan columns the full plan reads but the timed plan dropped —
    * non-empty means an action timed that way would NOT pay for this
    * query's declared work (VERDICT r15 #7: three rounds of
    * whack-a-mole on exactly this class, when Bench timed count()). */
  private def countPruned(full: Map[String, Set[String]],
      timed: Map[String, Set[String]]): Seq[String] =
    full.toSeq.flatMap { case (path, cols) =>
      val missing = cols -- timed.getOrElse(path, Set.empty)
      if (missing.isEmpty) None
      else Some(s"${path.replaceAll(".*/", "")}: lost ${missing.toSeq.sorted.mkString(",")}")
    }

  private def unpartitionedWindows(
      p: org.apache.spark.sql.execution.SparkPlan): Int =
    allNodes(p).count {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty
      case _ => false
    }

  test("no query plans a CartesianProduct") {
    val bad = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(bad.isEmpty, s"cartesian products in: ${bad.toSeq.sorted}")
  }

  test("BroadcastNestedLoopJoin only as allowlisted broadcast scalar folds") {
    val over = plans.flatMap { case (n, p) =>
      val c = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      if (c > bnljBudget(n)) Some(s"$n: $c (budget ${bnljBudget(n)})")
      else None
    }
    assert(over.isEmpty, s"unbudgeted nested-loop joins:\n${over.toSeq.sorted.mkString("\n")}")
  }

  // query -> max partition-less WindowExec occurrences in any single
  // executed plan (constructed OR construction-time — see `audits`).
  // VERDICT r11 #2: a window with NO partitionSpec funnels its whole
  // input through ONE task, so each one here must be justified by a
  // bounded-by-construction input; an extra one fails the board.
  // Corpus-sized rank work belongs in Ranks.cumOver's two-level form,
  // whose only partition-less window is its ≤Buckets-row (4096)
  // offset rollup — that rollup IS most of this list. The rows whose
  // statistic is a `…By` twin over one stratum (q_gate_auc*, q_mwu_*,
  // q_rank_corr*, q_bootstrap_*, q_hdr_drift) partition every window
  // by that stratum and have none.
  private val unpartWinBudget: Map[String, Int] = Map(
    "q_exact_mad" -> 2,         // one cumOver offset rollup per
                                // exactQuantiles pass (value +
                                // deviation domains), each ≤4096 rows
    "q_curriculum_tiers" -> 1,  // hdrQuantiles cum over the ≤1 920-row
                                // sketch
    "q_funnel" -> 1,            // cum over the |steps|-row funnel
                                // summary (Sessionize.scala:85)
    "q_gate_pr" -> 1,           // averagePrecision's Ranks.cumOver
                                // offset rollup (≤4096 bucket rows) —
                                // the two-level form's one by-design
                                // constant-size window
    "q_gate_calibration" -> 1,  // thresholdSweep's cum over ≤nBins
                                // bin rows (deliberate — Eval.scala
                                // scaladoc)
    "q_hdr_quantile" -> 2,      // sketch rank scan over ≤1 920 rows +
                                // exactQuantiles' cumOver offset
                                // rollup (was 3 pre-r12: the exact
                                // side's inline global window is gone)
    "q_hdr_weighted" -> 1,      // rank scan over the ≤1 920-row sketch
    "q_kmv_rollup" -> 2,        // bottom-64 re-cuts: windows over ≤k
                                // (64) kept hashes, per-shard + merged
    "q_exact_quantile" -> 1,    // cumOver offset rollup over the
                                // raw-score histogram buckets (the
                                // rank pick has no window)
    "q_exact_quantile_w" -> 1,  // same rollup, mass-weighted
    "q_exact_quantile_outlier" -> 1, // same rollup — the adversaries
                                // land in anchor-bounded cells, the
                                // partition-less residue stays ≤4096
    "q_exact_quantile_prefix" -> 1, // same rollup — the LCP strip
                                // spreads the shared-prefix ids, the
                                // residue stays the ≤4096-row rollup
    "q_pct_rank" -> 1,          // cumOver offset rollup over the
                                // raw-score histogram's 4096 buckets
    "q_quantile_norm" -> 1,     // global-histogram cumOver rollup (the
                                // per-stratum one partitions by
                                // stratum and doesn't count)
    "q_quantile_norm_raw" -> 1, // same, raw-score hazard row
    "q_rate_anomaly" -> 3,      // median/MAD rank windows over the
                                // domain-bounded hourly bucket table
                                // (Sessionize.scala:177)
    "q_skew_stats" -> 1,        // rank over the k-row top-k cut
    "q_source_gini" -> 1,       // smallDomain plain window over the
                                // ≤|sources| strata table (r13 #5 —
                                // the enum domain IS the bound)
    "q_source_pareto" -> 1,     // Pareto rank over the |strata| table
    "q_unimax_mix" -> 1,        // waterfilling rank/cum over the
                                // ≤|langs| strata table (the
                                // paretoCoverage justification)
    "q_unimax_epochs" -> 1,     // same ≤|langs| waterfilling window,
                                // executed at construction (the
                                // rates-map fold); the epochMix main
                                // query itself is window-free
    "q_textrank" -> 1,          // kw_rank over the k-row cut (final
                                // plan) / vocab-id cumOver rollup
                                // (construction plan) — max 1 per
                                // plan; the r11 vocab-sized
                                // row_number window is gone
    "q_winsorize" -> 1          // hdrQuantiles cum over the sketch
  ).withDefaultValue(0)

  test("partition-less WindowExec only over domain-bounded tables (allowlisted, exact counts)") {
    val over = audits.flatMap { case (n, a) =>
      if (a.maxUnpartWin > unpartWinBudget(n))
        Some(f""""$n" -> ${a.maxUnpartWin},""")
      else None
    }
    assert(over.isEmpty,
      s"unbudgeted partition-less windows:\n${over.toSeq.sorted.mkString("\n")}")
  }

  // depth-aware top-level field count of ReadSchema: struct<...>
  private def fields(s: String): Int = {
    var depth = 0; var n = if (s.isEmpty) 0 else 1
    s.foreach {
      case '<' => depth += 1
      case '>' => depth -= 1
      case ',' if depth == 0 => n += 1
      case _ =>
    }
    n
  }

  private def wideScans(table: String, allow: Set[String]): Seq[String] = {
    // full width comes from the ACTUAL file schema — a hardcoded
    // width silently goes vacuous when the driver regenerates testdata
    // with a different column set
    val fullWidth = spark.read.parquet(s"$dir/$table.parquet").schema.size
    val scan = raw"FileScan parquet [^\n]*".r
    val read = raw"ReadSchema: struct<([^\n]*)>".r
    plans.toSeq.flatMap { case (q, p) =>
      scan.findAllIn(p).toSeq.collect {
        case line if line.contains(table) && !allow(q) =>
          read.findFirstMatchIn(line).map(m => fields(m.group(1)))
      }.flatten.filter(_ >= fullWidth)
        .map(w => s"$q: $table scan reads $w of $fullWidth cols")
    }
  }

  // ---- bench honesty as a LINT (VERDICT r15 #7) -------------------
  // An action that needs fewer columns than the query outputs lets
  // Catalyst prune every value expression it doesn't need — `count()`
  // drops pure projections and unused aggregate sums alike, leaving a
  // column-less scan (q_pii_audit benched 0.25 s instead of ~7 s at
  // sf10 for three rounds that way). Bench therefore times a write of
  // every column to the `noop` sink ([[Bench.action]]); this lint runs
  // that action on every board query and checks it READS every parquet
  // column the query's full plan reads.
  test("no board query is count()-pruned at the scan (bench honesty)") {
    val over = audits.flatMap { case (n, a) =>
      val lost = countPruned(a.fullScan, a.benchedScan)
      if (lost.isEmpty) None else Some(s"$n: ${lost.mkString("; ")}")
    }
    assert(over.isEmpty,
      s"""queries whose bench number would NOT pay their declared work
         |(Bench.action must write every output column):
         |${over.toSeq.sorted.mkString("\n")}""".stripMargin)
  }

  test("the honesty lint actually fires on a deliberately pruned query") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the anti-pattern: compute-only projection, nothing references it
    val pruned = docs.select(col("doc_id"), length(col("text")).as("len"))
    def sig(df: org.apache.spark.sql.DataFrame) =
      scanColumns(df.queryExecution.executedPlan)
    val lostP = countPruned(sig(pruned),
      sig(pruned.groupBy().count()))
    assert(lostP.exists(_.contains("text")),
      s"lint failed to flag the pruned fixture: $lostP")
    // Bench's own action on the same fixture pays for `text`
    val benched = benchedScanColumns(pruned)
    assert(benched.values.exists(_.contains("text")),
      s"Bench.action did not read text: $benched")
    assert(countPruned(sig(pruned), benched).isEmpty)
  }

  // VERDICT r16 #1: the built-in `percentile()` (and its `median()`
  // alias) buffers a per-group value→count map in the AGGREGATION
  // BUFFER — on a continuous column at 100× the per-group distinct
  // domain is executor-OOM, the exact failure mode the repo's
  // Ranks.cumOver grid exists to avoid. Exact interpolated quantiles
  // belong on Sketch.interpQuantilesBy (bounded state, identical IEEE
  // chain); the sketch tier is approx_percentile. This lint makes the
  // class unshippable board-wide. (The lookbehind keeps
  // approx_percentile / percentile_approx legal — those are mergeable
  // fixed-size sketches.)
  test("no board query carries a value-buffering percentile()/median() aggregate") {
    val pat = raw"(?<![\w_])(percentile|median)\(".r
    // the lint's own controls: fires on the buffering forms, stays
    // silent on the sketch forms — a broken regex can't pass vacuously
    // (the partial stage prints partial_percentile( — blocked by the
    // lookbehind — but every plan carrying it also carries the final
    // percentile( merge stage, which is what the lint keys on)
    assert(pat.findFirstIn("functions=[percentile(l_extendedprice#1, 0.5, 1)]").isDefined)
    assert(pat.findFirstIn("[median(x#3)]").isDefined)
    assert(pat.findFirstIn("approx_percentile(x#1, 0.5, 10000)").isEmpty)
    assert(pat.findFirstIn("percentile_approx(x#1, [0.1], 10000)").isEmpty)
    val bad = plans.collect {
      case (n, p) if pat.findFirstIn(p).isDefined => n
    }
    assert(bad.isEmpty,
      s"value-buffering percentile()/median() in: ${bad.toSeq.sorted}" +
        " — use Sketch.interpQuantilesBy (exact, bounded state) or" +
        " approx_percentile (sketch)")
  }

  test("lineitem scans are column-pruned (never full table width)") {
    val bad = wideScans("lineitem", Set.empty)
    assert(bad.isEmpty, bad.sorted.mkString("\n"))
  }

  test("documents scans are column-pruned (never full table width)") {
    // q_profile IS the whole-table profiler — full width is its job
    val bad = wideScans("documents", allow = Set("q_profile"))
    assert(bad.isEmpty, bad.sorted.mkString("\n"))
  }
}
