package graft

/** Plan-shape locks for flagship queries — the properties that make
  * them scale are asserted, not assumed, so a refactor that silently
  * introduces a cartesian product, an extra fact shuffle, or a lost
  * broadcast fails CI rather than a future bench. (The SCD read path
  * has its own deeper locks in PushdownSpec.) */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).length

  test("q5 star join: no cartesian, dimensions broadcast") {
    val p = planOf("q5_local_volume")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(count(p, "BroadcastExchange") >= 4, p) // 4 dims + maybe orders
  }

  test("interval join query: equi-join on the cell, no nested loop") {
    val p = planOf("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("__cell"), p)
  }

  test("interval overlap: first-cell equi-join, no nested loop") {
    val p = planOf("q_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("__cell"), p)
  }

  test("q_freq_topk: the sketch is ONE partial-agg pass, broadcast back") {
    val p = planOf("q_freq_topk")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row (n_total, mg) aggregate rides a broadcast into the
    // exact side; the MG aggregate itself shows partial_freq_items
    assert(p.contains("partial_freq_items"), p)
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_group_topk: bounded-heap aggregate, no window over the groups") {
    val p = planOf("q_group_topk")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_top_k"), p)
  }

  test("k-means assignment: centroids broadcast, corpus never shuffles for them") {
    val p = planOf("sim_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p) // the k-row centroid side
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash pipeline: candidate generation is join-based, not all-pairs") {
    val p = planOf("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("asofSlim: the window sorts only the slim projection, never the payload") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    // a deliberately wide left column that must NOT ride the sort
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        concat_ws("-", col("props"), col("props"), col("props"))
          .as("payload_wide"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_id").as("click_eid"))
    def windowInputs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          w.child.output.map(_.name)
      }
    val slim = operators.AsOfJoin.asOfSlim(purchases, clicks, "user_id",
      "ts_us", "ts_us", Seq(("click_eid", "click_id")), "event_id",
      uid = "event_id")
    val slimIns = windowInputs(slim)
    assert(slimIns.nonEmpty && slimIns.forall(!_.contains("payload_wide")),
      s"slim window must not carry the payload: $slimIns")
    // contrast: the plain union-tag asOf DOES sort the payload (the
    // cost asofSlim exists to avoid) — if Catalyst ever learns to
    // prune it, asOfSlim can retire
    val wide = operators.AsOfJoin.asOf(purchases, clicks, "user_id",
      "ts_us", "ts_us", Seq(("click_eid", "click_id")), "event_id")
    assert(windowInputs(wide).exists(_.contains("payload_wide")))
  }

  test("contamination: shingle equi-join, no nested loop") {
    val p = planOf("contamination")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("incremental dedup: band equi-join only, no nested loop") {
    val p = planOf("dedup_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("profiling sweep: ONE scan feeds all per-column aggregates") {
    val p = planOf("q_profile")
    // the multi-column exact distinct plans as one Expand over one
    // FileScan — k columns must never mean k scans
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Expand"), p)
  }

  test("bucket caps are aggregate+anti-join, never a window over the bucket key") {
    // count(*) OVER (PARTITION BY band, bkey) would shuffle a whole
    // degenerate bucket into ONE task before the cap filter drops it —
    // the de-skewed shape (groupBy count → broadcast left-anti of the
    // over-cap keys) must never regress back to a Window
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash",
        "dedup_incremental", "contamination")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q reintroduced a Window:\n$p")
      assert(p.contains("LeftAnti"), s"$q lost the over-cap anti-join:\n$p")
    }
  }

  test("dedup_spans: window-key equi-joins only; islands window partitions per doc") {
    val p = planOf("dedup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the only Window allowed is the per-doc islands pass — never one
    // keyed on wkey (that would pin a degenerate boilerplate key's
    // whole bucket in one task, the skew shape task 2 removed)
    assert(!p.contains("windowspecdefinition(wkey"), p)
  }

  test("text_bm25: query terms + pruned df stats broadcast into the posting join") {
    val p = planOf("text_bm25")
    assert(!p.contains("CartesianProduct"), p)
    // qterms, qstats, and the 1-row corpus stats each ride a broadcast;
    // the corpus-sized tf table must never shuffle against them
    assert(count(p, "BroadcastExchange") >= 3, p)
  }

  test("dedup_scrub: cut-position join is keyed on the doc id, nothing quadratic") {
    val p = planOf("dedup_scrub")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_gate_calibration: the sweep window runs over the bin AGGREGATE, not the corpus") {
    val q = SparkEntry.queries("q_gate_calibration")(spark, dir)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "sweep lost its cumulative window")
    // every Window must sit above an Aggregate (the nBins-row bin
    // table); a Window whose subtree has no Aggregate would be sorting
    // corpus-sized input
    windows.foreach { w =>
      val hasAgg = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
      assert(hasAgg, s"Window over non-aggregated input:\n$w")
    }
  }

  test("corpusMatchStream: stream-static equi-join, zero streaming state") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .select(col("value").as("doc_id"),
        lit("alpha beta gamma delta").as("text"))
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val idx = streaming.ScdStream.corpusSimhashIndex(corpus, "doc_id", "text")
    val out = streaming.ScdStream.corpusMatchStream(stream, idx, "doc_id", "text")
    assert(out.isStreaming)
    val lp = out.queryExecution.analyzed
    // statelessness: no aggregation/dedup over the STREAMING side (the
    // batch index side legitimately aggregates to build signatures)
    assert(lp.collect {
      case a: Aggregate if a.isStreaming => a
      case d: Deduplicate if d.isStreaming => d
    }.isEmpty, "corpusMatchStream grew streaming state")
    // exactly one stream-static join: streaming left, batch right
    val joins = lp.collect { case j: Join => j }
    assert(joins.exists(j => j.left.isStreaming != j.right.isStreaming),
      "expected a stream-static join")
    assert(!joins.exists(j => j.left.isStreaming && j.right.isStreaming),
      "corpusMatchStream must not be stream-stream")
  }

  test("q_quota_mix: stratum counts broadcast back, scans pruned to 2 cols") {
    val p = planOf("q_quota_mix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastExchange"), p) // the per-stratum counts
    // the count branch must read ONLY the stratum column
    assert(p.contains("ReadSchema: struct<lang:string>"), p)
  }

  test("text_perplexity: 1-row total rides a broadcast, no cartesian") {
    val p = planOf("text_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-total scalar joins via BroadcastNestedLoopJoin (the
    // broadcast 1-row crossJoin shape), never a shuffled join
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p)
  }

  test("resample grid: no cartesian; grid sides broadcast") {
    val p = planOf("q_resample_gaps")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row bounds and the tiny type set both ride broadcasts
    assert(count(p, "BroadcastExchange") >= 1, p)
  }

  test("text_dsir: scoring scan is join-free per-row codegen, cut is TakeOrdered") {
    val p = planOf("text_dsir")
    // the full weight table rides into codegen as a plan reference —
    // the scoring scan must carry NO join, NO token explode, and no
    // shuffle of anything proportional to token count
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Generate"), p)
    // the k-row selection is a global sort-limit: per-partition
    // partial top-k, never a full sort or single-task window
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("text_wordpiece: pure per-row codegen — no joins, no shuffle but the sort") {
    // execute first so AQE finalizes and codegen spans materialize
    val qe = SparkEntry.queries("text_wordpiece")(spark, dir).queryExecution
    qe.toRdd.count()
    // the adaptive plan prints final + initial; lock the final only
    val p = qe.executedPlan.toString.split("== Initial Plan ==").head
    // the vocab is a plan-build artifact (bounded collect), so the
    // executed plan is scan → wordpiece project → output sort: the
    // only Exchange is the orderBy's range partitioning
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(count(p, "Exchange rangepartitioning") <= 1, p)
    // "*(n)" is the whole-stage-codegen span marker in tree format —
    // the wordpiece project must sit inside one, fused with the scan
    assert(p.contains("*(1) Project"), p)
  }

  test("KL drift: single-row totals broadcast against the vocab table") {
    val p = planOf("text_kl_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(count(p, "BroadcastNestedLoopJoin") == 1, p)
  }

  test("text_classify: the model broadcasts into the token explode") {
    val p = planOf("text_classify")
    assert(!p.contains("CartesianProduct"), p)
    // model (dim+1 rows) and prior (1 row) must ride broadcasts — the
    // exploded token table never shuffles toward them
    assert(count(p, "BroadcastExchange") +
      count(p, "BroadcastNestedLoopJoin") >= 2, p)
  }

  test("line dedup: boilerplate removal is equi-join based, no nested loop") {
    val p = planOf("text_line_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fuzzy pairs: deletion-key equi-join, never a cartesian verify") {
    val p = planOf("q_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("scd_diff: one aggregate and one key window, no join") {
    val p = planOf("scd_diff")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // each snapshot scanned once, into one full-row count and one
    // window over the key
    assert(count(p, "Join") == 0 && count(p, "FileScan parquet") == 2, p)
    assert(count(p, "Window \\[") == 1, p)
  }

  test("bloom semi-join: might_contain prunes the probe before the exchange") {
    val p = planOf("q_bloom_semi")
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kmv overlap: bottom-k is TakeOrdered partial top-k, no window") {
    import org.apache.spark.sql.functions._
    // the sketch subplan (checkpointed inside kmvOverlap, so asserted
    // on the public kmvSketch builder): sort-limit must plan as
    // TakeOrderedAndProject, never a global sort or window
    val sh = operators.Dedup.shingles(
      spark.read.parquet(s"$dir/documents.parquet"))
    val sp = operators.Sketch.kmvSketch(sh, "shingle", 256)
      .queryExecution.executedPlan.toString
    assert(sp.contains("TakeOrderedAndProject"), sp)
    assert(!sp.contains("Window"), sp)
    // the composition itself stays broadcast-sized: no windows either
    val p = planOf("q_kmv_overlap")
    assert(!p.contains("Window"), p)
  }

  test("survivor selection: per-cluster argmax is an aggregate, not a window") {
    val p = planOf("dedup_survivor")
    assert(p.contains("max_by") || p.contains("maxby") ||
      p.contains("MaxBy"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_hdr_quantile: scan pruned to the value column; no cartesian") {
    val p = planOf("q_hdr_quantile")
    assert(!p.contains("CartesianProduct"), p)
    // column pruning pushes through the sketch: the documents scan
    // reads ONLY n_chars (a full-width read would drag text/lang/
    // source bytes through a histogram that needs one long)
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(reads.nonEmpty && reads.forall(_ == "ReadSchema: struct<n_chars:bigint>"),
      s"unpruned documents scan:\n${reads.mkString("\n")}")
  }

  test("q_hdr_by_lang: stratified rank scan is equi-join only, no nested loop") {
    val p = planOf("q_hdr_by_lang")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_curriculum_tiers: tier fold is an aggregate HOF over broadcast cuts") {
    val p = planOf("q_curriculum_tiers")
    assert(!p.contains("CartesianProduct"), p)
    // per-doc tier = aggregate() HOF over the broadcast cut array —
    // a codegen'd projection, never a corpus sort/window (the only
    // Window in this plan is hdrQuantiles' cumsum over sketch rows)
    assert(p.contains("aggregate(__cuts"), s"tier HOF missing:\n$p")
  }

  test("flagship queries keep whole-stage codegen in the scan-side hot path") {
    // a non-codegen expression in the per-row path would drop these spans
    for (q <- Seq("q1_pricing_summary", "text_stats", "text_langid")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("WholeStageCodegen") || p.contains("isFinalPlan=false"),
        s"$q lost codegen:\n$p")
    }
  }
}
