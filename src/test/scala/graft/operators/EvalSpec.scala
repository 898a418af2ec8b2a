package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Threshold-sweep specs on a hand-computable fixture. */
class EvalSpec extends SparkSpec {

  import spark.implicits._

  test("thresholdSweep: precision/recall/f1 per occupied bin, hand-checked") {
    val scored = Seq((0.95, 1L), (0.85, 0L), (0.75, 1L), (0.15, 0L))
      .toDF("score", "label")
    val rows = Eval.thresholdSweep(scored, col("score"), col("label"),
      lo = 0.0, hi = 1.0, nBins = 10)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(rows.keySet == Set(0.9, 0.8, 0.7, 0.1))
    assert(rows(0.9) == (1L, 1L, 1.0, 0.5, 0.666667))
    assert(rows(0.8) == (2L, 1L, 0.5, 0.5, 0.5))
    assert(rows(0.7)._1 == 3L && rows(0.7)._2 == 2L)
    assert(math.abs(rows(0.7)._3 - 0.666667) < 1e-6) // 2/3 rounded 6dp
    assert(rows(0.7)._4 == 1.0)
    assert(rows(0.1) == (4L, 2L, 0.5, 1.0, 0.666667))
  }

  test("thresholdSweep clamps out-of-range scores into the edge bins") {
    val scored = Seq((-5.0, 0L), (0.5, 1L), (99.0, 1L))
      .toDF("score", "label")
    val rows = Eval.thresholdSweep(scored, col("score"), col("label"),
      lo = 0.0, hi = 1.0, nBins = 10)
      .select("threshold", "kept").collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // -5 clamps to bin 0 (threshold 0.0), 99 to bin 9 (threshold 0.9)
    assert(rows == Map(0.9 -> 1L, 0.5 -> 2L, 0.0 -> 3L))
  }

  test("thresholdSweep: no positives -> recall NULL, precision 0") {
    val scored = Seq((0.5, 0L), (0.6, 0L)).toDF("score", "label")
    val r = Eval.thresholdSweep(scored, col("score"), col("label"),
      lo = 0.0, hi = 1.0, nBins = 4).collect()
    assert(r.forall(_.isNullAt(4)), "recall must be NULL with no positives")
    assert(r.forall(_.getDouble(3) == 0.0))
  }

  test("reliability: sigmoid binning, exact per-bin means, edge clamp") {
    // scores 0 -> prob .5 (bin 5); ±large saturate to bins 0/9
    val rows = Seq(
      (0.0, 1L), (0.0, 0L),        // bin 5: avg_pred .5, pos_rate .5
      (1000.0, 1L),                // sigmoid 1.0 clamps into bin 9
      (-1000.0, 0L), (-1000.0, 1L) // sigmoid 0.0 -> bin 0, rate .5
    ).toDF("score", "label")
    val got = Eval.reliability(rows, col("score"), col("label"), nBins = 10)
      .collect().map(r => (r.getDouble(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0.0, 2L, 0.0, 0.5),
      (0.5, 2L, 0.5, 0.5),
      (0.9, 1L, 1.0, 1.0)))
  }

  test("calibrationError folds the reliability bins: hand case") {
    val rows = Seq(
      (0.0, 1L), (0.0, 0L),        // bin 5: |.5 - .5| -> 0
      (1000.0, 1L),                // bin 9: |1 - 1|  -> 0
      (-1000.0, 0L), (-1000.0, 1L) // bin 0: |0 - .5| -> 2 rows * .5
    ).toDF("score", "label")
    val r = Eval.calibrationError(rows, col("score"), col("label"),
      nBins = 10).head()
    assert(r.getLong(0) == 5L && r.getDouble(1) == 0.2, r)
  }

  test("aucExact: hand case — perfect, inverted, and tied-class corners") {
    def auc(rows: Seq[(Double, Long)]): Option[Double] = {
      val r = Eval.aucExact(rows.toDF("score", "label"),
        col("score"), col("label")).head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    // perfectly separated: every positive above every negative
    assert(auc(Seq((0.1, 0L), (0.2, 0L), (0.8, 1L), (0.9, 1L))) ==
      Some(1.0))
    // perfectly inverted
    assert(auc(Seq((0.9, 0L), (0.8, 0L), (0.1, 1L), (0.2, 1L))) ==
      Some(0.0))
    // all scores tied: every pos/neg pair counts 1/2
    assert(auc(Seq((0.5, 0L), (0.5, 1L), (0.5, 0L), (0.5, 1L))) ==
      Some(0.5))
    // one class absent: undefined, NULL
    assert(auc(Seq((0.5, 1L), (0.7, 1L))).isEmpty)
    // an empty input still reads one row, every column NULL
    val empty = Eval.aucExact(Seq.empty[(Double, Long)].toDF("score",
      "label"), col("score"), col("label")).collect()
    assert(empty.length == 1 && (0 to 2).forall(empty.head.isNullAt),
      empty.toSeq)
  }

  test("aucExact: randomized scores match naive pairwise counting") {
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 3) {
      // coarse score grid on purpose: plenty of cross-class ties
      val rows = Seq.fill(60)(
        (rnd.nextInt(8) / 4.0, if (rnd.nextBoolean()) 1L else 0L))
      val pos = rows.collect { case (s, 1L) => s }
      val neg = rows.collect { case (s, 0L) => s }
      val naive = pos.flatMap(p => neg.map(n =>
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0)).sum /
        (pos.size.toDouble * neg.size)
      val got = Eval.aucExact(rows.toDF("score", "label"),
        col("score"), col("label")).head().getDouble(2)
      assert(math.abs(got - naive) < 1e-6, s"got $got expected $naive")
    }
  }

  test("aucExact: raw un-binned doubles — thousands of distinct scores, exact") {
    // VERDICT r7 hazard: raw model scores used to imply a
    // corpus-cardinality single-task window; now they are the normal
    // case. 5000 rows, label-shifted gaussians, nearly all distinct.
    val rnd = new scala.util.Random(11L)
    val rows = Seq.fill(5000) {
      val y = if (rnd.nextBoolean()) 1L else 0L
      (rnd.nextGaussian() + (if (y == 1L) 0.7 else 0.0), y)
    }
    val pos = rows.collect { case (s, 1L) => s }.sorted
    val neg = rows.collect { case (s, 0L) => s }.sorted
    // O(n log n) exact reference: for each positive, negatives below it
    var i = 0; var acc = 0.0
    for (p <- pos) {
      while (i < neg.length && neg(i) < p) i += 1
      var ties = 0
      var j = i
      while (j < neg.length && neg(j) == p) { ties += 1; j += 1 }
      acc += i + ties / 2.0
    }
    val naive = acc / (pos.length.toDouble * neg.length)
    val got = Eval.aucExact(rows.toDF("score", "label"),
      col("score"), col("label")).head().getDouble(2)
    assert(math.abs(got - naive) < 1e-6, s"got $got expected $naive")
  }

  test("aucExact: no corpus-sized single-partition window for numeric scores") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = Eval.aucExact(
      Seq((0.1, 0L), (0.9, 1L)).toDF("score", "label"),
      col("score"), col("label"))
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty) {
        // a global window is only legal over the constant-bounded
        // bucket rollup (its subtree aggregates on the __b cell)
        val boundedInput = w.child.collect {
          case a: Aggregate if a.groupingExpressions.exists(
            _.references.exists(_.name == "__b")) => a
        }
        assert(boundedInput.nonEmpty,
          s"global window over a non-constant input:\n$w")
      }
    }
  }

  test("aucExact: NaN, infinities, and NULL scores neither crash nor corrupt") {
    // Spark sort order: NULL first, then -Inf ... finite ... +Inf, NaN
    // last. Midranks follow that order; label mix keeps AUC defined.
    val rows = Seq(
      (Some(Double.NaN), 1L), (Some(Double.PositiveInfinity), 1L),
      (Some(Double.NegativeInfinity), 0L), (None, 0L),
      (Some(1.0), 1L), (Some(-1.0), 0L), (Some(1.0), 0L))
    val df = rows.map { case (s, y) => (s.getOrElse(null.asInstanceOf[Double]), s.isDefined, y) }
      .toDF("raw", "def", "label")
      .select(when(col("def"), col("raw")).as("score"), col("label"))
    val r = Eval.aucExact(df, col("score"), col("label")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    // exact reference by Spark's ordering: null(0) < -Inf(0) < -1(0) <
    // 1(1&0 tie) < +Inf(1) < NaN(1); positives ranks: 4.5, 6, 7 (sum
    // 17.5) -> auc = (17.5 - 3*4/2) / (3*4) = 11.5/12
    assert(math.abs(r.getDouble(2) - 11.5 / 12) < 1e-6, r)
  }

  test("aucExact: one ulp apart / single distinct score stay exact") {
    val tiny = Seq((1.0, 1L), (math.nextUp(1.0), 1L), (1.0, 0L))
    val r = Eval.aucExact(tiny.toDF("score", "label"),
      col("score"), col("label")).head()
    // neg(1.0) vs pos(1.0) tie=0.5, vs pos(nextUp) below=1 -> auc .75
    assert(math.abs(r.getDouble(2) - 0.75) < 1e-6, r)
    val single = Eval.aucExact(
      Seq((2.0, 1L), (2.0, 0L)).toDF("score", "label"),
      col("score"), col("label")).head()
    assert(single.getDouble(2) == 0.5)
  }

  test("averagePrecision: hand case with a tie group, plus class-edge corners") {
    // scores desc: [9 -> (pos)], [7,7 -> (pos, neg) tie], [3 -> neg]
    // groups: s=9 np=1 cn=1 cnp=1 -> term 1*1/1
    //         s=7 np=1 cn=3 cnp=2 -> term 1*2/3
    //         s=3 np=0 -> 0
    // AP = (1 + 2/3) / P=2 = 0.833333 (floor at 1e-6)
    val df = Seq((9, 1), (7, 1), (7, 0), (3, 0)).toDF("s", "y")
    val r = Eval.averagePrecision(df, col("s"), col("y")).head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getDouble(2) == 0.833333)
    // no positives -> AP undefined (NULL), not 0
    val neg = Eval.averagePrecision(df.where(col("y") === 0),
      col("s"), col("y")).head
    assert(neg.isNullAt(2))
    // all positives -> AP exactly 1
    val pos = Eval.averagePrecision(df.where(col("y") === 1),
      col("s"), col("y")).head
    assert(pos.getDouble(2) == 1.0)
  }

  test("averagePrecision: randomized scores match naive descending sweep") {
    val rnd = new scala.util.Random(77)
    val rows = (1 to 800).map(_ => (rnd.nextInt(25), rnd.nextInt(2)))
    val got = Eval.averagePrecision(rows.toDF("s", "y"),
      col("s"), col("y")).head
    // naive: distinct scores descending, step-interpolated AP with the
    // same per-group 1e-6 quantization
    val groups = rows.groupBy(_._1).map { case (s, g) =>
      (s, g.size.toLong, g.count(_._2 == 1).toLong)
    }.toSeq.sortBy(-_._1)
    val p = groups.map(_._3).sum
    var cn = 0L; var cnp = 0L; var micros = 0L
    groups.foreach { case (_, n, np) =>
      cn += n; cnp += np
      if (np > 0)
        micros += math.floor(np.toDouble * cnp.toDouble / cn.toDouble
          * 1e6).toLong
    }
    val want = BigDecimal(micros.toDouble / (1e6 * p))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == p && got.getDouble(2) == want)
  }

  test("confusion: hand case, boundary on the threshold, zero-denominator NULLs") {
    // threshold 0.5; score == threshold predicts POSITIVE (>=)
    val scored = Seq(
      (0.9, 1), (0.5, 1), // tp x2 (one exactly at the threshold)
      (0.7, 0),           // fp
      (0.1, 1), (0.2, 1), (0.3, 1), // fn x3
      (0.0, 0), (0.4, 0)) // tn x2
      .toDF("score", "label")
    val r = Eval.confusion(scored, col("score"), col("label"), 0.5).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 3L, 2L)))
    assert(r.getLong(4) == 0L)         // no null rows
    assert(r.getDouble(5) == 0.666667) // precision 2/3
    assert(r.getDouble(6) == 0.4)      // recall 2/5
    assert(r.getDouble(7) == 0.5)      // f1 = 4/(4+1+3)
    assert(r.getDouble(8) == 0.5)      // accuracy 4/8
    // nothing predicted positive -> precision NULL, recall 0
    val low = Eval.confusion(scored, col("score"), col("label"), 99.0).head
    assert(low.isNullAt(5) && low.getDouble(6) == 0.0)
    // no positives at all -> recall NULL; f1 still defined (0.0) while
    // any predicted positive keeps its denominator nonzero
    val neg = Eval.confusion(scored.where(col("label") === 0),
      col("score"), col("label"), 0.5).head
    assert(neg.isNullAt(6) && neg.getDouble(7) == 0.0)
    // predicted-all-negative of a no-positive corpus: f1 NULL too
    val none = Eval.confusion(scored.where(col("label") === 0),
      col("score"), col("label"), 99.0).head
    assert(none.isNullAt(5) && none.isNullAt(6) && none.isNullAt(7))
    // NULL score/label rows land in n_null, not silently nowhere:
    // cells still sum with n_null to the input row count
    val withNulls = Seq((Some(0.9), Some(1)), (None, Some(1)),
      (Some(0.1), None)).toDF("score", "label")
    val nr = Eval.confusion(withNulls, col("score"), col("label"), 0.5)
      .head
    assert(nr.getLong(4) == 2L &&
      nr.getLong(0) + nr.getLong(1) + nr.getLong(2) + nr.getLong(3) +
        nr.getLong(4) == 3L)
  }

  test("recallAtK: per-query intersection over the exact list") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "doc_id")
    val approx = Seq((1L, 11L), (1L, 12L), (1L, 99L), // 2 of 3
      (2L, 7L), (2L, 8L), // 0 of 2
      (3L, 1L)) // query absent from exact: NO row (no denominator)
      .toDF("query_id", "doc_id")
    val out = Eval.recallAtK(approx, exact).orderBy("query_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toList == List((1L, 2L, 0.666667), (2L, 0L, 0.0)))
    // duplicate (query, id) rows on either side must not fan the join
    // out (recall could exceed 1): set semantics enforced
    val dupd = Eval.recallAtK(approx.unionAll(approx),
      exact.unionAll(exact)).orderBy("query_id").collect()
    assert(dupd.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toList == List((1L, 2L, 0.666667), (2L, 0L, 0.0)))
  }

  test("ndcgDiscountMicros: exact 1e-6 grid of 1/log2(r+1)") {
    assert(Eval.ndcgDiscountMicros(5) ==
      IndexedSeq(1000000L, 630929L, 500000L, 430676L, 386852L))
  }

  test("retrievalEval: hand-computed NDCG/MRR incl. every edge case") {
    // q1: retrieved rels (3,0,1) of ideal (3,2,1) -> ndcg < 1, mrr 1
    // q2: nothing relevant retrieved but relevance exists -> ndcg 0
    //     via dcg=0 (mrr 0 too)
    // q3: NO relevance rows at all -> idcg empty -> ndcg 0, mrr 0
    // q4: first relevant at rank 2 -> mrr 0.5
    val results = Seq(
      (1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L), (2L, 2L, 21L),
      (3L, 1L, 30L),
      (4L, 1L, 40L), (4L, 2L, 41L))
      .toDF("query_id", "rank", "doc_id")
    val relevance = Seq(
      (1L, 10L, 3), (1L, 12L, 1), (1L, 99L, 2),
      (2L, 98L, 2),
      (4L, 41L, 1))
      .toDF("query_id", "doc_id", "rel")
    val out = Eval.retrievalEval(results, relevance, k = 3)
      .orderBy("query_id").collect()
    val d = Eval.ndcgDiscountMicros(3)
    // q1: dcg = 7*d(1) + 0 + 1*d(3); idcg = 7*d(1) + 3*d(2) + 1*d(3)
    val exp1 = (7 * d(0) + d(2)).toDouble / (7 * d(0) + 3 * d(1) + d(2))
    assert(out(0).getDouble(1) ==
      BigDecimal(exp1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0).getDouble(2) == 1.0 && out(0).getLong(3) == 2L)
    assert(out(1).getDouble(1) == 0.0 && out(1).getDouble(2) == 0.0)
    assert(out(2).getDouble(1) == 0.0 && out(2).getDouble(2) == 0.0)
    assert(out(3).getDouble(2) == 0.5 && out(3).getLong(3) == 1L)
    // q4 ndcg: dcg = 1*d(2), idcg = 1*d(1)
    assert(out(3).getDouble(1) ==
      BigDecimal(d(1).toDouble / d(0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("cohensKappa: textbook table, perfect, and chance-level agreement") {
    import spark.implicits._
    // tp=40 fp=10 fn=20 tn=30: po=0.7, pe=(50·60+50·40)/100²=0.5, κ=0.4
    def mk(tp: Int, fp: Int, fn: Int, tn: Int) =
      (Seq.fill(tp)((1.0, 1L)) ++ Seq.fill(fp)((1.0, 0L)) ++
        Seq.fill(fn)((-1.0, 1L)) ++ Seq.fill(tn)((-1.0, 0L)))
        .toDF("score", "label")
    val r = Eval.cohensKappa(mk(40, 10, 20, 30), col("score"),
      col("label"), 0.0).head
    assert(r.getLong(0) == 100L && r.getDouble(5) == 0.7 &&
      r.getDouble(6) == 0.5 && r.getDouble(7) == 0.4, r.toString)
    // perfect agreement → κ = 1
    val p = Eval.cohensKappa(mk(50, 0, 0, 50), col("score"),
      col("label"), 0.0).head
    assert(p.getDouble(7) == 1.0, p.toString)
    // independence (pe == po) → κ = 0
    val c = Eval.cohensKappa(mk(25, 25, 25, 25), col("score"),
      col("label"), 0.0).head
    assert(c.getDouble(7) == 0.0, c.toString)
    // degenerate all-one-cell table: pe = 1 → κ NULL, never 0/0
    val dgen = Eval.cohensKappa(mk(100, 0, 0, 0), col("score"),
      col("label"), 0.0).head
    assert(dgen.isNullAt(7), dgen.toString)
  }

  test("fleissKappa: Fleiss 1971 table, perfect, degenerate, ragged drop") {
    import spark.implicits._
    // the canonical 10-item / 14-rater / 5-category table:
    // P̄ = 688/1820, P̄e = 4170/19600, κ = 5895400/28082600 ≈ 0.209931
    val table = Seq(
      Seq(0, 0, 0, 0, 14), Seq(0, 2, 6, 4, 2), Seq(0, 0, 3, 5, 6),
      Seq(0, 3, 9, 2, 0), Seq(2, 2, 8, 1, 1), Seq(7, 7, 0, 0, 0),
      Seq(3, 2, 6, 3, 0), Seq(2, 5, 3, 2, 2), Seq(6, 5, 2, 1, 0),
      Seq(0, 2, 2, 3, 7))
    val rows = for {
      (cats, i) <- table.zipWithIndex
      (cnt, j) <- cats.zipWithIndex
      _ <- 0 until cnt
    } yield (i.toLong, j.toLong)
    val r = Eval.fleissKappa(rows.toDF("item", "cat"), col("item"),
      col("cat"), ratersPerItem = 14).head
    assert(r.getLong(0) == 10L && r.getLong(1) == 0L, r.toString)
    assert(r.getDouble(2) == 0.378022 && r.getDouble(3) == 0.212755 &&
      r.getDouble(4) == 0.209931, r.toString)
    // perfect agreement across 2 categories → κ = 1
    val perfect = (0L until 6L).flatMap(i =>
      Seq.fill(3)((i, i % 2))).toDF("item", "cat")
    val p = Eval.fleissKappa(perfect, col("item"), col("cat"), 3).head
    assert(p.getDouble(4) == 1.0, p.toString)
    // every rating one category: P̄e = 1 → κ NULL, never 0/0
    val dgen = (0L until 5L).flatMap(i =>
      Seq.fill(3)((i, 0L))).toDF("item", "cat")
    val d = Eval.fleissKappa(dgen, col("item"), col("cat"), 3).head
    assert(d.getDouble(3) == 1.0 && d.isNullAt(4), d.toString)
    // ragged panels excluded from EVERY term: items 0-3 have 3 votes,
    // item 9 has 2 — result must equal the clean-panel recompute
    val ragged = ((0L until 4L).flatMap(i => Seq.fill(3)((i, i % 3))) ++
      Seq((9L, 0L), (9L, 1L))).toDF("item", "cat")
    val g = Eval.fleissKappa(ragged, col("item"), col("cat"), 3).head
    val clean = Eval.fleissKappa(
      (0L until 4L).flatMap(i => Seq.fill(3)((i, i % 3)))
        .toDF("item", "cat"), col("item"), col("cat"), 3).head
    assert(g.getLong(0) == 4L && g.getLong(1) == 1L, g.toString)
    assert(g.getDouble(2) == clean.getDouble(2) &&
      g.getDouble(3) == clean.getDouble(3), s"$g vs $clean")
  }

  /** Independent α replay from the definition: exact BigInt rational
    * over per-item fractions A_u/(n_u − 1) brought to the common
    * denominator Π(n_u − 1) over DISTINCT counts. */
  private def refAlpha(rows: Seq[(Long, Long)])
      : (Long, Long, Option[Double]) = {
    val byItem = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val pair = byItem.filter(_._2.size >= 2)
    val dropped = (byItem.size - pair.size).toLong
    if (pair.isEmpty) return (0L, dropped, None)
    val n = BigInt(pair.values.map(_.size).sum)
    val nc = pair.values.flatten.groupBy(identity)
      .map { case (_, g) => BigInt(g.size) }
    val eNum = n * n - nc.map(c => c * c).sum
    val ms = pair.values.map(_.size).toSet.toSeq
    val p = ms.map(m => BigInt(m - 1)).product
    val num = pair.values.map { cats =>
      val m = cats.size
      val same = cats.groupBy(identity).values
        .map(g => BigInt(g.size) * (g.size - 1)).sum
      (BigInt(m) * (m - 1) - same) * (p / BigInt(m - 1))
    }.sum
    val alpha =
      if (eNum == 0) None
      else Some(BigDecimal(
        1.0 - ((n - 1) * num).toDouble / (p * eNum).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    (pair.size.toLong, dropped, alpha)
  }

  test("bootstrapMeanCI: exact replay of weights/means/percentiles; determinism") {
    import org.apache.spark.sql.functions.{concat, lit}
    val data = (0L until 60L).map(i => (i, 10L + (i * 7) % 23))
    val df = data.toDF("id", "m")
    val b = 16
    val got = Eval.bootstrapMeanCI(df, col("m"), col("id"),
      replicates = b, alphaPermille = 25).head
    // independent replay: pull the SAME md5 fractions through a tiny
    // frame, then do the whole bootstrap in plain Scala
    val us = data.map(_._1).flatMap(id => (0 until b).map(r => (id, r)))
      .toDF("id", "r")
      .select(col("id"), col("r"),
        Sketch.md5Fraction(concat(lit("bs|"), col("r").cast("string"),
          lit("|"), col("id").cast("string"))).as("u"))
      .collect().map(row => (row.getLong(0), row.getInt(1)) ->
        row.getDouble(2)).toMap
    val cdf = Eval.bootstrapCdf
    def weight(u: Double): Long =
      cdf.indexWhere(u < _) match { case -1 => 5L; case k => k.toLong }
    val means = (0 until b).flatMap { r =>
      val ws = data.map { case (id, m) => (weight(us((id, r))), m) }
      val wn = ws.map(_._1).sum
      if (wn == 0) None
      else Some(r -> ws.map { case (w, m) => w * m }.sum.toDouble / wn)
    }
    val sorted = means.sortBy { case (r, mn) => (mn, r) }.map(_._2)
    val loIdx = ((b - 1) * 25) / 1000 + 1          // rank 1
    val hiIdx = b - ((b - 1) * 25) / 1000           // rank 16
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == 60L && got.getLong(1) == means.size.toLong)
    assert(got.getDouble(2) ==
      r6(data.map(_._2).sum.toDouble / data.size))
    assert(got.getDouble(3) == r6(sorted(loIdx - 1)), got.toString)
    assert(got.getDouble(4) == r6(sorted(hiIdx - 1)), got.toString)
    // deterministic across partitionings
    val again = Eval.bootstrapMeanCI(df.repartition(7), col("m"),
      col("id"), replicates = b, alphaPermille = 25).head
    assert(again.toString == got.toString)
    // CI brackets the point estimate on this well-behaved fixture
    assert(got.getDouble(3) <= got.getDouble(2) &&
      got.getDouble(2) <= got.getDouble(4))
  }

  test("bootstrapMeanCI: dropped replicates clamp the CI ranks, never NULL (ADVICE r11)") {
    // ONE input row: a replicate survives only when its Poisson(1)
    // weight is > 0 (P ≈ 0.632), so replicates_used < the nominal
    // hi rank 63 — the ranks must clamp to the surviving count and
    // the CI degrade to the max surviving mean, not silently NULL
    val df = Seq((1L, 42L)).toDF("id", "m")
    val got = Eval.bootstrapMeanCI(df, col("m"), col("id")).head
    val used = got.getLong(1)
    assert(used < 63L && used >= 2L,
      s"fixture must drop replicates below the hi rank, used=$used")
    assert(!got.isNullAt(3) && !got.isNullAt(4), got.toString)
    // every surviving replicate resamples the single row -> mean 42
    assert(got.getDouble(3) == 42.0 && got.getDouble(4) == 42.0)
    // an empty input reads one row: no rows, no replicates, NULL rest
    val empty = Eval.bootstrapMeanCI(df.where(col("id") < 0), col("m"),
      col("id")).collect()
    assert(empty.length == 1, empty.toSeq)
    assert(empty.head.getLong(0) == 0L && empty.head.getLong(1) == 0L &&
      (2 to 4).forall(empty.head.isNullAt), empty.head.toString)
  }

  test("mannWhitneyUBy: per-stratum ≡ single-stratum MWU; degenerate strata report NULLs") {
    val rnd = new scala.util.Random(7)
    val rows = (for {
      st <- Seq("en", "zh", "de"); i <- 0 until 120
    } yield (st, if (i % 2 == 0) "a" else "b",
      (rnd.nextInt(40) + (if (st == "en" && i % 2 == 0) 15 else 0)).toLong))
      .toDF("stratum", "g", "v")
      // a stratum with ONLY group a -> must emit NULL auc/z, not fail
      .unionByName(Seq(("solo", "a", 5L), ("solo", "a", 9L))
        .toDF("stratum", "g", "v"))
    val got = Eval.mannWhitneyUBy(rows, col("stratum"), col("g"),
      col("v"), "a", "b").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("en", "zh", "de", "solo"))
    // by ≡ single, stratum for stratum (same auc; z differs only in
    // double-op ordering — assert to 1e-9, both round to 6dp anyway)
    for (st <- Seq("en", "zh", "de")) {
      val single = Eval.mannWhitneyU(rows.where(col("stratum") === st),
        col("g"), col("v"), "a", "b").head
      val by = got(st)
      assert(by.getLong(1) == single.getLong(0) &&
        by.getLong(2) == single.getLong(1), s"$st counts")
      assert(math.abs(by.getDouble(3) - single.getDouble(2)) < 1e-9,
        s"$st auc: $by vs $single")
      assert(math.abs(by.getDouble(4) - single.getDouble(3)) < 1e-9,
        s"$st z: $by vs $single")
    }
    val solo = got("solo")
    assert(solo.getLong(1) == 2L && solo.getLong(2) == 0L &&
      solo.isNullAt(3) && solo.isNullAt(4), solo.toString)
    // the shifted stratum must actually detect the shift
    assert(got("en").getDouble(3) > 0.55)
  }

  test("aucExactBy: per-stratum ≡ single aucExact; class-missing strata NULL") {
    val rnd = new scala.util.Random(23)
    val rows = (for { st <- Seq("en", "zh"); i <- 0 until 250 } yield {
      val y = i % 3 == 0
      // en gets a separable score, zh near-chance
      val s = rnd.nextDouble() +
        (if (y && st == "en") 0.5 else if (y) 0.02 else 0.0)
      (st, s, if (y) 1 else 0)
    }) :+ (("solo", 0.4, 1)) // one stratum with positives only
    val df = rows.toDF("st", "s", "y")
    val by = Eval.aucExactBy(df, col("st"), col("s"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (st <- Seq("en", "zh")) {
      val single = Eval.aucExact(df.where(col("st") === st),
        col("s"), col("y")).head
      assert(by(st).getLong(1) == single.getLong(0) &&
        by(st).getLong(2) == single.getLong(1), s"$st counts")
      assert(by(st).getDouble(3) == single.getDouble(2),
        s"$st auc: ${by(st)} vs $single")
    }
    assert(by("en").getDouble(3) > by("zh").getDouble(3) + 0.1)
    assert(by("solo").isNullAt(3)) // no negatives -> AUC undefined
  }

  test("spearmanBy: per-stratum ≡ single; Simpson reversal visible; >10k strata guard probes first") {
    val rnd = new scala.util.Random(41)
    // en: y tracks x; zh: y tracks -x — corpus-wide they cancel, the
    // stratified monitor must see both signs
    val rows = (for (i <- 0 until 200) yield {
      val x = rnd.nextInt(500).toLong
      ("en", x, x + rnd.nextInt(50).toLong)
    }) ++ (for (i <- 0 until 200) yield {
      val x = rnd.nextInt(500).toLong
      ("zh", x, 600L - x + rnd.nextInt(50).toLong)
    })
    val df = rows.toDF("s", "x", "y")
    val by = Eval.spearmanBy(df, col("s"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (st <- Seq("en", "zh")) {
      val single = Eval.spearman(df.where(col("s") === st),
        col("x"), col("y")).head
      assert(by(st).getLong(1) == single.getLong(0), s"$st n")
      assert(by(st).getDouble(2) == single.getDouble(1),
        s"$st rho: ${by(st)} vs $single")
    }
    assert(by("en").getDouble(2) > 0.85 && by("zh").getDouble(2) < -0.85)
    // strata-many: the r13 in-frame centered assembly has NO driver
    // bound — 10001 single-row strata (the old guard's failure case)
    // stream through; 1-row strata have zero rank variance -> null ρ
    val wide = spark.range(10001).select(
      col("id").cast("string").as("s"), col("id").as("x"),
      (col("id") * 2).as("y"))
    val wideOut = Eval.spearmanBy(wide, col("s"), col("x"), col("y"))
    assert(wideOut.count() == 10001)
    assert(wideOut.where(col("spearman_rho").isNotNull).count() == 0)
  }

  test("ksTest: hand case, shape-vs-location split vs MWU, brute ECDF replay") {
    // hand case: A = {1,2,3}, B = {2,3,4} -> ECDFs differ by 1/3 at
    // v=1 (1/3 vs 0), v=2 (2/3 vs 1/3), v=3 (1 vs 2/3); D = 1/3
    val hand = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val h = Eval.ksTest(hand, col("g"), col("v"), "a", "b").head
    assert(h.getLong(0) == 3L && h.getLong(1) == 3L)
    assert(h.getLong(2) == 333333L, h.toString) // floor(1e6/3)
    // brute replay on random data: D from a plain Scala ECDF scan
    val rnd = new scala.util.Random(3)
    val data = (0 until 500).map(i =>
      (if (i % 2 == 0) "a" else "b",
        rnd.nextInt(60).toLong + (if (i % 2 == 0) 5 else 0)))
    val got = Eval.ksTest(data.toDF("g", "v"), col("g"), col("v"),
      "a", "b").head
    val as = data.filter(_._1 == "a").map(_._2)
    val bs = data.filter(_._1 == "b").map(_._2)
    val dBrute = (as ++ bs).distinct.map { v =>
      math.abs(as.count(_ <= v).toLong * bs.size -
        bs.count(_ <= v).toLong * as.size)
    }.max
    assert(got.getLong(2) ==
      dBrute * 1000000L / (as.size.toLong * bs.size), got.toString)
    // a pure VARIANCE change: MWU reads ~no location shift while KS
    // fires — the reason both tests exist
    val sym = (0 until 400).flatMap { i =>
      val x = (i % 100).toLong
      Seq(("a", 50L + (if (x < 50) x else -(x - 50))),
        ("b", 50L + (if (x < 50) 3 * x else -3 * (x - 50))))
    }.toDF("g", "v")
    val mwu = Eval.mannWhitneyU(sym, col("g"), col("v"), "a", "b").head
    val ks = Eval.ksTest(sym, col("g"), col("v"), "a", "b").head
    assert(math.abs(mwu.getDouble(2) - 0.5) < 0.02,
      s"MWU should sit near 0.5 on the symmetric spread: $mwu")
    assert(ks.getLong(2) > 300000L,
      s"KS must see the variance blowup: $ks")
  }

  test("ksTestBy: per-stratum ≡ single; missing group reports NULLs") {
    val rnd = new scala.util.Random(17)
    val rows = (for {
      st <- Seq("en", "zh"); i <- 0 until 200
    } yield (st, if (i % 2 == 0) "a" else "b",
      rnd.nextInt(50).toLong + (if (st == "en" && i % 2 == 0) 10 else 0)))
      .toDF("stratum", "g", "v")
      .unionByName(Seq(("solo", "a", 5L)).toDF("stratum", "g", "v"))
    val by = Eval.ksTestBy(rows, col("stratum"), col("g"), col("v"),
      "a", "b").collect().map(r => r.getString(0) -> r).toMap
    for (st <- Seq("en", "zh")) {
      val single = Eval.ksTest(rows.where(col("stratum") === st),
        col("g"), col("v"), "a", "b").head
      assert(by(st).getLong(3) == single.getLong(2), s"$st d_e6")
      assert(by(st).getDouble(4) == single.getDouble(3), s"$st z")
    }
    assert(by("solo").isNullAt(3) && by("solo").isNullAt(4))
  }

  test("bootstrapMeanCIBy: stratum-for-stratum ≡ single (same md5 weights)") {
    val data = (0L until 90L).map(i =>
      (Seq("x", "y", "z")(i.toInt % 3), i, 10L + (i * 11) % 37))
      .toDF("s", "id", "m")
    val by = Eval.bootstrapMeanCIBy(data, col("s"), col("m"),
      col("id"), replicates = 16).collect()
      .map(r => r.getString(0) -> r).toMap
    for (st <- Seq("x", "y", "z")) {
      val single = Eval.bootstrapMeanCI(data.where(col("s") === st),
        col("m"), col("id"), replicates = 16).head
      val g = by(st)
      assert(g.getLong(1) == single.getLong(0) &&
        g.getLong(2) == single.getLong(1), s"$st counts")
      assert(g.getDouble(3) == single.getDouble(2) &&
        g.getDouble(4) == single.getDouble(3) &&
        g.getDouble(5) == single.getDouble(4), s"$st: $g vs $single")
    }
  }

  test("bootstrapMeanCIBy: a stratum whose every replicate is empty still reports (ADVICE r12)") {
    // hunt an id whose Poisson weight is 0 in ALL 4 replicates under
    // seed "bs" (P ≈ e^-4 ≈ 1.9% per id — deterministic md5, so the
    // found id replays forever); a 1-row stratum of it drops every
    // replicate, which used to vanish from the inner join
    val p0 = Eval.bootstrapCdf.head
    val hunt = spark.range(4000)
      .select(col("id").cast("string").as("id"))
      .where((0 until 4).map(r =>
        graft.operators.Sketch.md5Fraction(
          concat(lit(s"bs|$r|"), col("id"))) < p0).reduce(_ && _))
    val deadId = hunt.head().getString(0)
    val df = Seq(("dead", deadId, 100L), ("live", "a", 10L),
      ("live", "b", 20L), ("live", "c", 30L)).toDF("s", "id", "m")
    val out = Eval.bootstrapMeanCIBy(df, col("s"), col("m"), col("id"),
      replicates = 4).collect().map(r => r.getString(0) -> r).toMap
    assert(out.contains("dead"), out.keySet.toString)
    val d = out("dead")
    assert(d.getLong(1) == 1L && d.getLong(2) == 0L &&
      d.getDouble(3) == 100.0 && d.isNullAt(4) && d.isNullAt(5),
      d.toString)
    assert(out("live").getLong(2) > 0L)
  }

  test("bootstrapMeanDiffCI: paired CI == bootstrapMeanCI of the diff; zero-diff centers at 0; means reported") {
    val rows = (0L until 120L).map(i =>
      (i, 10L + (i * 7) % 23, 8L + (i * 11) % 23)).toDF("id", "a", "b")
    val got = Eval.bootstrapMeanDiffCI(rows, col("a"), col("b"),
      col("id")).head
    // the diff CI is EXACTLY the single-metric bootstrap of (a-b) —
    // same ids, same weights, same percentile cut
    val want = Eval.bootstrapMeanCI(
      rows.select(col("id"), (col("a") - col("b")).as("m")),
      col("m"), col("id")).head
    assert(got.getLong(0) == want.getLong(0) &&
      got.getLong(1) == want.getLong(1), s"$got vs $want")
    assert(got.getDouble(4) == want.getDouble(2) &&
      got.getDouble(5) == want.getDouble(3) &&
      got.getDouble(6) == want.getDouble(4), s"$got vs $want")
    // means come from the same rows
    val ma = rows.agg(sum("a"), count(lit(1))).head
    assert(got.getDouble(2) ==
      BigDecimal(ma.getLong(0).toDouble / ma.getLong(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // identical metrics -> every replicate diff-mean is exactly 0
    val same = Eval.bootstrapMeanDiffCI(rows, col("a"), col("a"),
      col("id")).head
    assert(same.getDouble(4) == 0.0 && same.getDouble(5) == 0.0 &&
      same.getDouble(6) == 0.0, same.toString)
  }

  test("krippendorffAlpha: hand cases, ragged drop, brute replay") {
    // perfect agreement on 2 items -> alpha = 1
    val perf = Seq((1L, 0L), (1L, 0L), (2L, 1L), (2L, 1L))
      .toDF("item", "cat")
    val p = Eval.krippendorffAlpha(perf, col("item"), col("cat")).head
    assert(p.getLong(0) == 2L && p.getDouble(5) == 1.0, p.toString)
    // one item, full disagreement -> D_o = D_e -> alpha = 0
    val dis = Seq((1L, 0L), (1L, 1L)).toDF("item", "cat")
    val d = Eval.krippendorffAlpha(dis, col("item"), col("cat")).head
    assert(d.getDouble(5) == 0.0, d.toString)
    // single category everywhere -> D_e = 0 -> alpha NULL
    val one = Seq((1L, 0L), (1L, 0L), (2L, 0L)).toDF("item", "cat")
    val o = Eval.krippendorffAlpha(one, col("item"), col("cat")).head
    assert(o.isNullAt(5), o.toString)
    // single-rating items dropped and counted
    val ragged = Seq((1L, 0L), (1L, 0L), (2L, 1L)).toDF("item", "cat")
    val g = Eval.krippendorffAlpha(ragged, col("item"), col("cat")).head
    assert(g.getLong(0) == 1L && g.getLong(1) == 1L &&
      g.getLong(2) == 2L, g.toString)
    // random ragged panels vs the independent exact replay
    val rnd = new scala.util.Random(3)
    for (trial <- 1 to 5) {
      val rows = (0L until 40L).flatMap { item =>
        (1 to rnd.nextInt(6)).map(_ => (item, rnd.nextInt(4).toLong))
      }
      val got = Eval.krippendorffAlpha(rows.toDF("item", "cat"),
        col("item"), col("cat")).head
      val (wi, wd, wa) = refAlpha(rows)
      assert(got.getLong(0) == wi && got.getLong(1) == wd,
        s"trial $trial: $got vs ($wi,$wd,$wa)")
      val gotA = if (got.isNullAt(5)) None else Some(got.getDouble(5))
      assert(gotA == wa, s"trial $trial: $gotA vs $wa")
    }
  }

  test("mannWhitneyU: dominance gives auc 1, identical samples auc 0.5") {
    import spark.implicits._
    val dom = ((1 to 20).map(v => ("A", 100L + v)) ++
      (1 to 30).map(v => ("B", v.toLong))).toDF("g", "v")
    val d = Eval.mannWhitneyU(dom, col("g"), col("v"), "A", "B").head
    assert(d.getLong(0) == 20L && d.getLong(1) == 30L)
    assert(d.getDouble(2) == 1.0 && d.getDouble(3) > 5.0)
    // same multiset in both groups: U1 = n1*n2/2 exactly -> auc 0.5, z 0
    val same = (1 to 15).flatMap(v =>
      Seq(("A", v.toLong), ("B", v.toLong))).toDF("g", "v")
    val s = Eval.mannWhitneyU(same, col("g"), col("v"), "A", "B").head
    assert(s.getDouble(2) == 0.5 && s.getDouble(3) == 0.0)
    // all values tied across both groups: sigma = 0 -> z null
    val flat = Seq(("A", 7L), ("A", 7L), ("B", 7L)).toDF("g", "v")
    val f = Eval.mannWhitneyU(flat, col("g"), col("v"), "A", "B").head
    assert(f.getDouble(2) == 0.5 && f.isNullAt(3))
    // a group without rows (or an empty input) fails at the call
    val noB = intercept[IllegalArgumentException](
      Eval.mannWhitneyU(dom, col("g"), col("v"), "A", "C"))
    assert(noB.getMessage.contains(
      "mannWhitneyU: both groups need rows — 'A': 20, 'C': 0"),
      noB.getMessage)
    val none = intercept[IllegalArgumentException](
      Eval.mannWhitneyU(dom.where(col("v") < 0), col("g"), col("v"),
        "A", "B"))
    assert(none.getMessage.contains("'A': 0, 'B': 0"), none.getMessage)
  }

  test("mannWhitneyU: hand-computed U with ties") {
    import spark.implicits._
    // A = [1, 3, 3], B = [2, 3]: pairwise A-over-B wins =
    // (1v2:0)(1v3:0)(3v2:1)(3v3:.5)(3v2:1)(3v3:.5) = 3.0 -> auc 3/6
    val df = Seq(("A", 1L), ("A", 3L), ("A", 3L), ("B", 2L),
      ("B", 3L)).toDF("g", "v")
    val r = Eval.mannWhitneyU(df, col("g"), col("v"), "A", "B").head
    assert(r.getDouble(2) == 0.5, r)
  }

  test("spearman: +1 on monotone, -1 on reversed, null on a constant") {
    import spark.implicits._
    val xs = Seq(3L, 9L, 1L, 7L, 5L, 11L)
    val up = xs.map(x => (x, x * x)).toDF("x", "y")     // monotone map
    val dn = xs.map(x => (x, 1000L - x)).toDF("x", "y") // reversed
    val ct = xs.map(x => (x, 42L)).toDF("x", "y")       // zero variance
    assert(Eval.spearman(up, col("x"), col("y")).head.getDouble(1) == 1.0)
    assert(Eval.spearman(dn, col("x"), col("y")).head.getDouble(1) == -1.0)
    assert(Eval.spearman(ct, col("x"), col("y")).head.isNullAt(1))
    // an empty input reads one row: n = 0, rho NULL
    val empty = Eval.spearman(up.where(col("x") < 0), col("x"), col("y"))
      .collect()
    assert(empty.length == 1 && empty.head.getLong(0) == 0L &&
      empty.head.isNullAt(1), empty.toSeq)
  }

  test("spearman: tie-correct average ranks match a plain-Scala Pearson") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(300)((rnd.nextInt(8).toLong, rnd.nextInt(12).toLong))
    def avgRanks(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.sorted.zipWithIndex.map { case (v, i) => (v, i + 1.0) }
      sorted.groupBy(_._1).map { case (v, g) =>
        v -> g.map(_._2).sum / g.size
      }
    }
    val (rxM, ryM) = (avgRanks(rows.map(_._1)), avgRanks(rows.map(_._2)))
    val (rx, ry) = (rows.map(r => rxM(r._1)), rows.map(r => ryM(r._2)))
    val n = rows.size.toDouble
    val (sx, sy) = (rx.sum, ry.sum)
    val num = n * rx.zip(ry).map { case (a, b) => a * b }.sum - sx * sy
    val d1 = n * rx.map(a => a * a).sum - sx * sx
    val d2 = n * ry.map(a => a * a).sum - sy * sy
    val want = num / math.sqrt(d1 * d2)
    val got = Eval.spearman(rows.toDF("x", "y"), col("x"), col("y"))
      .head.getDouble(1)
    assert(math.abs(got - want) < 1e-6, s"$got vs $want")
  }
}
