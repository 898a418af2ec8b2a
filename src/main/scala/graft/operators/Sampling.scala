package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic sampling / split assignment for training-data
  * pipelines. Spark's `sample()` is seed-stable only per partitioning;
  * these operators hash ROW IDENTITY instead, so membership is stable
  * across runs, repartitions, engines, and incremental reprocessing —
  * the property a train/val/test split must have. Pure per-row
  * expressions: narrow, codegen'd, shuffle-free. */
object Sampling {

  /** Keep rows whose md5-fraction of `idCol` falls below `p` — a
    * deterministic Bernoulli sample (same rows every run, any engine). */
  def hashSample(df: DataFrame, idCol: Column, p: Double): DataFrame =
    df.where(Sketch.md5Fraction(idCol) < p)

  /** Assign each row to a named split by cumulative weight over the
    * id-hash fraction (e.g. train/val/test 0.8/0.1/0.1). Weights must
    * sum to 1; the last split absorbs the boundary. */
  def splitColumn(idCol: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val frac = Sketch.md5Fraction(idCol)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.init.zip(cum.init)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), hi), acc) =>
        when(frac < hi, name).otherwise(acc)
      }
  }

  /** `df` plus a `split` column (see [[splitColumn]]). */
  def splitAssign(df: DataFrame, idCol: Column,
      splits: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitColumn(idCol, splits))

  /** Leakage-safe train/val/test split: assign splits per NEAR-DUP
    * CLUSTER, not per document, so two near-duplicates can never land
    * on opposite sides of a train/test boundary (per-doc hashing
    * leaks: a test doc whose near-twin trained is contamination the
    * [[graft.operators.Dedup.crossOverlapPairs]] check would then
    * flag). Clusters come from [[Dedup.connectedComponents]] over the
    * candidate `pairs`; docs in no pair are their own singleton
    * cluster. The split hash keys on `cluster_id`, so the no-leak
    * property holds by construction — same cluster → same hash → same
    * split — and membership stays stable under re-runs and incremental
    * growth exactly like [[splitAssign]].
    *
    * Output: `docs` + `cluster_id` + `split`. One CC label shuffle +
    * one id join over [[splitAssign]]'s cost; the split itself remains
    * a per-row expression. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      splits: Seq[(String, Double)], id: String = "doc_id"): DataFrame = {
    val cc = Dedup.connectedComponents(pairs)
    docs
      .join(cc, col(id) === cc("vertex"), "left")
      .withColumn("cluster_id",
        coalesce(col("component"), col(id).cast("long")))
      .drop("vertex", "component")
      .withColumn("split", splitColumn(col("cluster_id"), splits))
  }

  /** Per-stratum deterministic sampling — the data-MIXING knob of a
    * training pipeline: re-weight sources by downsampling each stratum
    * at its own rate (keep iff the id-hash fraction falls below the
    * stratum's rate; strata not listed keep `defaultRate`). Per-row
    * expression, shuffle-free, stable across runs, partitionings, and
    * engines — so a mixture is reproducible and incrementally
    * extendable (new data joins the sample without reshuffling old
    * membership). */
  def stratifiedSample(df: DataFrame, idCol: Column, stratumCol: Column,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      s"rates must be in [0,1]: $rates / $defaultRate")
    val rate = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRate): Column) { case (acc, (k, v)) =>
        when(stratumCol === k, v).otherwise(acc)
      }
    df.where(Sketch.md5Fraction(idCol) < rate)
  }

  /** Mixture-targeting sampler — the dataset-MIXING step: downsample
    * each stratum so the output approximates `targetRows` rows in the
    * given `weights` proportions (e.g. 50% en / 20% de / …). The
    * per-stratum keep rate `min(1, targetRows·w_g / n_g)` comes from a
    * map-side-combined stratum count (tiny — one row per stratum —
    * and broadcast back), then membership is the same id-hash
    * Bernoulli keep as [[stratifiedSample]]: a pure function of
    * (data, weights, target) — reproducible across runs, partitions,
    * and engines, and NESTED (lowering targetRows keeps a subset of
    * the larger sample, the property curriculum schedules need).
    * Strata absent from `weights` are dropped. An under-populated
    * stratum (n_g < targetRows·w_g) caps at rate 1 and under-delivers
    * rather than over-sampling others — re-normalize upstream if hard
    * totals matter. Output: input columns + `keep_rate`. */
  def quotaSample(df: DataFrame, idCol: Column, stratumCol: Column,
      weights: Map[String, Double], targetRows: Long): DataFrame =
    quotaSampleBy(df, idCol, stratumCol, weights, targetRows, lit(1L))

  /** [[quotaSample]] generalized to an arbitrary SIZE measure: the
    * mixture is targeted in units of `sizeCol` (token counts, chars,
    * bytes) instead of rows — the form a token-budgeted pretraining
    * mix actually needs. Keep rate = min(1, target·w_g / Σ_g size);
    * expected kept size per stratum = target·w_g exactly (membership
    * stays per-ROW Bernoulli — unbiased for the total because the
    * hash is independent of size). Sizes aggregate as exact longs. */
  def quotaSampleBy(df: DataFrame, idCol: Column, stratumCol: Column,
      weights: Map[String, Double], target: Long,
      sizeCol: Column): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(w => w >= 0 && w <= 1),
      s"weights must be in [0,1]: $weights")
    require(target >= 0, s"target must be >= 0: $target")
    val wcol = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double"): Column) { case (acc, (k, v)) =>
        when(stratumCol === k, lit(v)).otherwise(acc)
      }
    // aggregate ONLY the listed strata: on a high-cardinality stratum
    // column (domain, host) an unfiltered groupBy would broadcast
    // millions of rows that the join discards anyway — the filter
    // bounds the broadcast at |weights| rows
    val counts = df
      .where(stratumCol.isin(weights.keys.toSeq: _*))
      .groupBy(stratumCol.as("__g"))
      .agg(sum(sizeCol.cast("long")).as("__n"))
    // NB: least() IGNORES nulls (least(1.0, null) = 1.0), so the
    // unlisted-stratum null must be reasserted around the cap
    val rawRate = lit(target.toDouble) * wcol / col("__n").cast("double")
    df.withColumn("__g", stratumCol)
      .join(broadcast(counts), "__g")
      .withColumn("keep_rate",
        when(rawRate.isNull, lit(null).cast("double"))
          .otherwise(least(lit(1.0), rawRate)))
      .where(col("keep_rate").isNotNull &&
        Sketch.md5Fraction(idCol) < col("keep_rate"))
      .drop("__g", "__n")
  }

  /** Temperature sampling — the multilingual-pretraining mixing rule
    * (sample stratum g with probability ∝ n_g^alpha, alpha < 1
    * flattening the head so low-resource strata survive): the
    * per-stratum weights are DERIVED from the data itself, so unlike
    * [[quotaSampleBy]] no driver-side weight map is needed and the
    * stratum column may be high-cardinality (domain, host, source).
    * Keep rate_g = min(1, target·(n_g^alpha / Σ_h n_h^alpha) / n_g);
    * membership is the id-hash Bernoulli keep of the family —
    * reproducible and nested. Sizes are measured by `sizeCol`
    * (rows, tokens, bytes).
    *
    * Determinism discipline: each stratum's n^alpha is quantized to
    * 1e-6 micros as DECIMAL(38,0) before the Σ (exact decimal sum —
    * a double Σ's accumulation order diverges across engines, and
    * micro-quantized longs could overflow 2^63 once strata sizes hit
    * 10^12), one double divide chain at the end, mirrored
    * op-for-op by the oracle.
    *
    * 100 TB shape: one map-side-combined stratum aggregate (one row
    * per stratum), a 1-row quantized total, and a rates join back on
    * the stratum key — deliberately NOT hint-broadcast: at domain
    * cardinality the rates side may exceed broadcast limits, and AQE
    * picks broadcast itself whenever it fits.
    * Output: input columns + keep_rate. */
  def temperatureSample(df: DataFrame, idCol: Column, stratumCol: Column,
      alpha: Double, target: Long,
      sizeCol: Column = lit(1L)): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    require(target >= 0, s"target must be >= 0: $target")
    val counts = df.groupBy(stratumCol.as("__g"))
      .agg(sum(sizeCol.cast("long")).as("__n"))
    val qz = counts.withColumn("__q",
      floor(pow(col("__n").cast("double"), lit(alpha)) * lit(1000000.0))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    val z = qz.agg(sum(col("__q")).as("__z"))
    val rates = qz.crossJoin(broadcast(z))
      .select(col("__g"), least(lit(1.0),
        lit(target.toDouble) * (col("__q").cast("double") / lit(1000000.0)) /
          (col("__z").cast("double") / lit(1000000.0)) /
          col("__n").cast("double")).as("keep_rate"))
    df.withColumn("__g", stratumCol).join(rates, "__g")
      .where(Sketch.md5Fraction(idCol) < col("keep_rate"))
      .drop("__g")
  }

  /** UniMax budget allocation (Chung et al. 2023, ICLR — "UniMax:
    * Fairer and More Effective Language Sampling"): split a total
    * training budget across strata (languages) as UNIFORMLY as the
    * per-stratum epoch cap allows — small strata get their full
    * `epochCap` epochs, the rest share the remaining budget equally —
    * the principled alternative to [[temperatureSample]]'s n^α
    * heuristic (which still over-allocates to head languages at any
    * α > 0 and needs tuning; UniMax has one interpretable knob, the
    * repeat ceiling).
    *
    * Closed-form waterfilling on the ascending-size stratum table
    * (i = 1..L, sizes n_i ascending, cums c_i): stratum i is CAPPED
    * iff cap·n_i·(L−i+1) ≤ B − cap·c_{i−1} (exact integers — "its
    * full cap fits under the uniform share of what's left"); the
    * capped set is an ascending PREFIX (if i overflows its share,
    * every larger j does too), so k = max capped i, capped strata get
    * cap·n_i, and the L−k uncapped share τ = (B − cap·c_k) div (L−k)
    * each (floor — at most L−k−1 budget units go unspent; when every
    * stratum is capped the suite is smaller than the budget and the
    * leftover is reported by the allocs summing below B).
    *
    * Plan: one map-side-combined groupBy to the strata table, ONE
    * window over |strata| rows (domain-bounded — languages, not
    * corpus rows; the paretoCoverage justification), two 1-row
    * broadcast folds (L, then (k, c_k)); arithmetic in decimal(38,0)
    * (cap·n·L exceeds Long at petabyte char counts). Output one row
    * per stratum: stratum, n, alloc, capped, epochs_e6
    * (alloc·1e6 div n — the realized repeat factor), ordered by
    * (n, stratum) ascending. */
  def unimaxAllocation(df: DataFrame, strataCol: Column, budget: Long,
      epochCap: Int, sizeCol: Column = lit(1L)): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    require(epochCap >= 1, s"epochCap must be >= 1: $epochCap")
    val dec = "decimal(38,0)"
    // per-row size contract, mirroring exactQuantilesWeighted's
    // (ADVICE r13: a fractional size used to silently truncate and a
    // negative one to silently shrink its stratum — both bias the
    // waterfill): negative/fractional sizes RAISE with the offending
    // value; NULL sizes carry nothing; strata whose TOTAL is 0 hold
    // no trainable mass and are dropped (no budget share) by the
    // n > 0 cut below — documented, not accidental.
    val sd = sizeCol.cast("double")
    val sz = when(sizeCol.isNull, lit(null).cast("long"))
      .when(sd < 0 || sd =!= floor(sd),
        raise_error(concat(
          lit("unimaxAllocation: sizes must be non-negative " +
            "integers; got "),
          sizeCol.cast("string"))).cast("long"))
      .otherwise(sizeCol.cast("long"))
    val counts = df.groupBy(strataCol.as("stratum"))
      .agg(sum(sz).as("n"))
      .where(col("n") > 0)
    // |strata|-row window: domain-bounded by contract (languages /
    // sources) — budget it in PlanAuditSpec like paretoCoverage's
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n"), col("stratum"))
    val ranked = counts
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(w))
      .localCheckpoint(false) // feeds L-fold, k-fold AND the output
    val tot = ranked.agg(count(lit(1)).as("__L"))
    val b = lit(budget).cast(dec)
    val cap = lit(epochCap.toLong).cast(dec)
    val withL = ranked.crossJoin(broadcast(tot))
      .withColumn("__capped",
        cap * col("n").cast(dec) *
          (col("__L").cast(dec) - col("i").cast(dec) + 1) <=
          b - cap * (col("cum").cast(dec) - col("n").cast(dec)))
    val kFold = withL.agg(
      coalesce(max(when(col("__capped"), col("i"))), lit(0L)).as("__k"),
      coalesce(max(when(col("__capped"), col("cum"))), lit(0L))
        .as("__ck"))
    withL.crossJoin(broadcast(kFold))
      // div (IntegralDivide), not `/`: decimal `/` rounds at its
      // result scale before any cast, which can round UP across the
      // floor boundary — div is the exact floor both engines share
      .withColumn("__rem", b - cap * col("__ck").cast(dec))
      .withColumn("__lk",
        col("__L").cast(dec) - col("__k").cast(dec))
      .withColumn("alloc",
        when(col("i") <= col("__k"),
          (cap * col("n").cast(dec)).cast("long"))
          .otherwise(expr("CAST(__rem div __lk AS LONG)")))
      .drop("__rem", "__lk")
      .withColumn("capped", (col("i") <= col("__k")).cast("long"))
      .withColumn("epochs_e6",
        expr("CAST(alloc AS DECIMAL(38,0)) * 1000000 div n"))
      .select(col("stratum"), col("n"), col("alloc"), col("capped"),
        col("epochs_e6"))
      .orderBy(col("n"), col("stratum"))
  }

  /** Epoch mixing — the missing HALF of the mixing story: every other
    * sampler here only thins (rate ≤ 1), but a real pretraining mix
    * also REPEATS rare high-quality strata (books ×3, a rare language
    * ×1.5) while thinning the head. Each row emits
    * floor(rate) copies plus one more when its id-hash falls below
    * frac(rate) — so a stratum's expected output is exactly n·rate for
    * ANY rate ≥ 0, deterministically (same ids always carry the extra
    * copy; lowering a rate keeps a subset of the copies). The `copy`
    * index (0-based) lets downstream shard/shuffle steps spread
    * repeats apart instead of training on them back-to-back.
    * Strata absent from `rates` are dropped (rate 0).
    *
    * 100 TB shape: pure per-row expressions + one generator — no
    * shuffle, no aggregate, streaming-composable.
    * Output: input columns + copy. */
  def epochMix(df: DataFrame, idCol: Column, stratumCol: Column,
      rates: Map[String, Double]): DataFrame = {
    require(rates.nonEmpty && rates.values.forall(_ >= 0),
      s"rates must be >= 0: $rates")
    val rcol = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double"): Column) { case (acc, (k, v)) =>
        when(stratumCol === k, lit(v)).otherwise(acc)
      }
    val extra = when(
      Sketch.md5Fraction(concat(lit("em|"), idCol.cast("string"))) <
        rcol - floor(rcol), 1L).otherwise(0L)
    df.withColumn("__n", (floor(rcol).cast("long") + extra))
      .where(col("__n") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /** Deterministic weighted sampling WITHOUT replacement, k per
    * stratum (Efraimidis–Spirakis "A-Res"): each row draws
    * key = u^(1/w) with u the row's id-hash fraction; the k largest
    * keys per stratum are exactly a weighted sample. Replacing the
    * RNG with hash randomness makes the sample a pure function of
    * (ids, weights, k) — reproducible across runs, partitionings, and
    * engines, and incrementally stable (a new row displaces at most
    * one old member).
    *
    * This is the "temperature" mixing knob: w = quality score, doc
    * length, or source_count^alpha. Cost: one per-stratum top-k —
    * the bounded-heap aggregate when the id is numeric and the schema
    * orderable (k-entry state, map-side partial; a corpus-sized
    * stratum costs its scan, not a one-task sort), the window cut
    * otherwise (string ids have no invertible descending tie-break).
    * Both produce identical rows — (key desc, id asc) is total. Ties
    * in key (prob ~2^-32) break by id. Output: input columns +
    * `rank` (1-based per stratum by descending key). */
  def weightedSample(df: DataFrame, strataCol: Column, idCol: Column,
      weightCol: Column, k: Int): DataFrame = {
    val u = Sketch.md5Fraction(concat(lit("ws|"), idCol.cast("string")))
    // contract: weights must be > 0 — w = 0 breaks the A-Res key
    // (u^(1/0) = u^Inf = 0, deterministically last) and w < 0 inverts
    // it (u^(1/w) > 1, outranking every valid row). Non-positive
    // weights are "never sample": excluded, not silently misranked.
    val weighted = df.where(weightCol.cast("double") > 0)
    val key = pow(u, lit(1.0) / weightCol.cast("double"))
    val idNumeric = df.select(idCol).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val rowOrderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(org.apache.spark.sql.types.StructType(df.schema.fields))
    if (idNumeric && rowOrderable) {
      // (key, -id) is already total, so the __row passenger field
      // never participates in a comparison — it just travels
      val packed = struct(key.as("__k"), negate(idCol).as("__nid"),
        struct(weighted.columns.map(col): _*).as("__row"))
      weighted.groupBy(strataCol.as("__g"))
        .agg(org.apache.spark.sql.graft.CatalystBridge.topK(packed, k)
          .as("__top"))
        .select(posexplode(col("__top")).as(Seq("__pos", "__e")))
        .select(col("__e.__row.*") +:
          Seq((col("__pos") + 1).cast("long").as("rank")): _*)
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCol).orderBy(key.desc, idCol)
      weighted.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
    }
  }

  /** Deterministic UNIFORM negative sampling for contrastive training
    * pairs — the random-negatives companion to hard-negative mining:
    * k corpus ids per anchor, pseudo-uniform, reproducible from the
    * ids alone (consistent hashing, the engine-wide md5 discipline —
    * rerun, restart, or another engine re-derives the same negatives).
    *
    * Mechanics: corpus ids sit on the unit hash circle once
    * (u = md5Frac("ng|" + id), bucketed to `buckets` cells); each
    * anchor throws `k·overdraw` darts (t = md5Frac("ng|" + a + "|" +
    * i)) and takes the nearest corpus point WITHIN the dart's bucket
    * (argmin |u − t|, tie on id). Positives (and self-pairs, if the
    * caller lists them) are anti-joined away, per-anchor duplicate
    * candidates collapse to their first draw, and the first k
    * survivors by draw order win.
    *
    * 100 TB shape: corpus placement is one projection; candidate
    * volume is |anchors|·k·overdraw·(corpus/buckets) — size `buckets`
    * ∝ corpus so the per-dart bucket is a constant; the only windows
    * run over ≤ k·overdraw rows per anchor. Near-uniform, not exactly
    * uniform (nearest-on-circle weights an id by its hash gap — the
    * standard consistent-hashing caveat, irrelevant for negatives).
    * An empty bucket loses its dart; `overdraw` absorbs that and
    * positive/duplicate removal. Anchors with fewer than k survivors
    * emit what they have.
    *
    * @param positives (anchorCol, negIdCol) pairs to exclude — include
    *                  (a, a) self-pairs when anchor and corpus share an
    *                  id space. */
  def negativeSample(anchors: DataFrame, anchorCol: String,
      corpus: DataFrame, negIdCol: String, positives: DataFrame,
      k: Int, buckets: Int = 64, overdraw: Int = 3): DataFrame = {
    require(k >= 1 && overdraw >= 1 && buckets >= 1,
      s"need k, overdraw, buckets >= 1: $k, $overdraw, $buckets")
    val m = k * overdraw
    val placed = corpus
      .select(col(negIdCol), Sketch.md5Fraction(
        concat(lit("ng|"), col(negIdCol).cast("string"))).as("__u"))
      .withColumn("__b",
        least(floor(col("__u") * buckets), lit(buckets - 1)).cast("int"))
    val draws = anchors.select(col(anchorCol))
      .select(col(anchorCol),
        explode(sequence(lit(0), lit(m - 1))).as("__i"))
      .withColumn("__t", Sketch.md5Fraction(concat(lit("ng|"),
        col(anchorCol).cast("string"), lit("|"),
        col("__i").cast("string"))))
      .withColumn("__b",
        least(floor(col("__t") * buckets), lit(buckets - 1)).cast("int"))
    val cand = draws.join(placed, Seq("__b"))
      .groupBy(col(anchorCol), col("__i"))
      .agg(min(struct(abs(col("__u") - col("__t")).as("__d"),
        col(negIdCol).as("__id"))).as("__best"))
      .select(col(anchorCol), col("__i"),
        col("__best").getField("__id").as(negIdCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(anchorCol).orderBy("__i", negIdCol)
    cand
      .join(positives.select(col(anchorCol), col(negIdCol)),
        Seq(anchorCol, negIdCol), "left_anti")
      .groupBy(col(anchorCol), col(negIdCol))
      .agg(min(col("__i")).as("__i"))
      .withColumn("draw", row_number().over(w).cast("long"))
      .where(col("draw") <= k)
      .select(col(anchorCol), col(negIdCol), col("draw"))
  }

  /** Cross-stratum quantile normalization — make scores COMPARABLE
    * across heterogeneous sources before applying one global
    * threshold: a raw quality score of 0.7 means different things
    * from different domains, but "the p90 of its own source" maps to
    * the same calibrated value everywhere. Each within-stratum rank
    * fraction maps to the GLOBAL distribution's value at that
    * fraction (the bioinformatics quantile-normalization recipe,
    * rank-based and monotone within each stratum).
    *
    * Exact integer mapping: per (stratum, value), the upper rank
    * cum_s becomes the global target rank
    *   rg = ⌈cum_s · n_g / n_s⌉ = (cum_s·n_g + n_s − 1) div n_s
    * and the calibrated value is the least global value whose
    * cumulative count reaches rg. Ties share a value and therefore a
    * calibrated value — normalization never reorders within a
    * stratum (spec-pinned monotone).
    *
    * 100 TB shape (VERDICT r11 #1 — this operator's windows AND its
    * pick join must survive raw continuous scores, where distinct ≈
    * corpus): both value-domain histograms take [[Ranks.cumOver]]'s
    * distributed two-level prefix sum (the per-stratum one partitions
    * by (stratum, bucket) — a single giant stratum parallelizes too),
    * and the rank transfer is an EQUI-join in rank space, not a
    * cum ≥ r nested loop: target ranks rg live on a constant
    * [[Ranks.Buckets]]-cell grid over [1, n_g] (rank space is dense
    * integers — the grid is perfectly balanced by construction), each
    * global value covers the rank interval (cum_g − gc, cum_g] and
    * posts one row per grid cell it overlaps (≤ distinct + Buckets
    * rows total), and each rg matches EXACTLY ONE interval, so the
    * residual range predicate after the bucket equi-join is a filter,
    * not a fan-out, and no groupBy-min is needed. Cross-multiplied
    * rank arithmetic rides decimal(38,0) (cum_s·n_g exceeds a long
    * past ~3·10⁹ rows); the per-row quotient is ≤ n_g, back in long
    * range. The hazard board row is q_quantile_norm_raw.
    *
    * Output: one row per (stratum, v) — stratum, v, cnt, norm_v. */
  def quantileNormalize(df: DataFrame, strataCol: Column,
      scoreCol: Column): DataFrame = {
    val RB = graft.operators.Ranks.Buckets
    val rows = df.select(strataCol.as("stratum"), scoreCol.as("v"))
      .where(col("stratum").isNotNull && col("v").isNotNull)
      .localCheckpoint(false) // feeds both histograms
    val sHist0 = rows.groupBy("stratum", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds cumOver's three reads + sTot
    val sHist = graft.operators.Ranks.cumOver(sHist0, "v",
      Seq("stratum"), Seq("cnt" -> "cum_s"), checkpoint = false)
    val sTot = sHist0.groupBy("stratum").agg(sum("cnt").as("n_s"))
    val gHist0 = rows.groupBy("v").agg(count(lit(1)).as("gc"))
      .localCheckpoint(false)
    val gHist = graft.operators.Ranks.cumOver(gHist0, "v", Nil,
      Seq("gc" -> "cum_g"), checkpoint = false)
      .select(col("v").as("gv"), col("gc"), col("cum_g"))
    val gTot = rows.agg(count(lit(1)).as("n_g"))
    val ranked = sHist.join(sTot, "stratum")
      .crossJoin(broadcast(gTot))
      .withColumn("rg", expr(
        "CAST((CAST(cum_s AS DECIMAL(38,0)) * n_g + n_s - 1) DIV n_s" +
          " AS BIGINT)"))
      .withColumn("__rb", expr(
        s"CAST((CAST(rg - 1 AS DECIMAL(38,0)) * $RB) DIV n_g AS INT)"))
    // each global value's rank interval (prev, cum_g], exploded to the
    // grid cells it overlaps — a value spanning many ranks posts at
    // most Buckets rows, and Σ over values is ≤ distinct + Buckets
    val gBuck = gHist.crossJoin(broadcast(gTot))
      .withColumn("__prev", col("cum_g") - col("gc"))
      .withColumn("__rb", explode(expr(
        s"""sequence(
           |  CAST((CAST(__prev AS DECIMAL(38,0)) * $RB) DIV n_g AS INT),
           |  CAST((CAST(cum_g - 1 AS DECIMAL(38,0)) * $RB) DIV n_g AS INT))"""
          .stripMargin)))
      .select(col("__rb"), col("gv"), col("__prev"),
        col("cum_g").as("__cg"))
    ranked.join(gBuck, Seq("__rb"))
      .where(col("rg") > col("__prev") && col("rg") <= col("__cg"))
      .select(col("stratum"), col("v"), col("cnt"),
        col("gv").as("norm_v"))
  }

  /** Empirical-CDF (percentile-rank) transform — the calibration
    * PRIMITIVE under [[quantileNormalize]]: map every score to its
    * corpus percentile so thresholds read "keep the top 20 %" instead
    * of "keep score ≥ 0.7314" (which silently re-tightens every time
    * the scorer is retrained). Mid-rank (Hazen-type) percentile on
    * the 1e-6 integer grid:
    *
    *   pct_e6 = ⌊(2·cum − cnt)·5·10⁵ / n⌋
    *
    * — ties share one percentile, the transform is monotone by
    * construction, and everything is exact integer arithmetic
    * (doubled mid-rank 2·cum − cnt ≤ 2n; the product rides
    * decimal(38,0)).
    *
    * Plan: one map-side-combined histogram groupBy, the cumulative
    * through [[Ranks.cumOver]]'s distributed two-level prefix sum
    * (raw continuous scores — THE input for score calibration —
    * never funnel one task), one 1-row broadcast total. Output is the
    * VALUE-DOMAIN mapping table (v, cnt, pct_e6) — join it back by
    * value, or feed it to a monotone threshold directly; like
    * [[quantileNormalize]] the mapping grows with the distinct count,
    * which is the operator's contract. */
  def percentileRank(df: DataFrame, scoreCol: Column): DataFrame = {
    val rows = df.select(scoreCol.as("v")).where(col("v").isNotNull)
      .localCheckpoint(false) // feeds the histogram AND the total
    val hist = graft.operators.Ranks.cumOver(
      rows.groupBy("v").agg(count(lit(1)).as("cnt")),
      "v", Nil, Seq("cnt" -> "cum"))
    val tot = rows.agg(count(lit(1)).as("n"))
    hist.crossJoin(broadcast(tot))
      .select(col("v"), col("cnt"), expr(
        "CAST(((CAST(cum AS DECIMAL(38,0)) * 2 - cnt) * 500000)" +
          " DIV n AS BIGINT)").as("pct_e6"))
  }

  /** Curriculum / difficulty tiers: cut a scored corpus into `nTiers`
    * quantile bands — the binning step of curriculum schedules
    * ("train easy → hard") and difficulty-stratified data mixes. The
    * score is any non-negative integer difficulty (the board row uses
    * integer unigram log-loss micros, the CCNet perplexity proxy).
    *
    * Cuts come from the [[Sketch.hdrSketch]] quantile sketch, NOT an
    * exact sort: cut_i = the LOW edge of the ⌊i·1000/nTiers⌋‰ answer
    * bucket, so tier boundaries are within the sketch's 2^−b relative
    * band of the true quantiles — exactly the tolerance a curriculum
    * needs, at histogram cost (no corpus sort, no full shuffle:
    * ONE map-side-combined histogram pass + a broadcast ≤ nTiers-row
    * cut array folded per row). tier = #cuts ≤ score, 0-based
    * (0 = easiest band). Equal cut values (two quantiles in one
    * bucket) legitimately leave a tier empty.
    *
    * Output: the input row + `tier` (long). Fully integer arithmetic
    * — the oracle replays sketch, cuts, and every tier assignment. */
  def curriculumTiers(scored: DataFrame, scoreCol: String,
      nTiers: Int, subBits: Int = 5): DataFrame = {
    require(nTiers >= 2 && nTiers <= 1000,
      s"curriculumTiers: nTiers must be in [2,1000], got $nTiers")
    // one evaluation of the caller's scoring pipeline for both reads;
    // lazy: the sketch's histogram is its single consumer until the
    // broadcast cut row is built, and only then does the tier pass run
    val rows = scored.localCheckpoint(false)
    val sk = Sketch.hdrSketch(
      rows.select(col(scoreCol).as("x")), "x", subBits)
    val qMils = (1 until nTiers).map(i => (i * 1000) / nTiers)
    val cutRow = Sketch.hdrQuantiles(sk, subBits, qMils)
      .agg(expr(
        "transform(array_sort(collect_list(struct(q_mil, low))), s -> s.low)")
        .as("__cuts"))
    rows.crossJoin(broadcast(cutRow))
      .withColumn("tier", expr(
        s"""CAST(aggregate(__cuts, 0L,
           |  (acc, c) -> acc + CASE WHEN $scoreCol >= c
           |    THEN 1L ELSE 0L END) AS BIGINT)""".stripMargin))
      .drop("__cuts")
  }
}
