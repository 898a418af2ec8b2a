package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The log-linear quantile sketch ([[Sketch.hdrKey]] family): key
  * monotonicity, bucket containment, mergeability, and the rank-query
  * error bound — the invariants the q_hdr_* oracle rows replay. */
class HdrSketchSpec extends SparkSpec {

  private val b = 5 // subBits used by the board rows

  // edge cases around every power-of-two boundary + large values
  private def edgeValues: Seq[Long] = {
    val around = (0 to 40).flatMap { e =>
      val p = 1L << e
      Seq(p - 1, p, p + 1)
    }
    (Seq(0L, 1L, 2L, 3L) ++ around ++
      Seq((1L << 40) + 12345L, (1L << 52) + 999L, (1L << 61) + 7L))
      .distinct.filter(_ >= 0).sorted
  }

  test("hdrKey: monotone in x, and every x lies in its own bucket") {
    import spark.implicits._
    val df = edgeValues.toDF("x")
      .withColumn("key", Sketch.hdrKey(col("x"), b))
    val withBounds = df
      .withColumn("bd", Sketch.hdrBounds(col("key"), b))
      .select(col("x"), col("key"),
        col("bd.low").as("low"), col("bd.width").as("width"))
      .orderBy("x")
      .collect()
    // containment: low <= x <= low + width - 1
    withBounds.foreach { r =>
      val (x, low, width) =
        (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(low <= x && x <= low + width - 1,
        s"x=$x outside bucket [$low, ${low + width - 1}]")
      // relative bucket width bound: width <= max(1, x >> b)
      assert(width <= math.max(1L, x >> b) || x < (1L << b),
        s"x=$x width=$width violates 2^-b relative width")
    }
    // monotonicity: keys non-decreasing in x
    val keys = withBounds.map(_.getLong(1))
    assert(keys.zip(keys.tail).forall { case (a, c) => a <= c })
  }

  test("hdrKey: exact (width-1) buckets below 2^b and at decade starts") {
    import spark.implicits._
    val got = Seq(0L, 1L, 31L, 32L, 63L).toDF("x")
      .withColumn("key", Sketch.hdrKey(col("x"), b))
      .withColumn("bd", Sketch.hdrBounds(col("key"), b))
      .select(col("x"), col("key"), col("bd.low"), col("bd.width"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == ((0L, 0L, 1L)))
    assert(got(1L) == ((1L, 1L, 1L)))
    // negative input -> NULL key (never a silent top-bucket alias)
    assert(Seq(-5L).toDF("x")
      .select(Sketch.hdrKey(col("x"), b).as("k")).head.isNullAt(0))
    assert(got(31L) == ((31L, 31L, 1L)))
    // first log decade (e = b) still has width-1 buckets
    assert(got(32L) == ((32L, 32L, 1L)))
    assert(got(63L) == ((63L, 63L, 1L)))
  }

  test("hdrMerge: per-shard sketches add to the single-pass sketch") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.tabulate(5000)(i =>
      (i.toLong, math.abs(rnd.nextLong()) % (if (i % 7 == 0) 10L else 100000L)))
      .toDF("id", "x")
    val single = Sketch.hdrSketch(vals, "x", b)
    val merged = Sketch.hdrMerge(
      (0 until 4).map(sh =>
        Sketch.hdrSketch(vals.where(col("id") % 4 === sh), "x", b))
        .reduce(_ unionByName _))
    val diff = single.as("s").join(merged.as("m"), Seq("key"), "full_outer")
      .where(coalesce(col("s.cnt"), lit(-1L)) =!=
        coalesce(col("m.cnt"), lit(-2L)))
    assert(diff.count() == 0)
  }

  test("hdrQuantiles: true rank-r value lands in the answer bucket") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(3000)(math.abs(rnd.nextLong()) % 50000L) ++
      Seq.fill(100)(0L) // heavy mass at zero exercises the exact tier
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("id", "x")
    val qMils = Seq(10, 250, 500, 900, 990, 1000)
    val quants = Sketch
      .hdrQuantiles(Sketch.hdrSketch(df, "x", b), b, qMils)
      .collect().map(r => r.getAs[Long]("q_mil") ->
        (r.getAs[Long]("low"), r.getAs[Long]("width"))).toMap
    val sorted = xs.sorted
    val n = sorted.length
    qMils.foreach { q =>
      val r = math.max(1L, (n.toLong * q + 999) / 1000).toInt
      val exact = sorted(r - 1)
      val (low, width) = quants(q.toLong)
      assert(low <= exact && exact <= low + width - 1,
        s"q=$q exact=$exact not in [$low, ${low + width - 1}]")
      // midpoint relative error bound 2^-(b+1) (+1 for integer midpoint)
      val est = (2.0 * low + width - 1) / 2.0
      if (exact > 0)
        assert(math.abs(est - exact) / exact.toDouble <=
          math.pow(2.0, -(b + 1)) + 1.0 / exact,
          s"q=$q est=$est exact=$exact exceeds relative error bound")
    }
    // an empty sketch answers no quantile: zero rows, same columns
    val none = Sketch.hdrQuantiles(
      Sketch.hdrSketch(df.where(col("x") < 0), "x", b), b, qMils)
    assert(none.columns.toSeq ==
      Seq("q_mil", "key", "low", "width", "est_x2"))
    assert(none.count() == 0)
  }

  test("hdr artifact: write + append (no disjointness needed) serves rebuild") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hdr-idx").toString
    val all = Seq.tabulate(2000)(i => (i.toLong, (i * 37L) % 9999L))
      .toDF("id", "x")
    Sketch.hdrIndexWrite(all.where(col("id") < 1500), "x", b, dir)
    Sketch.hdrIndexAppend(all.where(col("id") >= 1500), "x", b, dir)
    val served = Sketch.hdrIndexRead(spark, dir)
    val rebuilt = Sketch.hdrSketch(all, "x", b)
    val diff = served.as("s").join(rebuilt.as("r"), Seq("key"), "full_outer")
      .where(coalesce(col("s.cnt"), lit(-1L)) =!=
        coalesce(col("r.cnt"), lit(-2L)))
    assert(diff.count() == 0)
    // additivity means re-appending rows is well-defined: counts add
    Sketch.hdrIndexAppend(all.where(col("id") < 100), "x", b, dir)
    val total = Sketch.hdrIndexRead(spark, dir).agg(sum("cnt")).head.getLong(0)
    assert(total == 2100L)
  }

  test("hdrSketchWeighted: bucket mass is summed weight; ranks use mass") {
    import spark.implicits._
    // values 100 (w=1) and 4096 (w=99): 99% of the mass sits at 4096,
    // so even the p50 answers 4096's bucket; zero-weight rows vanish
    val df = Seq((100L, 1L), (4096L, 99L), (7L, 0L)).toDF("x", "w")
    val sk = Sketch.hdrSketchWeighted(df, "x", "w", b)
    assert(sk.agg(sum("cnt")).head.getLong(0) == 100L)
    assert(sk.count() == 2)
    val p50 = Sketch.hdrQuantiles(sk, b, Seq(500))
      .select("low", "width").head
    val (low, width) = (p50.getLong(0), p50.getLong(1))
    assert(low <= 4096L && 4096L <= low + width - 1)
  }

  test("hdrQuantilesBy: per-stratum answers equal per-stratum global runs") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = Seq.tabulate(4000) { i =>
      val g = s"g${i % 3}"
      (g, math.abs(rnd.nextLong()) % (if (g == "g0") 500L else 70000L))
    }.toDF("g", "x")
    val got = Sketch.hdrQuantilesBy(
        Sketch.hdrSketchBy(df, col("g"), "x", b), b, Seq(500, 990))
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("q_mil")) ->
        r.getAs[Long]("key")).toMap
    (0 until 3).foreach { gi =>
      val g = s"g$gi"
      val solo = Sketch.hdrQuantiles(
          Sketch.hdrSketch(df.where(col("g") === g), "x", b), b,
          Seq(500, 990))
        .collect().map(r => r.getAs[Long]("q_mil") ->
          r.getAs[Long]("key")).toMap
      assert(got((g, 500L)) == solo(500L) && got((g, 990L)) == solo(990L))
    }
  }

  test("hdrDrift: identical sketches score 0; disjoint ranges max KS out") {
    import spark.implicits._
    val a = Sketch.hdrSketch(
      Seq.tabulate(500)(i => (i * 13L) % 3000L).toDF("x"), "x", b)
    val zero = Sketch.hdrDrift(a, a).head
    assert(zero.getAs[Long]("psi_e12") == 0L &&
      zero.getAs[Long]("ks_mil") == 0L)
    // disjoint supports: every cum step disagrees maximally -> KS 1000
    val lowS = Sketch.hdrSketch(
      Seq.tabulate(200)(i => i.toLong % 100L).toDF("x"), "x", b)
    val highS = Sketch.hdrSketch(
      Seq.tabulate(200)(i => 1000000L + i * 7L).toDF("x"), "x", b)
    val far = Sketch.hdrDrift(lowS, highS).head
    assert(far.getAs[Long]("ks_mil") == 1000L)
    assert(far.getAs[Long]("psi_e12") > zero.getAs[Long]("psi_e12"))
    // one empty side: PSI stays finite (add-1 smoothing) and KS is
    // NULL, not a divide-by-zero; two empty sides read zero rows
    val empty = lowS.where(col("cnt") < 0)
    val oneSided = Sketch.hdrDrift(a, empty).collect()
    assert(oneSided.length == 1, oneSided.toSeq)
    assert(oneSided.head.getAs[Long]("n_buckets") == a.count() &&
      !oneSided.head.isNullAt(1) && oneSided.head.isNullAt(2),
      oneSided.head.toString)
    assert(Sketch.hdrDrift(empty, a).head.isNullAt(2))
    val none = Sketch.hdrDrift(empty, empty)
    assert(none.columns.toSeq == Seq("n_buckets", "psi_e12", "ks_mil"))
    assert(none.count() == 0)
  }

  test("exactQuantiles: ceil-rank order statistics, exact; By ≡ single per stratum") {
    import spark.implicits._
    // 1..100: p50 -> rank 50 -> value 50; p99 -> rank 99; p0 -> rank 1
    val df = (1L to 100L).toDF("x")
    val q = Sketch.exactQuantiles(df, "x", Seq(0, 500, 990, 1000))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q == Map(0L -> 1L, 500L -> 50L, 990L -> 99L, 1000L -> 100L), q.toString)
    // ties: the least value REACHING the rank
    val tied = Seq(1L, 2L, 2L, 2L, 9L).toDF("x")
    val qt = Sketch.exactQuantiles(tied, "x", Seq(500)).head.getLong(1)
    assert(qt == 2L) // rank ceil(2.5)=3, cum(2)=4 >= 3
    // stratified ≡ per-stratum single runs
    val rnd = new scala.util.Random(29)
    val rows = (for { st <- Seq("a", "b"); _ <- 0 until 300 }
      yield (st, rnd.nextInt(1000).toLong)).toDF("s", "x")
    val by = Sketch.exactQuantilesBy(rows, col("s"), "x", Seq(500, 990))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    for (st <- Seq("a", "b")) {
      val single = Sketch.exactQuantiles(
        rows.where(col("s") === st), "x", Seq(500, 990))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(by((st, 500L)) == single(500L) &&
        by((st, 990L)) == single(990L), s"$st: $by vs $single")
    }
  }

  test("interpQuantilesBy: bit-equal to the built-in percentile() per group (VERDICT r16 #1)") {
    import spark.implicits._
    // random doubles with heavy ties + uneven strata sizes (odd/even n
    // exercises both the integral-p early return and the interpolated
    // branch), plus NULL values (ignored) and a NULL stratum (its own
    // group, exactly as groupBy treats it)
    val rnd = new scala.util.Random(17)
    val rows = (for {
      (st, n) <- Seq(("a", 501), ("b", 640), ("c", 1), (null, 37))
      i <- 0 until n
    } yield (st, if (i % 53 == 7) null
      else java.lang.Double.valueOf(rnd.nextInt(200) + rnd.nextDouble())))
      .toDF("s", "x")
      .union(Seq(("a", null.asInstanceOf[java.lang.Double])).toDF("s", "x"))
    val qMils = Seq(0, 250, 500, 900, 990, 1000)
    val got = Sketch.interpQuantilesBy(rows, col("s"), "x", qMils)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val aggs = qMils.map(q => expr(s"percentile(x, ${q / 1000.0})")
      .as(s"q$q"))
    val exp = rows.groupBy("s").agg(aggs.head, aggs.tail: _*)
      .collect().flatMap { r =>
        qMils.zipWithIndex.map { case (q, i) =>
          (r.getString(0), q.toLong) -> r.getDouble(i + 1) }
      }.toMap
    assert(got.keySet == exp.keySet, s"${got.keySet} vs ${exp.keySet}")
    // BIT equality — the IEEE chain is replayed, not approximated
    for (k <- exp.keySet)
      assert(java.lang.Double.doubleToLongBits(got(k)) ==
        java.lang.Double.doubleToLongBits(exp(k)),
        s"$k: ${got(k)} != ${exp(k)}")
  }

  test("exactQuantilesWeighted: mass ranks; negative/fractional weights RAISE, null/zero drop (ADVICE r12)") {
    import spark.implicits._
    // mass: v=1 w=1, v=2 w=3 -> W=4; p500 rank ceil(2)=2 -> v=2
    val df = Seq((1L, 1L), (2L, 3L)).toDF("x", "w")
    val q = Sketch.exactQuantilesWeighted(df, "x", "w", Seq(250, 500))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q == Map(250L -> 1L, 500L -> 2L), q.toString)
    // null + zero weights carry no mass (documented drop)
    val withNull = Seq((1L, Some(0L)), (2L, None), (3L, Some(2L)))
      .toDF("x", "w")
    val qn = Sketch.exactQuantilesWeighted(withNull, "x", "w", Seq(500))
      .head.getLong(1)
    assert(qn == 3L)
    // contract violations raise with the offending value, instead of
    // the old silent drop (negative) / truncate (fractional)
    def fullMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val neg = Seq((1L, 5L), (2L, -3L)).toDF("x", "w")
    val e1 = intercept[Exception] {
      Sketch.exactQuantilesWeighted(neg, "x", "w", Seq(500)).collect()
    }
    assert(fullMsg(e1).contains("non-negative integers") &&
      fullMsg(e1).contains("-3"), fullMsg(e1))
    val frac = Seq((1L, 1.0), (2L, 2.5)).toDF("x", "w")
    val e2 = intercept[Exception] {
      Sketch.exactQuantilesWeighted(frac, "x", "w", Seq(500)).collect()
    }
    assert(fullMsg(e2).contains("non-negative integers") &&
      fullMsg(e2).contains("2.5"), fullMsg(e2))
    // integral doubles are fine (they carry exact integer mass)
    val okd = Seq((1L, 1.0), (2L, 3.0)).toDF("x", "w")
    assert(Sketch.exactQuantilesWeighted(okd, "x", "w", Seq(500))
      .head.getLong(1) == 2L)
    // stratified mass ranks ≡ single per stratum (+ same contract)
    val rnd2 = new scala.util.Random(17)
    val srows = (for { st <- Seq("a", "b"); _ <- 0 until 150 }
      yield (st, rnd2.nextInt(400).toLong, 1L + rnd2.nextInt(9).toLong))
      .toDF("s", "x", "w")
    val wby = Sketch.exactQuantilesWeightedBy(srows, col("s"), "x", "w",
      Seq(500, 900)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (st <- Seq("a", "b")) {
      val single = Sketch.exactQuantilesWeighted(
        srows.where(col("s") === st), "x", "w", Seq(500, 900))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(wby((st, 500L)) == single(500L) &&
        wby((st, 900L)) == single(900L), s"$st: $wby vs $single")
    }
    val eby = intercept[Exception] {
      Sketch.exactQuantilesWeightedBy(
        Seq(("a", 1L, -2L)).toDF("s", "x", "w"), col("s"), "x", "w",
        Seq(500)).collect()
    }
    assert(fullMsg(eby).contains("non-negative integers"), fullMsg(eby))
  }

  test("exactMad: hand case, brute replay on random doubles, outlier robustness") {
    import spark.implicits._
    // 1..9: median 5, |x-5| = {4,3,2,1,0,1,2,3,4} -> MAD median = 2
    val got = Sketch.exactMad((1 to 9).map(_.toDouble).toDF("x"), "x")
      .head
    assert(got.getLong(0) == 9L && got.getDouble(1) == 5.0 &&
      got.getDouble(2) == 2.0, got.toString)
    // brute replay: type-1 ceil-rank medians on random doubles
    val rnd = new scala.util.Random(31)
    val vs = Seq.fill(201)(rnd.nextDouble() * 100 - 50)
    def q500(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(math.max(1, (xs.length * 500 + 999) / 1000) - 1)
    }
    val med = q500(vs)
    val wantMad = q500(vs.map(v => math.abs(v - med)))
    val g2 = Sketch.exactMad(vs.toDF("x"), "x").head
    assert(g2.getDouble(1) == med && g2.getDouble(2) == wantMad,
      s"$g2 vs ($med, $wantMad)")
    // robustness: one 1e12 outlier moves the MEAN wildly, the
    // median/MAD pair barely (the point of the robust gate)
    val g3 = Sketch.exactMad((vs :+ 1e12).toDF("x"), "x").head
    assert(math.abs(g3.getDouble(1) - med) < 1.0 &&
      g3.getDouble(2) < 60.0, g3.toString)
    // stratified ≡ single per stratum
    val strat = vs.zipWithIndex.map { case (v, i) =>
      (if (i % 2 == 0) "a" else "b", v) }.toDF("s", "x")
    val by = Sketch.exactMadBy(strat, col("s"), "x").collect()
      .map(r => r.getString(0) -> r).toMap
    for (st <- Seq("a", "b")) {
      val single = Sketch.exactMad(
        strat.where(col("s") === st), "x").head
      assert(by(st).getLong(1) == single.getLong(0) &&
        by(st).getDouble(2) == single.getDouble(1) &&
        by(st).getDouble(3) == single.getDouble(2),
        s"$st: ${by(st)} vs $single")
    }
  }

  test("madOutliers: injected spikes flag, clean strata report empty; the spikes cannot drag the gate") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // stratum a: tight cluster + 3 unmistakable spikes; stratum b: clean
    val base = Seq.tabulate(120)(i =>
      ("a", 100L + i, 10.0 + rnd.nextDouble() * 0.1))
    val spikes = Seq(("a", 7L, 500.0), ("a", 3L, -400.0), ("a", 9L, 99.0))
    val clean = Seq.tabulate(50)(i =>
      ("b", 200L + i, 5.0 + rnd.nextDouble() * 0.1))
    val df = (base ++ spikes ++ clean).toDF("s", "id", "x")
    val got = Sketch.madOutliers(df, col("s"), "x", "id", k = 3.0,
        sampleK = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getString(5))).toMap
    assert(got("a")._1 == 123L && got("a")._2 == 3L &&
      got("a")._3 == "3,7", got("a").toString)
    assert(got("b") == ((50L, 0L, "")), got("b").toString)
    // robustness receipt: a mean/σ gate on stratum a would inflate σ
    // past ~50 and keep the 99.0 spike; the MAD gate flags all three
    // because the median/MAD pair ignores them
    val stats = Sketch.exactMadBy(df.where(col("s") === "a"),
      col("s"), "x").head
    assert(stats.getDouble(2) < 10.2 && stats.getDouble(3) < 0.1,
      stats.toString)
    // sampleK caps the roster but not the count
    val full = Sketch.madOutliers(df, col("s"), "x", "id", k = 3.0,
        sampleK = 5)
      .where(col("stratum") === "a").head
    assert(full.getLong(4) == 3L && full.getString(5) == "3,7,9",
      full.toString)
    // non-numeric id fails fast
    val e = intercept[IllegalArgumentException] {
      Sketch.madOutliers(df.withColumn("sid",
        col("id").cast("string")), col("s"), "x", "sid")
    }
    assert(e.getMessage.contains("NUMERIC"), e.getMessage)
  }

  test("hdrDriftBy: per-stratum ≡ hdrDrift of the filtered sketches; one-sided stratum reports ks NULL") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (for {
      st <- Seq("en", "zh"); i <- 0 until 400
    } yield (st, (rnd.nextInt(500) + 1).toLong)).toDF("s", "x")
    def skBy(df: org.apache.spark.sql.DataFrame) =
      Sketch.hdrSketchBy(df, col("s"), "x", b)
    val p = rows
    val q = rows.select(col("s"),
      when(col("s") === "zh", col("x") * 4).otherwise(col("x")).as("x"))
    val by = Sketch.hdrDriftBy(skBy(p), skBy(q)).collect()
      .map(r => r.getString(0) -> r).toMap
    for (st <- Seq("en", "zh")) {
      val single = Sketch.hdrDrift(
        Sketch.hdrSketch(p.where(col("s") === st).select("x"), "x", b),
        Sketch.hdrSketch(q.where(col("s") === st).select("x"), "x", b))
        .head
      val g = by(st)
      assert(g.getLong(1) == single.getLong(0), s"$st n_buckets")
      assert(g.getLong(2) == single.getLong(1), s"$st psi")
      assert(g.getLong(3) == single.getLong(2), s"$st ks")
    }
    assert(by("zh").getLong(3) > by("en").getLong(3),
      "shifted stratum must out-drift the stable one")
    // a stratum present on ONE side only: psi finite, ks NULL (the
    // exact-integer KS would divide by zero against an empty side)
    val qPlus = skBy(q.unionByName(
      Seq(("new", 42L), ("new", 99L)).toDF("s", "x")))
    val oneSided = Sketch.hdrDriftBy(skBy(p), qPlus).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(oneSided("new").isNullAt(3) && !oneSided("new").isNullAt(2))
    assert(oneSided("en").getLong(3) == by("en").getLong(3))
  }

  test("winsorize: clamps both tails to sketch cuts, idempotent") {
    import spark.implicits._
    val df = ((1 to 98).map(i => (i.toLong, 1000L + i)) ++
      Seq((99L, 5L), (100L, 9999999L))).toDF("id", "v")
    val clipped = Sketch.winsorize(df, "v", 50, 990, b)
    val got = clipped.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the low outlier rises, the high outlier drops, mids untouched
    assert(got(99L) > 5L && got(100L) < 9999999L)
    assert(got(50L) == 1050L)
    // idempotent: clipping the clipped column changes nothing
    val twice = Sketch.winsorize(
      clipped.select(col("id"), col("v_clip").as("v")), "v", 50, 990, b)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val once = clipped.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(twice == once)
  }

  test("hdrSketch: bucket count stays bounded regardless of input size") {
    import spark.implicits._
    val wide = Seq.tabulate(20000)(i => ((i.toLong * 2654435761L) &
      Long.MaxValue) % (1L << 45)).toDF("x")
    val nBuckets = Sketch.hdrSketch(wide, "x", b).count()
    assert(nBuckets <= (64 - b).toLong * (1L << b) + (1L << b),
      s"bucket count $nBuckets exceeds the design bound")
  }
}
