package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral specs for the dedup family on crafted fixtures: known
  * duplicates must surface, known-distinct docs must not. */
class DedupSpec extends SparkSpec {

  private val base = "the quick brown fox jumps over the lazy dog " * 8

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, base + "alpha beta gamma delta epsilon zeta"),
      (2L, base + "alpha beta gamma delta epsilon eta"), // near-dup of 1
      (3L, base + "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (4L, "completely different words entirely unrelated to anything " +
        "else here painting sculpture architecture music dance poetry " +
        "theatre cinema literature philosophy history geography"),
      (5L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
        "do eiusmod tempor incididunt ut labore et dolore magna aliqua"))
      .toDF("doc_id", "text")
  }

  test("exactGroups groups identical fingerprints, min id survives") {
    val fp = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("k"))
    val groups = Dedup.exactGroups(fp, col("k"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_dups")))
      .toSet
    assert(groups.contains((1L, 2L))) // docs 1 and 3 collapse, keep 1
    assert(groups.count(_._2 == 1L) == 3) // 2, 4, 5 unique
  }

  test("jaccardPairs finds the near-dup pair and the exact pair only") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((1L, 2L)) &&
      pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshPairs recalls the same pairs as exact jaccard here") {
    val exact = Dedup.jaccardPairs(docs, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  /** Every MinHash-LSH entry point rejects (numHashes, bands) at
    * construction, naming itself and both values. */
  private def assertBandingRejected(numHashes: Int, bands: Int): Unit = {
    import spark.implicits._
    val sigs = Dedup.minHashSignatures(Dedup.shingles(docs))
    val calls: Seq[(String, () => Any)] = Seq(
      "lshCandidates" -> (() =>
        Dedup.lshCandidates(sigs, numHashes = numHashes, bands = bands)),
      "minhashLshPairs" -> (() =>
        Dedup.minhashLshPairs(docs, numHashes = numHashes, bands = bands)),
      "minhashLshPairsIncremental" -> (() =>
        Dedup.minhashLshPairsIncremental(docs.where($"doc_id" % 2 === 0),
          docs.where($"doc_id" % 2 === 1), numHashes = numHashes,
          bands = bands)))
    for ((op, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(op) &&
        e.getMessage.contains(s"numHashes = $numHashes") &&
        e.getMessage.contains(s"bands = $bands"), e.getMessage)
    }
  }

  test("minHashSignatures rejects numHashes = 0 (was: empty.head)") {
    val e = intercept[IllegalArgumentException](
      Dedup.minHashSignatures(Dedup.shingles(docs), numHashes = 0))
    assert(e.getMessage.contains("numHashes >= 1"), e.getMessage)
    assertBandingRejected(0, 4)
  }

  test("bands > numHashes is rejected (was: every doc on one empty band)") {
    assertBandingRejected(16, 32)
  }

  test("numHashes % bands != 0 is rejected (was: trailing components dropped)") {
    assertBandingRejected(16, 5)
    // an even split other than the default still bands
    val exact = Dedup.jaccardPairs(docs, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val eight = Dedup.minhashLshPairs(docs, bands = 8, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(eight == exact)
  }

  test("bands = 0 is rejected (was: divide by zero)") {
    assertBandingRejected(16, 0)
  }

  test("jaccardJoin ≡ brute jaccardPairs on the fixture (full rows)") {
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("id_a", "id_b", "n_common", "n_a", "n_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(rows(Dedup.jaccardJoin(docs, threshold = 0.8)) ==
      rows(Dedup.jaccardPairs(docs, threshold = 0.8)))
  }

  test("jaccardJoin ≡ brute on random corpora at several thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'z').map(_.toString)
    // small vocab + shared stems -> plenty of partial overlap
    val corpus = (0L until 60L).map { i =>
      val stem = Seq.fill(10)(vocab(rnd.nextInt(8)))
      val tail = Seq.fill(rnd.nextInt(8) + 3)(vocab(rnd.nextInt(26)))
      (i, (stem ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.8, 0.95)) {
      def rows(f: org.apache.spark.sql.DataFrame) =
        f.select("id_a", "id_b", "n_common").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows(Dedup.jaccardJoin(corpus, threshold = tau)) ==
        rows(Dedup.jaccardPairs(corpus, threshold = tau)),
        s"diverged at tau=$tau")
    }
  }

  test("jaccardJoin keeps the exact-boundary pair (rational prefix math)") {
    import spark.implicits._
    // token sets (w=1): |A|=|B|=9, overlap 8 -> J = 8/10 = 0.8 exactly
    val a = (1 to 9).map(i => s"t$i").mkString(" ")
    val b = ((1 to 8).map(i => s"t$i") :+ "other").mkString(" ")
    val two = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val at08 = Dedup.jaccardJoin(two, w = 1, threshold = 0.8).collect()
    assert(at08.length == 1 && at08.head.getAs[Long]("n_common") == 8L)
    assert(Dedup.jaccardJoin(two, w = 1, threshold = 0.801).isEmpty)
  }

  test("jaccardJoin: non-3-decimal threshold floors, never drops a pair") {
    import spark.implicits._
    // τ = 0.8006 is NOT a 3-decimal multiple: rounding tn up to 801
    // would make the length filter (1000·min ≥ tn·max) stricter than τ
    // and drop this pair (ADVICE r9) — tn must floor to 800. B ⊂ A with
    // |A| = 5000 shingles, |B| = 4003 → J = 4003/5000 = 0.8006 = τ
    // exactly (both sides land on the same IEEE double).
    val toks = (0 until 5002).map(i => f"t$i%05d")
    val docs = Seq((1L, toks.mkString(" ")),
      (2L, toks.take(4005).mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(docs, threshold = 0.8006).collect()
    assert(got.length == 1, s"boundary pair dropped: ${got.toSeq}")
    val r = got.head
    assert(r.getAs[Long]("n_common") == 4003L &&
      r.getAs[Long]("n_a") == 5000L && r.getAs[Long]("n_b") == 4003L, r)
    // the exact verify still applies the TRUE threshold: nothing below
    // τ sneaks in through the floored candidate filters
    assert(Dedup.jaccardJoin(docs, threshold = 0.8007).isEmpty)
  }

  test("containmentJoin: quoted-paragraph case, directedness, brute equality") {
    import spark.implicits._
    // doc 1 = a short paragraph; doc 2 = the same paragraph inside a
    // much longer page. C(1→2) ≈ 1 but Jaccard is tiny — the
    // asymmetric relation must fire where the symmetric one cannot.
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val page = ((1 to 12).map(i => s"p$i") ++
      (1 to 80).map(i => s"x$i")).mkString(" ")
    val two = Seq((1L, para), (2L, page)).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(two, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("containment")))
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((1L, 2L)),
      got.toSeq.toString) // directed: only small-into-large
    assert(got.head._3 == 1.0, got.head.toString)
    assert(Dedup.jaccardJoin(two, threshold = 0.8).isEmpty)
  }

  test("containmentJoin ≡ directed brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'z').map(_.toString)
    val corpus = (0L until 50L).map { i =>
      val stem = Seq.fill(8)(vocab(rnd.nextInt(6)))
      val tail = Seq.fill(rnd.nextInt(10) + 3)(vocab(rnd.nextInt(26)))
      (i, (stem ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    def shingleSets(df: org.apache.spark.sql.DataFrame) =
      Dedup.shingles(df).collect()
        .map(r => r.getLong(0) -> r.getString(1))
        .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    for (tau <- Seq(0.6, 0.8, 0.95)) {
      val sets = shingleSets(corpus)
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b
        common = (sa & sb).size
        if common.toDouble / sa.size >= tau
      } yield (a, b, common.toLong)).toSet
      val got = Dedup.containmentJoin(corpus, threshold = tau)
        .select("id_a", "id_b", "n_common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"tau=$tau: missing=${want -- got} " +
        s"extra=${got -- want}")
    }
  }

  test("containmentJoinIndexed: served from the jaccard artifact, pair-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = ('a' to 'z').map(_.toString)
    val corpus = (0L until 40L).map { i =>
      val stem = Seq.fill(7)(vocab(rnd.nextInt(6)))
      val tail = Seq.fill(rnd.nextInt(8) + 3)(vocab(rnd.nextInt(26)))
      (i, (stem ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("cont_idx").toString + "/idx"
    Dedup.jaccardIndexWrite(corpus, dir)
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("id_a", "id_b", "n_common", "n_a", "n_b").collect()
        .map(_.toString).sorted.toList
    assert(rows(Dedup.containmentJoinIndexed(spark, dir,
        threshold = 0.7)) ==
      rows(Dedup.containmentJoin(corpus, threshold = 0.7)))
  }

  test("decontaminate: verbatim n-gram collisions flag; clean/short docs behave; minCollisions raises the bar") {
    import spark.implicits._
    val gram = "a b c d e f g h" // exactly 8 tokens
    val bench = Seq((100L, s"$gram tail1 tail2")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"prefix0 $gram suffix0"),       // contains the 8-gram -> hit
      (2L, "q r s t u v w x y z aa bb"),    // unrelated -> clean
      (3L, s"$gram tail1 tail2"),           // exact benchmark copy -> hit
      (4L, "too short to gram"),            // <8 tokens -> absent
      (5L, s"$gram h g f e d c b a")        // shares the one 8-gram
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(!got.contains(4L), "sub-w docs emit nothing")
    assert(got(2L)._2 == 0L && got(2L)._3 == 0L)
    assert(got(1L)._3 == 1L && got(3L)._3 == 1L && got(5L)._3 == 1L)
    // the exact copy collides on EVERY gram of the benchmark doc
    assert(got(3L)._1 == got(3L)._2, got(3L).toString)
    // raising minCollisions past doc 5's single shared gram clears it
    val strict = Dedup.decontaminate(corpus, bench, minCollisions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(strict(5L) == 0L && strict(3L) == 1L && strict(1L) == 0L)
    // the per-row gram ARRAY agrees with the exploded shingles form
    // (same tokenization — the streaming gate rides it)
    val arr = corpus.select(col("doc_id"),
        Dedup.gramArray(col("text"), 8).as("g"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).toSet).toMap
    val shed = Dedup.shingles(corpus, w = 8).collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    assert(arr(4L).isEmpty && !shed.contains(4L))
    assert(arr.filter(_._2.nonEmpty) == shed, s"$arr vs $shed")
    // artifact-served ≡ inline, row for row
    val idx = java.nio.file.Files
      .createTempDirectory("dec_idx").toString + "/grams"
    Dedup.decontaminationIndexWrite(bench, idx)
    assert(Dedup.decontaminateIndexed(corpus, idx).collect()
      .map(_.toString).sorted.toSeq ==
      Dedup.decontaminate(corpus, bench).collect()
        .map(_.toString).sorted.toSeq)
    // w mismatch fails LOUD at construction (ADVICE r13: the w=8
    // artifact probed at w=4 would miss every gram and silently pass
    // every doc — the inverse of the no-false-negative contract);
    // same guard on both stream gates, which share the reader
    val mm = intercept[IllegalArgumentException] {
      Dedup.decontaminateIndexed(corpus, idx, w = 4)
    }
    assert(mm.getMessage.contains("built with w = 8") &&
      mm.getMessage.contains("w = 4"), mm.getMessage)
    val gateMm = intercept[IllegalArgumentException] {
      graft.streaming.ScdStream.decontaminateNearStreamGate(
        corpus, idx, w = 4)
    }
    assert(gateMm.getMessage.contains("decontaminateNearStreamGate"),
      gateMm.getMessage)
    // a pre-r14 artifact (no w column) still reads, unvalidated
    val old = java.nio.file.Files
      .createTempDirectory("dec_old").toString + "/grams"
    Dedup.shingles(bench, w = 8).select(col("shingle")).distinct()
      .write.parquet(old)
    assert(Dedup.decontaminateIndexed(corpus, old).collect()
      .map(_.toString).sorted.toSeq ==
      Dedup.decontaminate(corpus, bench).collect()
        .map(_.toString).sorted.toSeq)
  }

  test("decontaminateNear: fuzzy scrub flags paraphrase-level overlap the verbatim rule misses; self-pairs kept; brute replay") {
    import spark.implicits._
    // benchmark item: 12 tokens -> 10 3-gram shingles
    val benchText = "the quick brown fox jumps over the lazy dog every single day"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      // bench quoted whole inside a much longer page: C = 1
      (1L, s"page header junk $benchText plus lots of trailing filler words here"),
      // light mangle: one token swapped mid-way -> most 3-grams survive
      (2L, "the quick brown fox leaps over the lazy dog every single day"),
      // unrelated
      (3L, "completely different text with no shared trigrams at all indeed"),
      // the benchmark doc itself (same id as bench row 100 is absent
      // from the corpus; this one shares ALL grams under its own id)
      (4L, benchText),
      (5L, "ab")) // < w tokens -> absent
      .toDF("doc_id", "text")
    val got = Dedup.decontaminateNear(corpus, bench, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(!got.contains(5L), "sub-w docs emit nothing")
    assert(got(1L)._3 == 1L && got(1L)._2 == 1.0, got(1L).toString)
    assert(got(4L)._3 == 1L && got(4L)._2 == 1.0, got(4L).toString)
    assert(got(2L)._3 == 1L && got(2L)._2 < 1.0, got(2L).toString)
    assert(got(3L)._3 == 0L && got(3L)._2 == 0.0, got(3L).toString)
    // tight threshold keeps only whole-quote/verbatim
    val tight = Dedup.decontaminateNear(corpus, bench, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(tight(1L) == 1L && tight(4L) == 1L && tight(2L) == 0L)
    // brute replay: per-doc containment == |bench grams ∩ doc grams| / |bench grams|
    def grams(s: String, w: Int = 3): Set[String] = {
      val t = s.toLowerCase.split(" ")
      if (t.length < w) Set.empty
      else (0 to t.length - w).map(i => t.slice(i, i + w).mkString(" ")).toSet
    }
    val bg = grams(benchText)
    for ((docId, text) <- Seq((1L, s"page header junk $benchText plus lots of trailing filler words here"),
        (2L, "the quick brown fox leaps over the lazy dog every single day"))) {
      val want = bg.intersect(grams(text)).size.toDouble / bg.size
      val wantHit = if (want >= 0.5) math.rint(want * 1e6) / 1e6 else 0.0
      assert(got(docId)._2 == wantHit, s"doc $docId: ${got(docId)} vs $want")
    }
    // self-id collision across sides: a corpus doc sharing the BENCH id
    val corpusSameId = Seq((100L, benchText)).toDF("doc_id", "text")
    val self = Dedup.decontaminateNear(corpusSameId, bench, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(self(100L) == 1L, "self-pair must flag")
    // artifact-served ≡ inline, row for row (the third join flavor
    // off one persisted jaccard build)
    val idx = java.nio.file.Files
      .createTempDirectory("decn_idx").toString + "/jac"
    Dedup.jaccardIndexWrite(corpus, idx)
    assert(Dedup.decontaminateNearIndexed(bench, idx, threshold = 0.5)
      .collect().map(_.toString).sorted.toSeq ==
      Dedup.decontaminateNear(corpus, bench, threshold = 0.5)
        .collect().map(_.toString).sorted.toSeq)
  }

  test("containmentJoinIncremental ≡ inline minus the corpus-vs-corpus quadrant (directed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val vocab = ('a' to 'z').map(_.toString)
    // mixed sizes so both directions cross the batch boundary: short
    // stems quoted inside longer docs in both parities
    val planted = Seq(
      // odd short quoted inside even long (id_a odd -> id_b even)
      (101L, "qa qb qc qd qe qf qg"),
      (100L, "qa qb qc qd qe qf qg rx ry rz rw rv"),
      // even short quoted inside odd long (id_a even -> id_b odd)
      (102L, "za zb zc zd ze zf zg"),
      (103L, "za zb zc zd ze zf zg sx sy sz sw sv"))
    val corpus = ((0L until 50L).map { i =>
      val stem = Seq.fill(6)(vocab(rnd.nextInt(5)))
      val tail = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(26)))
      (i, (stem ++ tail).mkString(" "))
    } ++ planted).toDF("doc_id", "text").localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("cont_inc").toString + "/idx"
    Dedup.jaccardIndexWrite(corpus.where(col("doc_id") % 2 === 0), dir)
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("id_a", "id_b", "n_common", "n_a", "n_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    for (tau <- Seq(0.6, 0.8)) {
      val inc = rows(Dedup.containmentJoinIncremental(
        corpus.where(col("doc_id") % 2 === 1), dir, threshold = tau))
      val want = rows(Dedup.containmentJoin(corpus, threshold = tau))
        .filterNot(p => p._1 % 2 == 0 && p._2 % 2 == 0)
      assert(inc == want, s"tau=$tau: missing=${want -- inc} " +
        s"extra=${inc -- want}")
      // both directions across the boundary must actually occur for
      // the fixture to prove anything
      if (tau == 0.6) {
        assert(want.exists(p => p._1 % 2 == 1 && p._2 % 2 == 0))
        assert(want.exists(p => p._1 % 2 == 0 && p._2 % 2 == 1))
      }
    }
  }

  test("small-batch incremental (bloom-pruned dict regime) ≡ inline minus corpus-vs-corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = ('a' to 'z').map(_.toString)
    // a corpus big enough that a ≤1/8 batch takes batchPrunedDict's
    // bloom path (the half-corpus sibling test above takes the
    // gated-off path) — the batch mixes quoted corpus content with
    // entirely NEW vocabulary, so the pruned dict must serve both the
    // seen lookups and the unseen-id assignment exactly
    val corpus = ((0L until 60L).map { i =>
      val stem = Seq.fill(6)(vocab(rnd.nextInt(5)))
      val tail = Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(26)))
      (i, (stem ++ tail).mkString(" "))
    } :+ ((60L, "kq kw ke kr kt ky ku ki ko kp kz kx"))) // quoted below
      .toDF("doc_id", "text").localCheckpoint()
    val batch = Seq(
      (200L, "kq kw ke kr kt ky ku ki ko kp"), // contained in doc 60
      (201L, "nv1 nv2 nv3 nv4 nv5 nv6 nv7"),   // all-new vocabulary
      (202L, "nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8 nv9"), // contains 201
      (203L, "mixed kq kw ke nv1 nv2 nv3 words here"))
      .toDF("doc_id", "text").localCheckpoint()
    assert(batch.count() * 8 <= corpus.count(), "fixture must gate ON")
    val dir = java.nio.file.Files
      .createTempDirectory("cont_small").toString + "/idx"
    Dedup.jaccardIndexWrite(corpus, dir)
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("id_a", "id_b", "n_common", "n_a", "n_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    for (tau <- Seq(0.6, 0.8)) {
      val inc = rows(Dedup.containmentJoinIncremental(batch, dir,
        threshold = tau))
      val want = rows(Dedup.containmentJoin(
          corpus.unionByName(batch), threshold = tau))
        .filterNot(p => p._1 < 200 && p._2 < 200)
      assert(inc == want, s"tau=$tau: missing=${want -- inc} " +
        s"extra=${inc -- want}")
    }
    // the fixture exercises batch→corpus (200 in 60), batch→batch on
    // UNSEEN vocabulary (201 in 202) — both must surface at 0.6
    val got = rows(Dedup.containmentJoinIncremental(batch, dir,
      threshold = 0.6))
    assert(got.exists(p => p._1 == 200L && p._2 == 60L), got.toString)
    assert(got.exists(p => p._1 == 201L && p._2 == 202L), got.toString)
  }

  test("jaccard index: indexed ≡ inline, incremental ≡ brute batch pairs, append ≡ rebuild") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = ('a' to 'z').map(_.toString)
    val corpus = (0L until 40L).map { i =>
      val stem = Seq.fill(10)(vocab(rnd.nextInt(8)))
      val tail = Seq.fill(rnd.nextInt(8) + 3)(vocab(rnd.nextInt(26)))
      (i, (stem ++ tail).mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("jidx").toString
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("id_a", "id_b", "n_common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val even = corpus.where(col("doc_id") % 2 === 0)
    val odd = corpus.where(col("doc_id") % 2 === 1)
    val inlineFull = rows(Dedup.jaccardJoin(corpus, threshold = 0.5))
    // served-from-artifact ≡ inline, pair for pair
    Dedup.jaccardIndexWrite(corpus, s"$dir/full")
    assert(rows(Dedup.jaccardJoinIndexed(spark, s"$dir/full",
      threshold = 0.5)) == inlineFull)
    // incremental vs an even-only index = brute minus both-even pairs
    Dedup.jaccardIndexWrite(even, s"$dir/even")
    val inc = rows(Dedup.jaccardJoinIncremental(odd, s"$dir/even",
      threshold = 0.5))
    val want = rows(Dedup.jaccardPairs(corpus, threshold = 0.5))
      .filterNot(p => p._1 % 2 == 0 && p._2 % 2 == 0)
    assert(inc == want, s"incremental diverged: ${inc.diff(want)} / ${want.diff(inc)}")
    // frozen-df append: the grown index serves the SAME pairs a full
    // rebuild would — the common total order changed, the output can't
    Dedup.jaccardIndexAppend(odd, s"$dir/even")
    assert(rows(Dedup.jaccardJoinIndexed(spark, s"$dir/even",
      threshold = 0.5)) == inlineFull)
    // overlapping ids are rejected before any write
    intercept[IllegalArgumentException] {
      Dedup.jaccardIndexAppend(odd, s"$dir/even")
    }
  }

  test("simhashPairs: exact dup at hamming 0; unrelated docs absent") {
    val got = Dedup.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair.get((1L, 3L)).contains(0L))
    assert(!byPair.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simHashColumn (per-row, streaming-safe) equals the groupBy simHash") {
    val byAgg = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byRow = docs.select(col("doc_id"),
        Dedup.simHashColumn(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byRow == byAgg)
  }

  test("simHash packs to a long, deterministic, equal for identical docs") {
    val hs = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(3L)) // identical docs, identical signature
    assert(hs(1L) != hs(4L))
    val again = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == hs)
  }

  test("winnowFingerprint = min md5 over ALL character k-grams (shift-invariant form)") {
    import spark.implicits._
    val s = "the quick brown fox jumps over the lazy dog"
    val expected = (0 to s.length - 16).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.substring(i, i + 16).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).min
    val got = Seq(s).toDF("text")
      .select(TextAnalysis.winnowFingerprint(col("text")))
      .collect().head.getString(0)
    assert(got == expected)
    // a pure append keeps every existing k-gram: fingerprint can only
    // stay or become the min of a superset
    val appended = Seq(s + " extra suffix").toDF("text")
      .select(TextAnalysis.winnowFingerprint(col("text")))
      .collect().head.getString(0)
    assert(appended <= got)
  }

  test("native WinnowMin ≡ the declarative HOF twin (incl. short and non-ASCII)") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short", // < k: single whole-string window
      "exactly sixteen!", // == k
      "naïve café – ünïcode windows slide by chars not bytes, naïve café",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa") // degenerate repeats
    for (stride <- Seq(1, 4)) {
      val df = texts.toDF("text").select(
        TextAnalysis.winnowFingerprint(col("text"), 16, stride).as("native"),
        TextAnalysis.winnowFingerprintHof(col("text"), 16, stride).as("hof"))
      val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.forall { case (n, h) => n == h },
        s"stride=$stride: ${rows.mkString("; ")}")
    }
  }

  test("incremental minhash = full pipeline minus corpus-vs-corpus pairs") {
    import spark.implicits._
    // near-dup pairs across the even/odd boundary and inside each side
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // ~dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // = 1
      (4L, "totally different content with no overlap at all here"),
      (6L, "totally different content with no overlap at all here"), // = 4
      (5L, "alpha beta gamma delta epsilon zeta eta theta")) // = 1
      .toDF("doc_id", "text")
    val full = Dedup.minhashLshPairs(docs, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.minhashLshPairsIncremental(
      docs.where($"doc_id" % 2 === 0), docs.where($"doc_id" % 2 === 1),
      threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filterNot { case (a, b) => a % 2 == 0 && b % 2 == 0 }
    assert(inc == expected && inc.nonEmpty)
    // the corpus-vs-corpus pair (4,6) is in full but never recomputed
    assert(full.contains((4L, 6L)) && !inc.contains((4L, 6L)))
    // passing the persisted corpus index yields the identical result
    val sigs = Dedup.minHashSignatures(
      Dedup.shingles(docs.where($"doc_id" % 2 === 0)))
    val viaIndex = Dedup.minhashLshPairsIncremental(
      docs.where($"doc_id" % 2 === 0), docs.where($"doc_id" % 2 === 1),
      threshold = 0.8, corpusSigs = Some(sigs))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == inc)
  }

  test("connectedComponents labels each component with its min id") {
    import spark.implicits._
    // components: chain {1-2-3-4-5}, pair {10,11}, triangle {20,21,22};
    // the chain forces multi-round propagation (diameter 4)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: long chain converges (pointer jumping)") {
    import spark.implicits._
    // a 200-edge path has diameter 200: one-hop propagation alone
    // would need 200 rounds, far beyond maxIter — the pointer jump
    // must carry it in O(log n)
    val pairs = (1L until 200L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200 && got.values.forall(_ == 1L))
  }

  test("connectedComponents frontier: settled clump leaves the delta set; labels exact") {
    import spark.implicits._
    // frontier-heavy graph: a 100-edge chain (the only part that keeps
    // moving) + a 500-leaf star clump that settles at initialization
    val chain = (1L until 101L).map(i => (i + 1, i))
    val clump = (1L to 500L).map(i => (1000L, 1000L + i))
    val pairs = (chain ++ clump).toDF("id_a", "id_b")
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val got = Dedup.connectedComponents(pairs, maxIter = 12,
      onRound = (r, c) => rounds += ((r, c)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // labels vs a driver-side union-find reference (the pre-delta
    // full-edge implementation computes exactly this closure)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (chain ++ clump).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(v => v -> find(v)).toMap
    assert(got == expect)
    // pointer jumping: O(log chain), not O(diameter)
    assert(rounds.size <= 9, s"rounds: $rounds")
    // the 501-vertex clump settles at init: from round 2 on, the
    // changed set is at most the still-moving chain — the frontier the
    // delta-join re-ships shrinks to it (measured here: the viaEdge
    // input is `changed`, whose size is the previous round's count)
    assert(rounds.drop(1).forall(_._2 <= 101), s"rounds: $rounds")
    // and the final round moved nothing (fixpoint)
    assert(rounds.last._2 == 0, s"rounds: $rounds")
  }

  test("connectedComponents on no pairs returns no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).isEmpty)
  }

  test("incremental CC ≡ full recompute on random graphs (incl. cluster merges)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small vertex domain forces old/new batches to share vertices and
    // new edges to MERGE old clusters — the hard case
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(1, 16)
      e <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(1L, 12L)))
    } yield e.filter { case (a, b) => a != b }
    (1 to 15).foreach { seed =>
      val edges = genEdges.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      if (edges.nonEmpty) {
        val df = edges.toDF("id_a", "id_b")
        val isOld = pmod(col("id_a") + col("id_b"), lit(2)) === 0
        val base = Dedup.connectedComponents(df.where(isOld))
        val inc = Dedup.connectedComponentsIncremental(base, df.where(!isOld))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = Dedup.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(inc == full, s"[seed=$seed] edges=$edges inc=$inc full=$full")
      }
    }
  }

  test("crossOverlapPairs finds cross-set overlaps only, maxDf guards") {
    import spark.implicits._
    val probe = Seq(
      (100L, "one two three four five six seven eight nine ten"),
      (101L, "totally distinct probe words nothing shared with corpus " +
        "zeta theta iota kappa")).toDF("doc_id", "text")
    val corpus = Seq(
      (200L, "one two three four five six seven eight extra tail here"),
      (201L, "unrelated corpus document about completely other matters " +
        "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = Dedup.crossOverlapPairs(probe, corpus, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only (100, 200) share an 8-gram ("one two ... eight")
    assert(got.toSeq == Seq((100L, 200L, 1L)))
    // a boilerplate shingle shared by every corpus doc is dropped once
    // the corpus df exceeds maxDf
    val boiler = "common header line shared by every corpus document here"
    val bigCorpus = (0L until 5L).map(i => (300L + i, boiler))
      .toDF("doc_id", "text")
    val probe2 = Seq((1L, boiler)).toDF("doc_id", "text")
    assert(Dedup.crossOverlapPairs(probe2, bigCorpus, w = 8, maxDf = 4).isEmpty)
    assert(Dedup.crossOverlapPairs(probe2, bigCorpus, w = 8, maxDf = 5)
      .count() == 5)
  }

  test("embeddingNearDups with default sign-LSH blocking finds near vectors") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.5f, -0.2f, 0.8f)),
      (2L, Array(0.99f, 0.52f, -0.19f, 0.81f)), // near-dup of 1
      (3L, Array(-1.0f, 0.5f, 0.2f, -0.8f)),
      (4L, Array(0.1f, -0.9f, 0.4f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(e, threshold = 0.99, bits = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("duplicateSpans merges a cross-doc shared run into one maximal span") {
    import spark.implicits._
    // s1..s8 shared between docs; every other token unique corpus-wide
    val d = Seq(
      (1L, "a1 a2 a3 a4 a5 s1 s2 s3 s4 s5 s6 s7 s8 b1 b2 b3 b4 b5"),
      (2L, "c1 c2 s1 s2 s3 s4 s5 s6 s7 s8 d1 d2"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // doc 1: duplicated starts 5..9 merge -> [5, 12], 8 tokens, 5 windows
    // doc 2: starts 2..6 merge -> [2, 9]
    assert(spans == Set((1L, 5L, 12L, 8L, 5L), (2L, 2L, 9L, 8L, 5L)))
  }

  test("duplicateSpans counts within-doc repeats; crossDocOnly drops them") {
    import spark.implicits._
    // the r-run repeats INSIDE one doc only (gap 6 > w=4 -> two spans)
    val d = Seq(
      (1L, "r1 r2 r3 r4 z1 z2 r1 r2 r3 r4"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, w = 4)
      .select("doc_id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 0L, 3L), (1L, 6L, 9L)))
    assert(Dedup.duplicateSpans(d, w = 4, crossDocOnly = true).isEmpty)
  }

  test("scrubSpans cuts the duplicated run, keeps case, passes clean docs through") {
    import spark.implicits._
    val d = Seq(
      (1L, "A1 a2 a3 a4 a5 S1 s2 s3 s4 s5 s6 s7 s8 b1 b2 b3 b4 b5"),
      (2L, "c1 c2 s1 s2 s3 s4 s5 s6 s7 s8 d1 d2"),
      (3L, "w1 w2 w3 w4 w5 w6 w7"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubSpans(d, w = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    // doc 1: positions 5..12 cut; original case survives elsewhere
    assert(out(1L) == ("A1 a2 a3 a4 a5 b1 b2 b3 b4 b5", 8L))
    assert(out(2L) == ("c1 c2 d1 d2", 8L))
    assert(out(3L) == ("w1 w2 w3 w4 w5 w6 w7", 0L)) // untouched
    // a fully-duplicated doc scrubs to the empty string, not a null
    val dup = Seq((1L, "x1 x2 x3 x4"), (2L, "x1 x2 x3 x4"))
      .toDF("doc_id", "text")
    val gone = Dedup.scrubSpans(dup, w = 4).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    assert(gone == Set(("", 4L)))
  }

  test("decontaminateSemantic: catches the REWORDED item the gram scrubs miss; self-pairs kept; indexed ≡ inline") {
    import spark.implicits._
    // benchmark item vs its full rewording: every word replaced, so
    // NO shared w-gram at any w — only the embeddings are close
    val benchText = "the quick brown fox jumps over the lazy dog"
    val rewordText = "a speedy russet vulpine leapt across that idle hound"
    val vBench = Array(0.9f, 0.1f, 0.05f, 0.3f)
    val vReword = Array(0.88f, 0.12f, 0.06f, 0.29f) // cosine ≈ 0.9996
    val corpus = Seq(
      (1L, rewordText, vReword),
      (2L, "completely unrelated text about distributed query planning",
        Array(-0.2f, 0.9f, -0.3f, 0.1f)),
      (3L, "another unrelated doc on parquet row groups and filters",
        Array(0.1f, -0.4f, 0.9f, 0.2f)))
      .toDF("doc_id", "text", "embedding")
    val bench = Seq((100L, benchText, vBench))
      .toDF("doc_id", "text", "embedding")
    // the fuzzy gram scrub sees NOTHING (ladder gap this op closes)
    val fuzzy = Dedup.decontaminateNear(corpus, bench, w = 3,
        threshold = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(fuzzy.values.forall(_ == 0L), s"fuzzy flagged: $fuzzy")
    // the semantic scrub flags exactly the rewording
    val cents = Similarity.kmeansFit(corpus, k = 2, iters = 1,
      id = "doc_id")
    val sem = Dedup.decontaminateSemantic(corpus, bench, cents,
        nProbe = 2, threshold = 0.95, id = "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(sem.keySet == Set(1L, 2L, 3L), sem.toString)
    assert(sem(1L)._3 == 1L && sem(1L)._1 == 1L && sem(1L)._2 >= 0.99,
      sem(1L).toString)
    assert(sem(2L) == ((0L, 0.0, 0L)) && sem(3L) == ((0L, 0.0, 0L)))
    // self-pair kept: the benchmark vector itself in the corpus flags
    // at cosine exactly 1.0
    val withSelf = corpus.union(
      Seq((4L, benchText, vBench)).toDF("doc_id", "text", "embedding"))
    val cents2 = Similarity.kmeansFit(withSelf, k = 2, iters = 1,
      id = "doc_id")
    val s2 = Dedup.decontaminateSemantic(withSelf, bench, cents2,
        nProbe = 2, threshold = 0.95, id = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(4L) == 1.0, s2.toString)
    // artifact-served ≡ inline over the persisted centroids, row for
    // row (cents + assignment round-trip parquet bit-exactly)
    val idx = java.nio.file.Files
      .createTempDirectory("sem_idx").toString + "/ivf"
    Similarity.ivfIndexWrite(corpus, idx, k = 2, iters = 1,
      id = "doc_id")
    val (pcents, _) = Similarity.ivfIndexRead(spark, idx)
    assert(Dedup.decontaminateSemanticIndexed(bench, idx, nProbe = 2,
        threshold = 0.95, id = "doc_id")
      .collect().map(_.toString).sorted.toSeq ==
      Dedup.decontaminateSemantic(corpus, bench, pcents, nProbe = 2,
        threshold = 0.95, id = "doc_id")
        .collect().map(_.toString).sorted.toSeq)
    // appended ≡ rebuilt at the same (frozen) centroids: new vectors
    // route through the persisted cents, the scrub sees one corpus
    val late = Seq((10L, "late arrival", vBench))
      .toDF("doc_id", "text", "embedding")
    Similarity.ivfIndexAppend(late, idx, id = "doc_id")
    val served = Dedup.decontaminateSemanticIndexed(bench, idx,
        nProbe = 2, threshold = 0.95, id = "doc_id")
      .collect().map(_.toString).sorted.toSeq
    val rebuilt = Dedup.decontaminateSemantic(corpus.union(late),
        bench, pcents, nProbe = 2, threshold = 0.95, id = "doc_id")
      .collect().map(_.toString).sorted.toSeq
    assert(served == rebuilt, s"append != rebuild:\n$served\n$rebuilt")
    assert(served.exists(s => s.startsWith("[10,") && s.endsWith(",1]")),
      s"the appended benchmark twin must flag: $served")
    // overlapping ids refuse
    val dup = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(late, idx, id = "doc_id")
    }
    assert(dup.getMessage.contains("disjoint"), dup.getMessage)
  }
}
