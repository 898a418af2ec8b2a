package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayTransform
import org.apache.spark.sql.functions._

/** The native MinHash kernels (w-grams, md5 words) against the
  * declarative forms they replace, kept here as the reference: the
  * `array_distinct(transform(sequence…))` shingle HOF and the
  * `min(substring(md5(…)))` signature. Shingles, shingle arrays, gram
  * arrays and signatures must be byte-identical, row for row and in
  * array order, and persisted signature indexes must read unchanged. */
class MinHashKernelSpec extends SparkSpec {

  import spark.implicits._

  // -- the declarative reference forms ---------------------------------

  private def refTokens(docs: DataFrame) =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("toks"))

  private def refGramsExpr(w: Int) = {
    val refs = (0 until w).map(k => s"toks[i+$k]").mkString(", ")
    expr(s"transform(sequence(0, size(toks)-$w), i -> concat_ws(' ', $refs))")
  }

  private def refShingleArrays(docs: DataFrame, w: Int) =
    refTokens(docs).where(size(col("toks")) >= w)
      .select(col("doc_id"), array_distinct(refGramsExpr(w)).as("sharr"))

  private def refShingles(docs: DataFrame, w: Int) =
    refTokens(docs).where(size(col("toks")) >= w)
      .select(col("doc_id"), explode(array_distinct(refGramsExpr(w)))
        .as("shingle"))

  private def refGramArray(text: org.apache.spark.sql.Column, w: Int) = {
    val toks = split(lower(text), " ")
    when(size(toks) >= w,
      array_distinct(transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ",
          (0 until w).map(k => element_at(toks, i + k + 1)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  private def refSignatures(sh: DataFrame, numHashes: Int) = {
    val nSeeds = (numHashes + 3) / 4
    val withH = sh.select(col("doc_id") +: (0 until nSeeds).map(sd =>
      md5(concat(lit(s"$sd|"), col("shingle"))).as(s"h$sd")): _*)
    val aggs = (0 until numHashes).map(i =>
      min(substring(col(s"h${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"m$i"))
    withH.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  // -- fixtures --------------------------------------------------------

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** First `tokN` whose seed-0 word 0 (hex chars 1..8 of md5("0|tokN"))
    * starts with a hex digit accepted by `p`. */
  private def tokenWithWord0(p: Char => Boolean): String =
    Iterator.from(0).map(i => s"tok$i")
      .find(t => p(md5Hex(s"0|$t").head)).get

  private val padTok = tokenWithWord0(_ == '0') // leading zero nibble
  private val highTok = tokenWithWord0(_ >= '8') // high bit set

  private val handTexts: Seq[(Long, String)] = Seq(
    1L -> "the cat sat on the mat the cat sat on the mat again",
    2L -> "a a a a a a a",
    3L -> "double  spaced  text  here",
    4L -> " leading and trailing spaces ",
    5L -> "tabs\tinside\tthese tokens stay\tglued",
    6L -> "Naïve CAFÉ – ünïcode Ärger straße naïve café",
    7L -> null,
    8L -> "",
    9L -> "one",
    10L -> "two words",
    11L -> "x  ",
    12L -> padTok,
    13L -> highTok,
    14L -> s"$highTok $padTok",
    15L -> s"$padTok $highTok $padTok",
    16L -> "the cat sat on the mat the cat sat on the mat again today",
    18L -> "double  spaced  text  here")

  /** The hand-made texts (16 and 18 are even near-copies of the odd
    * docs 1 and 3) plus a seeded 30-word-vocabulary corpus with
    * many repeated grams. */
  private lazy val docs: DataFrame = {
    val vocab = (0 until 30).map(i => s"w$i")
    val rnd = new scala.util.Random(11)
    val gen = (100L until 300L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(30)))
        .mkString(" ")
    }
    (handTexts ++ gen).toDF("doc_id", "text")
  }

  /** The same docs as parquet, so plans are not folded into a local
    * relation at optimization time. */
  private lazy val parquetDocs: DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("mh_docs").toString +
      "/docs"
    docs.write.parquet(p)
    spark.read.parquet(p)
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String) = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType), what)
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: extra ${extra.take(5).mkString("; ")} / " +
        s"missing ${missing.take(5).mkString("; ")}")
  }

  private val widths = Seq(1, 2, 3, 5)

  // -- identity --------------------------------------------------------

  test("the lane fixtures exercise hex padding and the unsigned high bit") {
    assert(md5Hex(s"0|$padTok").head == '0')
    assert(md5Hex(s"0|$highTok").head >= '8')
  }

  test("shingles ≡ the HOF form at w ∈ {1, 2, 3, 5}") {
    for (w <- widths)
      assertSame(Dedup.shingles(docs, w = w), refShingles(docs, w),
        s"shingles w=$w")
  }

  test("shingleArrays ≡ the HOF form, array order included") {
    for (w <- widths)
      assertSame(Dedup.shingleArrays(docs, w = w),
        refShingleArrays(docs, w), s"shingleArrays w=$w")
    // first-occurrence order on a doc that repeats its grams
    val cat = Dedup.shingleArrays(docs.where($"doc_id" === 1L), w = 2)
      .collect().head.getSeq[String](1)
    assert(cat == Seq("the cat", "cat sat", "sat on", "on the", "the mat",
      "mat the", "mat again"), cat)
  }

  test("gramArray ≡ the HOF form, NULL and short texts give []") {
    for (w <- widths) {
      val got = docs.select(col("doc_id"),
        Dedup.gramArray(col("text"), w).as("g"))
      val want = docs.select(col("doc_id"),
        refGramArray(col("text"), w).as("g"))
      assertSame(got, want, s"gramArray w=$w")
    }
    val nulls = docs.where($"doc_id" === 7L || $"doc_id" === 9L)
      .select(Dedup.gramArray(col("text"), 3)).collect()
    assert(nulls.forall(_.getSeq[String](0).isEmpty))
  }

  test("minHashSignatures ≡ min over md5 substrings, m0..m{k-1} strings") {
    for (w <- widths; k <- Seq(16, 6, 1)) {
      val sh = Dedup.shingles(docs, w = w)
      assertSame(Dedup.minHashSignatures(sh, numHashes = k),
        refSignatures(sh, k), s"signatures w=$w k=$k")
    }
    // unsigned order: doc 14 holds a high-bit word and a zero-padded
    // one; a signed 32-bit min would pick the high-bit word
    val m0 = Dedup.minHashSignatures(Dedup.shingles(docs, w = 1))
      .where($"doc_id".isin(12L, 13L, 14L, 15L))
      .select("doc_id", "m0").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pad = md5Hex(s"0|$padTok").take(8)
    assert(m0(12L) == pad && m0(13L) == md5Hex(s"0|$highTok").take(8))
    assert(m0(14L) == pad && m0(15L) == pad, m0.toString)
  }

  // -- plan shape ------------------------------------------------------

  private def hasTransform(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[ArrayTransform])))

  test("shingle plans hold no interpreted ArrayTransform") {
    assert(hasTransform(refShingles(parquetDocs, 3)), "reference has one")
    assert(!hasTransform(Dedup.shingles(parquetDocs)))
    assert(!hasTransform(Dedup.shingleArrays(parquetDocs)))
    assert(!hasTransform(parquetDocs.select(
      Dedup.gramArray(col("text"), 3))))
  }

  test("minHashSignatures plans a HashAggregate, no sort aggregate or sort") {
    def plan(df: DataFrame): String = {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.toString
    }
    val ref = plan(refSignatures(Dedup.shingles(parquetDocs), 16))
    assert(ref.contains("SortAggregate"), ref)
    val p = plan(Dedup.minHashSignatures(Dedup.shingles(parquetDocs)))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate") &&
      """(?m)^\W*Sort \[""".r.findFirstIn(p).isEmpty, p)
  }

  // -- persisted artifacts ---------------------------------------------

  test("a signature index written with the string-min form reads the same") {
    val path = java.nio.file.Files.createTempDirectory("sig_idx")
      .toString + "/sigs"
    // signatureIndexWrite's layout, with the reference signatures
    refSignatures(Dedup.shingles(docs), 16)
      .withColumn("w", lit(3)).withColumn("num_hashes", lit(16))
      .write.parquet(path)
    val stored = Dedup.signatureIndexRead(spark, path)
    assertSame(Dedup.minHashSignatures(Dedup.shingles(docs)), stored,
      "stored index")
    // and it serves the incremental pipeline exactly as inline signatures
    val corpus = docs.where($"doc_id" % 2 === 0)
    val batch = docs.where($"doc_id" % 2 === 1)
    val viaIndex = Dedup.minhashLshPairsIncremental(corpus, batch,
      threshold = 0.5,
      corpusSigs = Some(stored.where($"doc_id" % 2 === 0)))
    val inline = Dedup.minhashLshPairsIncremental(corpus, batch,
      threshold = 0.5)
    assertSame(viaIndex, inline, "incremental pairs")
    assert(inline.count() > 0)
  }
}
