package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The round-15 adversarial cross-engine sweep corpora, committed as a
  * deterministic generator so the sweeps re-run in CI instead of living
  * only as SCALE.md receipts (VERDICT r15 #4 — the PII corpus caught a
  * real bug pre-ship: `concat_ws` swallowing a null token array made a
  * NULL document fingerprint-collide with an EMPTY one).
  *
  * Two corpora over the `documents` schema (doc_id, text, lang, source,
  * n_chars — source = "src" + doc_id % 20 and n_chars = length(text),
  * matching the driver's generator so every board oracle replays):
  *
  *  - `pii`: digit-run, whitespace-class, localized-digit and
  *    fused-PAN/IBAN pathologies for the validated-PII family
  *    (sliding-Luhn windows, sentinel sentence segmentation).
  *  - `dedup`: unicode/emoji/CJK shingles, null/empty/sub-w texts,
  *    exact-dup and 50x-containment pairs, one-distinct-shingle docs
  *    and whitespace storms for the dictionary-encoded
  *    jaccard/containment/minhash/simhash/scrub families.
  *
  * Everything is a fixed literal — no RNG, no clock — so the parquet
  * bytes are reproducible and the sweep specs can pin result hashes
  * that were verified cross-engine (DuckDB replay of oracle_sql.json
  * via tools/oracle_check.py) when the pin was minted.
  *
  * Usage: `runMain graft.tools.AdvCorpus <outDir> <pii|dedup>`, then
  * `runMain graft.Verify <outDir> <dumpDir> <names>` and
  * `python3 tools/oracle_check.py <outDir> <dumpDir> <names>`.
  */
object AdvCorpus {

  /** (doc_id, lang, text) — doc_id 4 lands the board's %9==4 embedded-
    * PAN injection on top of the fused-double-PAN doc on purpose. */
  val piiDocs: Seq[(Long, String, String)] = {
    val pan = "4111111111111111"
    Seq(
      (0L, "en", "Dr. Smith met a.user@ex.com on 2024-01-02. The total " +
        "was 12.50 dollars at 10.1.2.3. Versions 1.2.3 stay whole."),
      // 10k-digit run: 526 greedy 19-digit candidates, zero valid cards
      (1L, "en", "log " + ("1234567890" * 1000) + " end."),
      // one PAN fused at offset 34 of a 76-digit run — only the sliding
      // window walk can see it; the greedy 19-digit cut is Luhn-invalid
      (2L, "en", "trace " + ("9" * 34) + pan + ("8" * 26) + " done."),
      // fused adjacent IBANs — candidate regex must not resynchronize
      (3L, "de", "acct GB82WEST12345698765432GB82WEST12345698765432 x."),
      // two PANs fused into one 35-digit run (doc_id 4 also gets the
      // board injection's trace run appended)
      (4L, "en", "ids 777" + pan + pan + " tail."),
      // U+0001 — the segmenter's sentinel class must survive input
      // text that already contains control characters
      (5L, "fr", "alphabeta. gammadelta. fin."),
      // every whitespace-class member directly after a terminator
      (6L, "en", "One.\tTwo.\nThree.\rFour.Five.\fSix. " +
        "Seven. Eight. Nine.　Ten."),
      // Arabic-Indic digits beside a PAN shape: [0-9] classes must not
      // match them identically in both engines
      (7L, "en", "رقم ٤١١١١" +
        "١١١١١١١١١١" +
        "١ test ٠١٢٣٤٥٦٧" +
        "٨٩. done."),
      (8L, "en", "...!?."),
      // 25k-token doc with no terminator at all
      (9L, "en", ("tok " * 25000).trim),
      (10L, "en", null),
      (11L, "en", ""),
      (12L, "en", "IP edge 999.1.2.3 and 10.1.2.3 and 1.2.3 done. " +
        "v1.2.3.4 tag."),
      (13L, "es", "card 4111111111111112 end."),
      (14L, "en", "acct gb82west12345698765432 and " +
        "GB82WEST12345698765432."),
      (15L, "en", "pi 3.14159. mail first.last+tag@sub.example.co.uk " +
        "works."),
      (16L, "en", "+14155550123 and +442071838750 and +10000 end."),
      // a 12-digit run (below candidate floor) and a valid 13-digit
      // Visa PAN — the boundary pair
      (17L, "zh", "a 123456789012 b 4222222222222 c."),
      // phone plausibility ladder (r16): valid RU 10-digit NSN; NANP
      // shape with a 1-led area code (fails [2-9]); an UNASSIGNED
      // 3-digit code (+999…); Gibraltar at the short-NSN floor;
      // China one digit past its published max; NANP rule-plausible
      (18L, "en", "call +78005553535 or +11555550123 or " +
        "+999123456789 or +35012345 or +861234567890123 or " +
        "+12005550123 end."))
  }

  val dedupDocs: Seq[(Long, String, String)] = {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val contained = "alpha beta gamma delta epsilon zeta"
    Seq(
      (0L, "en", base),
      (1L, "en", base), // exact dup of 0
      (2L, "en", contained),
      (3L, "en", Seq.fill(50)(contained).mkString(" ")), // 50x container
      (4L, "zh", "深度 学习 模型 训练 " +
        "数据 去重 质量 评估 " +
        "深度 学习"),
      (5L, "en", "🚀 fire 🔥 water 💧 " +
        "earth 🌍 air 💨 rocket 🚀 " +
        "fire 🔥"),
      (6L, "fr", "café résumé naïve coöperate " +
        "señor café résumé"),
      (7L, "en", null),
      (8L, "en", ""),
      (9L, "en", "two words"), // below shingle width w=3
      (10L, "en", "word word word word word word word word"),
      (11L, "en", "a\t\tb\n\n c d   e　f g\ta b c"),
      // near-dup of 0: one token changed
      (12L, "en", base.replace("dog", "cat")),
      (13L, "de", "blatt blatt blatt blatt blatt blatt blatt blatt"))
  }

  /** Tokenizer-family adversarial corpus (r16 — the sweep family's
    * third member, aimed at the native BPE/wordpiece/unigram scans
    * and their cross-engine training replays): pathological word
    * lengths (the per-word DP/scan cost axis), words that CLEAN to
    * nothing (punctuation/unicode/emoji under the `[^a-z0-9]` strip),
    * oracle-delimiter hazards (`|sym|` is the DuckDB replay's symbol
    * encoding — a literal `|` in text must never forge it), merge
    * dominance, and null/empty/single-char degenerates. */
  val tokDocs: Seq[(Long, String, String)] = Seq(
    (0L, "en", "The Quick BROWN fox jumps over the lazy dog and " +
      "the quick brown cat naps"),
    // one 10k-char word: the per-word cost axis of every tokenizer
    (1L, "en", "start " + ("a" * 10000) + " end"),
    // words that clean to NOTHING under [^a-z0-9]
    (2L, "en", "!!! ??? ### $$$ %%% ***"),
    (3L, "fr", "café 🚀🚀 深度学习 naïve " +
      "mixed深度script"),
    (4L, "en", "123 4567 89 000111222 12ab34"),
    (5L, "en", null),
    (6L, "en", ""),
    // single chars: below bpeTrain's minWordLen
    (7L, "en", "a b c d e f g"),
    // pipe is the oracle's '|sym|' delimiter — it must strip, never forge
    (8L, "en", "a|b c|d ||| |sym| x||||y"),
    // merge dominance: one overwhelming pair
    (9L, "en", "banana banana banana banana bandana"),
    (10L, "en", "x\t\ty\n\n z　w"),
    // 6k chars of a two-char cycle: merge-heavy, symbol-count stress
    (11L, "de", "cycle " + ("ab" * 3000) + " done"))

  /** Events/time-family adversarial corpus (r16 — the fourth sweep
    * member; timestamp semantics are the classic cross-engine
    * divergence axis): duplicate timestamps inside one user (as-of
    * tie-breaks, zero gaps), events EXACTLY at the session-gap
    * threshold (`<` vs `<=` divergence), event ids out of order vs
    * time, epoch and microsecond-precision edges, funnel steps out of
    * order / repeated / missing, malformed + null + huge-value JSON
    * props, NaN / ±Infinity / −0.0 values, null user/ts/type, a
    * single-event user and a one-second burst.
    * (event_id, ts ISO-micros or null, user_id boxed, event_type,
    * value, props). */
  val eventDocs: Seq[(Long, String, Any, String, Any, String)] = Seq(
    // user 1: a clean view->click->purchase funnel, µs-precision ts
    (0L, "2024-01-01 00:00:00.000001", 1L, "view", 1.0, """{"k": 1}"""),
    (1L, "2024-01-01 00:00:01.500000", 1L, "click", 2.5, """{"k": 2}"""),
    (2L, "2024-01-01 00:00:02.999999", 1L, "purchase", 9.99, """{"k": 3}"""),
    // user 2: DUPLICATE timestamps (tie-break surface) + a click at
    // the same instant as the purchase it should as-of match
    (3L, "2024-01-01 01:00:00", 2L, "click", 1.0, """{"k": 10}"""),
    (4L, "2024-01-01 01:00:00", 2L, "click", 2.0, """{"k": 11}"""),
    (5L, "2024-01-01 01:00:00", 2L, "purchase", 3.0, """{"k": 12}"""),
    // user 3: out-of-order ids vs time; funnel steps REVERSED
    (6L, "2024-01-02 10:00:30", 3L, "purchase", 5.0, """{"k": 20}"""),
    (7L, "2024-01-02 10:00:20", 3L, "click", 4.0, """{"k": 21}"""),
    (8L, "2024-01-02 10:00:10", 3L, "view", 3.0, """{"k": 22}"""),
    // user 4: gap EXACTLY at a 30-minute session threshold
    (9L, "2024-01-03 00:00:00", 4L, "view", 1.0, """{"k": 30}"""),
    (10L, "2024-01-03 00:30:00", 4L, "click", 1.0, """{"k": 31}"""),
    (11L, "2024-01-03 01:00:00.000001", 4L, "view", 1.0, """{"k": 32}"""),
    // user 5: epoch edge + far past
    (12L, "1970-01-01 00:00:00", 5L, "signup", 0.0, """{"k": 40}"""),
    (13L, "1970-01-01 00:00:00.000001", 5L, "view", 0.5, """{"k": 41}"""),
    // user 6: value hazards — NaN, +Inf, -Inf, -0.0
    (14L, "2024-02-01 12:00:00", 6L, "error", Double.NaN, """{"k": 50}"""),
    (15L, "2024-02-01 12:00:01", 6L, "error", Double.PositiveInfinity,
      """{"k": 51}"""),
    (16L, "2024-02-01 12:00:02", 6L, "error", Double.NegativeInfinity,
      """{"k": 52}"""),
    (17L, "2024-02-01 12:00:03", 6L, "error", -0.0, """{"k": 53}"""),
    // props hazards: malformed, null, missing k, string k, huge k,
    // nested object
    (18L, "2024-02-02 00:00:00", 7L, "signup", 1.0, "{not json"),
    (19L, "2024-02-02 00:00:01", 7L, "view", 1.0, null),
    (20L, "2024-02-02 00:00:02", 7L, "click", 1.0, """{"x": 1}"""),
    (21L, "2024-02-02 00:00:03", 7L, "view", 1.0, """{"k": "abc"}"""),
    // 2^62: parses as a long in both engines, and every group sum it
    // joins stays under 2^63 (an overflowING sum has NO cross-engine
    // contract: DuckDB promotes to HUGEINT, ANSI Spark throws)
    (22L, "2024-02-02 00:00:04", 7L, "purchase", 1.0,
      """{"k": 4611686018427387904}"""),
    (23L, "2024-02-02 00:00:05", 7L, "view", 1.0,
      """{"k": {"nested": 1}}"""),
    // null hazards: null user, null ts, null type
    (24L, "2024-02-03 00:00:00", null, "view", 1.0, """{"k": 60}"""),
    (25L, null, 8L, "click", 1.0, """{"k": 61}"""),
    (26L, "2024-02-03 00:00:02", 8L, null, 1.0, """{"k": 62}"""),
    // user 9: single event
    (27L, "2024-02-04 09:00:00", 9L, "view", 7.0, """{"k": 70}"""),
    // user 11 (r16): the as-of null-time hazard — an UNDATED quote
    // must never attach (Spark's nulls-first sort would make it "the
    // earliest", a NULLS-LAST engine "the latest"), and an undated
    // probe has no as-of position; the timed purchase's only forward
    // click candidate is the undated one, so the forward join must
    // attach NULL
    (28L, "2024-02-06 10:00:00", 11L, "click", 1.0, """{"k": 80}"""),
    (29L, null, 11L, "click", 2.0, """{"k": 81}"""),
    (30L, "2024-02-06 11:00:00", 11L, "purchase", 3.0, """{"k": 82}"""),
    (31L, null, 11L, "purchase", 4.0, """{"k": 83}""")) ++
    // user 10: a one-second burst of 120 events (rate anomaly, dense
    // sessions, zero gaps)
    (0 until 120).map { i =>
      (100L + i, f"2024-02-05 00:00:00.${i * 8333}%06d", 10L: Any,
        if (i % 3 == 0) "view" else if (i % 3 == 1) "click" else "purchase",
        (i % 7).toDouble: Any, s"""{"k": $i}""")
    }

  /** SCD/relational-surface adversarial corpus (r16 — the fifth sweep
    * member, aimed at the REFERENCE's own replay semantics): NULL
    * arithmetic through UPDATE (a NULL balance + 100 stays NULL), the
    * O10 contract (a NULL predicate KEEPS the row on DELETE), a
    * boundary row that the UPDATE lifts exactly to the DELETE
    * threshold, duplicate and NULL keys (per-record staging), quotes/
    * unicode/newlines inside string values (the quote-aware comment
    * strip must never see them as syntax), a NULL partition value
    * (the default-partition round trip), and ±huge/−0.0 doubles.
    * (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment). */
  val custDocs: Seq[(Any, String, Any, Any, String)] = Seq(
    (0L, "Customer#000000000", 0, 100.0, "BUILDING"),
    // a quote and DML-looking text INSIDE a value
    (1L, "O'Brien; DROP TABLE x; --", 1, -50.0, "MACHINERY"),
    // NULL balance: UPDATE arithmetic keeps NULL, DELETE keeps the row
    (2L, null, 2, null, "BUILDING"),
    (3L, "Ünïcode 客戶 ✓", 3, 0.0, "AUTOMOBILE"),
    (null, "no key at all", 4, 10.0, "FURNITURE"),
    // duplicate key: TWO rows, each replays independently (per-record
    // one-row staging semantics — O8)
    (5L, "dup one", 5, 1.0, "HOUSEHOLD"),
    (5L, "dup two", 5, 2.0, "HOUSEHOLD"),
    // empty name, negative zero, NULL partition value
    (6L, "", 6, -0.0, null),
    (7L, "big balance", 7, 1.0e300, "BUILDING"),
    (8L, "deleted by the log", 8, -1.0e-300, "MACHINERY"),
    // -100 + 100 = 0: the UPDATE lifts it EXACTLY to the DELETE
    // threshold — `< 0` must keep it
    (9L, "boundary", 9, -100.0, "BUILDING"),
    (10L, "line\nbreak name", 10, 5.5, "AUTOMOBILE"))

  /** STREAMING corpus (r17): feed-scheduled rows for replaying
    * watermark-edge / late-row / restart semantics against batch
    * twins. `sec` is the event time in epoch seconds (NULL = the
    * no-position-on-the-time-axis hazard); `feed` is the micro-batch
    * the row arrives in (the sweep feeds them through a MemoryStream
    * in feed order with processAllAvailable barriers). The clock user
    * 9 advances the watermark deterministically: with delay 10 s the
    * watermark after feed 1 is 1990, after feed 2 is 2990.
    * (event_id, sec, user_id, feed). */
  val streamDocs: Seq[(Long, Any, Long, Int)] = Seq(
    // feed 1 — u1 opens a session; u9 drives the clock to 2000
    (0L, 1000L, 1L, 1),
    (1L, 1030L, 1L, 1),
    (2L, 2000L, 9L, 1),
    // feed 2 (watermark 1990) — u1's 1040 is LATE beyond the
    // watermark; u2's 1990 sits EXACTLY at it; u2's 1995 is within;
    // u9 drives to 3000
    (3L, 1040L, 1L, 2),
    (4L, 1990L, 2L, 2),
    (5L, 1995L, 2L, 2),
    (6L, 3000L, 9L, 2),
    // feed 3 (watermark 2990) — u2's 2985 late again; u3 carries
    // duplicate timestamps (tie surface); a NULL event time rides
    // along (must be dropped, not crash the query — the r16
    // null-has-no-position contract, streaming face); u9 to 4000
    (7L, 2985L, 2L, 3),
    (8L, 3100L, 3L, 3),
    (9L, 3100L, 3L, 3),
    (10L, null, 4L, 3),
    (11L, 4000L, 9L, 3))

  /** LAYOUT corpus (r17): a multi-file table with per-file key ranges
    * engineered for zone-map staleness / unindexed / missing-file /
    * NULL-stats / non-finite-stats hazards. Four files under
    * `layout_table/`: f0 k∈[0,9], f1 k∈[100,109], f2 all-NULL k,
    * f3 k∈[200,209] with NaN/±0.0/+Inf in the x column. The sweep
    * perturbs copies (in-place rewrite, append, delete) and pins the
    * verify/refresh/heal lifecycle. */
  def layoutFiles: Seq[(String, Seq[(Any, Double, String)])] = Seq(
    "f0.parquet" -> (0L to 9L).map(k => (k: Any, k * 1.0, s"r$k")),
    "f1.parquet" -> (100L to 109L).map(k => (k: Any, 50.0 + k, s"r$k")),
    "f2.parquet" -> (0 until 5).map(i => (null: Any, 7.5 + i, s"n$i")),
    "f3.parquet" -> ((200L to 207L).map(k => (k: Any, k * 2.0, s"r$k")) ++
      Seq((208L: Any, Double.NaN, "nan"), (209L: Any, -0.0, "negz"))))

  /** Canonical, order-insensitive md5 of a bounded result — the pin
    * format the sweep specs assert. Sound only for the sweep corpora's
    * few-row outputs (collect() is driver-side by design here). */
  def resultHash(df: DataFrame): String = {
    // length-prefixed values (ADVICE r16: the \u0001 join was
    // unescaped — a value CONTAINING the separator could make two
    // different rows encode identically); the length prefix makes the
    // encoding injective. Pins re-minted from DuckDB-verified outputs.
    val rows = df.collect().map(_.toSeq.map {
      case null => "NULL"
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case v => v.toString
    }.map(v => s"${v.length}:$v").mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Writes the named corpus: `documents.parquet` for pii/dedup/tok,
    * `events.parquet` for events. */
  def write(spark: SparkSession, outDir: String, which: String): Unit = {
    import spark.implicits._
    if (which == "cust") {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      val rows = custDocs.map { case (k, n, nk, b, m) => Row(k, n, nk, b, m) }
      writeOne(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema),
        outDir, "customer.parquet")
      return
    }
    if (which == "events") {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts_s", StringType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val rows = eventDocs.map { case (id, ts, u, et, v, pr) =>
        Row(id, ts, u, et, v, pr) }
      val ev = spark
        .createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      writeOne(ev, outDir, "events.parquet")
      return
    }
    if (which == "stream") {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("sec", LongType),
        StructField("user_id", LongType), StructField("feed", IntegerType)))
      val rows = streamDocs.map { case (id, sc, u, f) => Row(id, sc, u, f) }
      writeOne(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema),
        outDir, "stream_events.parquet")
      return
    }
    if (which == "layout") {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("x", DoubleType),
        StructField("s", StringType)))
      for ((name, rows) <- layoutFiles)
        writeOne(spark.createDataFrame(
          spark.sparkContext.parallelize(
            rows.map { case (k, x, s) => Row(k, x, s) }, 1), schema),
          s"$outDir/layout_table", name)
      return
    }
    val docs = (which match {
      case "pii"   => piiDocs
      case "dedup" => dedupDocs
      case "tok"   => tokDocs
      case other =>
        sys.error(s"unknown corpus '$other' " +
          "(pii|dedup|tok|events|cust|stream|layout)")
    }).toDF("doc_id", "lang", "text")
      .withColumn("source", concat(lit("src"), (col("doc_id") % 20)))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    writeOne(docs, outDir, "documents.parquet")
  }

  /** One PLAIN parquet FILE like the driver's testdata (DuckDB's
    * read_parquet in tools/oracle_check.py reads the path directly,
    * not a Spark part-file directory). */
  private def writeOne(df: DataFrame, outDir: String,
      name: String): Unit = {
    val tmp = s"$outDir/_${name.stripSuffix(".parquet")}_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val dest = java.nio.file.Paths.get(outDir, name)
    java.nio.file.Files.deleteIfExists(dest)
    java.nio.file.Files.move(part.toPath, dest)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, which) = args.take(2)
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, outDir, which)
    spark.stop()
  }
}
