package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_seconds, unix_timestamp}

import java.nio.file.Files
import java.sql.Timestamp

/** Structured-Streaming specs driven through MemoryStream: the CDC
  * latest-per-key state (declarative + mapGroupsWithState), windowed
  * counts with watermark, and the foreachBatch snapshot-upsert sink. */
class ScdStreamSpec extends SparkSpec {

  private def changes3 = Seq(
    (1L, 100L, "a"), (2L, 100L, "b"), (1L, 200L, "a2"))

  test("enrichAsOf — each event sees the dimension as of ITS OWN timestamp") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // dimension: id 1 renamed at t=1000, id 2 deleted at t=2000
    val dir = Files.createTempDirectory("enrich_dim").toString
    Seq((1L, "one_v0"), (2L, "two_v0")).toDF("id", "name")
      .write.mode("overwrite").parquet(dir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, ".updates"),
      """-- time=1000
        |UPDATE dim SET name = 'one_v1' WHERE id = 1;
        |-- time=2000
        |DELETE FROM dim WHERE id = 2;
        |""".stripMargin)
    val ms = MemoryStream[(Long, Long, String)] // (key, ts_ms, payload)
    val out = ScdStream.enrichAsOf(
      ms.toDF().toDF("k", "ts_ms", "payload"), dir, "k", "id", "ts_ms")
    val q = out.writeStream.format("memory").queryName("enr")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, 500L, "a"),  // before the rename -> one_v0
        (1L, 1500L, "b"), // after the rename  -> one_v1
        (2L, 1500L, "c"), // before the delete -> two_v0
        (2L, 2500L, "d"), // after the delete  -> NULL (absence)
        (9L, 100L, "e"))  // never existed     -> NULL
      q.processAllAvailable()
      val got = spark.table("enr")
        .select("k", "ts_ms", "payload", "name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) null else r.getString(3))).toSet
      assert(got == Set(
        (1L, 500L, "a", "one_v0"),
        (1L, 1500L, "b", "one_v1"),
        (2L, 1500L, "c", "two_v0"),
        (2L, 2500L, "d", null),
        (9L, 100L, "e", null)))
      // no nested-loop plan: equi key + interval residual hash-joins
      val plans = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(!plans.toString.contains("BroadcastNestedLoopJoin"),
        s"interval lookup fell to a nested loop:\n$plans")
    } finally q.stop()
    // restart visibility: a statement appended after the first query's
    // plan is served by the NEXT query (plan-time log capture, as
    // documented)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, ".updates"),
      "-- time=3000\nUPDATE dim SET name = 'one_v2' WHERE id = 1;\n",
      java.nio.file.StandardOpenOption.APPEND)
    val ms2 = MemoryStream[(Long, Long, String)]
    val q2 = ScdStream.enrichAsOf(
      ms2.toDF().toDF("k", "ts_ms", "payload"), dir, "k", "id", "ts_ms")
      .writeStream.format("memory").queryName("enr2")
      .outputMode("append").start()
    try {
      ms2.addData((1L, 3500L, "f"))
      q2.processAllAvailable()
      assert(spark.table("enr2").select("name").head.getString(0) ==
        "one_v2")
    } finally q2.stop()
  }

  test("enrichAsOfRefreshing — a mid-stream log append is served WITHOUT restart") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("enrich_ref").toString
    Seq((1L, "v0")).toDF("id", "name").write.mode("overwrite").parquet(dir)
    val ms = MemoryStream[(Long, Long, String)]
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    val q = ScdStream.enrichAsOfRefreshing(
      ms.toDF().toDF("k", "ts_ms", "payload"), dir, "k", "id", "ts_ms") {
      (batch, _) =>
        buf.synchronized {
          buf ++= batch.select("k", "ts_ms", "name").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        }
    }.start()
    try {
      ms.addData((1L, 500L, "a"))
      q.processAllAvailable()
      // the log grows while the query RUNS — no restart
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, ".updates"),
        "-- time=1000\nUPDATE dim SET name = 'v1' WHERE id = 1;\n")
      ms.addData((1L, 1500L, "b"), (1L, 600L, "c"))
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == Set(
        (1L, 500L, "v0"),  // batch 1: pre-append log
        (1L, 1500L, "v1"), // batch 2: new statement applies at its time
        (1L, 600L, "v0"))) // batch 2: pre-statement event still sees v0
    } finally q.stop()
  }

  test("latestPerKey — streaming aggregation, complete mode") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, String)]
    val out = ScdStream.latestPerKey(
      ms.toDF().toDF("k", "ts", "v"), "k", "ts")
    val q = out.writeStream.format("memory").queryName("lpk")
      .outputMode("complete").start()
    try {
      ms.addData(changes3: _*)
      q.processAllAvailable()
      val got = spark.table("lpk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == Set((1L, 200L, "a2"), (2L, 100L, "b")))
      // a later change supersedes; an older out-of-order one does not
      ms.addData((2L, 300L, "b2"), (1L, 150L, "stale"))
      q.processAllAvailable()
      val got2 = spark.table("lpk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got2 == Set((1L, 200L, "a2"), (2L, 300L, "b2")))
    } finally q.stop()
  }

  test("latestPerKeyStateful — mapGroupsWithState, update mode") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, String)]
    val out = ScdStream.latestPerKeyStateful(
      ms.toDF().toDF("k", "ts", "v"), "k", "ts")
    val q = out.writeStream.format("memory").queryName("lpks")
      .outputMode("update").start()
    try {
      ms.addData(changes3: _*)
      q.processAllAvailable()
      ms.addData((1L, 150L, "stale"))
      q.processAllAvailable()
      // update-mode memory sink appends each emitted update: take the
      // last emission per key — state must have ignored the stale row
      val lastPerKey = spark.table("lpks").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .zipWithIndex.groupBy(_._1._1)
        .map { case (k, rows) => k -> rows.maxBy(_._2)._1._2 }
      assert(lastPerKey == Map(1L -> ((200L, "a2")), 2L -> ((100L, "b"))))
    } finally q.stop()
  }

  test("eventCountsPerWindow — tumbling windows + watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Timestamp]
    val out = ScdStream.eventCountsPerWindow(
      ms.toDF().toDF("ts"), "ts", "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("wins")
      .outputMode("complete").start()
    try {
      ms.addData(
        Timestamp.valueOf("2024-01-01 00:01:00"),
        Timestamp.valueOf("2024-01-01 00:04:00"),
        Timestamp.valueOf("2024-01-01 00:12:00"))
      q.processAllAvailable()
      val got = spark.table("wins").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
      assert(got == Set(
        ("2024-01-01 00:00:00.0", 2L), ("2024-01-01 00:10:00.0", 1L)))
    } finally q.stop()
  }

  test("freqTermsPerWindow — bounded-state heavy hitters per window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Timestamp, String)]
    // k=4 < 6 distinct tokens, so the MG eviction path runs in-stream
    val out = ScdStream.freqTermsPerWindow(
      ms.toDF().toDF("ts", "text"), "text", "ts",
      "10 minutes", "5 minutes", k = 4)
    val q = out.writeStream.format("memory").queryName("fts")
      .outputMode("complete").start()
    try {
      ms.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), "the cat and the hat"),
        (Timestamp.valueOf("2024-01-01 00:04:00"), "the dog and the log"),
        (Timestamp.valueOf("2024-01-01 00:12:00"), "only the next window"))
      q.processAllAvailable()
      val rows = spark.table("fts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2),
          r.getMap[String, Long](3).toMap)).toList
      assert(rows.map(r => (r._1, r._2)).toSet ==
        Set(("2024-01-01 00:00:00.0", 10L), ("2024-01-01 00:10:00.0", 4L)))
      val w1 = rows.find(_._1 == "2024-01-01 00:00:00.0").get._3
      // window 1: n=10, k=4 -> anything with count > 2 is guaranteed:
      // "the" (4) and "and" (2 -- not guaranteed). Check the guarantee
      // set plus bounds for whatever else survived.
      assert(w1.contains("the") && w1("the") <= 4L && w1("the") >= 2L)
      assert(w1.size <= 4)
      val w2 = rows.find(_._1 == "2024-01-01 00:10:00.0").get._3
      // window 2 has 4 distinct tokens, fits in k: exact counts
      assert(w2 == Map("only" -> 1L, "the" -> 1L, "next" -> 1L,
        "window" -> 1L))
    } finally q.stop()
  }

  test("sessionizeStream — gap-close in batch, watermark timeout flush") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val ms = MemoryStream[(Long, Timestamp)]
    val out = ScdStream.sessionizeStream(
      ms.toDF().toDF("user_id", "ts"), "user_id", "ts",
      gapSeconds = 10, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    def sessions = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000000L,
        r.getLong(2) / 1000000L, r.getLong(3))).toSet
    try {
      // two sessions' worth in ONE batch: the gap closes the first
      ms.addData((1L, t(1000)), (1L, t(1005)), (1L, t(1100)))
      q.processAllAvailable()
      assert(sessions == Set((1L, 1000L, 1005L, 2L)))
      // next batch: gap again closes the open (1100) session
      ms.addData((1L, t(1200)))
      q.processAllAvailable()
      assert(sessions == Set((1L, 1000L, 1005L, 2L), (1L, 1100L, 1100L, 1L)))
      // another user far in the future advances the watermark past
      // user 1's flush deadline; the NEXT batch fires the timeout
      ms.addData((2L, t(5000)))
      q.processAllAvailable()
      ms.addData((2L, t(5001)))
      q.processAllAvailable()
      assert(sessions.contains((1L, 1200L, 1200L, 1L)),
        s"timeout flush missing: $sessions")
    } finally q.stop()
  }

  test("nearDupStream — near-dups found across micro-batches, distinct absent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val ms = MemoryStream[(Long, String)]
    // NB: chaining dropDuplicates after flatMapGroupsWithState is
    // unsupported in append mode (stateful-on-stateful); the multi-band
    // duplicate hits dedupe at the consumer, here via the result Set
    val out = ScdStream.nearDupStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("ndup")
      .outputMode("append").start()
    try {
      ms.addData((1L, base + "alpha beta gamma"),
        (4L, "completely different words entirely unrelated painting " +
          "sculpture architecture music dance poetry theatre cinema"))
      q.processAllAvailable()
      // a later batch carries the near-dup of doc 1
      ms.addData((2L, base + "alpha beta delta"))
      q.processAllAvailable()
      val got = spark.table("ndup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((2L, 1L)), s"missing cross-batch hit: $got")
      assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"false hit: $got")
    } finally q.stop()
  }

  test("nearDupStream — maxDist = 0 bands the whole signature; maxDist is range-checked") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // one 64-bit band: an exact copy must meet its original even after
    // maxPerBand other docs arrived, because distinct docs land in
    // other bands (a zero band mask would put every doc in one ring)
    val ms = MemoryStream[(Long, String)]
    val out = ScdStream.nearDupStream(ms.toDF().toDF("doc_id", "text"),
      "doc_id", "text", maxDist = 0, maxPerBand = 2)
    val q = out.writeStream.format("memory").queryName("ndup0")
      .outputMode("append").start()
    val a = "exact duplicate detection keeps the original document here"
    try {
      ms.addData((1L, a),
        (2L, "a second unrelated text about rivers mountains and lakes"),
        (3L, "the third document talks of engines gears and pistons"))
      q.processAllAvailable()
      ms.addData((4L, a))
      q.processAllAvailable()
      val got = spark.table("ndup0").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((4L, 1L, 0L)), s"exact copy hits: $got")
    } finally q.stop()
    val df = ms.toDF().toDF("doc_id", "text")
    for (bad <- Seq(-1, 64))
      intercept[IllegalArgumentException](
        ScdStream.nearDupStream(df, "doc_id", "text", maxDist = bad))
  }

  test("dsirGateStream — stateless gate passes target-like docs, scores match batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "zulu yankee zulu yankee"))
      .toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val scorer = graft.operators.TextAnalysis.dsirScorer(raw, target,
      buckets = 512)
    val ms = MemoryStream[(Long, String)]
    val gated = ScdStream.dsirGateStream(ms.toDF().toDF("doc_id", "text"),
      scorer, minLogwNats = 0.0)
    val q = gated.writeStream.format("memory").queryName("dsirgate")
      .outputMode("append").start()
    try {
      ms.addData(
        (5L, "alpha beta alpha"), // target-like: positive logw
        (6L, "zulu yankee zulu"), // off-target: negative logw
        (7L, "qqq unseen tokens")) // never-seen vocab: cr=0 default
      q.processAllAvailable()
      // stateless by construction: the RUNNING query must report zero
      // state-store operators (the analyzed-plan string can't show
      // state; progress reflects the actual executed micro-batch)
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
      val got = spark.table("dsirgate")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.contains(5L) && got(5L) > 0.0, got.toString)
      assert(!got.contains(6L), got.toString)
      // the unseen-vocab doc gets the cr=0 slots: ln((nr+B)/(nt+B)) per
      // token, positive here since nr > nt — and DEFINED, which is the
      // point of the full-table scorer
      assert(got.contains(7L), got.toString)
    } finally q.stop()
  }

  test("decontaminateStreamGate — stateless; contaminated docs never pass, clean and short docs do") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gram = "a b c d e f g h"
    val bench = Seq((100L, s"$gram tail1")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("dec_gate").toString + "/grams"
    graft.operators.Dedup.decontaminationIndexWrite(bench, dir)
    val ms = MemoryStream[(Long, String)]
    val gated = ScdStream.decontaminateStreamGate(
      ms.toDF().toDF("doc_id", "text"), dir)
    val q = gated.writeStream.format("memory").queryName("decgate")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, s"pre $gram post"),                       // quotes -> blocked
        (2L, "clean words spread over enough tokens ok"), // clean -> pass
        (3L, "short doc"))                             // <w tokens -> pass
      q.processAllAvailable()
      // stateless: no join/aggregation state in the executed batch
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
      val got = spark.table("decgate").collect().map(_.getLong(0)).toSet
      assert(got == Set(2L, 3L), got.toString)
    } finally q.stop()
  }

  test("piiStreamGate — validated PII blocked, shaped noise passes, stateless") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String)]
    val gated = ScdStream.piiStreamGate(ms.toDF().toDF("doc_id", "text"))
    val q = gated.writeStream.format("memory").queryName("piigate")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, "pay with 4111111111111111 today"),   // Luhn-valid -> blocked
        (2L, "tracker 4111111111111112 is noise"), // Luhn fails -> passes
        (3L, "host 10.0.0.1 responded"),           // valid IPv4 -> blocked
        (4L, "version 999.1.1.1 of the spec"),     // octet > 255 -> passes
        (5L, "mail bob@corp.io now"),              // email -> blocked
        (6L, "clean text with no payloads"),       // passes
        (7L, "wire GB82WEST12345698765432 ok"),    // valid IBAN -> blocked
        (8L, "ref GB82WEST12345698765433 noise"),  // mod-97 fails -> passes
        (9L, null.asInstanceOf[String]))           // null text -> passes
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
      val got = spark.table("piigate").collect().map(_.getLong(0)).toSet
      assert(got == Set(2L, 4L, 6L, 8L, 9L), got.toString)
    } finally q.stop()
  }

  test("packStream — offsets continue across micro-batches; equals the batch packAppend chain") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String, String)]
    val packed = ScdStream.packStream(
      ms.toDF().toDF("doc_id", "shard", "text"),
      "shard", "doc_id", maxTokens = 5)
    val q = packed.writeStream.format("memory").queryName("packstream")
      .outputMode("append").start()
    try {
      // batch 1: shard a gets 3+4=7 tokens, shard b gets 2
      ms.addData((1L, "a", "t t t"), (2L, "a", "u u u u"),
        (3L, "b", "v v"))
      q.processAllAvailable()
      // batch 2: continues at a=7, b=2 — exactly packAppend semantics
      ms.addData((4L, "a", "w w"), (5L, "b", "x x x x"))
      q.processAllAvailable()
      val got = spark.table("packstream")
        .select("doc_id", "n_tokens", "start_offset", "chunk_id")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got(1L) == ((3L, 0L, 0L)))
      assert(got(2L) == ((4L, 3L, 0L)))
      assert(got(3L) == ((2L, 0L, 0L)))
      assert(got(4L) == ((2L, 7L, 1L)), s"continues at 7: ${got(4L)}")
      assert(got(5L) == ((4L, 2L, 0L)), s"continues at 2: ${got(5L)}")
      // the batch twin: packAppend of batch 2 from batch 1's totals
      val b1 = Seq((1L, "a", "t t t"), (2L, "a", "u u u u"),
        (3L, "b", "v v")).toDF("doc_id", "shard", "text")
      val b2 = Seq((4L, "a", "w w"), (5L, "b", "x x x x"))
        .toDF("doc_id", "shard", "text")
      val totals = graft.operators.Packing.packTotals(
        graft.operators.Packing.packByOffset(b1, col("shard"),
          col("doc_id"), maxTokens = 5), col("shard"))
      val twin = graft.operators.Packing.packAppend(b2, col("shard"),
          col("doc_id"), totals, maxTokens = 5)
        .select("doc_id", "n_tokens", "start_offset", "chunk_id")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(twin == got.view.filterKeys(Set(4L, 5L)).toMap,
        s"stream != packAppend twin: $twin vs $got")
    } finally q.stop()
  }

  test("packStream — non-integral orderCol rejected at construction (ADVICE r14)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // a string orderCol would sort '10' < '9' in the batch twin but
    // 9 < 10 here — the divergence must refuse loudly up front
    val ms = MemoryStream[(String, String, String)]
    val e = intercept[IllegalArgumentException] {
      ScdStream.packStream(ms.toDF().toDF("seq", "shard", "text"),
        "shard", "seq")
    }
    assert(e.getMessage.contains("integral") &&
      e.getMessage.contains("seq"), e.getMessage)
  }

  test("packStream — NULL orderCol fails the query loud, not with a bare NFE (ADVICE r14)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(java.lang.Long, String, String)]
    val packed = ScdStream.packStream(
      ms.toDF().toDF("doc_id", "shard", "text"),
      "shard", "doc_id", maxTokens = 5)
    val q = packed.writeStream.format("memory").queryName("packnull")
      .outputMode("append").start()
    try {
      ms.addData((null.asInstanceOf[java.lang.Long], "a", "t t"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(causes(e).exists(m => m.contains("doc_id") &&
        m.contains("null seq id")), causes(e).mkString(" | "))
    } finally q.stop()
  }

  test("decontaminateNearStreamGate — fractional overlap gate: paraphrase blocked, light collision passes, stateless") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog every single day"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("decn_gate").toString + "/grams"
    graft.operators.Dedup.decontaminationIndexWrite(bench, dir, w = 4)
    val ms = MemoryStream[(Long, String)]
    val gated = ScdStream.decontaminateNearStreamGate(
      ms.toDF().toDF("doc_id", "text"), dir, w = 4, thresholdMil = 500)
    val q = gated.writeStream.format("memory").queryName("decngate")
      .outputMode("append").start()
    try {
      ms.addData(
        // one-token paraphrase: most 4-grams survive -> blocked
        (1L, "the quick brown fox leaps over the lazy dog every single day"),
        // shares one 4-gram span inside a long clean doc: fraction
        // far below 1/2 -> passes (the verbatim w=4 gate would kill)
        (2L, "totally unrelated opening words here the quick brown fox then a very different long tail of many clean tokens"),
        (3L, "clean words spread over enough tokens to gram ok fine"),
        (4L, "shorty"))                              // <w tokens -> pass
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
      val got = spark.table("decngate").collect().map(_.getLong(0)).toSet
      assert(got == Set(2L, 3L, 4L), got.toString)
    } finally q.stop()
  }

  test("corpusMatchStream — maxDist out of [0,63] is rejected (width-0 bands)") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      ScdStream.corpusSimhashIndex(corpus, "doc_id", "text", maxDist = 64)
    }
    intercept[IllegalArgumentException] {
      ScdStream.corpusMatchStream(corpus, corpus, "doc_id", "text",
        maxDist = -1)
    }
  }

  test("corpusMatchStream — stream probes a static simhash index, exactly one hit per pair") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (200L, "completely unrelated corpus text about databases and query engines"))
      .toDF("doc_id", "text")
    val index = ScdStream.corpusSimhashIndex(corpus, "doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val matches = ScdStream.corpusMatchStream(
      ms.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
    val q = matches.writeStream.format("memory").queryName("cms")
      .outputMode("append").start()
    try {
      ms.addData(
        // exact duplicate of corpus doc 100 (hamming 0 — agrees on
        // EVERY band; the first-agreeing-band filter must emit ONE hit)
        (1L, "the quick brown fox jumps over the lazy dog again and again today"),
        (2L, "utterly novel document with nothing shared at all whatsoever"))
      q.processAllAvailable()
      val got = spark.table("cms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((1L, 100L, 0L)), got.toSeq.toString)
    } finally q.stop()
  }

  test("corpusMatchStream — maxDist=0 (single 64-bit band) keys stay selective") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (200L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val index = ScdStream.corpusSimhashIndex(corpus, "doc_id", "text",
      maxDist = 0)
    // a 64-bit band mask of (1L<<64)-1 would be 0 and collapse every
    // key to one bucket; the index must carry 2 DISTINCT band keys
    assert(index.select("band").distinct().count() == 2)
    val ms = MemoryStream[(Long, String)]
    val q = ScdStream.corpusMatchStream(ms.toDF().toDF("doc_id", "text"),
        index, "doc_id", "text", maxDist = 0)
      .writeStream.format("memory").queryName("cms0")
      .outputMode("append").start()
    try {
      ms.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2L, "nothing like anything in the corpus at all honestly"))
      q.processAllAvailable()
      val got = spark.table("cms0").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((1L, 100L, 0L)))
    } finally q.stop()
  }

  test("intervalJoinStream — stream-stream time-bounded join, state evicted") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(String, Long)]
    val purchases = MemoryStream[(String, Long)]
    val c = clicks.toDF().toDF("user", "c_sec")
      .select($"user", timestamp_seconds($"c_sec").as("click_ts"))
    val p = purchases.toDF().toDF("user", "p_sec")
      .select($"user", timestamp_seconds($"p_sec").as("purchase_ts"))
    val joined = ScdStream.intervalJoinStream(p, c, "user",
      "purchase_ts", "click_ts", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      // click at t=100s, purchase at t=400s (5 min later: inside) and a
      // second purchase at t=900s (13+ min after the click: outside)
      clicks.addData(("u1", 100L), ("u2", 5000L))
      purchases.addData(("u1", 400L), ("u1", 900L))
      q.processAllAvailable()
      // advance both watermarks far past the lookback so results flush
      // (distinct keys so the advance rows cannot join each other)
      clicks.addData(("wm_c", 100000L))
      purchases.addData(("wm_p", 100000L))
      q.processAllAvailable()
      val got = spark.table("ivj")
        .select($"user", unix_timestamp($"purchase_ts"), unix_timestamp($"click_ts"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("u1", 400L, 100L)))
    } finally q.stop()
  }

  test("dmlSink — streamed DML lines land in the sidecar; reads see them") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.scd.ScdReader
    val dir = Files.createTempDirectory("dmlsink").toString
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val ckpt = Files.createTempDirectory("dmlckpt").toString
    val ms = MemoryStream[String]
    val q = ScdStream.dmlSink(ms.toDF().toDF("stmt"), "stmt", dir, ckpt).start()
    try {
      ms.addData("UPDATE t SET v = 'upd' WHERE k = 2;")
      q.processAllAvailable()
      val afterOne = ScdReader.read(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(afterOne == Set((1, "x"), (2, "upd"), (3, "z")))
      ms.addData("DELETE FROM t WHERE k = 1;")
      q.processAllAvailable()
      val afterTwo = ScdReader.read(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(afterTwo == Set((2, "upd"), (3, "z")))
      // malformed DML must fail the batch, not poison the sidecar
      ms.addData("DROP TABLE t;")
      intercept[Exception](q.processAllAvailable())
      assert(ScdReader.read(spark, dir).count() == 2)
    } finally q.stop()
  }

  test("dmlSink — fresh checkpoint (batch ids reset) does NOT drop new statements") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.scd.ScdReader
    val dir = Files.createTempDirectory("dmlsink2").toString
    Seq((1, 10), (2, 20)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    // run 1: two batches land (marker ids 0 and 1 in the sidecar)
    val ms1 = MemoryStream[String]
    val q1 = ScdStream.dmlSink(ms1.toDF().toDF("stmt"), "stmt", dir,
      Files.createTempDirectory("ck1").toString).start()
    try {
      ms1.addData("UPDATE t SET v = v + 1 WHERE k = 1;")
      q1.processAllAvailable()
      ms1.addData("UPDATE t SET v = v + 1 WHERE k = 1;")
      q1.processAllAvailable()
    } finally q1.stop()
    // run 2: FRESH checkpoint, batch ids restart at 0. A max-based
    // replay guard (lastApplied=1 >= batchId=0) would silently drop
    // this statement; the set-based guard only skips EXACT replays.
    val ms2 = MemoryStream[String]
    val q2 = ScdStream.dmlSink(ms2.toDF().toDF("stmt"), "stmt", dir,
      Files.createTempDirectory("ck2").toString).start()
    try {
      ms2.addData("UPDATE t SET v = v + 100 WHERE k = 2;")
      q2.processAllAvailable()
    } finally q2.stop()
    // wait: run-2 batch 0 collides with run-1's marker 0 in the SET
    // check too — the guard must namespace or the statement is lost.
    val got = ScdReader.read(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 12), (2, 120)))
  }

  test("dmlSink — restart re-delivery of a committed batch is exactly-once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.scd.ScdReader
    val dir = Files.createTempDirectory("dmlsink3").toString
    Seq((1, 10), (2, 20)).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val ckpt = Files.createTempDirectory("ck3").toString
    // the JVM-wide metadata-log cache would mask the on-disk commit
    // deletion below and mis-detect a concurrent writer
    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    val ms = MemoryStream[String]
    val q1 = ScdStream.dmlSink(ms.toDF().toDF("stmt"), "stmt", dir, ckpt).start()
    try {
      ms.addData("UPDATE t SET v = v + 1 WHERE k = 1;")
      q1.processAllAvailable()
    } finally q1.stop()
    // simulate a crash AFTER the sink appended but BEFORE the commit
    // marker landed: on restart Spark re-delivers batch 0 with the
    // same queryId — foreachBatch is at-least-once by contract
    val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(Files.deleteIfExists(commit0), "expected a commit file for batch 0")
    // the local FS keeps a checksum sibling; a stale one fails the
    // re-written commit's atomic rename with FileAlreadyExists
    Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = ScdStream.dmlSink(ms.toDF().toDF("stmt"), "stmt", dir, ckpt).start()
    try q2.processAllAvailable() finally {
      q2.stop()
      spark.conf.unset("spark.sql.streaming.metadataCache.enabled")
    }
    // the replayed (queryId, 0) token matches the sidecar marker → the
    // statement must appear exactly once and apply exactly once
    val sidecar = ScdReader.readSidecar(spark, dir).get
    assert("UPDATE t SET".r.findAllIn(sidecar).size == 1, sidecar)
    val got = ScdReader.read(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 11), (2, 20)))
  }

  test("mergeBatch — re-running a committed batch id is a no-op") {
    import spark.implicits._
    val snap = Files.createTempDirectory("snap2").toString
    val b0 = Seq((1L, 100L, "a"), (2L, 100L, "b")).toDF("k", "ts", "v")
    ScdStream.mergeBatch(b0, "k", "ts", snap, batchId = 0)
    // at-least-once re-delivery of batch 0 — even with different
    // content, the committed version must win (the retry contract)
    val replay = Seq((1L, 999L, "BAD")).toDF("k", "ts", "v")
    ScdStream.mergeBatch(replay, "k", "ts", snap, batchId = 0)
    val got = ScdStream.latestSnapshot(spark, snap).get.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("dedupStream — duplicate fingerprints within the watermark are dropped") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ms = MemoryStream[(String, Timestamp)]
    val out = ScdStream.dedupStream(
      ms.toDF().toDF("fp", "ts"), Seq("fp"), "ts", "10 minutes")
      .select(col("fp"), col("ts"))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
      ms.addData(("docA", t0), ("docB", t0))
      q.processAllAvailable()
      // same fingerprint again, within the horizon: must NOT re-emit
      ms.addData(("docA", t1), ("docC", t1))
      q.processAllAvailable()
      val got = spark.table("dedup").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got == Seq("docA", "docB", "docC"))
    } finally q.stop()
  }

  test("upsertSink — foreachBatch maintains a parquet snapshot across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val snap = Files.createTempDirectory("snap").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val ms = MemoryStream[(Long, Long, String)]
    val q = ScdStream.upsertSink(
      ms.toDF().toDF("k", "ts", "v"), "k", "ts", snap, ckpt).start()
    try {
      ms.addData((1L, 100L, "a"), (2L, 100L, "b"))
      q.processAllAvailable()
      ms.addData((1L, 200L, "a2"), (3L, 50L, "c"))
      q.processAllAvailable()
      val got = ScdStream.latestSnapshot(spark, snap).get.collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got == Set((1L, "a2"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }
}
