package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput harness — the streaming face of `Bench`.
  *
  * SCALE.md's batch decade audit measures sf0.1 → sf1 wall time; this
  * main measures the STREAMING paths the same way: drive each stateful
  * pipeline from the `rate` source at a base rate and at 10× that
  * rate, and report the sustained processed-rows/second plus whether
  * the engine kept up with the offered rate (mean micro-batch duration
  * under the trigger interval). A path whose per-event cost were
  * superlinear in rate would show a capacity CLIFF between the two
  * rows; a scale-shaped path shows processed ≈ offered at both rates,
  * or a flat capacity ceiling (the single-host bound, which a cluster
  * widens by adding shuffle partitions — all these paths hash-shuffle
  * on a key whose cardinality vastly exceeds any realistic core
  * count).
  *
  * Paths measured (all real library entry points, not synthetic maps):
  *   - pack            — `ScdStream.packStream` (streaming sequence
  *                       packing: per-shard running-offset state, one
  *                       long per shard, 64 shards)
  *   - pii_gate        — `ScdStream.piiStreamGate` (stateless validated-
  *                       PII admission: regex extract + Luhn/mod-97/
  *                       octet checks per row, no state at all — the
  *                       family's pure-expression throughput floor)
  *   - sessionize      — `ScdStream.sessionizeStream` (gap sessions via
  *                       flatMapGroupsWithState + event-time timeout)
  *   - neardup         — `ScdStream.nearDupStream` (banded simhash
  *                       keyed state, bounded rings)
  *   - corpus_match    — `ScdStream.corpusMatchStream` (stateless
  *                       stream-static band join against a persisted
  *                       corpus simhash index built from `documents`)
  *   - latest_per_key  — `ScdStream.latestPerKeyStateful`
  *                       (mapGroupsWithState upsert view)
  *
  * The stream payload is deterministic (hash-derived from the rate
  * source's `value`), with recurring document templates so the dedup
  * paths exercise their hit-emission branch, not just state append.
  *
  * Usage: StreamBench [baseRate] [seconds]   (defaults 5000 rows/s, 15 s
  * per run; rates escalate ×10 for the second row). Prints ONE JSON
  * line, mirroring Bench's contract.
  */
object StreamBench {

  /** Deterministic pseudo-document text: 16 words of 8 hex chars each,
    * derived from a recurring template id so ~every template-collision
    * is an exact near-dup (hamming 0) and the matcher paths emit. */
  private def docText(templates: Int) =
    concat_ws(" ", transform(sequence(lit(0), lit(15)),
      i => substring(md5(concat(pmod(col("value"), lit(templates))
        .cast("string"), lit("-"), i.cast("string"))), 1, 8)))

  private case class RunStats(offeredRps: Long, processedRps: Double,
      inputRps: Double, meanBatchMs: Double, rows: Long, keptUp: Boolean)

  private def rateSource(spark: SparkSession, rps: Long, parts: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", parts)
      .load()

  /** Run one streaming query for `seconds`, then fold its progress
    * history (excluding warm-up batches) into throughput stats. */
  private def run(build: DataFrame => DataFrame, source: DataFrame,
      rps: Long, seconds: Int, mode: String): RunStats = {
    val q = build(source).writeStream
      .format("noop")
      .outputMode(mode)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    Thread.sleep(seconds * 1000L)
    q.stop()
    q.awaitTermination()
    // skip the first third as JIT/state-store warm-up; keep batches
    // that actually processed rows
    val all = q.recentProgress.toIndexedSeq
    val prog = all.drop(all.length / 3).filter(_.numInputRows > 0)
    val rows = prog.map(_.numInputRows).sum
    val wallMs = prog.map(_.durationMs.get("triggerExecution").longValue).sum
    val meanBatch = if (prog.isEmpty) 0.0 else wallMs.toDouble / prog.length
    val procRps = if (wallMs == 0) 0.0 else rows * 1000.0 / wallMs
    val inputRps = {
      val r = prog.map(_.inputRowsPerSecond).filterNot(_.isNaN)
      if (r.isEmpty) 0.0 else r.sum / r.length
    }
    // kept up = micro-batches finish inside the trigger interval and
    // the per-batch row count tracks the offered rate (no backlog
    // growth across the window)
    RunStats(rps, procRps, inputRps, meanBatch, rows,
      keptUp = meanBatch <= 1100.0)
  }

  def main(args: Array[String]): Unit = {
    val baseRate = args.headOption.map(_.toLong).getOrElse(5000L)
    val seconds = args.lift(1).map(_.toInt).getOrElse(15)
    val cpus = GraftSession.cpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // keyed-state paths checkpoint every batch; RocksDB is the
    // production at-scale store (incremental changelog commits vs the
    // default store's full-map snapshot per batch). SPARK_GRAFT_STATE
    // _STORE=rocksdb switches so both can be measured — SCALE.md
    // records the delta on the commit-bound neardup path.
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs")
      .toLowerCase
    val builder = GraftSession.local(cpus)
    if (stateStore == "rocksdb") {
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch commit cost ∝ the batch's
      // state DELTA, not the full store — the knob that matters for
      // high-rate keyed state
      builder.config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.ScdStream

    // static corpus index for the stream-static matcher: real
    // documents table, persisted shape (corpusSimhashIndex)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpusIndex = ScdStream
      .corpusSimhashIndex(docs, "doc_id", "text", maxDist = 3)
      .cache()
    corpusIndex.count() // materialize outside the timed window

    // SCD2 history for the temporal-enrichment path: real customer
    // table + a 2-statement .updates log, intervals cached outside the
    // timed window (the production shape — history builds once, every
    // micro-batch pays only the interval hash-join)
    val dimDir = java.nio.file.Files.createTempDirectory("sb_dim").toString
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.mode("overwrite").parquet(dimDir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dimDir, ".updates"),
      """UPDATE customer SET c_acctbal = c_acctbal + 100 WHERE c_mktsegment = 'BUILDING';
        |-- time=2024-06-01
        |DELETE FROM customer WHERE c_acctbal < 0;
        |""".stripMargin)
    val hist = graft.scd.ScdReader.history(spark, dimDir).cache()
    val custKeys = hist.agg(max(col("c_custkey"))).head.getLong(0) + 1

    // semantic-gate statics: centroids trained on the real embeddings
    // table, the %37 suite as the benchmark — both cached outside the
    // timed window (the production shape: the suite and cents are
    // per-release artifacts, each micro-batch pays assignment + one
    // stream-static anti join)
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val semCents = graft.operators.Similarity
      .kmeansFit(embs, k = 8, iters = 2).cache()
    semCents.count()
    val semBench = embs.where(col("vec_id") % 37 === 0).cache()
    semBench.count()
    val embDim = embs.select(size(col("embedding"))).head.getInt(0)
    // deterministic per-row synthetic vector (same dim as the corpus)
    val streamVec = transform(
      sequence(lit(1), lit(embDim)),
      i => sin(col("value").cast("double") * 0.7 +
        i.cast("double") * 1.3))

    // deterministic PII payload: half the rows carry a validated hit
    // (rotating among card/IBAN/IP/email), half carry checksum-failing
    // shaped noise — so the gate's validate branch runs every row and
    // ~50% of rows are dropped (both branches measured)
    val piiText = concat(docText(2000), lit(" "),
      element_at(array(
        lit("pay 4111111111111111 now"),          // Luhn-valid
        lit("wire GB82WEST12345698765432 ok"),    // mod-97-valid
        lit("host 10.0.0.1 up"),                  // octet-valid
        lit("mail bob@corp.io today"),            // email
        lit("tracker 4111111111111112 noise"),    // Luhn fails
        lit("ref GB82WEST12345698765433 noise"),  // mod-97 fails
        lit("spec 999.1.1.1 rev"),                // octet overflow
        lit("plain words, nothing here")),        // clean
        (pmod(col("value"), lit(8L)) + 1).cast("int")))

    val paths: Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("pack", "append", (src: DataFrame) =>
        ScdStream.packStream(
          src.select(col("value").as("doc_id"),
            pmod(col("value"), lit(64L)).cast("string").as("shard"),
            docText(2000).as("text")),
          "shard", "doc_id", maxTokens = 2048)),
      ("pii_gate", "append", (src: DataFrame) =>
        ScdStream.piiStreamGate(
          src.select(col("value").as("doc_id"), piiText.as("text")))),
      ("sem_gate", "append", (src: DataFrame) =>
        graft.streaming.AnnStream.decontaminateSemanticStreamGate(
          src.select(col("value").as("vec_id"),
            streamVec.as("embedding")),
          semBench, semCents, nProbe = 2, threshold = 0.4)),
      ("enrich_asof", "append", (src: DataFrame) =>
        ScdStream.enrichAsOf(
          src.select(pmod(col("value"), lit(custKeys)).as("k"),
            // events alternate one day before/after the DELETE
            // boundary so both intervals and the deleted-absence
            // branch are exercised every batch
            (lit(1717200000000L) +
              (pmod(col("value"), lit(2L)) * 2 - 1) * lit(86400000L))
              .as("ts_ms")),
          hist, "k", "c_custkey", "ts_ms")),
      ("sessionize", "append", (src: DataFrame) =>
        ScdStream.sessionizeStream(
          src.select(pmod(col("value"), lit(20000L)).as("user_id"),
            col("timestamp").as("ts")),
          "user_id", "ts", gapSeconds = 5, watermarkDelay = "2 seconds")),
      ("neardup", "append", (src: DataFrame) =>
        ScdStream.nearDupStream(
          src.select(col("value").as("doc_id"), docText(2000).as("text")),
          "doc_id", "text", maxDist = 3, maxPerBand = 100)),
      ("corpus_match", "append", (src: DataFrame) =>
        ScdStream.corpusMatchStream(
          src.select(col("value").as("doc_id"), docText(2000).as("text")),
          corpusIndex, "doc_id", "text", maxDist = 3)),
      ("latest_per_key", "update", (src: DataFrame) =>
        ScdStream.latestPerKeyStateful(
          src.select(pmod(col("value"), lit(50000L)).as("k"),
            col("value").as("ts"), col("timestamp").as("payload")),
          "k", "ts")))

    def f1(d: Double) = f"$d%.1f"
    val rates = Seq(baseRate, baseRate * 10)
    // SPARK_GRAFT_STREAM_ONLY=neardup,sessionize limits the run (the
    // Bench SPARK_GRAFT_ONLY convention)
    val only = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = paths.filter(p => only.forall(_.contains(p._1)))
    val out = selected.map { case (name, mode, build) =>
      val rows = rates.map { r =>
        val st = run(build, rateSource(spark, r, cpus), r, seconds, mode)
        System.err.println(s"[streambench] $name @ $r rows/s: " +
          s"processed=${f1(st.processedRps)} rps, " +
          s"meanBatch=${f1(st.meanBatchMs)} ms, keptUp=${st.keptUp}")
        s"""{"offered_rps":$r,"processed_rps":${f1(st.processedRps)},""" +
          s""""mean_batch_ms":${f1(st.meanBatchMs)},"rows":${st.rows},""" +
          s""""kept_up":${st.keptUp}}"""
      }
      s""""$name":[${rows.mkString(",")}]"""
    }
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val json = s"""{"metric":"stream_throughput","unit":"rows_per_sec",""" +
      s""""base_rate":$baseRate,"seconds_per_run":$seconds,"cpus":$cpus,""" +
      s""""state_store":"$stateStore",""" +
      s""""load_avg_1m_end":${f1(load)},"paths":{${out.mkString(",")}}}"""
    println(json)
    spark.stop()
  }
}
