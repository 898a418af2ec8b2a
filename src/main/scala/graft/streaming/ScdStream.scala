package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}

/** Streaming face of the SCD engine (SURVEY.md §2.2 "streaming" row):
  * the `.updates` DML log is, at heart, a CDC feed — a stream of keyed
  * mutations ordered by effective time. The batch engine replays it at
  * read time; the streaming engine maintains the same "latest state
  * per key" continuously with Structured Streaming.
  *
  * Three idiomatic shapes, all shuffle-once on the key:
  *   - [[latestPerKey]] — declarative streaming aggregation (`max_by`),
  *     works identically on batch and streaming frames (update/complete
  *     modes);
  *   - [[latestPerKeyStateful]] — explicit keyed state via
  *     `mapGroupsWithState` (the shape to extend when custom state —
  *     e.g. full SCD2 interval tracking — is needed);
  *   - [[upsertSink]] — `foreachBatch` merge maintaining a queryable
  *     parquet snapshot, the streaming analogue of
  *     `ScdReader.compact`.
  *
  * Scale: all three partition by key (hash shuffle), state is
  * per-key-bounded (one row), and the snapshot write is a plain
  * distributed parquet write — nothing driver-bound.
  */
object ScdStream {

  /** Latest row per key by `ts` — declarative, streaming-safe
    * (aggregation state = one struct per key). */
  def latestPerKey(df: DataFrame, key: String, ts: String): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    df.groupBy(col(key))
      .agg(max_by(struct(others.toIndexedSeq.map(col): _*), col(ts)).as("__latest"))
      .select(col(key) +: others.toIndexedSeq.map(c => col("__latest").getField(c).as(c)): _*)
  }

  /** Latest row per key via explicit keyed state (`mapGroupsWithState`,
    * update mode). `ts` must be LongType; the key is compared by its
    * string form (generic over key type). */
  def latestPerKeyStateful(df: DataFrame, key: String, ts: String): DataFrame = {
    val enc = Encoders.row(df.schema)
    val tsIdx = df.schema.fieldIndex(ts)
    // NULL-ts rows can never be "latest" and getLong would NPE the
    // state function (r17 stream sweep find); the batch twin's max_by
    // skips NULL ordering keys the same way
    df.where(col(ts).isNotNull)
      .groupByKey(r => String.valueOf(r.getAs[Any](key)))(Encoders.STRING)
      .mapGroupsWithState[Row, Row](GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val newest = (state.getOption.iterator ++ rows)
            .maxBy(_.getLong(tsIdx))
          state.update(newest)
          newest
      }(enc, enc)
  }

  /** One open gap-session per key — the custom state carried by
    * [[sessionizeStream]]. Bounded by key cardinality, never by event
    * volume. Times in epoch micros. */
  case class OpenSession(start_us: Long, end_us: Long, n_events: Long)

  /** A closed session emitted by [[sessionizeStream]] — same shape as
    * the batch `Sessionize.sessions` aggregate. */
  case class SessionRow(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Streaming gap sessionization via `flatMapGroupsWithState` — the
    * streaming face of `Sessionize.sessions`, and the shape for any
    * custom multi-row-emitting state machine. A session closes either
    * when a later event of the same key arrives more than `gapSeconds`
    * after the session's last event (emitted in that micro-batch), or
    * when the event-time watermark passes last + gap with no successor
    * (EventTimeTimeout fires and flushes it).
    *
    * `key` must be castable to long; `tsCol` a timestamp. Output
    * (append mode): user_id, start_us, end_us, n_events — epoch-micro
    * columns at MILLISECOND precision (java.sql.Timestamp.getTime;
    * sub-ms digits are zero), vs the batch operator's full micros —
    * a documented divergence. Scale: one
    * hash shuffle on the key; state is ONE open session per key;
    * late events AT or below the current watermark are dropped (the
    * boundary is exclusive-keep: an event whose time EQUALS the
    * watermark is already late — pinned by the r17 stream sweep) —
    * the documented streaming/batch divergence; batch replays would
    * include them. NULL event times are dropped, not crashed on
    * (the r16 null-has-no-position contract). */
  def sessionizeStream(df: DataFrame, key: String, tsCol: String,
      gapSeconds: Long, watermarkDelay: String): DataFrame = {
    import df.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    // project/cast BEFORE the watermark: a cast after withWatermark
    // mints a new attribute and silently drops the event-time tag
    val typed = df
      .select(col(key).cast("long").as("__k"),
        col(tsCol).cast("timestamp").as("__t"))
      // a NULL event time has no position on the time axis (the r16
      // batch contract, streaming face): without this filter the row
      // sails past the watermark (NULL < wm is not TRUE) and NPEs the
      // state function — found by the r17 stream sweep corpus
      .where(col("__t").isNotNull)
      .withWatermark("__t", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, events: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionRow(user, s.start_us, s.end_us, s.n_events))
          } else {
            val ts = events.map(_._2.getTime * 1000L).toArray.sorted
            val closed = Seq.newBuilder[SessionRow]
            var open = state.getOption
            ts.foreach { t =>
              open = open match {
                case Some(s) if t - s.end_us <= gapUs => Some(OpenSession(
                  math.min(s.start_us, t), math.max(s.end_us, t),
                  s.n_events + 1))
                case Some(s) =>
                  closed += SessionRow(user, s.start_us, s.end_us, s.n_events)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // the flush deadline; clamped above the current watermark
              // (a stale deadline would be rejected by the state store)
              state.setTimeoutTimestamp(math.max(
                s.end_us / 1000L + gapSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }.toDF()
  }

  /** Per-band state entry of [[nearDupStream]]: ring of recent
    * (doc id, packed simhash) pairs sharing the band key. */
  case class BandState(ids: List[Long], sigs: List[Long])

  /** An emitted near-dup hit: the arriving doc and an earlier doc
    * within `maxDist` Hamming bits of it. */
  case class NearDupHit(doc_id: Long, dup_of: Long, hamming: Long)

  /** STREAMING near-duplicate detection — the stream face of
    * `Dedup.simhashPairs`: each arriving doc's 64-bit simhash is
    * banded (pigeonhole: Hamming ≤ maxDist ⇒ some band of maxDist+1
    * equal), the BAND KEY is the groupBy key, and per-band state keeps
    * the last `maxPerBand` (id, signature) pairs; an arrival emits one
    * hit per stored signature within `maxDist` (dedup across bands is
    * the caller's `dropDuplicates`, exactly like the batch operator's
    * distinct). State is bounded by construction (maxPerBand ring per
    * band bucket — the streaming analogue of the batch `maxBucket`
    * skew guard) rather than by watermark: near-dup recall wants the
    * longest affordable memory, not an event-time horizon.
    *
    * Input: (id long, textCol string). Output (append):
    * doc_id, dup_of, hamming. */
  def nearDupStream(df: DataFrame, id: String, textCol: String,
      maxDist: Int = 3, maxPerBand: Int = 1000): DataFrame = {
    import df.sparkSession.implicits._
    val bands = maxDist + 1
    val width = 64 / bands
    // per-row signature (simHashColumn): the groupBy form would be a
    // streaming aggregation, and aggregation + keyed state below is
    // stateful-on-stateful — unsupported in append mode
    val sh = df.select(col(id),
      graft.operators.Dedup.simHashColumn(col(textCol)).as("simhash"))
    def bkey(i: Int): Column =
      shiftright(col("simhash"), 64 - width * (i + 1))
        .bitwiseAND((1L << width) - 1)
    val banded = sh.select(col(id).cast("long"), col("simhash"),
      explode(array((0 until bands).map(i =>
        concat_ws("|", lit(i), bkey(i))): _*)).as("band"))
      .as[(Long, Long, String)]
    banded.groupByKey(_._3)
      .flatMapGroupsWithState[BandState, NearDupHit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, Long, String)],
            state: GroupState[BandState]) =>
          var st = state.getOption.getOrElse(BandState(Nil, Nil))
          val out = Seq.newBuilder[NearDupHit]
          // deterministic processing order within the micro-batch
          rows.toSeq.sortBy(_._1).foreach { case (docId, sig, _) =>
            st.ids.iterator.zip(st.sigs.iterator).foreach {
              case (oldId, oldSig) =>
                val d = java.lang.Long.bitCount(sig ^ oldSig)
                if (d <= maxDist && oldId != docId)
                  out += NearDupHit(docId, oldId, d.toLong)
            }
            st = BandState((docId :: st.ids).take(maxPerBand),
              (sig :: st.sigs).take(maxPerBand))
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** Band bits j of a 64-bit simhash under `maxDist+1`-band
    * pigeonholing (shared by the index builder and the stream probe —
    * the two sides MUST band identically). width == 64 (maxDist = 0,
    * one band) needs the all-ones mask: `(1L << 64) - 1` is 0 under
    * JVM shift semantics, which would collapse every key to one
    * bucket. */
  private def simhashBandBits(sig: Column, j: Int, width: Int): Column = {
    val mask = if (width == 64) -1L else (1L << width) - 1
    shiftright(sig, 64 - width * (j + 1)).bitwiseAND(mask)
  }

  /** Streaming corpus matcher — the streaming face of incremental
    * dedup: incoming documents are probed against a STATIC corpus
    * simhash index, emitting one hit row per (stream doc, corpus doc)
    * pair within `maxDist` Hamming distance. Anti-joining the stream's
    * sink on the hit ids de-duplicates a live crawl against the
    * standing corpus.
    *
    * Entirely STATELESS: per-row simhash (the streaming-safe
    * expression form), pigeonhole banding with `maxDist + 1` bands — a
    * pair within `maxDist` must agree on at least one band — a
    * stream-STATIC equi-join on the band key, and an exact
    * xor-popcount verify. A pair agreeing on several bands would
    * duplicate, so each hit is emitted only from the FIRST agreeing
    * band (computable from the two signatures — no dedup state).
    * `corpusIndex` is [[corpusSimhashIndex]] output, typically
    * persisted and reloaded alongside the batch signature index.
    * Output: id, corpus_id, hamming. */
  def corpusMatchStream(stream: DataFrame, corpusIndex: DataFrame,
      id: String, textCol: String, maxDist: Int = 3): DataFrame = {
    // maxDist >= 64 would make width = 64/bands = 0, collapsing every
    // band key to "j|0" — still correct, but the join degenerates to a
    // cross join of the stream against the whole corpus index
    require(maxDist >= 0 && maxDist <= 63,
      s"corpusMatchStream needs 0 <= maxDist <= 63, got $maxDist")
    val bands = maxDist + 1
    val width = 64 / bands
    val sh = stream.select(col(id),
      graft.operators.Dedup.simHashColumn(col(textCol)).as("__sig"))
    val probes = sh.select(col(id), col("__sig"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("j"),
          concat_ws("|", lit(j), simhashBandBits(col("__sig"), j, width))
            .as("bk"))): _*)).as("__b"))
      .select(col(id), col("__sig"),
        col("__b.j").as("__j"), col("__b.bk").as("__band"))
    val firstAgree = (0 until bands).map(j =>
      when(simhashBandBits(col("__sig"), j, width) ===
        simhashBandBits(col("corpus_sig"), j, width), lit(j)))
      .reduce(coalesce(_, _))
    val dist =
      graft.operators.Dedup.hamming(col("__sig"), col("corpus_sig"))
    probes.join(corpusIndex, probes("__band") === corpusIndex("band"))
      .where(dist <= maxDist && col("__j") === firstAgree)
      .select(col(id), col("corpus_id"), dist.cast("long").as("hamming"))
  }

  /** Streaming DSIR quality gate: score each incoming document's
    * hashed bag-of-unigrams against a TRAINED
    * [[graft.functions.expressions.DsirScorer]]
    * ([[graft.operators.TextAnalysis.dsirScorer]] output — the
    * persisted full-table artifact) and pass documents whose log
    * importance weight clears `minLogwNats` — the "is this crawl page
    * target-like enough to keep" admission check, applied in-flight.
    *
    * Entirely STATELESS: the scorer is a bounded plan reference inside
    * one per-row codegen'd projection — no aggregation, no watermark,
    * no state store — so it runs in append mode at any rate and
    * restarts trivially (spec-locked: no stateful operator in the
    * plan). Scores are bit-identical to the batch path
    * ([[graft.operators.TextAnalysis.dsirWeights]]'s logw_nats):
    * gate decisions replay exactly in a batch audit.
    *
    * Output (append): id, n_tokens, logw_nats (4 dp), gated to
    * logw_nats >= minLogwNats. */
  def dsirGateStream(stream: DataFrame,
      scorer: graft.functions.expressions.DsirScorer,
      minLogwNats: Double, id: String = "doc_id",
      textCol: String = "text"): DataFrame =
    stream.select(col(id),
        size(split(lower(col(textCol)), " ")).cast("long").as("n_tokens"),
        round(org.apache.spark.sql.graft.CatalystBridge.dsirScore(
          lower(col(textCol)), scorer).cast("double") / 1000000.0, 4)
          .as("logw_nats"))
      .where(col("logw_nats") >= minLogwNats)

  /** STREAMING decontamination admission gate — admit only documents
    * sharing no w-gram with the persisted benchmark artifact
    * ([[graft.operators.Dedup.decontaminationIndexWrite]]); the
    * ingest-time face of the batch scrub. The suite's grams fold into
    * a bloom filter ONCE at gate construction (a bounded driver
    * action — the artifact is benchmark-suite-sized) and ride the
    * stream as a LITERAL, so the gate is completely STATELESS: a
    * per-row `exists(grams, might_contain)` over the doc's own gram
    * array, no stream-static join, no aggregation state, no
    * watermark.
    *
    * Safety direction: blooms have NO false negatives, so a
    * contaminated document can NEVER pass — the failure mode is a
    * false POSITIVE rejecting a clean doc (~`fpp` of clean docs at
    * the sized capacity). Route the rejected slice through the exact
    * batch recheck ([[graft.operators.Dedup.decontaminateIndexed]])
    * to recover them; `expectedGrams` sizes the filter (undersizing
    * only raises the FP rate, never admits contamination). Docs
    * shorter than w tokens carry no grams and always pass. */
  def decontaminateStreamGate(stream: DataFrame, indexPath: String,
      textCol: String = "text", w: Int = 8,
      expectedGrams: Long = 1000000L): DataFrame = {
    require(w >= 1 && expectedGrams > 0,
      s"decontaminateStreamGate: w >= 1 and expectedGrams > 0: " +
        s"$w, $expectedGrams")
    val spark = stream.sparkSession
    val bloomRow = graft.operators.Dedup.decontaminationIndexGrams(
        spark, indexPath, w, "decontaminateStreamGate")
      .agg(org.apache.spark.sql.graft.CatalystBridge.bloomFilterAgg(
        xxhash64(col("shingle")), expectedGrams).as("bf"))
      .head()
    if (bloomRow.isNullAt(0)) stream // empty suite: everything passes
    else {
      val bf = lit(bloomRow.getAs[Array[Byte]](0))
      val hit = exists(
        graft.operators.Dedup.gramArray(col(textCol), w),
        g => coalesce(
          org.apache.spark.sql.graft.CatalystBridge.bloomMightContain(
            bf, xxhash64(g)), lit(false)))
      stream.where(!hit)
    }
  }

  /** STREAMING FUZZY decontamination gate —
    * [[decontaminateStreamGate]]'s near-duplicate sibling (the batch
    * pair is `decontaminate` vs `decontaminateNear`, r13): admit only
    * documents whose w-gram overlap FRACTION against the benchmark
    * suite's pooled gram set stays below `thresholdMil`/1000. The
    * verbatim gate kills on ANY shared gram — right at w = 8 where a
    * collision is a quoted span; at the small w that catches
    * paraphrases (3–4), single collisions are boilerplate noise, so
    * this gate measures |doc-grams ∩ suite| / |doc-grams| per row:
    * the same suite bloom folded ONCE into a literal, one `filter`
    * HOF over the doc's own gram array — completely stateless, no
    * join, no aggregation state, no watermark.
    *
    * Direction of error: bloom false positives only INFLATE the
    * measured fraction, so a doc whose true pooled-gram containment
    * is ≥ the threshold can NEVER pass (no false negatives); ~fpp of
    * a clean doc's grams count as phantom hits, biasing toward
    * REJECTION — size `expectedGrams` honestly and route the rejected
    * slice through [[graft.operators.Dedup.decontaminateNear]] for
    * the exact per-benchmark-item recheck. (This gate's fraction is
    * doc-sided — the stateless per-row analogue; the batch scrub's
    * per-ITEM directed containment is the sharper final word.) The
    * decision boundary is exact integer mils (hits·1000 ≥ τmil·n —
    * no float on the compare). Docs shorter than w tokens carry no
    * grams and always pass. */
  def decontaminateNearStreamGate(stream: DataFrame, indexPath: String,
      textCol: String = "text", w: Int = 4, thresholdMil: Int = 500,
      expectedGrams: Long = 1000000L): DataFrame = {
    require(w >= 1 && expectedGrams > 0,
      s"decontaminateNearStreamGate: w >= 1 and expectedGrams > 0: " +
        s"$w, $expectedGrams")
    require(thresholdMil >= 1 && thresholdMil <= 1000,
      s"decontaminateNearStreamGate: thresholdMil must be in " +
        s"[1,1000], got $thresholdMil")
    val spark = stream.sparkSession
    // construction-time w validation (ADVICE r13): the artifact's
    // grams are w-grams — a mismatched gate (e.g. the w=4 default
    // against a w=8 decontaminationIndexWrite default) would never
    // hit the bloom and silently pass EVERY doc, inverting the
    // documented no-false-negative bias; fail loud here instead
    val bloomRow = graft.operators.Dedup.decontaminationIndexGrams(
        spark, indexPath, w, "decontaminateNearStreamGate")
      .agg(org.apache.spark.sql.graft.CatalystBridge.bloomFilterAgg(
        xxhash64(col("shingle")), expectedGrams).as("bf"))
      .head()
    if (bloomRow.isNullAt(0)) stream // empty suite: everything passes
    else {
      val bf = lit(bloomRow.getAs[Array[Byte]](0))
      val grams = graft.operators.Dedup.gramArray(col(textCol), w)
      val hits = size(filter(grams, g => coalesce(
        org.apache.spark.sql.graft.CatalystBridge.bloomMightContain(
          bf, xxhash64(g)), lit(false))))
      stream.where(size(grams) === 0 ||
        hits * 1000 < lit(thresholdMil.toLong) * size(grams))
    }
  }

  /** STREAMING PII admission gate — admit only documents carrying no
    * VALIDATED PII (email shape, Luhn-valid card run, octet-valid
    * IPv4 — [[graft.operators.TextAnalysis.hasValidatedPii]], the
    * same candidates and validation as the batch
    * [[graft.operators.TextAnalysis.piiAudit]]). Completely
    * STATELESS: pure per-row regex + checksum expressions, no
    * artifact, no join, no aggregation state, no watermark — the
    * cheapest gate in the family, and the one every ingest path
    * should run first.
    *
    * Validation is the point: a Luhn-FAILING digit run or a
    * `999.x.x.x` shape does not cost the doc. The rejected slice
    * keeps its text — route it through
    * [[graft.operators.TextAnalysis.redactPii]] + a batch re-audit
    * to recover redacted copies instead of dropping the documents
    * outright. NULL text trivially carries no PII and PASSES —
    * [[graft.operators.TextAnalysis.hasValidatedPii]] itself
    * coalesces its NULL to FALSE (its scaladoc's three-valued-logic
    * argument), so the negation is TRUE for null text and the WHERE
    * keeps the row; no second coalesce needed at this layer
    * (ADVICE r14). */
  def piiStreamGate(stream: DataFrame,
      textCol: String = "text"): DataFrame =
    stream.where(
      !graft.operators.TextAnalysis.hasValidatedPii(col(textCol)))

  /** STREAMING sequence packing — the ingest-time face of
    * [[graft.operators.Packing.packAppendWith]]: each shard's running
    * token total is THE state (the streaming twin of
    * [[graft.operators.Packing.packTotals]]), so every micro-batch
    * packs exactly where the previous one stopped and the output
    * equals a batch `packAppend` CHAIN fed the same batches in the
    * same order (spec-pinned). Cross-batch order is ARRIVAL order —
    * use this where arrival IS the training order (ingest pipelines);
    * use the batch forms where a global key order matters.
    *
    * Within a micro-batch each (shard, batch) group sorts in memory
    * by `orderCol` — REQUIRED to be an integral type (ingest seq
    * ids), checked at construction: a string orderCol would sort
    * lexicographically in the batch twin ('10' < '9') but
    * numerically here, silently breaking the spec-pinned
    * batch-equivalence, and a non-castable value would otherwise
    * throw a bare NumberFormatException inside the state function
    * and kill the query (ADVICE r14). A NULL orderCol fails loud in
    * the PLAN (`raise_error` with the column name) — a null seq id
    * has no position in the pack order. The sort volume is bounded
    * by the batch's rows per shard — the same volume the batch
    * window's sort pays, just per trigger. State per shard is ONE
    * long. Null-token rows (null text) are dropped, matching the
    * batch straddle split's documented guard. Output (append mode):
    * the input columns + n_tokens, start_offset, chunk_id. */
  def packStream(df: DataFrame, shardCol: String, orderCol: String,
      textCol: String = "text", maxTokens: Int = 2048): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive: $maxTokens")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StructField, StructType}
    val ordType = df.schema(orderCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(ordType),
      s"packStream: orderCol `$orderCol` must be an integral type " +
        s"(ingest seq ids), got $ordType — a non-integral column " +
        "would order differently here than in the batch packAppend " +
        "twin; cast or renumber upstream")
    val withN = df.withColumn("n_tokens",
      graft.operators.TextAnalysis.tokenCount(col(textCol))
        .cast("long"))
      .where(col("n_tokens").isNotNull)
      .withColumn("__pack_ord", coalesce(col(orderCol).cast("long"),
        raise_error(lit(s"packStream: orderCol `$orderCol` is NULL — " +
          "a null seq id has no position in the pack order"))))
    val inSchema = withN.schema
    val outSchema = StructType(
      inSchema.fields.filterNot(_.name == "__pack_ord") ++ Seq(
        StructField("start_offset", LongType),
        StructField("chunk_id", LongType)))
    val enc = Encoders.row(outSchema)
    val ordIdx = inSchema.fieldIndex("__pack_ord")
    val nIdx = inSchema.fieldIndex("n_tokens")
    val m = maxTokens.toLong
    withN
      .groupByKey(r => String.valueOf(r.getAs[Any](shardCol)))(
        Encoders.STRING)
      .flatMapGroupsWithState[Long, Row](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toVector
            .sortBy(_.getLong(ordIdx))
            .map { r =>
              val n = r.getLong(nIdx)
              val s = off
              off += n
              // __pack_ord is inSchema's last field — dropped from
              // the emitted row (internal sort key only)
              Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(s, s / m))
            }
          state.update(off)
          out.iterator
      }(Encoders.scalaLong, enc)
  }

  /** Static simhash band index of a corpus — the persisted artifact
    * [[corpusMatchStream]] probes: (corpus_id, corpus_sig, band), one
    * row per band per doc. Write it partitioned/bucketed by `band` so
    * the stream-side join probes narrow slices. */
  def corpusSimhashIndex(corpus: DataFrame, id: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 63,
      s"corpusSimhashIndex needs 0 <= maxDist <= 63, got $maxDist")
    val bands = maxDist + 1
    val width = 64 / bands
    // batch side: the codegen'd aggregation form (spec-asserted
    // signature-identical to the streaming expression form)
    graft.operators.Dedup.simHash(corpus, id, textCol)
      .select(col(id).as("corpus_id"), col("simhash").as("corpus_sig"))
      .withColumn("band",
        explode(array((0 until bands).map(j =>
          concat_ws("|", lit(j),
            simhashBandBits(col("corpus_sig"), j, width))): _*)))
  }

  /** Stream-stream interval join: each left event pairs with the right
    * events sharing its key whose timestamp falls in
    * `[leftTs − lookback, leftTs]` — attribution's "click within the
    * N minutes before the purchase" shape, as a real two-stream join
    * (both sides unbounded), not a stream-static lookup.
    *
    * Both sides carry a `lookback`-sized watermark and the join
    * condition bounds the time skew, which is exactly what Spark's
    * stream-stream join needs to EVICT state: each side buffers only
    * a `lookback` window of rows per key, so state is bounded by rate
    * × window, never by stream length. One hash shuffle per side on
    * the key — the same plan a batch interval join gets.
    *
    * Column names must be disjoint apart from `key` (standard
    * stream-join hygiene; alias upstream). Timestamps must be real
    * TimestampType (watermarks require event-time columns). */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lookback: String): DataFrame = {
    // rename the right key BEFORE the watermark (rename is a
    // projection; do it first so the event-time tag is applied last
    // and survives — the cast-drops-the-tag lesson)
    val rKey = s"__r_$key"
    val l = left.withWatermark(leftTs, lookback)
    val r = right.withColumnRenamed(key, rKey)
      .withWatermark(rightTs, lookback)
    l.join(r, col(key) === col(rKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs))
      .drop(rKey)
  }

  /** Enrich a STREAM of facts with the dimension attributes valid AT
    * each event's own timestamp — the streaming face of the Type-7
    * temporal join: batch jobs read one as-of snapshot
    * (`ScdReader.read`); a stream carries a DIFFERENT as-of per row,
    * so the lookup targets the SCD2 validity interval
    * (`ScdReader.history`) containing the event time.
    *
    * Stream-static LEFT join on the key plus the interval residual
    * `valid_from_ms <= ts < valid_to_ms` — an equi-join with a range
    * post-condition, the same hash-join plan a batch as-of-interval
    * lookup gets (never a nested loop), one shuffle on the key. A key
    * deleted by the log simply has no interval covering later events:
    * those enrich to NULL, faithfully (deletion is absence, not a
    * tombstone value).
    *
    * Freshness contract: the dimension's `.updates` statements are
    * parsed at PLAN time (driver-side sidecar read), so a running
    * query serves the log as of query START; statements appended later
    * are picked up on restart — same semantics as the batch view, per
    * plan. Callers needing per-batch log refresh compose
    * [[ScdStream.applyLogBatch]]/`foreachBatch` and rebuild the
    * history frame inside the batch function.
    *
    * @param stream    streaming facts
    * @param history   SCD2 interval frame (`ScdReader.history(spark,
    *                  dir)`) — or any frame with `valid_from_ms` /
    *                  `valid_to_ms` (ms epoch, null to = open)
    * @param streamKey fact-side key column
    * @param dimKey    dimension-side key column (kept distinct: fact
    *                  and dim names usually differ; both retained in
    *                  the output — `dimKey` is NULL for misses)
    * @param tsMsCol   fact-side event time, ms epoch (long)
    */
  def enrichAsOf(stream: DataFrame, history: DataFrame, streamKey: String,
      dimKey: String, tsMsCol: String): DataFrame = {
    val ts = stream.col(tsMsCol)
    stream.join(history,
      stream.col(streamKey) === history.col(dimKey) &&
        ts >= history.col("valid_from_ms") &&
        (history.col("valid_to_ms").isNull ||
          ts < history.col("valid_to_ms")),
      "left")
      .drop("valid_from_ms", "valid_to_ms")
  }

  /** [[enrichAsOf]] against a table DIRECTORY: builds the SCD2 history
    * from the dir's base files + `.updates` sidecars at plan time. */
  def enrichAsOf(stream: DataFrame, tableDir: String, streamKey: String,
      dimKey: String, tsMsCol: String): DataFrame =
    enrichAsOf(stream,
      graft.scd.ScdReader.history(stream.sparkSession, tableDir),
      streamKey, dimKey, tsMsCol)

  /** [[enrichAsOf]] with PER-BATCH log refresh — the freshness
    * contract the plan-time variant can't give: each micro-batch
    * re-reads the dir's `.updates` sidecars and rebuilds the SCD2
    * history plan, so statements appended while the query runs are
    * visible from the NEXT trigger without a restart. The sidecar
    * parse is a KB-scale driver read per trigger (the same cost every
    * `ScdReader.read` pays once); the per-batch join is the identical
    * interval hash join. `sink(enrichedBatch, batchId)` is the
    * caller's output step — returns the writer, ready to `.start()`. */
  def enrichAsOfRefreshing(stream: DataFrame, tableDir: String,
      streamKey: String, dimKey: String, tsMsCol: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val hist = graft.scd.ScdReader.history(
          batch.sparkSession, tableDir)
        sink(enrichAsOf(batch.toDF(), hist, streamKey, dimKey, tsMsCol),
          id)
    }

  /** Tumbling-window event counts with a watermark — the standard
    * windowed streaming aggregate over an event-time column. */
  def eventCountsPerWindow(df: DataFrame, tsCol: String,
      windowDuration: String, watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_events"))

  /** Per-window frequent terms over a live stream — the
    * boilerplate-surge monitor for continuous crawl ingest ("which
    * strings suddenly dominate this hour's batch?"). Tokens from
    * `textCol` feed the native Misra–Gries aggregate
    * ([[graft.functions.expressions.MisraGries]]) inside a tumbling
    * event-time window: state per window is the BOUNDED k-entry sketch
    * buffer (serialized into the state store like any imperative
    * aggregate — collect_set with a cap, effectively), never a
    * per-distinct-token map, so a vocabulary explosion cannot blow the
    * store. Watermark closes windows; the n/(k+1) guarantee is
    * per-window (n = that window's token count, emitted alongside).
    * Output: window_start, window_end, n_tokens, top (map token →
    * lower-bound count). */
  def freqTermsPerWindow(df: DataFrame, textCol: String, tsCol: String,
      windowDuration: String, watermarkDelay: String,
      k: Int = 256): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(window(col(tsCol), windowDuration).as("w"))
      .agg(count(lit(1)).as("n_tokens"),
        org.apache.spark.sql.graft.CatalystBridge.freqItems(col("tok"), k)
          .as("top"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_tokens"), col("top"))

  /** Per-window log-linear value histogram over a live stream — the
    * streaming face of [[graft.operators.Sketch.hdrSketch]], for
    * continuous quantile monitoring ("this hour's doc-length p99")
    * on crawl ingest. State per (window, bucket) is ONE count and the
    * bucket space is bounded by construction (≤ ~1 920 at subBits=5),
    * so the store holds windows·buckets rows at ANY input rate —
    * quantiles over an unbounded stream with provably bounded state.
    * Emitted (window, key, cnt) rows are additive exactly like the
    * batch sketch: late re-emissions, shard unions, and day-over-day
    * roll-ups all merge by summing, and
    * [[graft.operators.Sketch.hdrQuantiles]] serves quantiles from
    * any such union (HdrStreamSpec pins stream ≡ batch bucket-for-
    * bucket and quantile-for-quantile). */
  def valueHistogramPerWindow(df: DataFrame, valueCol: String,
      tsCol: String, windowDuration: String, watermarkDelay: String,
      subBits: Int = 5): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        graft.operators.Sketch.hdrKey(col(valueCol), subBits).as("key"))
      .where(col("key").isNotNull)
      .groupBy(window(col(tsCol), windowDuration).as("w"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("key"), col("cnt"))

  /** STRATIFIED [[valueHistogramPerWindow]] — one log-linear
    * histogram per (window, stratum): the streaming input of
    * [[graft.operators.Sketch.hdrDriftBy]], closing the monitoring
    * loop "which LANGUAGE drifted in the last hour" (r12 — the
    * per-stratum twin of the streaming drift monitor HdrStreamSpec
    * pins). State per window is |strata|·≤ ~(64−b)·2^b bucket rows —
    * corpus-independent per stratum; rows stay additive per
    * (stratum, key), so shard unions / late re-emissions merge by
    * summing and per-stratum quantiles serve from any union via
    * [[graft.operators.Sketch.hdrQuantilesBy]]. */
  def valueHistogramPerWindowBy(df: DataFrame, strataCol: Column,
      valueCol: String, tsCol: String, windowDuration: String,
      watermarkDelay: String, subBits: Int = 5): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), strataCol.as("stratum"),
        graft.operators.Sketch.hdrKey(col(valueCol), subBits).as("key"))
      .where(col("key").isNotNull && col("stratum").isNotNull)
      .groupBy(window(col(tsCol), windowDuration).as("w"),
        col("stratum"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("stratum"), col("key"),
        col("cnt"))

  /** Streaming exact dedup: drop re-occurrences of a key within the
    * watermark horizon — the streaming face of `Dedup.exactGroups`
    * for continuous document ingest (key = content fingerprint).
    * State is BOUNDED by the watermark: exact dedup over an unbounded
    * stream needs unbounded state, so the contract is "no duplicate
    * admitted within `watermarkDelay` of event time"; periodic batch
    * compaction (the batch dedup family) handles older re-occurrences.
    * One hash shuffle on the key; state one row per key in horizon. */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** `foreachBatch` upsert sink: each micro-batch merges into a
    * versioned parquet snapshot under `snapshotDir/v=<epoch>`; the
    * newest version is the queryable dimension state and older versions
    * are pruned after a successful write (simple two-phase swap — a
    * table format with atomic commits would replace this at
    * production scale). Returns the writer; caller starts it. */
  def upsertSink(changes: DataFrame, key: String, ts: String,
      snapshotDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, key, ts, snapshotDir, batchId)
      }

  /** One micro-batch merge (exposed for testing / batch backfill).
    * Crash-safe: a version only becomes visible once its commit marker
    * lands, so a partial v=N from a mid-write crash is invisible to the
    * retry (which merges against the last COMMITTED version) and gets
    * overwritten. Re-running an already-committed batch id is a no-op
    * (foreachBatch is at-least-once). */
  def mergeBatch(batch: DataFrame, key: String, ts: String,
      snapshotDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (listVersions(spark, snapshotDir).contains(batchId)) return
    val merged = latestSnapshot(spark, snapshotDir) match {
      case Some(prev) => latestPerKey(prev.unionByName(batch), key, ts)
      case None => latestPerKey(batch, key, ts)
    }
    val vdir = s"$snapshotDir/v=$batchId"
    merged.write.mode("overwrite").parquet(vdir)
    val fs = new Path(snapshotDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(vdir, CommitMarker), true).close()
    pruneVersions(spark, snapshotDir, keep = batchId)
  }

  private val CommitMarker = "_GRAFT_COMMITTED"

  /** Continuously-maintained Type-7 materialized view: tail the table's
    * `.updates` log (`format("scd").option("feed","log")`) and fold each
    * micro-batch of NEW statements onto the previous committed snapshot
    * — the streaming analogue of `ScdReader.compact`, kept current
    * without ever re-replaying the whole log.
    *
    * {{{
    * ScdStream.materializeFromLog(spark, tableDir, snapDir, ckptDir)
    *   .trigger(...).start()
    * // any time later, from any session:
    * ScdStream.latestSnapshot(spark, snapDir)   // == asOfSeq(applied)
    * }}}
    *
    * Exactly-once by SEQ, not by batch id: each committed snapshot
    * version records the highest statement seq folded into it, and a
    * batch applies only statements ABOVE that watermark. DML replay is
    * not idempotent (`bal = bal + 100` twice is wrong), so at-least-once
    * `foreachBatch` replays, checkpoint/snapshot mismatches, even a
    * wiped-and-recreated checkpoint all land on the seq gate and apply
    * nothing twice. Crash-safety is [[mergeBatch]]'s scheme: a version
    * is visible only once its commit marker lands.
    *
    * Scale shape: the statement fold is [[graft.scd.ScdCompiler]]'s
    * one narrow replay node over the previous snapshot — one
    * distributed parquet read + write per trigger, no shuffle; the
    * statements themselves are KB-scale driver metadata. */
  def materializeFromLog(spark: SparkSession, tableDir: String,
      snapshotDir: String, checkpointDir: String,
      format: String = "parquet")
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    spark.readStream.format("scd").option("feed", "log").load(tableDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyLogBatch(batch, tableDir, snapshotDir, batchId, format)
      }

  /** One micro-batch fold (exposed for testing / batch catch-up). */
  def applyLogBatch(batch: DataFrame, tableDir: String,
      snapshotDir: String, batchId: Long,
      format: String = "parquet"): Unit = {
    val spark = batch.sparkSession
    // tiny by design: a micro-batch of the log feed is SQL text rows
    val entries = batch
      .select("seq", "effective_ms", "verb", "target_table", "stmt")
      .orderBy("seq").collect()
      .map(r => graft.scd.ScdLogFeed.Entry(r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3), r.getString(4))).toIndexedSeq
    if (entries.isEmpty) return
    val applied = snapshotMaxSeq(spark, snapshotDir)
    val fresh = entries.filter(_.seq > applied)
    if (fresh.isEmpty) return
    val base = latestSnapshot(spark, snapshotDir)
      .getOrElse(graft.scd.ScdReader.loadBase(spark, tableDir, format))
    val next = graft.scd.ScdCompiler(base,
      graft.scd.ScdLogFeed.toStatements(fresh))
    // versions are named by the SEQ WATERMARK, not the batch id:
    // version order == application order even across checkpoint
    // lineages (a fresh checkpoint restarts batch ids at 0, which would
    // make the newest version sort lowest), and a replayed batch
    // rewrites its own version dir instead of minting a bogus one
    val maxSeq = fresh.last.seq
    val vdir = s"$snapshotDir/v=$maxSeq"
    next.write.mode("overwrite").parquet(vdir)
    val fs = new Path(snapshotDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the marker carries the same watermark — snapshot + the record of
    // what it contains commit in one file create; an EMPTY marker marks
    // a mergeBatch/upsertSink dir, which snapshotMaxSeq refuses to mix
    val out = fs.create(new Path(vdir, CommitMarker), true)
    try out.write(maxSeq.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    pruneVersions(spark, snapshotDir, keep = maxSeq)
  }

  /** Highest statement seq folded into the latest committed snapshot;
    * -1 when no snapshot exists. */
  private[streaming] def snapshotMaxSeq(spark: SparkSession,
      snapshotDir: String): Long =
    listVersions(spark, snapshotDir).sorted.lastOption.fold(-1L) { v =>
      val p = new Path(s"$snapshotDir/v=$v", CommitMarker)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      // empty marker = a version written by the upsert path (mergeBatch)
      // — no seq coordinate; refuse to mix the two sinks on one dir
      if (text.isEmpty) throw new IllegalStateException(
        s"$snapshotDir/v=$v has no seq watermark: this snapshot dir " +
          "was written by upsertSink/mergeBatch, not materializeFromLog " +
          "— the two sinks cannot share a snapshot directory")
      else text.toLong
    }

  /** Streaming DML sink: statement lines arriving as a stream are
    * appended to the table directory's `.updates` sidecar — the
    * continuous-ingest face of the Type-7 abstraction (the log IS the
    * stream; batch `ScdReader.read` immediately sees each new
    * statement at its next invocation). Lines are validated by the
    * parser BEFORE appending — a malformed statement fails the batch
    * rather than poisoning the sidecar. The log is tiny by design, so
    * the driver-side append is not a scale concern; `textCol` is the
    * statement-line column. */
  def dmlSink(lines: org.apache.spark.sql.Dataset[Row], textCol: String,
      tableDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    // markers are namespaced by the streaming QUERY id (ADVICE r02/r03):
    // batch ids alone are only unique WITHIN one checkpoint lineage.
    // The query id is persisted in the checkpoint's metadata file, so a
    // restart on the SAME checkpoint replays with the same
    // (queryId, batchId) → skipped, while a wiped-and-recreated
    // checkpoint — even at the SAME path — gets a fresh queryId, so its
    // new batch 0 can't collide with the old lineage's marker 0 (a
    // checkpoint-PATH hash had exactly that collision).
    val fallbackId = java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toString.take(8)
    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // set by StreamExecution for every micro-batch job; fall back
        // to the path hash only outside a real streaming run
        val runId = Option(
          spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
          .map(_.take(8)).getOrElse(fallbackId)
        val token = s"$runId:$batchId"
        if (appliedBatches(spark, tableDir).contains(token)) {
          System.err.println(
            s"[graft.dmlSink] batch $token already applied to $tableDir; skipping replay")
        } else {
          val stmts = batch.select(col(textCol)).collect().map(_.getString(0))
          appendStatements(spark, tableDir, stmts.toIndexedSeq, Some(token))
          ()
        }
      }
  }

  /** Validate + append statement lines to `dir/.updates`: write the
    * whole new content to a temp file, then rename OVER the live
    * sidecar (FileContext overwrite-rename — no window in which a
    * concurrent read sees no sidecar at all). Returns the new log as
    * validated, so a caller reporting on it needs no second read. */
  def appendStatements(spark: SparkSession, tableDir: String,
      stmtLines: Seq[String], batchToken: Option[String] = None)
      : graft.scd.ScdLog = {
    // the batch marker is an ordinary comment line INSIDE the sidecar
    // (the parser's comment strip skips it), so statements + marker
    // land in ONE atomic rename — a crash can never record the batch
    // without its statements or vice versa
    val marker = batchToken.fold("")(id => s"$BatchMarkerPrefix$id\n")
    val addition = stmtLines.mkString("", "\n", "\n") + marker
    val existing = graft.scd.ScdReader.readSidecar(spark, tableDir)
      .getOrElse("")
    val combined = existing + addition
    // parse the WHOLE prospective log at an all-inclusive time: throws
    // on malformed/incomplete/mixed-table input before anything lands
    val log = graft.scd.UpdatesParser.parse(combined, Long.MaxValue)
    graft.scd.ScdReader.writeSidecarAtomic(spark, tableDir, combined)
    log
  }

  private val BatchMarkerPrefix = graft.scd.ScdReader.BatchMarkerPrefix

  /** Every batch token recorded in the sidecar's marker comments. */
  private[streaming] def appliedBatches(spark: SparkSession,
      tableDir: String): Set[String] =
    graft.scd.ScdReader.readSidecar(spark, tableDir).fold(Set.empty[String]) {
      text =>
        text.linesIterator
          .filter(_.startsWith(BatchMarkerPrefix))
          .map(_.stripPrefix(BatchMarkerPrefix).trim)
          .toSet
    }

  /** The newest committed snapshot version, if any. */
  def latestSnapshot(spark: SparkSession, snapshotDir: String): Option[DataFrame] =
    listVersions(spark, snapshotDir).sorted.lastOption.map(v =>
      spark.read.parquet(s"$snapshotDir/v=$v"))

  /** COMMITTED versions only (marker present). */
  private def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
        fs.exists(new Path(st.getPath, CommitMarker)))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  private def pruneVersions(spark: SparkSession, dir: String, keep: Long): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listVersions(spark, dir).filter(_ != keep).foreach(v =>
      fs.delete(new Path(dir, s"v=$v"), true))
  }
}
