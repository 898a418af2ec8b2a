package graft.scd

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The `.updates` DML log as a QUERYABLE FEED — the metadata half of
  * the Type-7 pattern surfaced as rows.
  *
  * The reference treats the log purely as an input to the replay
  * (SQLUpdater.java:121-159 parses it and throws the text away); here
  * the same parse is exposed as a table of `(seq, effective_ms, verb,
  * target_table, stmt)` rows, which is what a CDC consumer, an audit
  * job, or the streaming tail ([[graft.sources.ScdLogStream]]) needs.
  *
  * Scale note: a `.updates` log is METADATA — kilobytes of SQL text
  * describing mutations over terabytes of data (that asymmetry is the
  * whole reference design, README.md:20-26). Parsing it on the driver
  * is therefore the correct plan at 100 TB, exactly as Delta Lake reads
  * its JSON transaction log driver-side; the data-proportional work
  * (applying the statements) stays a distributed job ([[cdcBetween]]).
  *
  * Only the ROOT sidecar feeds the stream: per-partition logs have no
  * total order across files (the batch reader merges them by effective
  * time, [[ScdReader.applyLogFile]]), so a single-cursor feed over them
  * would invent one. Partitioned tables stream per partition directory.
  */
object ScdLogFeed {

  /** One parsed log statement. `effective_ms` is the closest preceding
    * `-- time=` directive (epoch millis; 0 when none, matching
    * SQLUpdater.java:125); an EMPTY directive value — "effective at
    * whatever time the reader queries" (SQLUpdater.java:129) — has no
    * fixed time and is surfaced as `Long.MaxValue`. */
  final case class Entry(seq: Long, effective_ms: Long, verb: String,
      target_table: String, stmt: String)

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("effective_ms", LongType, nullable = false),
    StructField("verb", StringType, nullable = false),
    StructField("target_table", StringType, nullable = false),
    StructField("stmt", StringType, nullable = false)))

  /** Full inventory of the root log at `dir`, in file order (the replay
    * order — O5: time directives gate, they never reorder). Empty when
    * the sidecar is absent. Fails fast on malformed logs (same errors
    * as the read path: unsupported verbs, incomplete SQL, mixed
    * tables), so a feed consumer can't silently skip what the replay
    * would refuse. */
  def entries(spark: SparkSession, dir: String): Seq[Entry] =
    ScdReader.readSidecar(spark, dir) match {
      case None => Seq.empty
      case Some(text) => parseEntries(text)
    }

  private[graft] def parseEntries(text: String): Seq[Entry] = {
    val raw = UpdatesParser.rawStatements(text, scdTime = Long.MaxValue,
      strictCommentCompat = false, gateTime = Long.MaxValue)
    raw.zipWithIndex.map { case ((sql, t), i) =>
      UpdatesParser.classify(sql, t) match {
        case u: ScdUpdate => Entry(i.toLong, t, "UPDATE", u.table, sql)
        case d: ScdDelete => Entry(i.toLong, t, "DELETE", d.table, sql)
      }
    }
  }

  /** The feed as a DataFrame (the batch form of the streaming tail). */
  def feed(spark: SparkSession, dir: String): DataFrame =
    toDf(spark, entries(spark, dir))

  private[graft] def toDf(spark: SparkSession, es: Seq[Entry]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        es.map(e => Row(e.seq, e.effective_ms, e.verb, e.target_table,
          e.stmt)), numSlices = 1),
      schema)

  /** Feed entries back to compiled-replay form — the bridge a feed
    * consumer needs to APPLY what it read (e.g. the incremental
    * materializer, [[graft.streaming.ScdStream.materializeFromLog]]). */
  def toStatements(entries: Seq[Entry]): Seq[ScdStatement] =
    entries.map(e => UpdatesParser.classify(e.stmt, e.effective_ms))

  /** The as-of view by STATEMENT COUNT instead of time: the base table
    * with the first `n` log statements applied, in file order. This is
    * the replay coordinate a log-feed consumer has (its offset is a
    * statement seq, not a timestamp); `n = 0` is the raw base,
    * `n >= log length` equals the `asOf = far future` time view.
    * Loaded and compiled exactly like the time-gated path — one narrow
    * zero-shuffle replay node over [[ScdReader.loadBase]]'s scan. */
  def asOfSeq(spark: SparkSession, dir: String, n: Long,
      format: String = "parquet"): DataFrame =
    applyLogSeq(spark, ScdReader.loadBase(spark, dir, format), dir, n)

  /** [[asOfSeq]] over an already-loaded base (the `VERSION AS OF` view's
    * base carries the table's reader schema and options). */
  private[graft] def applyLogSeq(spark: SparkSession, base: DataFrame,
      dir: String, n: Long): DataFrame =
    ScdCompiler(base, toStatements(
      entries(spark, dir).take(math.min(n, Int.MaxValue.toLong).toInt)))

  /** CDC rows for the statement range `(fromSeq, toSeq]`: the
    * before/after diff of the seq-replay views, classified
    * `U`/`D`/`I` with `U`/`I` carrying the post-image and `D` the
    * pre-image (same contract as [[graft.operators.ScdMerge.snapshotDiff]],
    * which does the classification). This is the per-trigger body of a
    * log-feed consumer: each micro-batch of the streaming tail hands it
    * the batch's (min seq − 1, max seq] range and gets the distributed
    * change set — two narrow replay scans and one full-outer join on
    * the key, no driver-side data movement. */
  def cdcBetween(spark: SparkSession, dir: String, fromSeq: Long,
      toSeq: Long, key: String, format: String = "parquet"): DataFrame = {
    require(fromSeq <= toSeq,
      s"cdcBetween: fromSeq $fromSeq > toSeq $toSeq")
    graft.operators.ScdMerge.snapshotDiff(
      asOfSeq(spark, dir, fromSeq, format),
      asOfSeq(spark, dir, toSeq, format), key)
  }
}
