package graft.scd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, struct, transform, typedLit}

import java.nio.charset.StandardCharsets

/** Type-7 SCD table reader (SURVEY.md §7.1 module 4).
  *
  * A table is a directory of immutable data files plus an optional
  * `.updates` DML sidecar in the same directory (reference:
  * SQLUpdater.java:107-119 — `new Path(dir.getParent, ".updates")`).
  * Reading resolves the as-of time, loads + time-gates the log on the
  * DRIVER (the sidecar is tiny), compiles it to narrow Catalyst
  * expressions, and returns the as-of view. No sidecar / no retained
  * statements → the raw DataFrame unchanged (O14 passthrough).
  *
  * `scd.time` resolution order (reference README.md:172-217):
  * explicit `asOf` argument > Spark conf `spark.scd.time` > now.
  * `-1` disables replay entirely.
  *
  * Spark conveniently ignores dot-prefixed files during file listing,
  * so the `.updates` sidecar never pollutes the data scan.
  *
  * Every read of a directory goes through the session's table state
  * ([[ScdTableState]]). It holds the analyzed base relation, a
  * fingerprint (path, size, mtime) of the data files, the SQL conf it
  * was built under and the resolved statements. A warm read lists the
  * directory once, reads its sidecars, and resolves only statements it
  * has not seen, so it launches no schema-inference job. An added,
  * removed or resized data file, or any SQL conf change other than the
  * two `scd.time` keys, rebuilds the state. The states are bounded
  * ([[ScdTableState.MaxTables]] tables, each with at most
  * [[ScdCompiler.MaxReplayStatementsDefault]] resolutions)
  * and never serve another or a stopped session. Residual case: a data
  * file rewritten with the same name, size and mtime keeps what the
  * relation fixed at build (e.g. an inferred schema), the limit of
  * Spark's own file-status cache; its rows are read fresh.
  */
object ScdReader {

  val ConfKey = "spark.scd.time"
  /** Namespaced alias for [[ConfKey]] (wins when both are set) — the
    * session-conf default behind the SQL-only `format("scd")` surface,
    * mirroring the reference's `SET scd.time=...` session knob
    * (README.md:172-217). */
  val ConfKeyGraft = "spark.graft.scd.time"
  val SidecarName = ".updates"

  /** Session-conf scd.time: `spark.graft.scd.time` > `spark.scd.time`.
    * Package-visible: the V1/DSv2 fallback captures it at TABLE
    * CONSTRUCTION so a conf set around `load()` is honored even if
    * unset before the action fires (r17 sweep find — see
    * [[graft.sources.ScdDataSource]]). */
  private[graft] def confTime(spark: SparkSession): Option[String] =
    spark.conf.getOption(ConfKeyGraft).orElse(spark.conf.getOption(ConfKey))

  /** Read the as-of view of an SCD table directory.
    *
    * @param format  any DataSource format ("parquet", "avro", "json", …)
    * @param schema  optional explicit reader schema
    * @param options extra reader options (e.g. "avroSchema" -> json for
    *                Avro reader-schema default resolution, SURVEY §1.3)
    * @param asOf    optional scd.time (epoch millis, ISO date[time], or
    *                "-1"); absent → conf `spark.scd.time` → now
    */
  def read(
      spark: SparkSession,
      dir: String,
      format: String = "parquet",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty,
      asOf: Option[String] = None): DataFrame = {
    val t = open(spark, dir, format, schema, options)
    t.replay(retained(spark, t.sidecars, asOf))
  }

  /** THE loader from an SCD directory to its base DataFrame — every
    * read path, SQL and streaming included, loads here: a fresh
    * instance of the base its table state holds ([[open]]). */
  private[graft] def loadBase(
      spark: SparkSession,
      dir: String,
      format: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame =
    open(spark, dir, format, schema, options).base

  /** One read of a table directory through the session's table state
    * ([[ScdTableState]]): its base, its sidecars and its memo of
    * resolved statements. */
  private[graft] def open(
      spark: SparkSession,
      dir: String,
      format: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): ScdTableState.Read =
    ScdTableState.open(spark, dir, format, schema, options)(
      loadFiles(spark, dir, format, schema, options))

  /** The files of an SCD directory as a DataFrame, built only when the
    * table state is (re)built. For Avro (no
    * spark-avro connector here) the reader schema comes from the
    * "avroSchema" option (any key case: SQL surfaces lower-case it),
    * else from a supplied StructType (converted through the reverse
    * bridge), else the file's writer schema; a Hive-partitioned Avro
    * directory routes through [[graft.sources.AvroSource.readPartitioned]],
    * so partition columns resolve and partition sidecars can guard. */
  private def loadFiles(
      spark: SparkSession,
      dir: String,
      format: String,
      schema: Option[StructType],
      options: Map[String, String]): DataFrame =
    if (format.equalsIgnoreCase("avro")) {
      val readerJson = options
        .collectFirst { case (k, v) if k.equalsIgnoreCase("avroSchema") => v }
        .orElse(schema.map(st =>
          graft.sources.AvroSource.toAvroSchema(st, "record").toString))
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // cheap probe (readPartitioned re-walks anyway — don't decode
      // the whole child list twice on object stores)
      val partitioned = fs.getFileStatus(p).isDirectory &&
        fs.listStatus(p).exists(st =>
          st.isDirectory && st.getPath.getName.contains('='))
      if (partitioned)
        graft.sources.AvroSource.readPartitioned(spark, dir,
          defaultReaderJson = readerJson)
      else graft.sources.AvroSource.read(spark, dir, readerJson)
    } else {
      val base0 = spark.read.format(format).options(options)
      schema.fold(base0)(base0.schema).load(dir)
    }

  /** Apply a table directory's `.updates` sidecars (if any) to an
    * already-loaded DataFrame — the root sidecar plus one per
    * partition directory (reference parity: SQLUpdater.java:107-119
    * resolves `.updates` relative to EACH split's directory, so a
    * Hive-partitioned table carries an independent DML log per
    * partition). Retained statements are the steps of the one fold,
    * [[ScdCompiler.replay]]; a partition's carry the partition
    * predicate as their guard, so the replay is still ONE narrow scan.
    *
    * Cross-log composition order: with a SINGLE (root) log — the
    * reference's own shape — retention is the reference's line fold
    * ([[UpdatesParser.parse]]) and statements replay in pure file order
    * (O5). With multiple logs, statements merge in GLOBAL effective-
    * time order (partition logs touch disjoint rows, but the root log
    * overlaps every partition, so log-order replay would apply a
    * later-dated root statement before an earlier-dated partition
    * one); ties keep root-first log order, then file order (the merge
    * is a stable sort). */
  def applyLogFile(
      spark: SparkSession,
      base: DataFrame,
      dir: String,
      asOf: Option[String]): DataFrame =
    ScdCompiler.replay(base, retained(spark, readAllSidecars(spark, dir), asOf))

  /** The steps of `sidecars` retained at `asOf`, in replay order (see
    * [[applyLogFile]]). */
  private[graft] def retained(
      spark: SparkSession,
      sidecars: Seq[(Seq[(String, String)], String)],
      asOf: Option[String]): Seq[ScdCompiler.Step] =
    if (sidecars.isEmpty) Nil
    else {
      val scdTime = ScdTime.resolve(asOf, confTime(spark))
      if (sidecars.length == 1 && sidecars.head._1.isEmpty)
        UpdatesParser.parse(sidecars.head._2, scdTime)
          .statements.map((_, Nil))
      else mergedStatements(sidecars, scdTime)
    }

  /** All retained statements across the given sidecars, each paired
    * with its partition spec, in global effective-time order.
    *
    * The sort key is the RUNNING MAX of `timeMillis` within each log,
    * not the raw statement time: the reference replays a single log as
    * a file-order fold — the time directive gates inclusion, it never
    * reorders (SQLUpdater.java:130) — so a log whose `-- time=`
    * directives are non-monotone must keep its file order here too
    * (raw-time sorting would give a partitioned table a different
    * replay than the same log on an unpartitioned one). The running
    * max is non-decreasing per log, so the stable sort preserves each
    * log's file order exactly and only interleaves statements ACROSS
    * logs; ties keep root-first log order, then file order. */
  private def mergedStatements(
      sidecars: Seq[(Seq[(String, String)], String)],
      scdTime: Long): Seq[ScdCompiler.Step] = {
    // sort keys come from the FULL log (gateTime = MaxValue), not the
    // retained subset: the running max over only-retained statements
    // would give the same two statements a different relative order at
    // different asOf times, making history()'s snapshots disagree with
    // read()'s as-of views on non-monotone logs. Keys first, stable
    // sort, THEN the retention filter — order is gate-independent.
    //
    // DOCUMENTED DIVERGENCE from the single-log path: whole-file
    // assembly means a dangling unterminated tail throws here even
    // when dated past asOf (the reference's line fold would silently
    // skip its gated lines), and a `-- time=` directive BETWEEN
    // continuation lines of one statement gates the whole assembled
    // statement rather than its individual lines. Both only differ on
    // pathological logs; the multi-log merge is itself an extension
    // beyond the reference (which replays each split's log
    // independently), and gate-independent ordering requires
    // gate-independent assembly.
    val keyed = sidecars.flatMap { case (spec, text) =>
      var runMax = Long.MinValue
      UpdatesParser.rawStatements(text, scdTime,
        strictCommentCompat = false, gateTime = Long.MaxValue)
        .map { case (sql, t) =>
          runMax = math.max(runMax, t)
          (runMax, sql, t, spec)
        }
    }.sortBy(_._1) // Seq.sortBy is a stable sort
    val retained = keyed.filter(_._3 <= scdTime).map {
      case (_, sql, t, spec) => (UpdatesParser.classify(sql, t), spec)
    }
    // the one-table check spans ALL of the table dir's logs — root and
    // partition sidecars address the same table by construction
    UpdatesParser.singleTable(retained.map(_._1))
    retained
  }

  /** Apply a `.updates` log given as text — the core entry point; used
    * directly when the log lives outside the data directory (e.g. a CDC
    * feed, or tests over read-only data dirs).
    *
    * @param errorSkipCompat reference-compat error policy (O13): DML
    *        runtime errors drop the affected row instead of failing the
    *        query (SQLUpdater.java:171-174). Default = Spark-idiomatic
    *        fail-fast. */
  def applyLogText(
      spark: SparkSession,
      base: DataFrame,
      logText: String,
      asOf: Option[String] = None,
      errorSkipCompat: Boolean = false): DataFrame = {
    val scdTime = ScdTime.resolve(asOf, confTime(spark))
    val log = UpdatesParser.parse(logText, scdTime)
    if (errorSkipCompat) ScdCompiler.compat(base, log.statements)
    else ScdCompiler(base, log)
  }

  /** DRY-RUN the log at `asOf`: per retained statement, the number of
    * rows it would touch — the ops probe before applying a nightly DML
    * batch ("is this DELETE about to fire on half the table?"). One
    * narrow pass + one aggregation (see [[ScdCompiler.stats]]); gated
    * statements (time > asOf) are absent from the output, matching
    * what `read` would replay. */
  def logStatsText(
      spark: SparkSession,
      base: DataFrame,
      logText: String,
      asOf: Option[String] = None): DataFrame = {
    val scdTime = ScdTime.resolve(asOf, confTime(spark))
    ScdCompiler.stats(base, UpdatesParser.parse(logText, scdTime).statements)
  }

  /** Full Type-7 HISTORY export: the table's state over time as SCD2
    * validity intervals. The as-of view only changes at statement
    * effective times, so history = one snapshot per distinct effective
    * time (epoch first), each tagged [valid_from_ms, valid_to_ms) —
    * the natural "Type 7 → SCD2" bridge (reference README.md:239-244
    * pairs the raw log with materialized snapshots the same way).
    *
    * ONE replay over ONE scan at any number of times (ICDE 2025 operator
    * fusion, PAPERS.md): each base row is copied once per interval, and
    * a statement fires on a copy whose interval starts at or after its
    * time. Columns: the base's, `valid_from_ms`, `valid_to_ms`. */
  def historyText(
      spark: SparkSession,
      base: DataFrame,
      logText: String): DataFrame =
    snapshots(base, UpdatesParser.parse(logText, Long.MaxValue)
      .statements.map((_, Nil)))

  /** History export for a table directory (see [[historyText]]) —
    * partition-aware: the steps are [[applyLogFile]]'s global-time
    * merge of every sidecar at an all-inclusive time (for one root log,
    * exactly [[historyText]]'s statements), so every snapshot is
    * derivable from its predecessor by the statements between them. */
  def history(
      spark: SparkSession,
      dir: String,
      format: String = "parquet",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val t = open(spark, dir, format, schema, options)
    snapshots(t.base, mergedStatements(t.sidecars, Long.MaxValue))
  }

  /** `base` once per distinct time t of `steps` (epoch first), tagged
    * [t, next t), with the steps dated <= t replayed on it. No table memo:
    * these predicates carry the interval guard. */
  private def snapshots(base: DataFrame,
      steps: Seq[ScdCompiler.Step]): DataFrame = {
    val times = (0L +: steps.map(_._1.timeMillis)).distinct.sorted
    val next = typedLit(times.tail.map(Option(_)) :+ None)
    val valid = "__scd_valid"
    ScdCompiler.replay(base.withColumn(valid, explode(transform(typedLit(times),
        (t, i) => struct(t.as("valid_from_ms"), next(i).as("valid_to_ms"))))),
      steps, valid = Some(valid))
      .withColumn("valid_from_ms", col(valid)("valid_from_ms"))
      .withColumn("valid_to_ms", col(valid)("valid_to_ms"))
      .drop(valid)
  }

  /** Register the as-of view under a SQL-queryable name — the analogue
    * of the reference's Hive table surface (`hive> SELECT * FROM
    * doctors`, README.md:153-165): after registration, plain
    * `spark.sql` queries the replayed view, and every Catalyst
    * optimization applies through it. The view captures the sidecar AS
    * OF registration time; re-register to pick up newly appended
    * statements or a different scd.time. */
  def createOrReplaceView(
      spark: SparkSession,
      name: String,
      dir: String,
      format: String = "parquet",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty,
      asOf: Option[String] = None): Unit =
    read(spark, dir, format, schema, options, asOf)
      .createOrReplaceTempView(name)

  /** Driver-side sidecar read (tiny file; O2): one open, and a missing
    * sidecar is no log — also one that a truncating compaction deletes
    * while this read runs. */
  def readSidecar(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(dir, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = try fs.open(p) catch {
      case _: java.io.FileNotFoundException => return None
    }
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** Discover every `.updates` sidecar at or below `dir`: the root's
    * (empty spec) plus one per `k=v` partition directory, each paired
    * with its accumulated partition spec. Only `k=v`-named
    * subdirectories are walked (the Hive partition layout); ordering
    * is root first, then depth-lexicographic, for a deterministic
    * fold. Driver-side — partition counts are bounded by the
    * catalog's own listing, and sidecars are tiny by design. */
  def readAllSidecars(spark: SparkSession, dir: String)
      : Seq[(Seq[(String, String)], String)] = {
    val root = new Path(dir)
    readLogs(spark,
      list(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root).logs)
  }

  /** The text of each listed log with its partition spec; a sidecar
    * deleted since the listing is skipped. */
  private[graft] def readLogs(spark: SparkSession,
      logs: Seq[(Seq[(String, String)], Path)])
      : Seq[(Seq[(String, String)], String)] =
    logs.flatMap { case (spec, d) =>
      readSidecar(spark, d.toString).map((spec, _)) }

  /** One recursive listing of a table directory (one `listStatus` per
    * directory): `files` are its data files, every file whose name does
    * not start with '.', as (path, size, mtime) in walk order; `logs`
    * are the directories holding a `.updates` sidecar that the replay
    * reads, the root and the `k=v` partition directories below it, each
    * with its partition spec, root first, then depth-lexicographic. */
  private[graft] final case class Listing(files: Seq[(String, Long, Long)],
      logs: Seq[(Seq[(String, String)], Path)])

  private[graft] def list(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Listing = {
    val files = Seq.newBuilder[(String, Long, Long)]
    val logs = Seq.newBuilder[(Seq[(String, String)], Path)]
    def file(st: org.apache.hadoop.fs.FileStatus): Unit =
      files += ((st.getPath.toString, st.getLen, st.getModificationTime))
    // `spec` is None below a directory that is not a partition
    def walk(dir: Path, spec: Option[Seq[(String, String)]]): Unit = {
      val kids = fs.listStatus(dir).sortBy(_.getPath.getName)
      if (spec.isDefined && kids.exists(k => !k.isDirectory &&
          k.getPath.getName == SidecarName)) logs += ((spec.get, dir))
      kids.foreach { k =>
        val name = k.getPath.getName
        if (name.startsWith(".")) ()
        else if (!k.isDirectory) file(k)
        else walk(k.getPath,
          if (name.contains('=')) spec.map(_ :+ partitionValue(name)) else None)
      }
    }
    val st = fs.getFileStatus(root)
    if (st.isDirectory) walk(root, Some(Nil)) else file(st)
    Listing(files.result(), logs.result())
  }

  /** The `k=v`-named child directories of `p` with their decoded
    * partition key-values, name-sorted — the Hive-layout walker of the
    * partitioned Avro reader. */
  private[graft] def partitionChildren(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[(Path, (String, String))] =
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains('='))
      .sortBy(_.getPath.getName)
      .map(st => (st.getPath, partitionValue(st.getPath.getName)))

  /** A `k=v` directory name's decoded partition key and value. */
  private def partitionValue(name: String): (String, String) = {
    val i = name.indexOf('=')
    (name.substring(0, i), unescapePathName(name.substring(i + 1)))
  }

  /** Reverse of Hive's partition-path escaping — delegates to Spark's
    * own implementation (the exact inverse of the escaping applied
    * when these paths were written). */
  private[graft] def unescapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)

  /** Compaction (reference README.md:239-244 recommended pattern):
    * materialize the as-of view into `outDir` as an updates-free
    * snapshot. Plain `df.write` — distributed, no driver collect.
    * `clearLog = true` additionally truncates the source dir's logs to
    * the unconsumed remainder — see [[truncateLog]] for the
    * single-writer and non-monotone-log contract. Returns the snapshot
    * row count from the write itself (VERDICT r14 #6: an Observation
    * on the save, or the Avro writer's accumulator — never a rescan
    * of the snapshot). An `outDir` equal to `dir`, above it or below it
    * is refused before anything is read or deleted. */
  def compact(
      spark: SparkSession,
      dir: String,
      outDir: String,
      format: String = "parquet",
      outFormat: String = "parquet",
      asOf: Option[String] = None,
      clearLog: Boolean = false): Long = {
    requireApart(spark, dir, outDir)
    // resolve "now" ONCE: read() and truncateLog() each resolving
    // independently would open a window in which a statement dated
    // between the two resolutions is truncated as consumed without
    // ever having been applied to the snapshot
    val scdMillis = ScdTime.resolve(asOf, confTime(spark))
    val view = read(spark, dir, format, asOf = Some(scdMillis.toString))
    val n =
      if (outFormat.equalsIgnoreCase("avro")) {
        // reference-format round-trip (Avro dir in, compacted Avro dir
        // out); saveAsNewAPIHadoopFile rejects an existing dir, so
        // mirror the other branch's overwrite semantics explicitly
        val out = new Path(outDir)
        val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(out)) fs.delete(out, true)
        graft.sources.AvroSource.write(view, outDir)
      } else
        graft.functions.CountedWrite(view)(
          _.write.mode("overwrite").format(outFormat).save(outDir))
    // log lifecycle (README.md:239-244's "periodically compact"): the
    // statements the snapshot just consumed would otherwise replay
    // forever against the source dir. Opt-in, and only after the
    // snapshot landed — a write failure above leaves the log intact.
    if (clearLog) truncateLogAt(spark, dir, scdMillis, archive = true)
    n
  }

  /** Refuse a compaction whose output directory is the table's own
    * directory, above it or below it: the Avro branch deletes `outDir`
    * before the lazy view reads `dir`, and a parquet overwrite of a
    * directory holding the table would delete the files it reads.
    * Checked on qualified paths, before anything is read or deleted. */
  private def requireApart(spark: SparkSession, dir: String,
      outDir: String): Unit = {
    def qualified(d: String) = {
      val p = new Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toUri.toString.stripSuffix("/")
    }
    val (src, out) = (qualified(dir), qualified(outDir))
    if (src == out || src.startsWith(out + "/") || out.startsWith(src + "/"))
      throw new IllegalArgumentException(
        s"compact: out_dir '$outDir' overlaps the table dir '$dir' (it is " +
          "the same directory, above it or below it); write the snapshot " +
          "to a directory apart from the table. Nothing was read or deleted.")
  }

  /** Truncate every `.updates` sidecar of `dir` (root + partition
    * logs) to the statements NOT yet consumed by a compaction at
    * `asOf`: a statement survives iff its effective time > asOf. The
    * consumed prefix is archived next to each log as
    * `.updates.archive-<asOfMillis>` (dot-file — invisible to data
    * scans) unless `archive = false`. `-- graft-batch=` idempotence
    * markers are preserved verbatim so a restarting DML stream still
    * recognizes its committed batches. Rewrites are atomic
    * (tmp + rename, same discipline as the streaming appender);
    * statements are re-rendered in canonical form (one explicit
    * `-- time=<millis>` directive per statement), which preserves
    * replay semantics exactly though not comment bytes.
    *
    * NOTE the contract: after truncation the SOURCE dir's pre-asOf
    * history is gone — the dir now replays only post-asOf statements
    * over the original base. This is the right move when readers
    * migrate to the compacted snapshot (the README pattern) or when
    * the base files themselves are replaced by the snapshot; it is
    * NOT a no-op for continued as-of reads of the old dir.
    *
    * Concurrency: the rewrite is atomic per log, but there is NO
    * coordination with a concurrently appending writer (a live
    * [[graft.streaming.ScdStream.dmlSink]]): its read-modify-write can
    * resurrect truncated statements or lose its own batch depending on
    * rename order. Stop DML sinks on the table before compacting with
    * `clearLog` — the same single-writer discipline the reference's
    * append-a-line workflow assumes.
    *
    * Non-monotone logs: a statement is consumed iff its raw effective
    * time <= asOf — the same gate the as-of read applied. If the
    * consumed set is not a FILE-ORDER PREFIX of its log (a kept
    * statement precedes a consumed one), snapshot-then-kept would
    * replay in a different order than the original file fold, silently
    * changing history — that cut is refused with an error instead. */
  def truncateLog(
      spark: SparkSession,
      dir: String,
      asOf: Option[String] = None,
      archive: Boolean = true): Unit =
    truncateLogAt(spark, dir,
      ScdTime.resolve(asOf, confTime(spark)), archive)

  private def truncateLogAt(
      spark: SparkSession,
      dir: String,
      scdTime: Long,
      archive: Boolean): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def render(stmts: Seq[(String, Long)]): String =
      stmts.map { case (sql, t) => s"-- time=$t\n$sql" }
        .mkString("", "\n", "\n")
    // PHASE 1 — validate every log and stage every rewrite, touching
    // nothing: a refusal (non-prefix cut) or render bug on the LAST
    // partition log must not leave earlier logs already truncated.
    // (Phase 2's writes can still fail mid-way on I/O errors — that
    // residual window is the filesystem's, not a validation order bug.)
    val staged = list(fs, root).logs.flatMap { case (_, d) =>
      readSidecar(spark, d.toString).map((d, _))
    }.map { case (tableDir, text) =>
      val all = UpdatesParser.rawStatements(text, scdTime,
        strictCommentCompat = false, gateTime = Long.MaxValue)
      val (consumed, kept) = all.partition(_._2 <= scdTime)
      // refuse a non-prefix cut (see scaladoc): replaying kept over the
      // snapshot must equal the original file-order fold
      val firstKept = all.indexWhere(_._2 > scdTime)
      if (firstKept >= 0 && all.drop(firstKept).exists(_._2 <= scdTime))
        throw new IllegalStateException(
          s"cannot truncate $tableDir/$SidecarName at $scdTime: consumed " +
            "statements interleave with kept ones (non-monotone time " +
            "directives), so the snapshot+remainder would replay in a " +
            "different order than the original log. Compact at a time " +
            ">= the log's max effective time, or leave the log intact. " +
            "No log has been modified.")
      val markers = text.linesIterator
        .filter(_.startsWith(BatchMarkerPrefix)).toSeq
      val rewritten =
        if (kept.isEmpty && markers.isEmpty) None
        else {
          val t = markers.mkString("", "\n",
            if (markers.isEmpty) "" else "\n") +
            (if (kept.isEmpty) "" else render(kept))
          // re-parse before landing: a render bug must never corrupt
          // a log in place — and must surface before ANY log is touched
          UpdatesParser.parse(t, Long.MaxValue)
          Some(t)
        }
      (tableDir, consumed, rewritten)
    }
    // PHASE 2 — apply
    staged.foreach { case (tableDir, consumed, rewritten) =>
      if (archive && consumed.nonEmpty)
        writeSidecarAtomic(spark, tableDir.toString, render(consumed),
          name = s"$SidecarName.archive-$scdTime")
      rewritten match {
        case Some(t) => writeSidecarAtomic(spark, tableDir.toString, t)
        case None => fs.delete(new Path(tableDir, SidecarName), false)
      }
    }
  }

  private[graft] val BatchMarkerPrefix = "-- graft-batch="

  /** Atomically replace a sidecar-family file under `dir`: write to a
    * tmp sibling, then rename with OVERWRITE — readers see the old or
    * the new content, never a torn write. */
  private[graft] def writeSidecarAtomic(
      spark: SparkSession,
      dir: String,
      text: String,
      name: String = SidecarName): Unit = {
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s"$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(dir, name)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
