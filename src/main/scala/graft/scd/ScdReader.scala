package graft.scd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession, functions}

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
      asOf: Option[String] = None): DataFrame =
    applyLogFile(spark, loadBase(spark, dir, format, schema, options),
      dir, asOf)

  /** THE loader from an SCD directory to its base DataFrame — every
    * read path, SQL and streaming included, loads here. For Avro (no
    * spark-avro connector here) the reader schema comes from the
    * "avroSchema" option (any key case: SQL surfaces lower-case it),
    * else from a supplied StructType (converted through the reverse
    * bridge), else the file's writer schema; a Hive-partitioned Avro
    * directory routes through [[graft.sources.AvroSource.readPartitioned]],
    * so partition columns resolve and partition sidecars can guard. */
  private[graft] def loadBase(
      spark: SparkSession,
      dir: String,
      format: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame =
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
      asOf: Option[String]): DataFrame = {
    val sidecars = readAllSidecars(spark, dir)
    if (sidecars.isEmpty) base
    else {
      val scdTime = ScdTime.resolve(asOf, confTime(spark))
      ScdCompiler.replay(base,
        if (sidecars.length == 1 && sidecars.head._1.isEmpty)
          UpdatesParser.parse(sidecars.head._2, scdTime)
            .statements.map((_, None))
        else mergedStatements(sidecars, scdTime))
    }
  }

  /** All retained statements across the given sidecars, each paired
    * with its partition guard, in global effective-time order.
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
      val guard = if (spec.isEmpty) None else Some(partitionGuard(spec))
      var runMax = Long.MinValue
      UpdatesParser.rawStatements(text, scdTime,
        strictCommentCompat = false, gateTime = Long.MaxValue)
        .map { case (sql, t) =>
          runMax = math.max(runMax, t)
          (runMax, sql, t, guard)
        }
    }.sortBy(_._1) // Seq.sortBy is a stable sort
    val retained = keyed.filter(_._3 <= scdTime).map {
      case (_, sql, t, guard) => (UpdatesParser.classify(sql, t), guard)
    }
    // the one-table check spans ALL of the table dir's logs — root and
    // partition sidecars address the same table by construction
    UpdatesParser.singleTable(retained.map(_._1))
    retained
  }

  /** `col = value` conjunction for a partition spec; Hive renders a
    * NULL partition value as the default-partition sentinel. Partition
    * values come from the path as strings — compare through a string
    * cast, which matches Hive/Spark's own path rendering for the
    * scalar partition types. */
  private def partitionGuard(
      spec: Seq[(String, String)]): org.apache.spark.sql.Column =
    spec.map { case (k, v) =>
      if (v == "__HIVE_DEFAULT_PARTITION__") functions.col(k).isNull
      else functions.col(k).cast("string") === functions.lit(v)
    }.reduce(_ && _)

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
    * The union has one branch per DISTINCT statement time — statement
    * logs are small (driver-parsed), so plan size stays O(#times); each
    * branch is the usual narrow compiled replay over the same scan. */
  def historyText(
      spark: SparkSession,
      base: DataFrame,
      logText: String): DataFrame =
    snapshots(base, UpdatesParser.parse(logText, Long.MaxValue)
      .statements.map((_, None)))

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
      options: Map[String, String] = Map.empty): DataFrame =
    snapshots(loadBase(spark, dir, format, schema, options),
      mergedStatements(readAllSidecars(spark, dir), Long.MaxValue))

  /** Per distinct effective time t (epoch first), the replay of the
    * steps dated <= t, tagged [t, next t). The latest snapshot (every
    * step) compiles first, so an over-cap log fails before the rest. */
  private def snapshots(base: DataFrame,
      steps: Seq[ScdCompiler.Step]): DataFrame = {
    val times = (0L +: steps.map(_._1.timeMillis)).distinct.sorted
    times.indices.reverse.map { i =>
      val validTo =
        if (i + 1 < times.length) functions.lit(times(i + 1))
        else functions.lit(null).cast("long")
      ScdCompiler.replay(base, steps.filter(_._1.timeMillis <= times(i)))
        .withColumn("valid_from_ms", functions.lit(times(i)))
        .withColumn("valid_to_ms", validTo)
    }.reverse.reduce(_ unionByName _)
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

  /** Driver-side sidecar probe + read (tiny file; O2). */
  def readSidecar(spark: SparkSession, dir: String): Option[String] = {
    val p = new Path(dir, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
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
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootIsDir = fs.getFileStatus(root).isDirectory
    def walk(p: Path, spec: Seq[(String, String)], isDir: Boolean)
        : Seq[(Seq[(String, String)], String)] = {
      val here = readSidecar(spark, p.toString).map((spec, _)).toSeq
      val kids =
        if (!isDir) Seq.empty
        // children from listStatus are directories by construction —
        // no per-child getFileStatus round trip
        else partitionChildren(fs, p).flatMap { case (child, kv) =>
          walk(child, spec :+ kv, isDir = true)
        }
      here ++ kids
    }
    walk(root, Seq.empty, rootIsDir)
  }

  /** The `k=v`-named child directories of `p` with their decoded
    * partition key-values, name-sorted — the one Hive-layout walker
    * shared by sidecar discovery and the partitioned Avro reader. */
  private[graft] def partitionChildren(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[(Path, (String, String))] =
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains('='))
      .sortBy(_.getPath.getName)
      .map { st =>
        val name = st.getPath.getName
        val i = name.indexOf('=')
        (st.getPath,
          (name.substring(0, i), unescapePathName(name.substring(i + 1))))
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
    * of the snapshot). */
  def compact(
      spark: SparkSession,
      dir: String,
      outDir: String,
      format: String = "parquet",
      outFormat: String = "parquet",
      asOf: Option[String] = None,
      clearLog: Boolean = false): Long = {
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
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[Path] =
      (if (fs.exists(new Path(p, SidecarName))) Seq(p) else Seq.empty) ++
        partitionChildren(fs, p).flatMap { case (child, _) => walk(child) }
    def render(stmts: Seq[(String, Long)]): String =
      stmts.map { case (sql, t) => s"-- time=$t\n$sql" }
        .mkString("", "\n", "\n")
    // PHASE 1 — validate every log and stage every rewrite, touching
    // nothing: a refusal (non-prefix cut) or render bug on the LAST
    // partition log must not leave earlier logs already truncated.
    // (Phase 2's writes can still fail mid-way on I/O errors — that
    // residual window is the filesystem's, not a validation order bug.)
    val staged = walk(new Path(dir)).map { tableDir =>
      val text = readSidecar(spark, tableDir.toString).get
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
