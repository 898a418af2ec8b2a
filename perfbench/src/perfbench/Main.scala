package perfbench

import graft.operators.{Dedup, TextAnalysis}
import graft.scd.{ScdCompiler, ScdReader, ScdTime, UpdatesParser}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Single-process benchmark runner for graft. One closed-loop client
  * (this thread) runs one workload's ops for a fixed time against inputs
  * made by `gen.py`, and writes every timing, layer record and captured
  * output to a JSON file that `run.py` checks and summarizes.
  *
  * {{{
  * Main --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *      --cores N --rounds R --out FILE
  * }}}
  */
object Main {
  final case class Args(workload: String, inputs: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, rounds: Int, out: String)

  private def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("rounds").toInt, m("out"))
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.ScdCatalog")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  /** What one run records: timings by op kind, failures, and the outputs
    * captured (outside the timed sections) for the checker. */
  final class Recorder {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val captures = mutable.ArrayBuffer.empty[String] // JSON objects
    val extra = mutable.LinkedHashMap.empty[String, Double]
    var attempted, failed = 0L
    def time[T](kind: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      add(kind, (System.nanoTime() - t0) / 1e6)
      r
    }
    def add(kind: String, ms: Double): Unit =
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    def last(kind: String): Double = samples(kind).last
  }

  trait Workload {
    /** Lay out the table directories under `dir` from the inputs. */
    def prepare(spark: SparkSession, dir: String): Unit
    /** Untimed warm-up after the set-up rounds: every distinct op shape
      * once, so plan-level caches are filled before timing. */
    def warmup(spark: SparkSession): Unit
    /** Run op `i` of the seeded op list, timing it into `rec`. */
    def op(spark: SparkSession, i: Int, tr: Trace, rec: Recorder): Unit
    /** A run ends on a multiple of this many ops, so every run times the
      * same mix of inputs. */
    def opsPerBlock: Int = 1
    def finish(spark: SparkSession, rec: Recorder): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val wl: Workload = a.workload match {
      case "scd_long_log" => new LongLog(a.inputs, a.work)
      case "scd_churn" => new Churn(a.inputs, a.work)
      case "pipeline_dedup" => new PipelineDedup(a.inputs, a.work)
    }
    val rec = new Recorder
    // set-up rounds: session start and table layout. The first round
    // starts at JVM start; the last round's session and tables are timed.
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 0 until a.rounds) {
      val t0 =
        if (r == 0) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      if (spark != null) { spark.stop(); SparkSession.clearDefaultSession() }
      spark = session(a.cores, a.work)
      spark.sparkContext.setLogLevel("ERROR")
      wl.prepare(spark, s"${a.work}/round$r")
      setup += (System.currentTimeMillis() - t0) / 1e3
    }
    // the warm-up runs once, on the last round's session; it counts as set-up
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val tr: Trace = if (a.trace) new Trace.On(spark) else Trace.Off
    // closed loop until the deadline, ending on a whole block of ops
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % wl.opsPerBlock != 0) {
      rec.attempted += 1
      try wl.op(spark, i, tr, rec)
      catch {
        case e: Throwable =>
          rec.failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
          e.printStackTrace()
      }
      i += 1
    }
    val traced = tr match {
      case t: Trace.On => t.close(); t.ops.toSeq
      case Trace.Off => Seq.empty
    }
    wl.finish(spark, rec)
    val conditions = Seq(
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "cores" -> a.cores.toString,
      "jvm_processors" -> Runtime.getRuntime.availableProcessors.toString)
    spark.stop()
    val json = Json.obj(Seq(
      "setup_rounds_s" -> Json.arr(setup.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "samples_ms" -> Json.obj(rec.samples.toSeq.map { case (k, v) =>
        k -> Json.arr(v.map(Json.num)) }),
      "extra" -> Json.obj(rec.extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "captures" -> Json.arr(rec.captures),
      "trace" -> Json.arr(traced.map(o => Json.obj(Seq(
        "kind" -> Json.str(o.kind), "total_ms" -> Json.num(o.totalMs),
        "self_ms" -> Json.obj(o.selfMs.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "counts" -> Json.obj(o.counts.toSeq.map { case (k, v) => k -> Json.num(v) }))))),
      "conditions" -> Json.obj(conditions),
      "vm_hwm_kb" -> vmHwmKb().toString))
    Files.writeString(Paths.get(a.out), json)
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  // ---- helpers shared by the workloads -----------------------------------

  def lines(p: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(p), UTF_8).asScala.toIndexedSeq

  /** Copy a generated parquet directory (or single file) into place. */
  def copyDir(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    for (f <- new File(from).listFiles().sortBy(_.getName) if f.isFile)
      Files.copy(f.toPath, Paths.get(to, f.getName),
        StandardCopyOption.REPLACE_EXISTING)
  }

  def dirBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum

  def capture(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

}

/** `scd_long_log`: as-of reads of a 200-statement log through
  * `ScdReader.read`, at 8 seeded as-of points; a quarter of the reads
  * filter on a column no statement SETs. */
final class LongLog(inputs: String, work: String) extends Main.Workload {
  private val points = Main.lines(s"$inputs/points.tsv").map { l =>
    val Array(t, n) = l.split("\t"); (t, n.toInt) }
  private val ops = Main.lines(s"$inputs/ops.tsv").map { l =>
    val Array(p, f, c) = l.split("\t"); (p.toInt, f == "1", c == "1") }
  private val filter = Main.lines(s"$inputs/filter.txt").head
  private var dir: String = _
  private val captured = mutable.Set.empty[(Int, Boolean)]

  def prepare(spark: SparkSession, root: String): Unit = {
    dir = s"$root/customer"
    Main.copyDir(s"$inputs/customer", dir)
    Files.copy(Paths.get(s"$inputs/updates.log"), Paths.get(dir, ".updates"))
  }

  private def read(spark: SparkSession, p: Int, filtered: Boolean) = {
    val view = ScdReader.read(spark, dir, asOf = Some(points(p)._1))
    if (filtered) view.where(filter) else view
  }

  /** One read per point, each with the filter its ops use. */
  def warmup(spark: SparkSession): Unit =
    ops.take(points.size).foreach { case (p, f, _) =>
      Trace.noopWrite(read(spark, p, f)) }

  /** A run times two sweeps at least, so the median of its sweeps evens
    * out the sweep-to-sweep swing of a single one. */
  override def opsPerBlock: Int = 2

  /** Op `i` is a sweep: one read at every as-of point, in the seeded
    * order of reads 8i to 8i+7. Captures are written after the sweep,
    * outside its time. */
  def op(spark: SparkSession, i: Int, tr: Trace, rec: Main.Recorder): Unit = {
    val reads = rec.time("sweep") {
      for (j <- i * points.size until (i + 1) * points.size)
        yield j -> readOp(spark, j, tr, rec)
    }
    for ((j, df) <- reads) captureIfDue(j, df, rec)
  }

  private def readOp(spark: SparkSession, i: Int, tr: Trace,
      rec: Main.Recorder): DataFrame = {
    val (p, filtered, _) = ops(i)
    val asOf = points(p)._1
    tr.beginOp("read")
    val df = rec.time("read") {
      val df = tr match {
        case Trace.Off => read(spark, p, filtered)
        case _ =>
          // ScdReader.read, one layer at a time
          val sidecars = tr.span("scd.read_sidecar") {
            ScdReader.readAllSidecars(spark, dir) }
          val log = tr.span("scd.parse") {
            UpdatesParser.parse(sidecars.head._2,
              ScdTime.resolve(Some(asOf), None)) }
          tr.count("scd.stmts_retained", log.statements.size)
          val base = tr.span("scd.load_base") {
            spark.read.format("parquet").load(dir) }
          val view = tr.span("scd.compile") { ScdCompiler(base, log) }
          if (filtered) tr.span("spark.user_filter") { view.where(filter) }
          else view
      }
      tr.sink(df)
      df
    }
    tr.count("sources.sidecar_bytes", Files.size(Paths.get(dir, ".updates")))
    tr.endOp()
    df
  }

  private def captureIfDue(i: Int, df: DataFrame, rec: Main.Recorder): Unit = {
    val (p, filtered, cap) = ops(i)
    val retained = points(p)._2
    if ((cap || i == 0) && captured.add((p, filtered))) {
      val path = s"$work/captures/long_log_${p}_$filtered"
      Main.capture(df, path)
      rec.captures += Json.obj(Seq("kind" -> Json.str("long_log"),
        "path" -> Json.str(path), "retained" -> retained.toString,
        "filtered" -> filtered.toString))
    }
  }
}

/** `scd_churn`: each op appends one statement with `CALL
  * graft.add_update`, then reads as of now through the `graft` catalog;
  * every 20th append compacts into a new generation with
  * `ScdReader.compact(clearLog = true)`. The op's time (`churn`) is the
  * sum of the three; the read's capture is taken between read and
  * compaction, outside it. */
final class Churn(inputs: String, work: String) extends Main.Workload {
  private val CompactEvery = 20
  private val stmts = Main.lines(s"$inputs/stmts.tsv").map { l =>
    val Array(t, s) = l.split("\t", 2); (t, s) }
  private val caps = Main.lines(s"$inputs/ops.tsv").map(_ == "1")
  private var root: String = _
  private var gen = 0
  private var appended = 0
  private def dir = s"$root/gen$gen"
  private def sqlString(s: String) =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  def prepare(spark: SparkSession, r: String): Unit = {
    root = r; gen = 0; appended = 0
    Main.copyDir(s"$inputs/lineitem", dir)
  }

  /** The warm-up appends the first statement; a block of 20 ops then
    * reads logs of 2 to 20 statements, compacts, and reads the new
    * generation once, so every run times the same mix. */
  def warmup(spark: SparkSession): Unit = op(spark, -1, Trace.Off, new Main.Recorder)
  override def opsPerBlock: Int = CompactEvery

  def op(spark: SparkSession, i: Int, tr: Trace, rec: Main.Recorder): Unit = {
    val (time, stmt) = stmts(appended)
    tr.beginOp("append")
    rec.time("append") {
      tr.span("sources.add_update") {
        spark.sql(s"CALL graft.add_update(${sqlString(dir)}, " +
          s"${sqlString(stmt)}, ${sqlString(time)})").collect()
      }
    }
    tr.endOp()
    appended += 1
    tr.beginOp("read")
    tr.count("sources.sidecar_bytes", Files.size(Paths.get(dir, ".updates")))
    tr.count("scd.stmts_retained", appended - gen * CompactEvery)
    val df = rec.time("read") {
      val df = tr.span("sources.resolve") {
        spark.sql(s"SELECT * FROM graft.`$dir`") }
      tr.sink(df)
      df
    }
    tr.endOp()
    var opMs = rec.last("append") + rec.last("read")
    if (i >= 0 && caps(i)) {
      val path = s"$work/captures/churn_$appended"
      Main.capture(df, path)
      rec.captures += Json.obj(Seq("kind" -> Json.str("churn_read"),
        "path" -> Json.str(path), "statements" -> appended.toString))
    }
    if (appended % CompactEvery == 0) {
      val out = s"$root/gen${gen + 1}"
      tr.beginOp("compact")
      rec.time("compact") {
        tr.span("scd.compact") {
          ScdReader.compact(spark, dir, out, clearLog = true) }
      }
      tr.endOp()
      opMs += rec.last("compact")
      gen += 1
      if (i >= 0)
        rec.captures += Json.obj(Seq("kind" -> Json.str("churn_snapshot"),
          "path" -> Json.str(out), "statements" -> appended.toString))
    }
    rec.add("churn", opMs)
  }

  /** Bytes of the live generation (data, log and archives) over the
    * bytes of the generated base. */
  override def finish(spark: SparkSession, rec: Main.Recorder): Unit = {
    rec.extra("stored_bytes_ratio") =
      Main.dirBytes(dir).toDouble / Main.dirBytes(s"$inputs/lineitem")
    rec.extra("generations") = gen
    rec.extra("statements_appended") = appended
  }
}

/** `pipeline_dedup`: quality score + MinHash-LSH pairs + survivor
  * selection over seeded `documents` batches. */
final class PipelineDedup(inputs: String, work: String) extends Main.Workload {
  private val ops = Main.lines(s"$inputs/ops.tsv").map(_.toInt)
  private var root: String = _
  private val lshCounts = mutable.Map.empty[Int, (Long, Long)]

  /** The repository's DuckDB oracle for this pipeline, for the checker. */
  override def finish(spark: SparkSession, rec: Main.Recorder): Unit =
    Files.writeString(Paths.get(s"$work/oracle_dedup_survivor.sql"),
      graft.SparkEntry.oracleSql("dedup_survivor"))

  def prepare(spark: SparkSession, r: String): Unit = {
    root = r
    for (f <- new File(s"$inputs/batches").listFiles())
      Main.copyDir(f.getPath, s"$root/batches/${f.getName}")
  }

  /** A run times every batch the same number of times. */
  override def opsPerBlock: Int = ops.distinct.size

  /** The full pipeline on the small warm-up batch (every batch has the
    * same plan shape). */
  def warmup(spark: SparkSession): Unit = {
    Trace.noopWrite(pipeline(spark, s"$root/batches/warmup", Trace.Off))
    release(spark)
  }

  private def pipeline(spark: SparkSession, path: String, tr: Trace): DataFrame = {
    val docs = tr.span("ops.load") { spark.read.parquet(path) }
    val q = tr.span("ops.quality_build") { TextAnalysis.qualityScore(docs) }
    val pairs = tr.span("ops.lsh_build") {
      Dedup.minhashLshPairs(docs, threshold = 0.8) }
    tr.span("ops.survivor_build") { Dedup.survivorSelectionWith(q, pairs) }
  }

  /** Drop persisted and checkpointed blocks (blocking) and collect
    * garbage, so no op pays for an earlier op's residency. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  def op(spark: SparkSession, i: Int, tr: Trace, rec: Main.Recorder): Unit = {
    val b = ops(i)
    val path = s"$root/batches/b$b"
    tr.beginOp("pipeline")
    val out = rec.time("pipeline") {
      val out = pipeline(spark, path, tr)
      tr.sink(out)
      out
    }
    tr.endOp()
    if (tr ne Trace.Off) {
      // LSH counters, counted once per batch outside the op's spans
      val (cands, pairs) = lshCounts.getOrElseUpdate(b, {
        val docs = spark.read.parquet(path)
        (Dedup.lshCandidates(Dedup.minHashSignatures(Dedup.shingles(docs)))
          .count(), Dedup.minhashLshPairs(docs, threshold = 0.8).count())
      })
      rec.extra(s"lsh_candidates_b$b") = cands
      rec.extra(s"lsh_pairs_b$b") = pairs
    }
    if (i == 0) {
      val cpath = s"$work/captures/dedup_b$b"
      Main.capture(out.withColumn("is_survivor",
        col("is_survivor").cast("long")), cpath)
      rec.captures += Json.obj(Seq("kind" -> Json.str("dedup"),
        "path" -> Json.str(cpath), "batch" -> Json.str(path)))
    }
    release(spark)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
