package graft.scd

import graft.SparkSpec
import graft.sources.SidecarOpenCountingFs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.TestBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path, Paths}

/** [[ScdTableState]]: a session's later reads of an SCD directory reuse
  * its base relation and resolved statements, and still read exactly
  * what a read with no state reads. "Cold" below is the state-free
  * path: a fresh `spark.read` of the files and the sidecar's text
  * through [[ScdReader.applyLogText]]. */
class ScdTableStateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private val Log =
    """UPDATE t SET v = v + 5 WHERE seg = 'A';
      |-- time=2024-03-01
      |DELETE FROM t WHERE k > 18;
      |-- time=2024-06-01
      |UPDATE t SET name = upper(name), v = v * 2 WHERE k % 3 = 0;
      |""".stripMargin

  /** A parquet table of 20 rows in 2 files with [[Log]] as its sidecar. */
  private def table(log: String = Log): String = {
    val d = Files.createTempDirectory("scdstate").toString
    (1 to 20).map(i => (i.toLong, i * 10L, s"n$i", if (i % 2 == 0) "A" else "B"))
      .toDF("k", "v", "name", "seg").repartition(2)
      .write.mode("overwrite").parquet(d)
    Files.writeString(Paths.get(d, ScdReader.SidecarName), log)
    d
  }

  private def sidecar(dir: String): String =
    Files.readString(Paths.get(dir, ScdReader.SidecarName))

  private def cold(dir: String, asOf: Option[String]): DataFrame = {
    val base = spark.read.parquet(dir)
    if (!Files.exists(Paths.get(dir, ScdReader.SidecarName))) base
    else ScdReader.applyLogText(spark, base, sidecar(dir), asOf)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def fileScans(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size
  }

  /** `body`'s result with the jobs it started, the data files and
    * sidecars it opened, and its `exists` calls, through the counting
    * local filesystem. */
  private def counted[T](body: => T): (T, Int, Int, Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    conf.set("fs.file.impl", classOf[SidecarOpenCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    Seq(SidecarOpenCountingFs.opens, SidecarOpenCountingFs.dataOpens,
      SidecarOpenCountingFs.existsCalls).foreach(_.set(0))
    TestBridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      TestBridge.waitListenerBus(spark)
      (r, jobs, SidecarOpenCountingFs.dataOpens.get,
        SidecarOpenCountingFs.opens.get, SidecarOpenCountingFs.existsCalls.get)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Seq("fs.file.impl", "fs.file.impl.disable.cache").foreach(conf.unset)
    }
  }

  test("two as-of reads of one directory stay two relations") {
    val d = table()
    val (t1, t2) = (Some("2024-04-01"), Some("2024-12-01"))
    val (v1, v2) = (ScdReader.read(spark, d, asOf = t1), ScdReader.read(spark, d, asOf = t2))
    val (c1, c2) = (cold(d, t1), cold(d, t2))
    assert(rows(v1) == rows(c1) && rows(v2) == rows(c2))
    // new attribute ids per read, as two `spark.read`s would give; a
    // partitioned Avro base also projects its partition values
    def disjoint(a: DataFrame, b: DataFrame) = a.queryExecution.analyzed.outputSet
      .intersect(b.queryExecution.analyzed.outputSet).isEmpty
    assert(disjoint(v1, v2))
    val avro = Files.createTempDirectory("scdstate_avro").toString
    Seq("A", "B").foreach(seg => graft.sources.AvroSource.write(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), s"$avro/seg=$seg"))
    val (a1, a2) = (ScdReader.read(spark, avro, format = "avro"),
      ScdReader.read(spark, avro, format = "avro"))
    assert(a1.columns.toSeq == Seq("k", "v", "seg") && disjoint(a1, a2))
    val join = v1.join(v2, v1("k") === v2("k"))
    assert(rows(join) == rows(c1.join(c2, c1("k") === c2("k"))))
    assert(join.count() == 18 && fileScans(join) == 2)
    // the diff reads each side once, as many scans as over two cold reads
    val diff = graft.operators.ScdMerge.snapshotDiff(v1, v2, "k")
    val coldDiff = graft.operators.ScdMerge.snapshotDiff(c1, c2, "k")
    assert(rows(diff) == rows(coldDiff))
    assert(fileScans(diff) == fileScans(coldDiff))
    assert(fileScans(diff) == 2)
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ScdCatalog].getName)
    val self = spark.sql(
      s"SELECT a.k, a.v AS v1, b.v AS v2 FROM graft.`$d` TIMESTAMP AS OF '2024-04-01' a " +
        s"JOIN graft.`$d` TIMESTAMP AS OF '2024-12-01' b ON a.k = b.k")
    val expected = c1.as("a").join(c2.as("b"), $"a.k" === $"b.k")
      .select($"a.k", $"a.v".as("v1"), $"b.v".as("v2"))
    assert(rows(self) == rows(expected) && fileScans(self) == 2)
  }

  test("a warm read infers no schema and opens no data file") {
    val d = table()
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ScdCatalog].getName)
    val asOf = Some("2024-12-01")
    ScdReader.read(spark, d, asOf = asOf).collect() // cold: builds the state
    val (v, jobs, data, logs, _) = counted(ScdReader.read(spark, d, asOf = asOf))
    assert((jobs, data, logs) == ((0, 0, 1)))
    val (q, qJobs, qData, qLogs, _) = counted(spark.sql(s"SELECT * FROM graft.`$d`"))
    assert((qJobs, qData, qLogs) == ((0, 0, 1)))
    assert(rows(v) == rows(cold(d, asOf)) && rows(q) == rows(cold(d, None)))
    // the scd.time keys gate statements but resolve none: still warm
    try {
      spark.conf.set(ScdReader.ConfKey, "2024-04-01")
      spark.conf.set(ScdReader.ConfKeyGraft, "2024-04-01")
      val (t, tJobs, tData, _, _) = counted(ScdReader.read(spark, d))
      assert((tJobs, tData) == ((0, 0)))
      assert(rows(t) == rows(cold(d, Some("2024-04-01"))))
    } finally Seq(ScdReader.ConfKey, ScdReader.ConfKeyGraft).foreach(spark.conf.unset)
  }

  test("readSidecar opens once: a missing sidecar is None, with no exists call") {
    val d = Files.createTempDirectory("scdstate_nolog").toString
    val (r, _, _, opens, exists) = counted(ScdReader.readSidecar(spark, d))
    assert(r.isEmpty && opens == 1 && exists == 0)
  }

  /** Read `dir` at `asOf`, run `change`, read again: the second read
    * equals the cold read of the changed directory. */
  private def invalidates(dir: String, asOf: Option[String] = None)(change: => Unit): Unit = {
    rows(ScdReader.read(spark, dir, asOf = asOf))
    change
    assert(rows(ScdReader.read(spark, dir, asOf = asOf)) == rows(cold(dir, asOf)))
  }

  test("an appended statement, a truncated log and a compaction into a read dir all show") {
    val d = table()
    val before = rows(ScdReader.read(spark, d))
    invalidates(d) {
      spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ScdCatalog].getName)
      spark.sql(s"CALL graft.add_update('$d', 'UPDATE t SET v = 0 WHERE k = 1;')").collect()
    }
    assert(rows(ScdReader.read(spark, d)) != before)
    val snap = Files.createTempDirectory("scdstate_snap").toString + "/s"
    invalidates(d) {
      ScdReader.compact(spark, d, snap, asOf = Some("2024-04-01"), clearLog = true)
    }
    // a compaction into a directory read before
    val other = table("DELETE FROM t WHERE k = 2;\n")
    invalidates(other)(ScdReader.compact(spark, d, other))
    assert(rows(ScdReader.read(spark, other)) == rows(ScdReader.read(spark, d)))
  }

  test("an added data file, a file rewritten at another size and a new partition all show") {
    val d = table()
    invalidates(d) {
      Seq((21L, 210L, "n21", "A")).toDF("k", "v", "name", "seg")
        .write.mode("append").parquet(d)
    }
    val f = Files.list(Paths.get(d)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    invalidates(d) {
      val tmp = Files.createTempDirectory("scdstate_rw").toString
      (100 to 140).map(i => (i.toLong, i.toLong, s"r$i", "B"))
        .toDF("k", "v", "name", "seg").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      assert(Files.size(part) != Files.size(f))
      Files.copy(part, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    val p = Files.createTempDirectory("scdstate_part").toString
    (1 to 6).map(i => (i.toLong, i * 10L, if (i % 2 == 0) "A" else "B"))
      .toDF("k", "v", "seg").write.partitionBy("seg").parquet(p + "/t")
    Files.writeString(Paths.get(p, "t", ScdReader.SidecarName),
      "UPDATE t SET v = v + 1 WHERE k > 2;\n")
    invalidates(p + "/t") {
      Seq((7L, 70L)).toDF("k", "v").write.parquet(p + "/t/seg=C")
    }
    assert(ScdReader.read(spark, p + "/t").where($"seg" === "C").count() == 1)
  }

  test("a flip of spark.sql.ansi.enabled rebuilds what the SETs resolved to") {
    val d = Files.createTempDirectory("scdstate_ansi").toString
    Seq((1L, Int.MaxValue - 1), (2L, 3)).toDF("k", "i").write.mode("overwrite").parquet(d)
    Files.writeString(Paths.get(d, ScdReader.SidecarName), "UPDATE t SET i = i + 10;\n")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    def values = rows(ScdReader.read(spark, d)).map(_.getInt(1))
    def overflows(df: => DataFrame) =
      intercept[Exception](df.collect()).getMessage.contains("ARITHMETIC_OVERFLOW")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(values == Seq(Int.MinValue + 8, 13))
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(overflows(ScdReader.read(spark, d)) && overflows(cold(d, None)))
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(values == Seq(Int.MinValue + 8, 13))
      assert(rows(ScdReader.read(spark, d)) == rows(cold(d, None)))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("a re-registered session function is resolved again") {
    val d = table("UPDATE t SET v = scd_state_bump(v) WHERE k = 2;\n")
    spark.udf.register("scd_state_bump", (x: Long) => x + 1)
    assert(rows(ScdReader.read(spark, d)).find(_.getLong(0) == 2L).get.getLong(1) == 21L)
    invalidates(d)(spark.udf.register("scd_state_bump", (x: Long) => x + 100))
    assert(rows(ScdReader.read(spark, d)).find(_.getLong(0) == 2L).get.getLong(1) == 120L)
    // a function the session's extensions inject resolves to a native
    // expression, no UDF node: re-registering its name must show too
    // (in a session of its own, so no other spec sees the override)
    val s2 = spark.newSession()
    val q = table("UPDATE t SET name = luhn_valid(name) WHERE k = 2;\n")
    def name2 = ScdReader.read(s2, q).where("k = 2").head().getString(2)
    assert(name2 == "false")
    s2.udf.register("luhn_valid", (_: String) => true)
    assert(name2 == "true")
  }

  /** A hand-written CSV table, header and rows, with no sidecar. */
  private def csvTable(body: String): Path = {
    val d = Files.createTempDirectory("scdstate_csv")
    Files.writeString(d.resolve("part-0.csv"), body)
    d
  }

  private def csvColumns(s: SparkSession, d: Path): Seq[String] =
    ScdReader.read(s, d.toString, format = "csv",
      options = Map("header" -> "true")).columns.toSeq

  /** Rewrite `d`'s data file with `body` of the same length, keeping its
    * mtime: the one change the fingerprint cannot see. The rows are read
    * at execution either way; what a state keeps is the header's
    * schema. */
  private def rewriteInPlace(d: Path, body: String): Unit = {
    val f = d.resolve("part-0.csv")
    val mtime = Files.getLastModifiedTime(f)
    assert(Files.size(f) == body.length)
    Files.writeString(f, body)
    Files.setLastModifiedTime(f, mtime)
  }

  /** History with no table state: the sidecar's text over a fresh
    * `spark.read` of the files. */
  private def coldHistory(dir: String): DataFrame =
    ScdReader.historyText(spark, spark.read.parquet(dir), sidecar(dir))

  test("history plans one file scan and one replay at every number of times") {
    val d = table()
    for (h <- Seq(ScdReader.history(spark, d), coldHistory(d))) {
      assert(h.columns.toSeq == Seq("k", "v", "name", "seg", "valid_from_ms", "valid_to_ms"))
      assert(h.select("valid_from_ms").distinct().count() == 3)
      val replays = collect(h.queryExecution.executedPlan) {
        case r: org.apache.spark.sql.graft.ScdReplayExec => r
      }
      assert(fileScans(h) == 1 && replays.size == 1, h.queryExecution.executedPlan)
    }
    // each interval is the as-of read at its start
    val h = ScdReader.history(spark, d)
    for (t <- Seq(0L, 1709251200000L, 1717200000000L)) // epoch, 2024-03-01, 2024-06-01
      assert(rows(h.where($"valid_from_ms" === t).drop("valid_from_ms", "valid_to_ms")) ==
        rows(cold(d, Some(t.toString))), t)
  }

  test("history and a warm read in either order equal their cold results") {
    val asOf = Some("2024-12-01")
    val d = table()
    assert(rows(ScdReader.history(spark, d)) == rows(coldHistory(d)))
    assert(rows(ScdReader.read(spark, d, asOf = asOf)) == rows(cold(d, asOf)))
    assert(rows(ScdReader.read(spark, d)) == rows(cold(d, None)))
    val e = table()
    assert(rows(ScdReader.read(spark, e, asOf = asOf)) == rows(cold(e, asOf)))
    assert(rows(ScdReader.history(spark, e)) == rows(coldHistory(e)))
    assert(rows(ScdReader.read(spark, e, asOf = asOf)) == rows(cold(e, asOf)))
  }

  test("the states are bounded and never serve another session") {
    val first = csvTable("k,v\n1,10\n")
    assert(csvColumns(spark, first) == Seq("k", "v"))
    val rest = (0 to ScdTableState.MaxTables).map(_ => csvTable("k,v\n1,50\n"))
    rest.foreach(d => assert(csvColumns(spark, d) == Seq("k", "v")))
    assert(ScdTableState.size <= ScdTableState.MaxTables)
    // the least recently read table was dropped: a rewrite its
    // fingerprint could not see reads back
    rewriteInPlace(first, "k,w\n1,10\n")
    assert(csvColumns(spark, first) == Seq("k", "w"))
    // a new session in this JVM shares no state with this one; this
    // session, warm on the same table, still serves its state (the
    // documented residual case of a same-size, same-mtime rewrite)
    val last = rest.last
    rewriteInPlace(last, "k,w\n1,50\n")
    assert(csvColumns(spark.newSession(), last) == Seq("k", "w"))
    assert(csvColumns(spark, last) == Seq("k", "v"))
  }

  test("compact refuses an out_dir equal to, above or below the table dir") {
    for (outFormat <- Seq("parquet", "avro")) {
      val root = Files.createTempDirectory("scdstate_cmp")
      val d = root.resolve("t").toString
      (1 to 5).map(i => (i.toLong, i * 10L)).toDF("k", "v").write.parquet(d)
      Files.writeString(Paths.get(d, ScdReader.SidecarName), "UPDATE t SET v = 0 WHERE k = 1;\n")
      val before = rows(ScdReader.read(spark, d))
      for (out <- Seq(d, root.toString, s"$d/snap", s"$d/")) {
        val e = intercept[IllegalArgumentException](
          ScdReader.compact(spark, d, out, outFormat = outFormat))
        assert(e.getMessage.contains("overlaps the table dir"), (outFormat, out, e.getMessage))
        assert(rows(ScdReader.read(spark, d)) == before, (outFormat, out))
        assert(sidecar(d) == "UPDATE t SET v = 0 WHERE k = 1;\n")
      }
      assert(!Files.exists(Paths.get(d, "snap")))
      spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ScdCatalog].getName)
      val e = intercept[Exception](spark.sql(s"CALL graft.compact('$d', '$root')").collect())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("overlaps the table dir"), msgs)
      assert(rows(ScdReader.read(spark, d)) == before)
    }
  }
}
