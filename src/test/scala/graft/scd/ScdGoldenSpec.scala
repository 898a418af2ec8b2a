package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Golden port of the reference's only end-to-end example — the 11-row
  * `doctors` table under three scd.time settings (README.md:101-217,
  * FIXTURES.md §1). */
class ScdGoldenSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("number", IntegerType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("extra_field", StringType)))

  // raw rows per README.md:103-116; extra_field carries the Avro
  // reader-schema default "fishfingers and custard" on every row
  private val d = "fishfingers and custard"
  private val raw = Seq(
    (6, "Colin", "Baker"), (3, "Jon", "Pertwee"), (4, "Tom", "Baker"),
    (5, "Peter", "Davison"), (11, "Matt", "Smith"),
    (1, "William", "Hartnell"), (7, "Sylvester", "McCoy"),
    (8, "Paul", "McGann"), (2, "Patrick", "Troughton"),
    (9, "Christopher", "Eccleston"), (10, "David", "Tennant"))

  private def doctorsDf = spark.createDataFrame(
    raw.map { case (n, f, l) => Row(n, f, l, d) }.asJava, schema)

  private val updates =
    """UPDATE doctors set number = 12 where number = 2;
      |-- time=2014-09-01
      |DELETE FROM doctors WHERE first_name = 'Colin';
      |""".stripMargin

  private def resultSet(asOf: Option[String]) =
    ScdReader.applyLogText(spark, doctorsDf, updates, asOf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  private val rawSet = raw.map { case (n, f, l) => (n, f, l, d) }.toSet

  test("golden #1 — default time (now): 10 rows, Troughton 2→12, Colin gone") {
    val got = resultSet(None)
    val expected = rawSet - ((6, "Colin", "Baker", d)) -
      ((2, "Patrick", "Troughton", d)) + ((12, "Patrick", "Troughton", d))
    assert(got == expected)
    assert(got.size == 10)
  }

  test("golden #2 — scd.time=2014-01-01: 11 rows, Troughton 2→12, Colin kept") {
    val got = resultSet(Some("2014-01-01"))
    val expected = rawSet - ((2, "Patrick", "Troughton", d)) +
      ((12, "Patrick", "Troughton", d))
    assert(got == expected)
    assert(got.size == 11)
  }

  test("replay counters: rows updated / rows deleted, codegen'd and interpreted") {
    def counts(asOf: String): (Long, Long, Long) = {
      val df = ScdReader.applyLogText(spark, doctorsDf, updates, Some(asOf))
      df.collect() // the read's own job carries the counters
      val m = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.graft.ScdReplayExec => e.metrics
      }
      assert(m.size == 1, df.queryExecution.executedPlan.treeString)
      (m.head("numUpdated").value, m.head("numDeleted").value,
        m.head("numOutputRows").value)
    }
    Seq("true", "false").foreach { wholeStage =>
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        // now: Troughton updated, Colin deleted; 2014-01-01: no DELETE yet
        assert(counts("2099-01-01") == ((1L, 1L, 10L)), s"wholeStage=$wholeStage")
        assert(counts("2014-01-01") == ((1L, 0L, 11L)), s"wholeStage=$wholeStage")
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("a SET to NULL on the Avro fixture's NOT NULL columns reads back NULL") {
    // the Avro file's writer schema makes every column NOT NULL
    val dir = Files.createTempDirectory("doctorsavro")
    val in = getClass.getResourceAsStream("/doctors/doctors.avro")
    try Files.copy(in, dir.resolve("doctors.avro")) finally in.close()
    val base = graft.sources.AvroSource.read(spark, dir.toString)
    assert(base.schema.fields.forall(!_.nullable), base.schema.treeString)
    val log =
      """UPDATE doctors SET last_name = NULL WHERE number = 1;
        |UPDATE doctors SET first_name = 'Nobody' WHERE last_name IS NULL;
        |UPDATE doctors SET number = CASE WHEN number > 3 THEN 13 END WHERE number = 3;
        |""".stripMargin
    Seq("true", "false").foreach { wholeStage =>
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val df = ScdReader.applyLogText(spark, base, log)
        val rows = df.collect().map(r => (Option(r.get(0)), r.getString(1),
          Option(r.getString(2)))).toSet
        assert(rows.contains((Some(1), "Nobody", None)), s"wholeStage=$wholeStage: $rows")
        assert(rows.contains((None, "Jon", Some("Pertwee"))), s"wholeStage=$wholeStage: $rows")
        assert(rows.size == 11)
        assert(df.filter(col("last_name").isNull).collect()
          .map(_.getString(1)).toSeq == Seq("Nobody"), s"wholeStage=$wholeStage")
        assert(df.filter(col("number").isNull).count() == 1, s"wholeStage=$wholeStage")
        assert(df.filter(col("first_name") === "Nobody").count() == 1)
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("a nondeterministic SET replays and dry-runs (evaluated once per row)") {
    val log = "UPDATE doctors SET number = number + cast(rand() * 0 AS INT) " +
      "WHERE number = 2;\nDELETE FROM doctors WHERE number = 2;"
    assert(ScdReader.applyLogText(spark, doctorsDf, log).collect().length == 10)
    val stats = ScdReader.logStatsText(spark, doctorsDf, log).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(stats == Seq(("UPDATE", 1L), ("DELETE", 1L)))
    // it runs before every statement, so it may not read an earlier SET
    val e = intercept[IllegalStateException] {
      ScdReader.applyLogText(spark, doctorsDf,
        "UPDATE doctors SET first_name = 'X' WHERE number = 1;\n" +
          "UPDATE doctors SET last_name = shuffle(array(first_name))[0];")
    }
    assert(e.getMessage.contains("earlier statement SETs"), e.getMessage)
  }

  test("golden #3 — scd.time=-1: raw 11 rows unchanged") {
    assert(resultSet(Some("-1")) == rawSet)
  }

  test("scd.time via spark.scd.time conf") {
    spark.conf.set(ScdReader.ConfKey, "-1")
    try assert(resultSet(None) == rawSet)
    finally spark.conf.unset(ScdReader.ConfKey)
  }

  test("future pending updates are gated until their effective time") {
    val log = updates + "-- time=2525-01-01\nDELETE FROM doctors;\n"
    val now = ScdReader.applyLogText(spark, doctorsDf, log, None)
    assert(now.count() == 10)
    val future = ScdReader.applyLogText(spark, doctorsDf, log, Some("2525-01-02"))
    assert(future.count() == 0)
  }

  test("sidecar round-trip: dir/.updates probe + missing-file identity + compact") {
    val dir = Files.createTempDirectory("scd").toString
    doctorsDf.write.mode("overwrite").parquet(dir)
    // no sidecar → identity
    val noSidecar = ScdReader.read(spark, dir)
    assert(noSidecar.collect().length == 11)
    // with sidecar → golden #1
    Files.writeString(java.nio.file.Paths.get(dir, ".updates"), updates)
    val got = ScdReader.read(spark, dir)
      .collect().map(r => (r.getAs[Int]("number"), r.getAs[String]("first_name"))).toSet
    assert(got.size == 10 && got.contains((12, "Patrick")) && !got.exists(_._2 == "Colin"))
    // compact materializes the as-of view, snapshot reads back clean
    val out = Files.createTempDirectory("scdout").toString
    ScdReader.compact(spark, dir, out)
    assert(spark.read.parquet(out).count() == 10)
    // dir-based history: 11 rows in [0, delete) + 10 rows open-ended
    val hist = ScdReader.history(spark, dir)
    assert(hist.count() == 21)
    assert(hist.where(col("valid_to_ms").isNull).count() == 10)
    // no sidecar -> single open-ended interval of raw rows
    val rawHist = ScdReader.history(spark, out)
    assert(rawHist.count() == 10)
    assert(rawHist.where(col("valid_from_ms") === 0L &&
      col("valid_to_ms").isNull).count() == 10)
  }

  test("compact(clearLog): consumed statements truncate, future ones replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("scdclear").toString
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    Files.writeString(java.nio.file.Paths.get(dir, ".updates"),
      """UPDATE t SET v = v * 2;
        |-- graft-batch=batch-7
        |-- time=2020-01-01
        |UPDATE t SET v = v + 1;
        |-- time=2525-01-01
        |DELETE FROM t WHERE id = 1;
        |""".stripMargin)
    val out = Files.createTempDirectory("scdclearout").toString
    ScdReader.compact(spark, dir, out, asOf = Some("2021-01-01"),
      clearLog = true)
    // snapshot consumed the untimed double and the 2020 bump
    val snap = spark.read.parquet(out).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(snap.toSeq == Seq((1L, 21L), (2L, 41L)))
    // the OLD dir now replays ONLY the post-asOf statement: at `now`
    // the 2525 delete is still gated → pristine base
    val now = ScdReader.read(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(now.toSeq == Seq((1L, 10L), (2L, 20L)))
    // …and past 2525 it fires
    val later = ScdReader.read(spark, dir, asOf = Some("2525-01-02"))
      .collect().map(_.getLong(0))
    assert(later.toSeq == Seq(2L))
    // batch idempotence marker survived the rewrite
    val text = ScdReader.readSidecar(spark, dir).get
    assert(text.contains("-- graft-batch=batch-7"), text)
    assert(!text.contains("v * 2") && !text.contains("v + 1"), text)
    // consumed prefix is archived as a dot-file (invisible to scans)
    val archived = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith(".updates.archive-"))
    assert(archived.length == 1, archived.toSeq)
    assert(spark.read.parquet(dir).count() == 2) // scan still clean
    // truncating everything deletes the log (markerless table)
    val dir2 = Files.createTempDirectory("scdclear2").toString
    Seq((1L, 10L)).toDF("id", "v").write.mode("overwrite").parquet(dir2)
    Files.writeString(java.nio.file.Paths.get(dir2, ".updates"),
      "UPDATE t SET v = 0;\n")
    ScdReader.truncateLog(spark, dir2)
    assert(ScdReader.readSidecar(spark, dir2).isEmpty)
  }

  test("truncateLog refuses a non-prefix cut (non-monotone log)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("scdnonmono").toString
    Seq((1L, 10L)).toDF("id", "v").write.mode("overwrite").parquet(dir)
    // kept (2525) precedes consumed (1000) in file order: snapshot +
    // remainder would replay v+1 BEFORE v*2, the reverse of the
    // original fold — must refuse rather than rewrite history
    Files.writeString(java.nio.file.Paths.get(dir, ".updates"),
      """-- time=2525-01-01
        |UPDATE t SET v = v * 2;
        |-- time=2020-01-01
        |UPDATE t SET v = v + 1;
        |""".stripMargin)
    val e = intercept[IllegalStateException] {
      ScdReader.truncateLog(spark, dir, asOf = Some("2021-01-01"))
    }
    assert(e.getMessage.contains("non-monotone"), e.getMessage)
    // the log is untouched after the refusal
    assert(ScdReader.readSidecar(spark, dir).get.contains("v * 2"))
  }

  test("historyText: one interval per effective time, SCD2-shaped") {
    val h = ScdReader.historyText(spark, doctorsDf, updates)
    val rows = h.collect().map(r => (r.getAs[Long]("valid_from_ms"),
      Option(r.getAs[java.lang.Long]("valid_to_ms")).map(_.toLong),
      r.getAs[Int]("number"), r.getAs[String]("first_name")))
    val deleteMs = 1409529600000L // 2014-09-01T00:00:00Z
    val (epoch, current) = rows.partition(_._1 == 0L)
    // interval [0, delete): UPDATE applied, Colin still present
    assert(epoch.length == 11 && epoch.forall(_._2.contains(deleteMs)))
    assert(epoch.exists(r => r._3 == 12 && r._4 == "Patrick"))
    assert(epoch.exists(_._4 == "Colin"))
    // interval [delete, inf): Colin gone, open-ended
    assert(current.length == 10 && current.forall(_._2.isEmpty))
    assert(!current.exists(_._4 == "Colin"))
  }

  test("history refuses a SET of its own interval columns on a base without them") {
    for (c <- Seq("valid_from_ms", "__scd_valid")) {
      val e = intercept[IllegalStateException](ScdReader.historyText(spark,
        doctorsDf, s"-- time=2014-09-01\nUPDATE doctors SET $c = 5;\n").collect())
      assert(e.getMessage.contains(s"UPDATE SET references unknown column '$c'"),
        e.getMessage)
    }
  }

  test("a session SQL function replays like the same call in a SELECT") {
    import spark.implicits._
    val dir = Files.createTempDirectory("scd_sqlfn").toString
    (1 to 6).map(i => (i.toLong, i * 10L)).toDF("id", "v").write.mode("overwrite").parquet(dir)
    // statement 2 reads statement 1's output through the function
    Files.writeString(java.nio.file.Paths.get(dir, ".updates"),
      """UPDATE t SET v = v * 2 WHERE scd_fn(id) > 3;
        |UPDATE t SET v = scd_fn(scd_fn(v)) WHERE id > 2;
        |""".stripMargin)
    def read = ScdReader.read(spark, dir).orderBy("id").collect().toSeq
    def select = spark.read.parquet(dir).selectExpr("id",
      "CASE WHEN scd_fn(id) > 3 THEN v * 2 ELSE v END AS v")
      .selectExpr("id", "CASE WHEN id > 2 THEN scd_fn(scd_fn(v)) ELSE v END AS v")
      .orderBy("id").collect().toSeq
    try {
      spark.sql("CREATE TEMPORARY FUNCTION scd_fn(x BIGINT) RETURNS BIGINT RETURN x + 1")
      assert(read == select)
      assert(read.map(_.getLong(1)) == Seq(10L, 20L, 62L, 82L, 102L, 122L))
      // a redefinition shows at the next read: no held resolution
      spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION scd_fn(x BIGINT) " +
        "RETURNS BIGINT RETURN x * 10")
      assert(read == select)
      assert(read.map(_.getLong(1)) == Seq(20L, 40L, 6000L, 8000L, 10000L, 12000L))
    } finally spark.sql("DROP TEMPORARY FUNCTION IF EXISTS scd_fn")
  }

  test("sequential composition: later statements see earlier updates") {
    val log =
      """UPDATE doctors SET number = 12 WHERE number = 2;
        |DELETE FROM doctors WHERE number = 12;
        |""".stripMargin
    // the DELETE fires on the UPDATED value — Troughton (2→12) is dropped
    val got = ScdReader.applyLogText(spark, doctorsDf, log, None)
    assert(got.count() == 10)
    assert(!got.collect().exists(_.getString(2) == "Troughton"))
    // reversed order: DELETE sees the pre-update value 12 → nothing matches
    val rev =
      """DELETE FROM doctors WHERE number = 12;
        |UPDATE doctors SET number = 12 WHERE number = 2;
        |""".stripMargin
    assert(ScdReader.applyLogText(spark, doctorsDf, rev, None).count() == 11)
  }

  test("NULL WHERE predicate fires nothing (neither UPDATE nor DELETE)") {
    val df = spark.createDataFrame(
      Seq(Row(1, null, "x", d), Row(2, "A", "y", d)).asJava, schema)
    val log =
      """UPDATE doctors SET last_name = 'upd' WHERE first_name = 'A';
        |DELETE FROM doctors WHERE first_name = 'zzz';
        |""".stripMargin
    val got = ScdReader.applyLogText(spark, df, log, None).collect()
      .map(r => (r.getInt(0), r.getString(2))).toSet
    // row with NULL first_name survives untouched (predicate is NULL)
    assert(got == Set((1, "x"), (2, "upd")))
  }

  test("SET sees pre-statement values; type write-back casts") {
    val df = spark.createDataFrame(
      Seq(Row(1, "a", "b", d)).asJava, schema)
    // swap via simultaneous assignment — both RHS see old values;
    // number's RHS is a double expression cast back to int
    val log = "UPDATE t SET first_name = last_name, last_name = first_name, " +
      "number = number * 2.9;"
    val r = ScdReader.applyLogText(spark, df, log, None).collect().head
    assert((r.getInt(0), r.getString(1), r.getString(2)) == (2, "b", "a"))
  }

  test("full H2-style scalar expression surface via Catalyst expr") {
    val log = "UPDATE doctors SET extra_field = upper(concat(first_name, " +
      "' ', last_name)), number = number + length(first_name) " +
      "WHERE number between 1 and 3 AND lower(last_name) like '%t%';"
    val got = ScdReader.applyLogText(spark, doctorsDf, log, None)
      .collect().map(r => (r.getInt(0), r.getString(3))).toSet
    // matches: 1 William Hartnell, 2 Patrick Troughton (Pertwee: 'pertwee' has no t? yes it does — 3 Jon Pertwee matches too)
    assert(got.contains((1 + 7, "WILLIAM HARTNELL")))
    assert(got.contains((2 + 7, "PATRICK TROUGHTON")))
    assert(got.contains((3 + 3, "JON PERTWEE")))
  }
}
