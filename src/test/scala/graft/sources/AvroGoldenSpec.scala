package graft.sources

import graft.SparkSpec
import graft.scd.{ScdLogFeed, ScdReader}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** End-to-end over the reference's example table: read `doctors.avro`
  * (deflate-coded Avro container, 3-field writer schema) with the
  * 4-field READER schema from the reference's `example/doctors.hql`
  * (adds `extra_field` default "fishfingers and custard" —
  * README.md:91-97 schema evolution), apply the `example/updates` DML,
  * and reproduce all three README golden outputs (README.md:153-212).
  * Both fixtures live under `src/test/resources/doctors/`; the Avro file
  * is a reconstruction from FIXTURES.md §1.1-1.3, not the reference's
  * own bytes.
  */
class AvroGoldenSpec extends SparkSpec {

  private val d = "fishfingers and custard"

  /** reader schema per example/doctors.hql (avro.schema.literal) */
  private val readerSchema =
    """{"type":"record","name":"doctors","namespace":"testing.hive.avro.serde",
      |"fields":[
      |  {"name":"number","type":"int"},
      |  {"name":"first_name","type":"string"},
      |  {"name":"last_name","type":"string"},
      |  {"name":"extra_field","type":"string","default":"fishfingers and custard"}
      |]}""".stripMargin

  /** the reference names its log `updates` (no dot); stage a proper
    * SCD table dir from the classpath fixtures: avro file + `.updates` */
  private lazy val tableDir: String = {
    val dir = Files.createTempDirectory("avroscd")
    def stage(resource: String, name: String): Unit = {
      val in = getClass.getResourceAsStream(s"/doctors/$resource")
      assert(in != null, s"missing test resource doctors/$resource")
      try Files.copy(in, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
    }
    stage("doctors.avro", "doctors.avro")
    stage("updates", ScdReader.SidecarName)
    dir.toString
  }

  private def readAsOf(asOf: Option[String]) =
    ScdReader.read(spark, tableDir, format = "avro",
      options = Map("avroSchema" -> readerSchema), asOf = asOf)
      .collect()
      .map(r => (r.getAs[Int]("number"), r.getAs[String]("first_name"),
        r.getAs[String]("last_name"), r.getAs[String]("extra_field")))
      .toSet

  private val rawSet = Set(
    (6, "Colin", "Baker", d), (3, "Jon", "Pertwee", d), (4, "Tom", "Baker", d),
    (5, "Peter", "Davison", d), (11, "Matt", "Smith", d),
    (1, "William", "Hartnell", d), (7, "Sylvester", "McCoy", d),
    (8, "Paul", "McGann", d), (2, "Patrick", "Troughton", d),
    (9, "Christopher", "Eccleston", d), (10, "David", "Tennant", d))

  test("writer-schema inference reads the raw 3-field file") {
    val df = AvroSource.read(spark, tableDir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("number", "first_name", "last_name"))
    assert(df.count() == 11)
  }

  test("reader schema materializes extra_field default on every row") {
    val df = AvroSource.read(spark, tableDir, Some(readerSchema))
    assert(df.schema.fieldNames.toSeq ==
      Seq("number", "first_name", "last_name", "extra_field"))
    assert(df.select("extra_field").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(d))
  }

  test("projection pushdown: pruned reader schema decodes only the asked fields") {
    // the pruned READER schema is what each task hands to Avro's
    // resolving decoder — dropped fields are byte-skipped, not decoded
    val full = new org.apache.avro.Schema.Parser().parse(readerSchema)
    val pruned = AvroSource.pruneSchema(full, Seq("number", "extra_field"))
    assert(pruned.getFields.size == 2)
    assert(pruned.getField("extra_field").defaultVal() == d,
      "kept fields must keep their reader-defaults")
    // end-to-end: 2-column read matches the full read's projection,
    // including the schema-evolution default of a kept field
    val slim = AvroSource.read(spark, tableDir, Some(readerSchema),
      columns = Some(Seq("number", "extra_field")))
    assert(slim.schema.fieldNames.toSeq == Seq("number", "extra_field"))
    val fullRead = AvroSource.read(spark, tableDir, Some(readerSchema))
      .select("number", "extra_field").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val slimRead = slim.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(slimRead == fullRead && slimRead.size == 11)
    // asking for a column the reader schema lacks fails fast
    intercept[IllegalArgumentException] {
      AvroSource.pruneSchema(full, Seq("number", "nope"))
    }
  }

  test("golden #1 — default time: 10 rows, Troughton 2→12, Colin gone (README.md:153-165)") {
    val got = readAsOf(None)
    val expected = rawSet - ((6, "Colin", "Baker", d)) -
      ((2, "Patrick", "Troughton", d)) + ((12, "Patrick", "Troughton", d))
    assert(got == expected)
  }

  test("golden #2 — scd.time=2014-01-01: 11 rows, Colin kept (README.md:178-192)") {
    val got = readAsOf(Some("2014-01-01"))
    val expected = rawSet - ((2, "Patrick", "Troughton", d)) +
      ((12, "Patrick", "Troughton", d))
    assert(got == expected)
  }

  test("golden #3 — scd.time=-1: raw 11 rows unchanged (README.md:196-212)") {
    assert(readAsOf(Some("-1")) == rawSet)
  }

  test("statement-seq views load the Avro base: asOfSeq, catalog VERSION AS OF, materializeFromLog") {
    val far = readAsOf(Some("9999-12-31"))
    def rows3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("number"), r.getAs[String]("first_name"),
        r.getAs[String]("last_name"))).toSet
    val far3 = far.map { case (n, f, l, _) => (n, f, l) }
    // writer schema (no reader schema passed): the 3 written fields
    assert(rows3(ScdLogFeed.asOfSeq(spark, tableDir, 2, "avro")) == far3)
    assert(rows3(ScdLogFeed.asOfSeq(spark, tableDir, Long.MaxValue,
      "avro")) == far3)
    // catalog options reach the one loader on the VERSION AS OF branch
    val cat = "spark.sql.catalog.graft_avro"
    spark.conf.set(cat, classOf[ScdCatalog].getName)
    spark.conf.set(s"$cat.format", "avro")
    spark.conf.set(s"$cat.avroSchema", readerSchema)
    try {
      def version(n: Int) =
        spark.sql(s"SELECT * FROM graft_avro.`$tableDir` VERSION AS OF $n")
          .collect()
          .map(r => (r.getAs[Int]("number"), r.getAs[String]("first_name"),
            r.getAs[String]("last_name"), r.getAs[String]("extra_field")))
          .toSet
      assert(version(2) == far)
      assert(version(1) == readAsOf(Some("2014-01-01")))
      assert(version(0) == rawSet)
    } finally Seq(cat, s"$cat.format", s"$cat.avroSchema")
      .foreach(spark.conf.unset)
    // the materializer's first snapshot loads the Avro base too
    val snaps = Files.createTempDirectory("avrosnap").toString
    graft.streaming.ScdStream.applyLogBatch(
      ScdLogFeed.feed(spark, tableDir), tableDir, snaps, 0L, "avro")
    assert(rows3(graft.streaming.ScdStream.latestSnapshot(spark, snaps).get)
      == far3)
  }

  test("DML can reference the reader-defaulted column") {
    val log = "DELETE FROM doctors WHERE extra_field = 'fishfingers and custard';"
    val base = AvroSource.read(spark, tableDir, Some(readerSchema))
    assert(ScdReader.applyLogText(spark, base, log, None).count() == 0)
  }

  test("named-view registration mirrors the reference's Hive-table surface") {
    ScdReader.createOrReplaceView(spark, "doctors", tableDir,
      format = "avro", options = Map("avroSchema" -> readerSchema))
    // `hive> SELECT * from doctors` (README.md:153-165): 10 rows as-of now
    assert(spark.sql("SELECT count(*) AS n FROM doctors")
      .collect().head.getLong(0) == 10L)
    assert(spark.sql(
      "SELECT number FROM doctors WHERE last_name = 'Troughton'")
      .collect().head.getInt(0) == 12)
    // `set scd.time=-1` analogue: re-register raw
    ScdReader.createOrReplaceView(spark, "doctors", tableDir,
      format = "avro", options = Map("avroSchema" -> readerSchema),
      asOf = Some("-1"))
    assert(spark.sql("SELECT count(*) FROM doctors")
      .collect().head.getLong(0) == 11L)
    spark.catalog.dropTempView("doctors")
  }

  test("unsupported types are rejected explicitly (reference parity)") {
    // nested records/arrays/maps now bridge (beyond the reference,
    // which throws at AvroSCDInputFormat.java:178 — see
    // AvroNestedSpec); genuinely unsupported shapes still fail loudly:
    // a multi-branch non-null union has no Spark type
    val multiUnion =
      """{"type":"record","name":"r","fields":[
        |  {"name":"u","type":["int","string","boolean"]}]}""".stripMargin
    intercept[UnsupportedOperationException] {
      AvroSource.toStructType(
        new org.apache.avro.Schema.Parser().parse(multiUnion))
    }
    // reverse bridge: non-string map keys can't map to Avro maps
    intercept[UnsupportedOperationException] {
      AvroSource.toAvroSchema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("m",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.StringType)))), "r")
    }
  }

  test("logical types round-trip: decimal, timestamp (µs), date") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("avrological").toString + "/t"
    val src = Seq(
      (1L, "1234.56", "2024-03-01 12:34:56.789123", "2024-03-01"),
      (2L, "-0.01", "1969-12-31 23:59:59.000001", "1969-12-31"))
      .toDF("id", "amt", "ts", "d")
      .select($"id", $"amt".cast("decimal(10,2)").as("amt"),
        to_timestamp($"ts").as("ts"), to_date($"d").as("d"))
    AvroSource.write(src, dir)
    // schema survives the bridge both ways
    val back = AvroSource.read(spark, dir)
    assert(back.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("d").dataType == org.apache.spark.sql.types.DateType)
    // values bit-exact, including sub-millisecond micros and the
    // negative pre-epoch timestamp (floorDiv/floorMod path)
    val got = back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getDecimal(1).toPlainString,
        r.getTimestamp(2).toInstant.toString, r.getDate(3).toString))
    assert(got.toSeq == Seq(
      (1L, "1234.56", "2024-03-01T12:34:56.789123Z", "2024-03-01"),
      (2L, "-0.01", "1969-12-31T23:59:59.000001Z", "1969-12-31")))
  }

  test("property: random decimals/timestamps/dates round-trip bit-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1L to 200L).map { i =>
      // decimal(12,3) across sign/magnitude, timestamps ±30 years of
      // epoch at µs grain (exercises the negative floorDiv path), dates
      // ±100 years
      val unscaled = rnd.nextLong() % 1000000000L
      val micros = rnd.nextLong() % (30L * 365 * 86400 * 1000000L)
      val days = (rnd.nextInt(73000) - 36500).toLong
      (i, new java.math.BigDecimal(
          java.math.BigInteger.valueOf(unscaled), 3),
        java.time.Instant.EPOCH.plus(micros,
          java.time.temporal.ChronoUnit.MICROS),
        java.time.LocalDate.ofEpochDay(days))
    }
    val dir = Files.createTempDirectory("avroprop").toString + "/t"
    // the encoder defaults BigDecimal to (38,18); declare the real type
    val src = rows.toDF("id", "amt", "ts", "d")
      .withColumn("amt", org.apache.spark.sql.functions.col("amt")
        .cast(org.apache.spark.sql.types.DecimalType(12, 3)))
    assert(src.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 3))
    AvroSource.write(src, dir)
    val back = AvroSource.read(spark, dir).orderBy("id").collect()
    val expect = rows.sortBy(_._1)
    assert(back.length == expect.length,
      s"row count: ${back.length} != ${expect.length}")
    back.zip(expect).foreach { case (r, (i, amt, ts, d)) =>
      assert(r.getLong(0) == i)
      assert(r.getDecimal(1).compareTo(amt) == 0, s"row $i decimal")
      assert(r.getTimestamp(2).toInstant == ts, s"row $i ts")
      assert(r.getDate(3).toLocalDate == d, s"row $i date")
    }
  }

  test("timestamp-millis reader schema decodes (Hive-written tables)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // simulate a millis-written table: plain long column + a reader
    // schema that declares timestamp-millis over it
    val dir = Files.createTempDirectory("avromillis").toString + "/t"
    AvroSource.write(Seq((1L, 1709295296789L)).toDF("id", "ts"), dir)
    val reader =
      """{"type":"record","name":"record","namespace":"graft.avro","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}
        |]}""".stripMargin
    val got = AvroSource.read(spark, dir, Some(reader))
      .select(unix_millis($"ts")).head().getLong(0)
    assert(got == 1709295296789L)
  }

  test("SCD UPDATE on a decimal column replays with decimal semantics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("avrodecscd").toString + "/t"
    val src = Seq((1L, "100.10"), (2L, "7.25"))
      .toDF("id", "bal")
      .select($"id",
        $"bal".cast(org.apache.spark.sql.types.DecimalType(10, 2)).as("bal"))
    AvroSource.write(src, dir)
    Files.writeString(Paths.get(dir, ScdReader.SidecarName),
      "UPDATE t SET bal = bal * 2 WHERE id = 1;\n" +
        "UPDATE t SET bal = bal + 0.05;\n")
    val view = ScdReader.read(spark, dir, format = "avro")
    // the write-back cast keeps the ORIGINAL decimal(10,2) type (O11)
    assert(view.schema("bal").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    val got = view.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
    assert(got.toSeq == Seq((1L, "200.25"), (2L, "7.30")))
  }

  test("avro-to-avro compaction round-trips the as-of view (reference format)") {
    val out = Files.createTempDirectory("avrocompact").toString + "/snap"
    // compact the avro dir's as-of view back INTO avro
    val view = ScdReader.read(spark, tableDir, format = "avro",
      options = Map("avroSchema" -> readerSchema))
    AvroSource.write(view, out, recordName = "doctors")
    val reread = AvroSource.read(spark, out).collect()
      .map(r => (r.getAs[Int]("number"), r.getAs[String]("first_name"),
        r.getAs[String]("last_name"), r.getAs[String]("extra_field")))
      .toSet
    val expected = rawSet - ((6, "Colin", "Baker", d)) -
      ((2, "Patrick", "Troughton", d)) + ((12, "Patrick", "Troughton", d))
    assert(reread == expected)
  }
}
