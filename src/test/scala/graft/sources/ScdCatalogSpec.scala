package graft.sources

import graft.SparkSpec
import graft.scd.{ScdLogFeed, ScdReader}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** [[ScdCatalog]]: path-addressed SQL access with native time travel —
  * `TIMESTAMP AS OF` (scd.time coordinate) and `VERSION AS OF`
  * (statement-seq coordinate). */
class ScdCatalogSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("scdcat").toString
    (1 to 100).map(i =>
      (i.toLong, s"name$i", i * 10.0, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "bal", "seg")
      .write.mode("overwrite").parquet(d)
    Files.writeString(java.nio.file.Paths.get(d, ScdReader.SidecarName),
      """UPDATE t SET bal = bal + 5 WHERE seg = 'A';
        |-- time=2030-01-01
        |DELETE FROM t WHERE id > 90;
        |""".stripMargin)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[ScdCatalog].getName)
    d
  }

  test("SELECT through the catalog equals ScdReader.read") {
    val viaSql = spark.sql(s"SELECT * FROM graft.`$dir` ORDER BY id")
      .collect().toSeq
    assert(viaSql == ScdReader.read(spark, dir).orderBy("id")
      .collect().toSeq)
    assert(viaSql.length == 100) // future DELETE gated at "now"
  }

  test("TIMESTAMP AS OF travels the scd.time coordinate") {
    val future = spark.sql(
      s"SELECT * FROM graft.`$dir` TIMESTAMP AS OF '2031-01-01'")
    assert(future.count() == 90) // DELETE applied
    val past = spark.sql(
      s"SELECT * FROM graft.`$dir` TIMESTAMP AS OF '2024-01-01'")
    assert(past.count() == 100)
    // the epoch-0 UPDATE applies even in 2024
    assert(past.where($"seg" === "A" && $"bal" % 10 === 5).count() == 50)
  }

  test("VERSION AS OF travels the statement-seq coordinate") {
    val v0 = spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 0")
    assert(v0.orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
    val v1 = spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 1")
    assert(v1.count() == 100)
    assert(v1.where($"seg" === "A" && $"bal" % 10 === 5).count() == 50)
    val v2 = spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 2")
    assert(v2.orderBy("id").collect().toSeq ==
      ScdLogFeed.asOfSeq(spark, dir, 2).orderBy("id").collect().toSeq)
    assert(v2.count() == 90)
  }

  /** `body`'s result and its `.updates` opens (a view build reads each
    * sidecar once), through a counting local filesystem swapped in. */
  private def sidecarOpens[T](body: => T): (T, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[SidecarOpenCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    SidecarOpenCountingFs.opens.set(0)
    try (body, SidecarOpenCountingFs.opens.get)
    finally Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .foreach(conf.unset)
  }

  test("a catalog read builds its view once; add_update reads the sidecar once") {
    assert(sidecarOpens(ScdReader.read(spark, dir))._2 == 1)
    // the catalog's build is the one the analyzer rewrite substitutes
    Seq("", " VERSION AS OF 1").foreach { travel =>
      assert(sidecarOpens(spark.sql(s"SELECT * FROM graft.`$dir`$travel")
        .queryExecution.analyzed)._2 == 1, travel)
    }
    val d = Files.createTempDirectory("scdcat_once").toString
    Seq((1L, 1.0)).toDF("id", "bal").write.mode("overwrite").parquet(d)
    spark.sql(s"CALL graft.add_update('$d', 'DELETE FROM t WHERE id = 2;')")
      .collect()
    val (r, opens) = sidecarOpens(spark.sql(
      s"CALL graft.add_update('$d', 'UPDATE t SET bal = 2 WHERE id = 1;')")
      .collect())
    assert(opens == 1 && r(0).getLong(1) == 2L, (opens, r.toList))
  }

  test("a self-join of one catalog table keeps its two sides apart") {
    val q = s"SELECT a.id, b.id FROM graft.`$dir` a JOIN graft.`$dir` b " +
      "ON a.id = b.id + 1 WHERE a.seg = 'A'"
    val v = ScdReader.read(spark, dir)
    val expected = v.as("a").join(v.as("b"), col("a.id") === col("b.id") + 1)
      .where(col("a.seg") === "A").select("a.id", "b.id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.size == 50)
    assert(spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == expected)
  }

  test("pushdown reaches the file scan through the catalog table") {
    val df = spark.sql(s"SELECT id, bal FROM graft.`$dir` WHERE id = 7")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("id") || plan.contains("IsNotNull")), plan)
    assert(df.collect().length == 1)
  }

  test("CALL graft.compact materializes the snapshot and reports rows") {
    val snap = Files.createTempDirectory("scdcat_snap").toString + "/s"
    val out = spark.sql(
      s"CALL graft.compact('$dir', '$snap', '2031-01-01', false)")
      .collect()
    assert(out.length == 1 && out(0).getLong(1) == 90) // DELETE applied
    assert(spark.read.parquet(snap).count() == 90)
    // the source log is intact (clear_log = false)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, ScdReader.SidecarName)))
  }

  test("CALL graft.optimize + zone_map + bloom_manifest round-trip in SQL") {
    val d = Files.createTempDirectory("scdcat_opt").toString + "/t"
    (1 to 5000).map(i => (i.toLong, i * 3))
      .toDF("id", "payload").repartition(32)
      .write.mode("overwrite").parquet(d)
    val opt = spark.sql(
      s"CALL graft.optimize('$d', 'id', ${4L << 10}, 20)").collect()
    assert(opt(0).getInt(0) == 32 && opt(0).getInt(1) < 32,
      s"optimize reported ${opt.toList}")
    assert(spark.read.parquet(d).count() == 5000)
    val man = Files.createTempDirectory("scdcat_zm").toString + "/m"
    val zm = spark.sql(s"CALL graft.zone_map('$d', 'id', '$man')")
      .collect()
    assert(zm(0).getLong(1) == opt(0).getInt(1).toLong)
    // second CALL with new files appended = incremental manifest
    (9001 to 9100).map(i => (i.toLong, i)).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(d)
    val zm2 = spark.sql(s"CALL graft.zone_map('$d', 'id', '$man')")
      .collect()
    assert(zm2(0).getLong(1) == zm(0).getLong(1) + 1)
    val bm = Files.createTempDirectory("scdcat_bm").toString + "/b"
    val b = spark.sql(
      s"CALL graft.bloom_manifest('$d', 'id', 4096, '$bm')").collect()
    assert(b(0).getLong(1) == zm2(0).getLong(1))
    // the fsck: everything the two zone_map CALLs indexed is ok
    val v = spark.sql(
      s"CALL graft.verify_zone_map('$d', 'id', '$man')").collect()
    assert((v(0).getLong(0), v(0).getLong(1), v(0).getLong(2),
      v(0).getLong(3)) == ((zm2(0).getLong(1), 0L, 0L, 0L)), v.toList)
    // tokenizer training as one SQL statement
    val docsDir = Files.createTempDirectory("scdcat_bpe").toString + "/d"
    Seq((1L, "aa ab aa"), (2L, "ab aa b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docsDir)
    val bpeOut = Files.createTempDirectory("scdcat_bpeo").toString + "/m"
    val bp = spark.sql(
      s"CALL graft.bpe_index('$docsDir', 'text', 5, '$bpeOut')").collect()
    assert(bp(0).getLong(1) == 2L, bp.toList) // early stop at 2 merges
    assert(graft.operators.TextAnalysis.bpeIndexRead(spark, bpeOut)
      .head == ("a", "a"))
    // unknown procedure is a TYPED analysis-time error
    // (ROUTINE_NOT_FOUND — this Spark build has no
    // NoSuchProcedureException class), with the available names listed
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.vacuum('$d')").collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).toList
    val msgs = chain.map(_.getMessage).mkString(" | ")
    assert(chain.exists(
      _.isInstanceOf[org.apache.spark.sql.AnalysisException]), msgs)
    assert(msgs.contains("ROUTINE_NOT_FOUND") ||
      msgs.contains("FAILED_TO_LOAD_ROUTINE"), msgs)
    assert(msgs.contains("optimize"), msgs)
  }

  test("CALL graft.unigram_index trains and persists the piece table") {
    val docsDir = Files.createTempDirectory("scdcat_uni").toString + "/d"
    Seq("the cat sat on the mat", "a cat and a mat", "that cat sat")
      .toDF("text").write.mode("overwrite").parquet(docsDir)
    val out = Files.createTempDirectory("scdcat_uni_o").toString + "/idx"
    spark.conf.set("spark.sql.catalog.graft",
      classOf[ScdCatalog].getName)
    val r = spark.sql(
      s"CALL graft.unigram_index('$docsDir', 'text', 8, 1, '$out')")
      .collect()
    assert(r(0).getString(0) == out && r(0).getLong(1) > 0, r.toList)
    val table = graft.operators.UnigramTokenizer
      .unigramIndexRead(spark, out)
    assert(table.map(_._1).distinct.size == table.size)
    // the persisted artifact serves encoding
    val enc = graft.operators.UnigramTokenizer.unigramEncodeWith(
      spark.read.parquet(docsDir).withColumn("doc_id",
        monotonically_increasing_id()), out)
    assert(enc.count() == 3)
  }

  test("CALL graft.add_update authors the log; bad DML is rejected untouched") {
    val d = Files.createTempDirectory("scdcat_au").toString
    (1 to 50).map(i => (i.toLong, i * 10.0)).toDF("id", "bal")
      .write.mode("overwrite").parquet(d)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[ScdCatalog].getName)
    // author two statements from pure SQL, the second time-stamped
    val r1 = spark.sql(
      s"CALL graft.add_update('$d', 'UPDATE t SET bal = bal * 2 WHERE id <= 10;')")
      .collect()
    assert(r1(0).getLong(1) == 1L, r1.toList)
    val r2 = spark.sql(
      s"CALL graft.add_update('$d', 'DELETE FROM t WHERE id > 40;', '2030-01-01')")
      .collect()
    assert(r2(0).getLong(1) == 2L, r2.toList)
    // read back: now-time (2026) sees only the un-timed UPDATE;
    // post-2030 sees the DELETE too
    val now = ScdReader.read(spark, d)
    assert(now.count() == 50L)
    assert(now.where(col("id") === 1).select("bal").head.getDouble(0)
      == 20.0)
    val later = ScdReader.read(spark, d, asOf = Some("2031-01-01"))
    assert(later.count() == 40L)
    // a non-DML verb rejects the CALL and leaves the sidecar as-was
    val before = ScdReader.readSidecar(spark, d).get
    val bad = intercept[Exception] {
      spark.sql(s"CALL graft.add_update('$d', 'INSERT INTO t VALUES (1);')")
        .collect()
    }
    val badChain = Iterator.iterate(bad: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(badChain.toLowerCase.contains("unsupported dml"), badChain)
    assert(ScdReader.readSidecar(spark, d).get == before)
    // a second table name rejects too (single-table log contract)
    intercept[Exception] {
      spark.sql(
        s"CALL graft.add_update('$d', 'UPDATE other SET bal = 0 WHERE id = 1;')")
        .collect()
    }
    assert(ScdReader.readSidecar(spark, d).get == before)
    // injection guards: a smuggled second statement, a newline in the
    // time arg, and an embedded time directive all reject untouched
    intercept[Exception] {
      spark.sql(s"CALL graft.add_update('$d', " +
        "'DELETE FROM t WHERE id = 1; DELETE FROM t WHERE id = 2;')")
        .collect()
    }
    intercept[Exception] {
      spark.sql(s"CALL graft.add_update('$d', " +
        "'DELETE FROM t WHERE id = 1;', '2030-01-01\nUPDATE t SET bal = 0 WHERE true;')")
        .collect()
    }
    intercept[Exception] {
      spark.sql(s"CALL graft.add_update('$d', " +
        "'-- time=2020-01-01\nDELETE FROM t WHERE id = 1;')")
        .collect()
    }
    assert(ScdReader.readSidecar(spark, d).get == before)
  }

  test("missing dir, bad version, and DDL all fail clearly") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`/no/such/dir`").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 'xyz'")
        .collect()
    }
    val ddl = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.t2 (id INT) USING parquet")
    }
    assert(ddl.getMessage.contains("read-only") ||
      ddl.getMessage.toLowerCase.contains("not support"), ddl.getMessage)
  }

  test("CALL graft.hdr_index builds the quantile artifact; re-CALL heals") {
    val d = Files.createTempDirectory("scdcat_hdr").toString + "/t"
    (1 to 3000).map(i => (i.toLong, (i * 37L) % 9999L))
      .toDF("id", "x").write.mode("overwrite").parquet(d)
    val out = Files.createTempDirectory("scdcat_hdri").toString + "/h"
    val res = spark.sql(s"CALL graft.hdr_index('$d', 'x', 5, '$out')")
      .collect()
    assert(res.length == 1 && res(0).getString(0) == out)
    val served = graft.operators.Sketch.hdrIndexRead(spark, out)
    assert(res(0).getLong(1) == served.count())
    // artifact == direct sketch, and quantiles serve from it
    val direct = graft.operators.Sketch.hdrSketch(
      spark.read.parquet(d), "x", 5)
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val p50 = graft.operators.Sketch.hdrQuantiles(served, 5, Seq(500))
      .head
    assert(p50.getAs[Long]("low") > 0)
    // corpus changed -> re-CALL rebuilds (overwrite semantics)
    (3001 to 4000).map(i => (i.toLong, 200000L + i))
      .toDF("id", "x").write.mode("append").parquet(d)
    spark.sql(s"CALL graft.hdr_index('$d', 'x', 5, '$out')").collect()
    val total = graft.operators.Sketch.hdrIndexRead(spark, out)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
    assert(total == 4000L)
  }

  test("CALL graft.decontamination_index persists the gram artifact the scrub serves from") {
    val d = Files.createTempDirectory("scdcat_dec").toString + "/bench"
    Seq((1L, "a b c d e f g h tail"), (2L, "z y x w v u t s"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(d)
    val out = Files.createTempDirectory("scdcat_deci").toString + "/g"
    val res = spark.sql(
      s"CALL graft.decontamination_index('$d', 'doc_id', 'text', 8, '$out')")
      .collect()
    assert(res.length == 1 && res(0).getString(0) == out)
    // doc 1 has 2 grams, doc 2 has 1 -> 3 distinct grams persisted
    assert(res(0).getLong(1) == 3L, res(0).toString)
    // the artifact serves the scrub: a doc quoting the benchmark flags
    val corpus = Seq((10L, "pre a b c d e f g h post"),
      (11L, "clean words only here spread over eight tokens"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.decontaminateIndexed(corpus, out)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(10L) == 1L && got(11L) == 0L, got.toString)
  }

  test("CALL graft.ivf_index trains and persists the ANN artifact the semantic scrub serves from") {
    val d = Files.createTempDirectory("scdcat_ivf").toString + "/vecs"
    (1 to 40).map(i => (i.toLong, Array(
        (if (i % 2 == 0) 1.0f else 0.0f) + i * 0.001f,
        (if (i % 2 == 0) 0.0f else 1.0f), 0.1f, 0.2f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(d)
    val out = Files.createTempDirectory("scdcat_ivfi").toString + "/ivf"
    val res = spark.sql(
      s"CALL graft.ivf_index('$d', 'vec_id', 'embedding', 2, 1, '$out')")
      .collect()
    assert(res.length == 1 && res(0).getString(0) == out &&
      res(0).getLong(1) == 40L, res.mkString(","))
    // the artifact serves the semantic scrub: a near-copy of vector 2
    // as the benchmark flags vector 2 (and itself via the roster side)
    val bench = Seq((100L, Array(1.002f, 0.0f, 0.1f, 0.2f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Dedup.decontaminateSemanticIndexed(
        bench, out, nProbe = 2, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(2L) == 1L && got(1L) == 0L && got.size == 40, got.toString)
    // ...and the persisted centroids drive ivfTopKWith directly
    val (cents, _) = graft.operators.Similarity.ivfIndexRead(spark, out)
    assert(cents.count() == 2L)
  }

  test("CALL graft.jaccard_index persists the one artifact all three near-dup join flavors serve") {
    val d = Files.createTempDirectory("scdcat_jac").toString + "/docs"
    val benchText = "the quick brown fox jumps over the lazy dog daily"
    Seq((1L, s"header junk $benchText plus trailing filler tokens"),
      (2L, "totally different content with no shared trigrams at all"),
      (3L, s"$benchText"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(d)
    val out = Files.createTempDirectory("scdcat_jaci").toString + "/j"
    val res = spark.sql(
      s"CALL graft.jaccard_index('$d', 'doc_id', 'text', 3, '$out')")
      .collect()
    assert(res.length == 1 && res(0).getString(0) == out &&
      res(0).getLong(1) == 3L, res.mkString(","))
    // the SAME artifact serves the directed containment join...
    val cont = graft.operators.Dedup.containmentJoinIndexed(spark, out,
      threshold = 0.9).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(cont.contains((1L, 3L)), cont.toString) // 3 contained in 1
    // ...and the fuzzy benchmark scrub
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val near = graft.operators.Dedup.decontaminateNearIndexed(bench,
      out, w = 3, threshold = 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(near(1L) == 1L && near(3L) == 1L && near(2L) == 0L,
      near.toString)
  }

  test("CALL graft.pii_audit persists the validated-PII report and returns the alertable count") {
    val d = Files.createTempDirectory("scdcat_pii").toString + "/docs"
    Seq(
      (1L, "pay 4111111111111111 today"),          // Luhn-valid
      (2L, "tracker 4111111111111112 only"),       // shaped noise
      (3L, "wire GB82WEST12345698765432 now"),     // mod-97-valid IBAN
      (4L, "host 999.1.1.1 responded"),            // octet overflow
      (5L, "mail bob@corp.io and 10.0.0.1"))       // email + valid IP
      .toDF("doc_id", "text").write.mode("overwrite").parquet(d)
    val out = Files.createTempDirectory("scdcat_piio").toString + "/rep"
    val res = spark.sql(
      s"CALL graft.pii_audit('$d', 'doc_id', 'text', '$out')")
      .collect()
    assert(res.length == 1 && res(0).getString(0) == out, res.mkString(","))
    assert(res(0).getLong(1) == 5L && res(0).getLong(2) == 3L,
      s"docs 1/3/5 carry validated PII: ${res.mkString(",")}")
    // the artifact is the full per-doc report
    val rep = spark.read.parquet(out)
      .select("doc_id", "n_cards_luhn", "n_ibans_valid", "n_ipv4_valid",
        "n_emails")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rep(1L) == ((1L, 0L, 0L, 0L)) && rep(2L) == ((0L, 0L, 0L, 0L))
      && rep(3L) == ((0L, 1L, 0L, 0L)) && rep(4L) == ((0L, 0L, 0L, 0L))
      && rep(5L) == ((0L, 0L, 1L, 1L)), rep.toString)
  }

  test("CALL graft.pack_shards materializes window texts and reports exact totals") {
    val d = Files.createTempDirectory("scdcat_pack").toString + "/docs"
    Seq((1L, "a", "t1 t2 t3 t4"), (2L, "a", "t5 t6 t7 t8"),
      (3L, "b", "u1 u2"))
      .toDF("doc_id", "shard", "text").write.mode("overwrite").parquet(d)
    val out = Files.createTempDirectory("scdcat_packo").toString + "/sh"
    val res = spark.sql(
      s"CALL graft.pack_shards('$d', 'shard', 'doc_id', 'text', 5, '$out')")
      .collect()
    // shard a: 8 tokens -> windows [0,5) + [5,8); shard b: one
    assert(res.length == 1 && res(0).getString(0) == out)
    assert(res(0).getLong(1) == 3L && res(0).getLong(2) == 10L,
      res.mkString(","))
    val win = spark.read.parquet(out)
      .select("shard", "chunk_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(win(("a", 0L)) == "t1 t2 t3 t4 t5")
    assert(win(("a", 1L)) == "t6 t7 t8")
    assert(win(("b", 0L)) == "u1 u2")
  }
}

/** Local filesystem that counts opens of `.updates` sidecars. */
class SidecarOpenCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName == ScdReader.SidecarName)
      SidecarOpenCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object SidecarOpenCountingFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger
}
