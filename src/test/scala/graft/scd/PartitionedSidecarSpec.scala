package graft.scd

import graft.SparkSpec

import java.nio.file.{Files, Paths}

/** Per-partition `.updates` discovery (reference parity:
  * SQLUpdater.java:107-119 resolves the sidecar against EACH split's
  * directory, so a Hive-partitioned table carries an independent DML
  * log per partition dir). The compiled replay scopes every
  * partition-log statement to its own partition's rows and stays ONE
  * narrow scan — no per-partition union. */
class PartitionedSidecarSpec extends SparkSpec {

  import spark.implicits._

  /** seg=A: ids 1,2 (v 10,20); seg=B: ids 3,4 (v 30,-5). */
  private def writePartitioned(): String = {
    val dir = Files.createTempDirectory("scd_part").toString
    Seq((1L, 10L, "A"), (2L, 20L, "A"), (3L, 30L, "B"), (4L, -5L, "B"))
      .toDF("id", "v", "seg")
      .write.mode("overwrite").partitionBy("seg").parquet(dir)
    dir
  }

  test("a partition's log only touches that partition's rows") {
    val dir = writePartitioned()
    // unqualified UPDATE — scoped to seg=A by the partition guard
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      "UPDATE t SET v = v + 100;\n")
    // DELETE negatives — only seg=B's row 4 qualifies; a seg=A row
    // with the same predicate value would be untouched
    Files.writeString(Paths.get(dir, "seg=B", ".updates"),
      "DELETE FROM t WHERE v < 0;\n")
    val got = ScdReader.read(spark, dir)
      .select("id", "v", "seg").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 110L, "A"), (2L, 120L, "A"), (3L, 30L, "B")))
  }

  test("root log applies first, then partition logs; time gates hold") {
    val dir = writePartitioned()
    Files.writeString(Paths.get(dir, ".updates"),
      "UPDATE t SET v = v * 2;\n")
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      // sees the root-doubled value (root log applies first)
      """UPDATE t SET v = v + 1 WHERE v = 20;
        |-- time=2525-01-01
        |DELETE FROM t WHERE id = 1;
        |""".stripMargin)
    val got = ScdReader.read(spark, dir)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 10*2=20 → +1=21; 20*2=40 (no match); B rows only doubled; the
    // future-dated DELETE is gated out at scd.time = now
    assert(got.toSeq == Seq((1L, 21L), (2L, 40L), (3L, 60L), (4L, -10L)))
  }

  test("cross-log statements merge in global effective-time order") {
    val dir = writePartitioned()
    // partition statement dated BEFORE the root statement: the correct
    // timeline is (+1 at 2020) then (*2 at 2025) = 2v+2 — log-order
    // replay would compute 2v+1
    Files.writeString(Paths.get(dir, ".updates"),
      "-- time=2025-01-01\nUPDATE t SET v = v * 2;\n")
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      "-- time=2020-01-01\nUPDATE t SET v = v + 1;\n")
    val got = ScdReader.read(spark, dir)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 22L), (2L, 42L), (3L, 60L), (4L, -10L)))
    // and history's 2025 snapshot derives from the 2020 snapshot
    val h25 = ScdReader.history(spark, dir)
      .where($"valid_to_ms".isNull)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(h25.toSeq == got.toSeq)
  }

  test("discovery lists root and partition sidecars with their specs") {
    val dir = writePartitioned()
    Files.writeString(Paths.get(dir, ".updates"), "DELETE FROM t WHERE id = 0;\n")
    Files.writeString(Paths.get(dir, "seg=B", ".updates"),
      "DELETE FROM t WHERE id = 9;\n")
    val found = ScdReader.readAllSidecars(spark, dir).map(_._1)
    assert(found == Seq(Seq.empty, Seq("seg" -> "B")))
  }

  test("partitioned replay stays one scan and prunes partitions") {
    val dir = writePartitioned()
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      "UPDATE t SET v = v + 100;\n")
    val plan = ScdReader.read(spark, dir)
      .where($"seg" === "B")
      .queryExecution.executedPlan.toString
    // one file scan, partition-pruned to seg=B
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("PartitionFilters:") &&
      plan.contains("isnotnull(seg"), plan)
  }

  test("history is partition-aware: per-partition statements gate by time and partition") {
    val dir = writePartitioned()
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      "-- time=2020-01-01\nUPDATE t SET v = v + 100;\n")
    Files.writeString(Paths.get(dir, "seg=B", ".updates"),
      "-- time=2021-01-01\nDELETE FROM t WHERE v < 0;\n")
    val hist = ScdReader.history(spark, dir)
    val h = hist
      .select("id", "v", "valid_from_ms").orderBy("valid_from_ms", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val times = h.map(_._3).distinct
    assert(times.length == 3) // epoch, 2020 update, 2021 delete
    // every snapshot from one replay over one scan
    val plan = hist.queryExecution.executedPlan
    assert(plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .size == 1, plan)
    assert(plan.collect { case r: org.apache.spark.sql.graft.ScdReplayExec => r }.size == 1, plan)
    // epoch snapshot: pristine; 2020: A rows bumped; 2021: B's negative gone
    val at = h.groupBy(_._3).view.mapValues(_.map(x => (x._1, x._2)).toSet)
    assert(at(times(0)) == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, -5L)))
    assert(at(times(1)) == Set((1L, 110L), (2L, 120L), (3L, 30L), (4L, -5L)))
    assert(at(times(2)) == Set((1L, 110L), (2L, 120L), (3L, 30L)))
  }

  test("a partition log's DELETE never leaks into the NULL partition") {
    val dir = Files.createTempDirectory("scd_nullpart").toString
    Seq((1L, -5L, Some("A")), (2L, -7L, Option.empty[String]))
      .toDF("id", "v", "seg")
      .write.mode("overwrite").partitionBy("seg").parquet(dir)
    // seg=A's DELETE matches row 2's predicate too — but row 2 lives in
    // the __HIVE_DEFAULT_PARTITION__ (NULL) partition, where the guard
    // evaluates NULL; three-valued logic must keep the row
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      "DELETE FROM t WHERE v < 0;\n")
    val got = ScdReader.read(spark, dir)
      .select("id").orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L), s"null-partition row must survive: ${got.toSeq}")
  }

  test("non-monotone times WITHIN one log keep file order (reference fold)") {
    val dir = writePartitioned()
    // the reference replays a log in FILE order — time only gates
    // (SQLUpdater.java:130). A later-then-earlier directive pair must
    // not be re-sorted by the partitioned merge path: file order gives
    // (v*2)+1; a raw-time sort would compute (v+1)*2
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      """-- time=3000
        |UPDATE t SET v = v * 2;
        |-- time=1000
        |UPDATE t SET v = v + 1;
        |""".stripMargin)
    val got = ScdReader.read(spark, dir)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 21L), (2L, 41L), (3L, 30L), (4L, -5L)))
  }

  /** Pure-Scala model of the documented merge: per-log running-max
    * sort key (preserves file order within a log), stable sort across
    * logs (root-first tie-break). Statements restricted to the
    * generator grammar below. */
  private def simulate(
      logs: Seq[(Option[String], Seq[(Long, String)])],
      rows: Map[Long, (Long, String)]): Map[Long, (Long, String)] = {
    val keyed = logs.flatMap { case (seg, stmts) =>
      var runMax = Long.MinValue
      stmts.map { case (t, sql) =>
        runMax = math.max(runMax, t)
        (runMax, (seg, sql))
      }
    }.sortBy(_._1).map(_._2)
    keyed.foldLeft(rows) { case (rs, (seg, sql)) =>
      val inScope = (r: (Long, (Long, String))) =>
        seg.forall(_ == r._2._2)
      sql match {
        case s"UPDATE t SET v = v + $c WHERE id = $k" =>
          rs.map { r =>
            if (inScope(r) && r._1 == k.toLong)
              r._1 -> (r._2._1 + c.toLong, r._2._2)
            else r
          }
        case "UPDATE t SET v = v * 2" =>
          rs.map(r => if (inScope(r)) r._1 -> (r._2._1 * 2, r._2._2) else r)
        case s"DELETE FROM t WHERE id = $k" =>
          rs.filterNot(r => inScope(r) && r._1 == k.toLong)
        case other => sys.error(s"unsimulated: $other")
      }
    }
  }

  test("property: random logs replay in global-time order; disjoint logs commute") {
    val initial = Map(1L -> (10L, "A"), 2L -> (20L, "A"),
      3L -> (30L, "B"), 4L -> (-5L, "B"))
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      def genLog(): Seq[(Long, String)] =
        (0 until rnd.nextInt(4)).map { _ =>
          val t = Seq(1000L, 2000L, 3000L)(rnd.nextInt(3))
          val sql = rnd.nextInt(3) match {
            case 0 => s"UPDATE t SET v = v + ${rnd.nextInt(5) + 1} " +
              s"WHERE id = ${rnd.nextInt(4) + 1}"
            case 1 => "UPDATE t SET v = v * 2"
            case 2 => s"DELETE FROM t WHERE id = ${rnd.nextInt(4) + 1}"
          }
          (t, sql)
        }
      val withRoot = rnd.nextBoolean()
      val logA = genLog(); val logB = genLog()
      val logRoot = if (withRoot) genLog() else Seq.empty
      val dir = writePartitioned()
      def render(stmts: Seq[(Long, String)]): String =
        stmts.map { case (t, sql) => s"-- time=$t\n$sql;" }.mkString("\n") + "\n"
      if (logRoot.nonEmpty)
        Files.writeString(Paths.get(dir, ".updates"), render(logRoot))
      if (logA.nonEmpty)
        Files.writeString(Paths.get(dir, "seg=A", ".updates"), render(logA))
      if (logB.nonEmpty)
        Files.writeString(Paths.get(dir, "seg=B", ".updates"), render(logB))
      // readAllSidecars order: root first, then partitions sorted
      val logs = Seq((Option.empty[String], logRoot),
        (Some("A"), logA), (Some("B"), logB)).filter(_._2.nonEmpty)
      val expect = simulate(logs, initial)
      val got = ScdReader.read(spark, dir)
        .select("id", "v", "seg").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(got == expect, s"[seed=$seed root=$logRoot A=$logA B=$logB]")
      // disjoint partition-only logs commute: the merged replay must
      // equal folding each partition's log independently, regardless
      // of how the merge interleaved them
      if (logRoot.isEmpty) {
        val perPart = simulate(Seq((Some("A"), logA)),
          simulate(Seq((Some("B"), logB)), initial))
        assert(got == perPart, s"[seed=$seed disjoint A=$logA B=$logB]")
      }
    }
  }

  test("read and history agree at every asOf on non-monotone multi-log tables") {
    val dir = writePartitioned()
    Files.writeString(Paths.get(dir, ".updates"),
      "-- time=2000\nUPDATE t SET v = v * 2;\n")
    // partition log: a LATER-dated no-op first, then an earlier-dated
    // bump — its running-max key (3000) must come from the FULL log,
    // not the per-asOf retained subset, or read(asOf=2000) would order
    // [v+1, v*2] while history's t=2000 snapshot orders [v*2, v+1]
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      """-- time=3000
        |DELETE FROM t WHERE id = 99;
        |-- time=1000
        |UPDATE t SET v = v + 1;
        |""".stripMargin)
    val atRead = ScdReader.read(spark, dir, asOf = Some("2000"))
      .where($"id" === 1L).select("v").head().getLong(0)
    val atHist = ScdReader.history(spark, dir)
      .where($"valid_from_ms" === 2000L && $"id" === 1L)
      .select("v").head().getLong(0)
    assert(atRead == atHist, s"read=$atRead history=$atHist")
    assert(atRead == 21L) // (10*2)+1: root@2000 first, then v+1 (key 3000)
  }

  test("truncateLog clears consumed statements in root AND partition logs") {
    val dir = writePartitioned()
    Files.writeString(Paths.get(dir, ".updates"),
      "-- time=2020-01-01\nUPDATE t SET v = v * 2;\n")
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      """-- time=2020-06-01
        |UPDATE t SET v = v + 1;
        |-- time=2525-01-01
        |DELETE FROM t WHERE id = 1;
        |""".stripMargin)
    ScdReader.truncateLog(spark, dir, asOf = Some("2021-01-01"))
    // root log fully consumed → deleted; partition log keeps only 2525
    assert(ScdReader.readSidecar(spark, dir).isEmpty)
    val kept = ScdReader.readSidecar(spark, s"$dir/seg=A").get
    assert(kept.contains("DELETE") && !kept.contains("v + 1"), kept)
    val got = ScdReader.read(spark, dir)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, -5L)))
  }

  test("truncateLog refusal on ANY log leaves EVERY log untouched") {
    val dir = writePartitioned()
    // root log is cleanly consumable; seg=A's is a non-prefix cut —
    // validation must run over all logs BEFORE any rewrite, or the
    // root log would already be truncated when the refusal fires
    Files.writeString(Paths.get(dir, ".updates"),
      "-- time=2020-01-01\nUPDATE t SET v = v * 2;\n")
    Files.writeString(Paths.get(dir, "seg=A", ".updates"),
      """-- time=2525-01-01
        |UPDATE t SET v = v + 1;
        |-- time=2020-06-01
        |UPDATE t SET v = v + 100;
        |""".stripMargin)
    val e = intercept[IllegalStateException] {
      ScdReader.truncateLog(spark, dir, asOf = Some("2021-01-01"))
    }
    assert(e.getMessage.contains("non-monotone"), e.getMessage)
    assert(ScdReader.readSidecar(spark, dir).get.contains("v * 2"))
    assert(ScdReader.readSidecar(spark, s"$dir/seg=A").get
      .contains("v + 100"))
  }

  test("escaped partition values round-trip through discovery") {
    val dir = writePartitioned()
    // Hive-escape a space as %20 in the directory name
    val sub = Paths.get(dir, "seg=has%20space")
    Files.createDirectories(sub)
    Files.writeString(sub.resolve(".updates"), "DELETE FROM t WHERE id = 0;\n")
    val specs = ScdReader.readAllSidecars(spark, dir).map(_._1)
    assert(specs.contains(Seq("seg" -> "has space")))
  }
}
