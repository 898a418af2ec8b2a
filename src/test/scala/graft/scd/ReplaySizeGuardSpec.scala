package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The large-log replay guard. The replay is one plan node whose plan
  * cost is linear in the log (SCALE.md "the replay as one plan node"),
  * so the cap sits where that linear cost has become a cliff in its
  * own right — see `ScdCompiler.MaxReplayStatementsDefault`. The guard
  * turns it into a loud, actionable error naming the reference's own
  * remedy (compact + truncate), overridable by conf for users who
  * accept the cost knowingly. */
class ReplaySizeGuardSpec extends SparkSpec {

  private def logOf(k: Int): String =
    (1 to k).map(i =>
      s"UPDATE t SET v = v + 1 WHERE id = $i;").mkString("\n")

  private def dirWith(k: Int): String = {
    val dir = Files.createTempDirectory("replayguard").toString
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    Files.write(java.nio.file.Paths.get(dir, ".updates"),
      logOf(k).getBytes("UTF-8"))
    dir
  }

  /** Hive-partitioned dir: a root log of `rootK` statements plus a
    * `seg=a` partition log of `partK`, merged into one replay. */
  private def partitionedDirWith(rootK: Int, partK: Int): String = {
    val dir = Files.createTempDirectory("replayguardpart").toString
    import spark.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "seg")
      .write.mode("overwrite").partitionBy("seg").parquet(dir)
    Files.write(java.nio.file.Paths.get(dir, ".updates"),
      logOf(rootK).getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "seg=a", ".updates"),
      logOf(partK).getBytes("UTF-8"))
    dir
  }

  test("replay at the default cap succeeds; one past it fails loud with the compaction hint") {
    val max = ScdCompiler.MaxReplayStatementsDefault
    assert(max == 10000) // the SCALE.md-measured threshold, pinned
    import spark.implicits._
    val base = Seq((1L, 10L)).toDF("id", "v")
    val at = UpdatesParser.parse(logOf(max), Long.MaxValue)
    assert(ScdCompiler(base, at).count() == 1) // builds, no guard trip
    // a count() can prune the SET column; a write evaluates every SET
    // of the same column (where the chained plan's codegen overflowed)
    ScdCompiler(base, at).write.format("noop").mode("overwrite").save()
    val over = UpdatesParser.parse(logOf(max + 1), Long.MaxValue)
    val e = intercept[IllegalStateException] {
      ScdCompiler(base, over)
    }
    assert(e.getMessage.contains("compact") &&
      e.getMessage.contains(ScdCompiler.MaxReplayStatementsConf),
      e.getMessage)
  }

  test("conf override raises the cap; guard covers the reader path end-to-end") {
    val dir = dirWith(150)
    val part = partitionedDirWith(100, 50) // 150 once merged
    // lowering the conf trips the guard on a log the default accepts —
    // on every reader path, with the same loud error
    spark.conf.set(ScdCompiler.MaxReplayStatementsConf, "100")
    try {
      Seq[(String, () => Any)](
        "read" -> (() => ScdReader.read(spark, dir)),
        "partitioned read" -> (() => ScdReader.read(spark, part)),
        "history" -> (() => ScdReader.history(spark, dir)),
        "partitioned history" -> (() => ScdReader.history(spark, part))
      ).foreach { case (path, run) =>
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains("SCD replay of 150 statements " +
          s"exceeds ${ScdCompiler.MaxReplayStatementsConf}=100") &&
          e.getMessage.contains("compact"), s"$path: ${e.getMessage}")
      }
    } finally spark.conf.unset(ScdCompiler.MaxReplayStatementsConf)
    // and the default cap replays the same dirs fine
    val out = ScdReader.read(spark, dir)
    assert(out.where(col("id") === 1L).head.getLong(1) == 11L)
    val outPart = ScdReader.read(spark, part)
    assert(outPart.where(col("id") === 1L).head.getLong(1) == 12L)
  }

  test("compact(clearLog) is the prescribed escape: the compacted dir replays with an empty log") {
    val dir = dirWith(200) // under cap: compaction itself must replay
    val out = Files.createTempDirectory("replayguardout").toString
    ScdReader.compact(spark, dir, out, clearLog = true)
    // the compacted copy carries the applied state and no sidecar debt
    val compacted = ScdReader.read(spark, out)
    assert(compacted.where(col("id") === 1L).head.getLong(1) == 11L)
    // the source's log was truncated: replay is now guard-free
    assert(ScdReader.read(spark, dir).count() == 2)
  }
}
