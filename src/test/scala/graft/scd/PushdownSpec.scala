package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ScdReplay, TestBridge}

import java.nio.file.Files

/** Regression lock on the core scale property: the replay is ONE plan
  * node ([[org.apache.spark.sql.graft.ScdReplay]]) that Catalyst still
  * sees through — outer filters on columns no statement SETs push below
  * it into the file scan, SETs nobody reads are dropped and their
  * columns pruned out of the scan, and the whole replay runs inside the
  * scan's whole-stage codegen. If the node ever becomes an optimization
  * barrier (a rule not registered, a filter kept above it, a column
  * read for nothing), these assertions fail. */
class PushdownSpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("scdpush").toString
    (1 to 100).map(i => (i.toLong, s"name$i", i * 10.0, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "name", "bal", "seg")
      .write.mode("overwrite").parquet(d)
    Files.writeString(java.nio.file.Paths.get(d, ScdReader.SidecarName),
      "UPDATE t SET bal = bal + 5 WHERE seg = 'A';\n")
    d
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("outer equality filter reaches PushedFilters of the parquet scan") {
    val plan = planOf(ScdReader.read(spark, dir).where(col("id") === 42))
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,42)]"),
      s"filter not pushed:\n$plan")
  }

  test("projection prunes pruned-update columns entirely from the scan") {
    // neither selected column depends on the UPDATE, so Catalyst
    // eliminates the whole CASE WHEN *and its column dependencies* —
    // the "column-pruned update application" the reference README
    // deferred as future work (README.md:235-237), free here
    val plan = planOf(ScdReader.read(spark, dir).select("id", "name"))
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"),
      s"unexpected read schema:\n$plan")
    // selecting the updated column pulls in exactly its dependencies
    val plan2 = planOf(ScdReader.read(spark, dir).select("id", "bal"))
    assert(plan2.contains("ReadSchema: struct<id:bigint,bal:double,seg:string>"),
      s"unexpected read schema:\n$plan2")
  }

  test("replay plan is narrow: no shuffle, whole-stage codegen") {
    val plan = planOf(ScdReader.read(spark, dir))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // "*(n)" prefixes mark whole-stage-codegen stages in toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("partition pruning reaches PartitionFilters through the SCD view") {
    val pdir = Files.createTempDirectory("scdpart").toString
    (1 to 100).map(i => (i.toLong, i * 10.0, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "bal", "seg")
      .write.mode("overwrite").partitionBy("seg").parquet(pdir)
    Files.writeString(java.nio.file.Paths.get(pdir, ScdReader.SidecarName),
      "UPDATE t SET bal = bal + 5 WHERE id > 50;\n")
    val plan = planOf(ScdReader.read(spark, pdir).where(col("seg") === "A"))
    assert(plan.contains("PartitionFilters: [isnotnull(seg"),
      s"partition filter not pruned:\n$plan")
    // only the A partition's rows survive, updates still applied
    val rows = ScdReader.read(spark, pdir).where(col("seg") === "A").collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getAs[Long]("id") % 2 == 0))
  }

  private def replayNodes(p: LogicalPlan) = p.collect { case r: ScdReplay => r }

  test("the optimized plan has one ScdReplay node, the same size at 10 and 1,000 statements") {
    def optimized(k: Int): LogicalPlan = {
      val d = Files.createTempDirectory("scdflat").toString
      (1 to 100).map(i => (i.toLong, i * 10.0, if (i % 2 == 0) "A" else "B"))
        .toDF("id", "bal", "seg").write.mode("overwrite").parquet(d)
      Files.writeString(java.nio.file.Paths.get(d, ScdReader.SidecarName),
        (1 to k).map(i =>
          if (i % 10 == 0) s"DELETE FROM t WHERE id = $i;"
          else s"UPDATE t SET bal = bal + $i WHERE seg = 'A';").mkString("\n"))
      ScdReader.read(spark, d).queryExecution.optimizedPlan
    }
    val small = optimized(10)
    val large = optimized(1000)
    assert(replayNodes(small).map(_.preds.size) == Seq(10), small.treeString)
    assert(replayNodes(large).map(_.preds.size) == Seq(1000))
    assert(small.collect { case p => p }.size == large.collect { case p => p }.size,
      s"plan grows with the log:\n${small.treeString}\nvs\n${large.treeString}")
  }

  test("a filter on a SET column stays above the replay and sees replayed values") {
    val df = ScdReader.read(spark, dir).where(col("bal") === 205.0)
    val opt = df.queryExecution.optimizedPlan
    val above = opt.collect {
      case f @ Filter(_, _: ScdReplay) => f
    }
    assert(above.size == 1 && above.head.references.exists(_.name == "bal"),
      opt.treeString)
    assert(!planOf(df).contains("EqualTo(bal"), planOf(df))
    // id 20 is in seg A: 200 + 5 after replay; without it no row matches
    assert(df.collect().map(_.getAs[Long]("id")).toSeq == Seq(20L))
  }

  test("ScdReader.read plans and runs in a session built without GraftExtensions") {
    val bare = TestBridge.sessionWithoutExtensions(spark)
    assert(!bare.experimental.extraStrategies.exists(_.getClass.getName.contains("ScdReplay")))
    val df = ScdReader.read(bare, dir).where(col("id") === 42)
    assert(replayNodes(df.queryExecution.optimizedPlan).size == 1)
    assert(planOf(df).contains("PushedFilters: [IsNotNull(id), EqualTo(id,42)]"),
      planOf(df))
    assert(df.collect().map(_.getAs[Double]("bal")).toSeq == Seq(425.0))
  }

  test("the replay keeps its input's partitioning unless a SET names the key") {
    val base = spark.range(200).select(col("id"), (col("id") % 7).as("k"),
      col("id").cast("double").as("bal")).repartition(4, col("k"))
    def exchanges(log: String): Int = {
      val df = ScdCompiler(base, UpdatesParser.parse(log, Long.MaxValue))
        .groupBy("k").agg(sum("bal"))
      spark.conf.set("spark.sql.adaptive.enabled", "false") // one plan, no stages
      try df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
    assert(exchanges("UPDATE t SET bal = bal + 1 WHERE id > 5;") == 1)
    assert(exchanges("UPDATE t SET k = k + 1 WHERE id > 5;") == 2)
  }
}
