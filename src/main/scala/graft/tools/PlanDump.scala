package graft.tools

import graft.{GraftExtensions, GraftSession}

import java.nio.file.{Files, Paths}

/** Optimization-round receipt tool: write `.explain("formatted")` of
  * named board queries to files, so plan claims in OPTIMIZATION_r*.md
  * are checkable without running Spark.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * writes <outDir>/<query>_<suffix>.txt for each named query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = GraftSession.local(GraftSession.cpus)
      .withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
