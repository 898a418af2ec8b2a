package graft.tools

import graft.{GraftExtensions, GraftSession}

/** Re-mint AdversarialSweepSpec pins: writes the named corpus, runs
  * each board query against it, prints `name<TAB>resultHash` lines.
  * Run `graft.Verify` + `tools/oracle_check.py` on the same corpus
  * FIRST — a pin is only worth its DuckDB verification. Usage:
  * `runMain graft.tools.MintPins <which> <name,name,...>`. */
object MintPins {
  def main(args: Array[String]): Unit = {
    val Array(which, namesCsv) = args.take(2)
    val spark = GraftSession.local(8)
      .withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files
      .createTempDirectory(s"mint-$which").toString
    AdvCorpus.write(spark, dir, which)
    for (name <- namesCsv.split(",")) {
      val h = AdvCorpus.resultHash(
        graft.SparkEntry.queries(name)(spark, dir))
      println(s"PIN\t$name\t$h")
    }
    spark.stop()
  }
}
