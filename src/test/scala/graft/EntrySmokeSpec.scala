package graft

/** Guards the driver's t1 smoke gate: `SparkEntry.entry` must run at
  * sf0.001 and return rows. */
class EntrySmokeSpec extends SparkSpec {
  test("entry() returns rows at sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every declared query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"unoracled queries: $missing")
    // no orphan oracle entries either
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("text_bpe_gpt2 evicts a dead application's merges.txt directory") {
    val root = new java.io.File("target/graft-index")
    val dead = new java.io.File(root, "gpt2merges-local-dead-app-_tmp")
    dead.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dead, "merges.txt").toPath, "#version: 0.2\n")
    // older than the 2 h grace a live sibling JVM's directory gets
    dead.setLastModified(System.currentTimeMillis() - 3L * 3600 * 1000)
    val sf = java.nio.file.Files.createTempDirectory("gpt2-evict").toString
    spark.createDataFrame(Seq((1L, "a tiny doc"))).toDF("doc_id", "text")
      .write.parquet(s"$sf/documents.parquet")
    SparkEntry.queries("text_bpe_gpt2")(spark, sf)
    assert(!dead.exists(), s"$dead survived eviction")
    val live = s"gpt2merges-${spark.sparkContext.applicationId}-"
    assert(root.list().exists(_.startsWith(live)),
      "the running application's merges.txt directory is missing")
  }
}
