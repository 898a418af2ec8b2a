package graft

import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line, and also writes it to
  * `target/bench.json` so the driver's parse cannot miss it.
  *
  * A failing query is NOT swallowed (round-1 lesson): its error is
  * printed to stderr, it is listed under "failed", and the process
  * exits non-zero — a broken query must never bench as ~0 s.
  */
object Bench {

  /** The board's timed action: every row and every column of `df`
    * written to the `noop` sink, so the time covers all of the row's
    * declared work. `count()` would let Catalyst prune every output
    * expression the count does not need, down to a column-less scan.
    * PlanAuditSpec checks that this action reads every scan column the
    * row's full plan reads. */
  def action(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
      .withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = Seq.newBuilder[String]
    // run-condition stamp (VERDICT r7 "What's missing #4"): ambient vs
    // quiet host is machine-readable in the artifact itself, so a +-15%
    // board move can be attributed without re-litigating noise
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadAvg()
    // per-query min-of-N spread (max-min over the timed samples): the
    // second half of the stamp — a wide spread marks the queries whose
    // recorded min met a stall window
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // timed samples per query: 3, or 5 after a stall (below)
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // steady-state measurement: one untimed warm-up execution per query
    // (JIT + file-cache), then the timed run — the number that scales
    // to a long-lived cluster. Disable with SPARK_GRAFT_WARMUP=0.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    // local iteration only (the driver sets neither): run a subset —
    // comma-separated names, or a name prefix like "dedup_"
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(o => o.contains(name) || o.exists(name.startsWith)) }
      .map { case (name, fn) =>
      try {
        if (warmup) action(fn(spark, sfDir))
        // min of 2 timed runs: a single sample is exposed to transient
        // host stalls (an r5 full run recorded 133 s for a query that
        // reproducibly takes 2.5 s — the stall lands on whichever query
        // is running); the min is the steady-state number that scales
        def timeOnce(): Double = {
          val t0 = System.nanoTime()
          action(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        // min of 3 timed runs (was 2): r7 back-to-back full-board runs
        // showed ±50% per-query swings from host noise alone with two
        // samples; a third tightens the min at ~+1/3 bench wall cost
        val base = Seq(timeOnce(), timeOnce(), timeOnce())
        // stall signature: the samples disagree wildly (an r5 stall
        // window covered BOTH runs of one query — 11.9 s for a
        // reproducibly-1.4 s aggregate). Two extra samples land after
        // most stall windows; the min stays the steady-state number.
        val times =
          if (base.max / math.max(base.min, 1e-9) > 2.0 && base.max - base.min > 1.0)
            base ++ Seq(timeOnce(), timeOnce())
          else base
        // quiesce between queries so no query pays for its
        // predecessors: (1) BLOCKING-drop persisted/checkpointed blocks
        // left in the block manager (iterative-loop localCheckpoints —
        // the r6 bench showed later queries regressing under
        // accumulated residency; async removal would race the next
        // query's tasks); (2) an explicit GC so dead plan/codegen/block
        // debt is collected between queries, not during one. The
        // disk-backed index artifacts (sim_pq_indexed,
        // dedup_incremental_indexed) survive both — they are parquet,
        // not blocks. Cost lands outside every timed section.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(true))
        System.gc()
        spreads(name) = times.max - times.min
        samples(name) = times.size
        name -> times.min
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
          name -> 0.0
      }
    }
    def f3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"$k\":${f3(v)}" }
      .mkString("{", ",", "}")
    val fails = failed.result()
    val failJson = fails.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val spreadJson = spreads.map { case (k, v) => s"\"$k\":${f3(v)}" }
      .mkString("{", ",", "}")
    // how many queries took each sample count, e.g. {"3":264,"5":2}
    val sampleJson = samples.values.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (n, g) => s"\"$n\":${g.size}" }.mkString("{", ",", "}")
    val conditions =
      s"""{"load_avg_1m_start":${f3(loadStart)},"load_avg_1m_end":${f3(loadAvg())},"cpus":$cpus,"action":"noop","samples_per_query":$sampleJson,"stat":"min"}"""
    val fullJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","run_conditions":$conditions,"failed":$failJson,"queries":$qs,"query_spreads":$spreadJson}"""
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), fullJson)
    // ALSO at the repo root, where end-of-round commits pick it up:
    // BENCH_rN.json (the driver's bounded stdout-tail capture) holds
    // only the 10 slowest queries — this file is the judge's complete
    // per-query map (VERDICT r6 "Bench tail completeness")
    if (only.isEmpty) Files.writeString(Paths.get("BENCH_FULL.json"), fullJson)
    spark.stop()
    // stdout layout for the driver's BOUNDED tail capture (r04: the
    // ~2 KB full line front-truncated and parsed as null): the full
    // per-query JSON prints first (greppable, may truncate), then a
    // marker to the on-disk copy, and LAST a short self-contained JSON
    // line — totals + failures + the 10 slowest queries — that always
    // fits whole inside the tail window
    println(fullJson)
    println("BENCH_JSON=target/bench.json")
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"$k\":${f3(v)}" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","run_conditions":$conditions,"failed":$failJson,"n_queries":${results.size},"queries_truncated":${results.size > 10},"queries":$top10}""")
    Console.out.flush()
    if (fails.nonEmpty) sys.exit(1)
  }
}
