package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-factor amplifier for headroom benchmarking: replicate a
  * driver-generated sf directory `factor`× with shifted keys, so the
  * bench can measure one decade of scaling (e.g. sf0.1 → sf1) and
  * SCALE.md can report measured exponents instead of plan-shape
  * arguments.
  *
  * Replication preserves per-key DENSITY, which is what makes the
  * timing comparable: every replica gets its own key space (ids
  * shifted by k·10⁸), so per-customer order counts, per-user event
  * rates, and per-doc duplicate-cluster sizes all stay constant while
  * row counts grow `factor`×. Document texts in replicas k > 0 get a
  * per-replica token suffix — WITHOUT it every doc would gain
  * `factor − 1` exact copies and near-dup pair counts would grow
  * quadratically in `factor`, measuring a data-density change rather
  * than the engine's scaling. Dimension leaf tables (region, nation)
  * stay single-copy; nationkey/regionkey references are left intact.
  *
  * Usage: ScaleGen <srcSfDir> <outDir> <factor> [zipf[:V]]
  * (bench-only data — the DuckDB oracle gate stays on the
  * driver-generated dirs).
  *
  * `zipf[:V]` (r13 judge ask: MEASURE the "real crawls are Zipfian"
  * counter-claim instead of arguing it) rewrites every document text
  * with tokens drawn from ONE GLOBAL Zipf(s≈1) vocabulary of V
  * (default 50 000) words shared across all replicas — the crawl-like
  * regime: a handful of stopword-dense head tokens carry huge df, the
  * long tail is rare, and df keeps growing with corpus size because
  * the vocabulary is NOT partitioned per replica (no `_r$k` suffix in
  * this mode). Token COUNT per doc is preserved (the original doc's),
  * so length statistics are comparable with the base fixture; the
  * draw is the deterministic inverse-CDF trick rank =
  * ⌊(V+1)^u⌋ with u = md5-fraction(doc_id, position) — P(rank = r) ≈
  * ln((r+1)/r)/ln(V+1) ∝ 1/r, replayable in any engine. */
object ScaleGen {
  private val KeyOffset = 100000000L

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1: $factor")
    val zipfArg = args.lift(3).filter(_.startsWith("zipf"))
    val zipfV: Int = zipfArg.map { a =>
      if (a.contains(":")) a.split(":")(1).toInt else 50000
    }.getOrElse(0)
    require(zipfArg.isEmpty || zipfV >= 2,
      s"zipf vocab must be >= 2: $zipfV")
    val spark = GraftSession.local(GraftSession.cpus)
      // events.parquet carries TIMESTAMP(NANOS): pass it through as
      // raw nanos (BIGINT) — SparkEntry.events handles both encodings
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame =
      spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    /** `factor` stacked copies; each key column shifted by k·10⁸ in
      * copy k so replicas never collide or cross-join. */
    def replicate(df: DataFrame, keyCols: Seq[String],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        keyCols.foldLeft(perCopy(df, k)) { (d, c) =>
          d.withColumn(c, col(c) + lit(k * KeyOffset))
        }
      }.reduce(_ unionByName _)

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")),
      "orders")
    write(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), Seq("event_id", "user_id")), "events")
    // replica k > 0 vectors are circularly shifted by k coordinates: a
    // coordinate permutation is orthogonal, so every WITHIN-replica dot
    // product (and hence the duplicate-cluster structure) is preserved
    // bit-for-bit, while cross-replica cosines drop to the ~N(0, 1/√dim)
    // noise floor — without this every vector would gain factor−1 exact
    // twins and embedding near-dup pair counts would grow quadratically
    // in `factor` (the same density artifact the _r$k text suffix
    // prevents for documents)
    write(replicate(read("embeddings"), Seq("vec_id"),
      perCopy = (d, k) =>
        if (k == 0) d
        else d.withColumn("embedding", {
          val v = col("embedding")
          // shift mod the ACTUAL dim so any vector width is safe; a
          // zero shift (k multiple of dim) still decorrelates nothing,
          // but k < factor << dim in every real amplification
          val s = pmod(lit(k), size(v))
          when(v.isNull, v).otherwise(
            concat(slice(v, s + 1, size(v) - s), slice(v, lit(1), s)))
        })), "embeddings")
    if (zipfArg.isDefined) {
      // Zipf mode: one GLOBAL vocabulary across replicas — df grows
      // with corpus size (the crawl regime), so the per-replica
      // suffix is deliberately absent; replica texts still differ
      // because the draw is keyed by the SHIFTED doc_id
      val lnV1 = math.log(zipfV + 1.0)
      def zipfTok(docId: Column, pos: Column): Column = {
        // u ∈ [0,1) from 15 md5 hex digits (60 bits — exact in double)
        val u = conv(substring(
            md5(concat_ws("|", lit("zipf"), docId, pos)), 1, 15),
            16, 10).cast("double") / lit(math.pow(16.0, 15))
        val rank = least(lit(zipfV.toLong), greatest(lit(1L),
          floor(exp(u * lit(lnV1))).cast("long")))
        concat(lit("w"), rank.cast("string"))
      }
      write(replicate(read("documents"), Seq("doc_id"))
        .withColumn("text",
          when(col("text").isNull || length(col("text")) === 0,
            col("text"))
            .otherwise(array_join(
              transform(
                sequence(lit(1), size(split(col("text"), " "))),
                i => zipfTok(col("doc_id"), i)), " "))),
        "documents")
    } else
      // per-replica token suffix keeps cross-replica similarity at ~0:
      // duplicate-cluster structure is preserved WITHIN each replica,
      // so pair counts scale linearly with factor
      write(replicate(read("documents"), Seq("doc_id"),
        perCopy = (d, k) =>
          if (k == 0) d
          else d.withColumn("text",
            // empty (non-null) texts replicate unchanged — split("", " ")
            // yields [""] and the suffix would turn an empty doc into a
            // one-token doc, skewing per-replica token statistics
            when(col("text").isNull || length(col("text")) === 0, col("text"))
              .otherwise(array_join(
                transform(split(col("text"), " "),
                  t => concat(t, lit(s"_r$k"))), " ")))), "documents")
    spark.stop()
  }
}
