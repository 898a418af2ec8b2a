package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Scale-adaptive scan fan-out for HEAVY per-row expression chains
  * (r17, optimization guide §2.2 "make partitioning scale-adaptive —
  * derive from input size — rather than a constant").
  *
  * Problem: a small corpus often arrives as a handful of parquet row
  * groups (the repo's fixtures are single-row-group files), so the
  * file source hands Spark fewer input splits than the session has
  * cores and the whole tokenize/shingle/md5/regex chain runs on ONE
  * core — profiled 1.8 s single-task stages under the dedup rows at
  * sf0.1 on local[32].
  *
  * [[out]] round-robins such a scan BEFORE the per-row work, under
  * gates that make it exactly the identity at production scale:
  *
  *   1. plan shape: only plain FILE scans (LogicalRelation /
  *      DataSourceV2ScanRelation, plus LocalRelation for tests) under
  *      narrow Project/Filter are considered — a frame with upstream
  *      exchanges is already partitioned by the engine, a
  *      localCheckpointed frame (LogicalRDD) carries the partitioning
  *      its producer chose, and probing either's partition count
  *      would force AQE stage materialization at plan-build time
  *      (leaf restriction per ADVICE r17);
  *   2. width from INPUT SIZE, not core count (r18 — VERDICT r17 #2/#6:
  *      the r17 form fanned every qualifying scan to
  *      `defaultParallelism`, which charged 32-way per-task overhead
  *      to sub-MB fixtures and made the whole jaccard family
  *      anti-scale: dedup_jaccard_pairs_1k ran 0.43× at 32 cores vs
  *      8). The target is ⌈planned input bytes / bytesPerTask⌉ capped
  *      at `defaultParallelism`: small frames get a width their work
  *      can fill (a 1 k-row fixture no longer pays a 32-way
  *      round-robin exchange plus 32 near-empty tasks in every
  *      downstream stage), large ones still saturate the session.
  *      [[Fan.BytesPerTask]] (64 KB of compressed/planned input)
  *      sets the work density —
  *      the chains below this operator expand each input byte into
  *      tens of hash/regex ops, which is why the per-task byte share
  *      is deliberately far below a scan split size;
  *   3. split count: the scan must present FEWER partitions than the
  *      target — at 100 TB every scan has orders of magnitude more
  *      row groups than cores, so the fan-out never injects a blanket
  *      shuffle of a large input (and the `df.rdd` partition-count
  *      probe is skipped entirely when the size rule already says 1).
  *
  * Applied ONLY at the entry of operators whose downstream is heavy
  * per-row compute (shingling, signature hashing, PII regex banks,
  * window hashing): measured at sf0.1/32 cores, fanning those rows out
  * took q_pii_audit 1.74 → 0.71 s and dedup_minhash_lsh 2.54 → 1.56 s,
  * while the SAME fan-out applied at the table reader regressed the
  * light text rows (text_tfidf 0.59 → 1.26, q_rrf_fusion 1.38 → 2.60:
  * near-empty partitions add per-task overhead to every downstream
  * stage of a short query) — which is why this lives in the heavy
  * operators, not in the scan helper. Only row DISTRIBUTION changes;
  * every operator here is partition-order-independent (exact-replay
  * discipline). */
private[graft] object Fan {
  /** Planned input bytes one fanned task owns. Measured at sf0.1/local[32]
    * (584 KB documents fixture → 10-way fan), same-host same-subset
    * A/B vs the r17 32-way form: the rows the 32-way overhead hurt
    * recovered — dedup_jaccard_pairs_1k 1.47 → 0.72 s, dedup_jaccard
    * _join 2.53 → 1.42 s, dedup_minhash_lsh 1.84 → 1.03 s — while the
    * fan-out's original beneficiary q_pii_audit held within spread
    * (0.67 → 0.72 s, spread 0.10). */
  val BytesPerTask: Long = 64L * 1024

  def out(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val narrowOverScan = plan.collect { p => p }
      .forall {
        case _: Project | _: Filter => true
        case _: LogicalRelation | _: DataSourceV2ScanRelation => true
        case _: LocalRelation => true
        case _ => false
      }
    if (!narrowOverScan) df
    else {
      val spark = df.sparkSession
      val byWork =
        (plan.stats.sizeInBytes + BytesPerTask - 1) / BigInt(BytesPerTask)
      val target = byWork
        .min(BigInt(spark.sparkContext.defaultParallelism)).toInt
      if (target > 1 && df.rdd.getNumPartitions < target)
        df.repartition(target)
      else df
    }
  }
}
