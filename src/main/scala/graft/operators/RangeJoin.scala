package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Inequality (interval) joins without a cross product.
  *
  * A direct `p BETWEEN s AND e` join has no equi-key, so Spark plans a
  * broadcast-nested-loop or cartesian product — O(|points|·|intervals|)
  * work at scale, the classic range-join trap. The fix is the standard
  * bucketization: quantize the time axis into `bucketWidth` cells, let
  * each interval emit one row per covered cell (bounded fan-out when
  * intervals are short relative to the width), compute the single cell
  * of each point, and hash-equi-join on (keys…, cell). The inequality
  * then runs as a cheap post-filter on matched cells only. RangeJoinSpec
  * asserts the plan contains a hash join and no nested-loop/cartesian.
  *
  * ==Choosing `bucketWidth`==
  * `bucketWidth` is a DATA-DEPENDENT knob, not a constant: an interval
  * of length L emits ⌈L/width⌉+1 cell rows, so the exploded side
  * carries ≈ n·(mean_len/width + 1) rows, while a wider cell packs
  * more non-matching rows into each bucket for the post-filter to
  * discard. The sweet spot is near the TYPICAL (e.g. median) interval
  * length: fan-out stays O(1) per row and each cell's population stays
  * proportional to the true match density. Rules of thumb at scale:
  *   - width ≈ median interval length ⇒ ~2-3 rows per interval;
  *   - width far below the median (width ≪ len) ⇒ fan-out explosion —
  *     the shuffle carries len/width copies of every interval;
  *   - width far above it ⇒ bucket skew — one cell aggregates most of
  *     the data and the post-filter does the cross-product work the
  *     rewrite exists to avoid;
  *   - heavy-tailed lengths: pick width for the median, not the max —
  *     the few long intervals fan out, the mass stays O(1) (AQE's
  *     skew-join split absorbs the hot cells they create).
  * Derive it from a one-pass `percentile_approx(end - start, 0.5)`
  * over (a sample of) the interval side when the distribution is not
  * known a priori (see SCALE.md §interval-joins).
  */
object RangeJoin {

  /** Largest planned size (bytes) of [[intervalOverlap]]'s exploded
    * right side that still gets the shuffle-hash hint: 1 GiB. The
    * estimate is catalyst's (coarse through the explode), which is why
    * the cap sits well below what executors could actually hold. A
    * constant: no caller sets another cap. */
  private val BuildSideBytes: Long = 1L << 30

  /** Join each point row to every interval row containing it
    * (`start <= point <= end`, same `extraKeys`). Each qualifying pair
    * matches in exactly ONE cell (the point's), so no dedup step is
    * needed. Pick `bucketWidth` near the typical interval length: the
    * interval fan-out is ceil(len/width)+1 rows.
    *
    * Output: extraKeys ++ point columns ++ interval columns. */
  def pointInInterval(points: DataFrame, pointCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketWidth: Long, extraKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    // integral `div` — epoch-micro longs exceed double's 2^53 mantissa,
    // so float bucket math could mis-cell extreme timestamps
    def cell(name: String): Column = expr(s"`$name` div ${bucketWidth}L")
    val p = points.withColumn("__cell", cell(pointCol))
    val iv = intervals.withColumn("__cell",
      explode(sequence(cell(startCol), cell(endCol))))
    p.join(iv, Seq("__cell") ++ extraKeys)
      .where(col(pointCol) >= col(startCol) &&
        col(pointCol) <= col(endCol))
      .drop("__cell")
  }

  /** Interval-overlap join: every (left, right) pair whose intervals
    * intersect (`ls <= re && rs <= le`, same `extraKeys`). Both sides
    * explode to covered cells; a qualifying pair shares every cell of
    * the intersection, so the join keeps ONLY the intersection's FIRST
    * cell — `cell == max(cell(ls), cell(rs))`, true in exactly one
    * matched cell per pair — instead of a dedup shuffle afterwards.
    * Inverted intervals (end < start) are dropped up front (the same
    * contract as the optimizer rewrite's guard — `sequence` would
    * otherwise step BACKWARDS and fabricate cells).
    *
    * Output: extraKeys ++ left columns ++ right columns. */
  def intervalOverlap(left: DataFrame, leftStart: String, leftEnd: String,
      right: DataFrame, rightStart: String, rightEnd: String,
      bucketWidth: Long, extraKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    def cell(name: String): Column = expr(s"`$name` div ${bucketWidth}L")
    val l = left.where(col(leftEnd) >= col(leftStart))
      .withColumn("__cell", explode(sequence(cell(leftStart), cell(leftEnd))))
    val r = right.where(col(rightEnd) >= col(rightStart))
      .withColumn("__cell", explode(sequence(cell(rightStart), cell(rightEnd))))
    // shuffle-hash, not sort-merge (r17, guide §3.2): both sides are
    // interval-exploded streams — sort-merge external-sorts BOTH before
    // probing, where a hash build of one side streams the other
    // unsorted; the post-join filter and the per-key aggregation
    // downstream never need the sort order back.
    // SIZE-GATED (r18, ADVICE r17): a shuffled-hash build side does
    // not spill, so the hint only fires while the exploded right
    // side's PLANNED size stays under `BuildSideBytes`; past it —
    // wide intervals, degenerate fan-out — join selection falls back
    // to the planner, whose sort-merge spills gracefully.
    val rj =
      if (r.queryExecution.optimizedPlan.stats.sizeInBytes <= BuildSideBytes)
        r.hint("shuffle_hash")
      else r
    l.join(rj, Seq("__cell") ++ extraKeys)
      .where(col(leftStart) <= col(rightEnd) &&
        col(rightStart) <= col(leftEnd) &&
        col("__cell") === greatest(cell(leftStart), cell(rightStart)))
      .drop("__cell")
  }
}
