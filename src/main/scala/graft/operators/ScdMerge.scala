package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD merge/upsert patterns — the Spark-SQL operations the reference's
  * Type-7 design maps onto for forward maintenance (BASELINE.json
  * north_star: "SCD ETL patterns map directly to Spark SQL
  * merge/upsert operations").
  *
  *   - `upsert` (SCD Type 1): staging overwrites matching keys,
  *     unmatched dim rows pass through. One shuffle (the anti-join on
  *     the key) + a union; with both sides bucketed by the key the
  *     join is co-located and shuffle-free.
  *   - `scd2FromChangeLog` (SCD Type 2): reconstruct versioned history
  *     from a change stream with `lead()` over (key, time) — one
  *     shuffle on the key; each version's validity is
  *     [ts, next_ts), open-ended for the current row.
  *   - `snapshotAsOf`: the SCD2 complement of the reference's
  *     `scd.time` — select the version effective at a timestamp.
  */
object ScdMerge {

  /** Type-1 merge: rows of `staging` replace dim rows with the same
    * key; new keys are inserted. Column sets must match. */
  def upsert(dim: DataFrame, staging: DataFrame, key: String): DataFrame =
    dim.join(staging.select(key), Seq(key), "left_anti")
      .unionByName(staging.select(dim.columns.toIndexedSeq.map(col): _*))

  /** Build SCD2 version intervals from a change log.
    *
    * @param changes  one row per (key, changeTime, attributes)
    * @param tieBreak column making (key, time) total
    * @return input columns + valid_from_us, valid_to_us (NULL = open /
    *         current), is_current
    */
  def scd2FromChangeLog(changes: DataFrame, key: String, tsCol: String,
      tieBreak: String): DataFrame = {
    // accept either a timestamp column or a pre-computed epoch-micros
    // long (callers normalize to micros when the source has finer
    // precision than Spark's TimestampType, e.g. parquet ns)
    val ts = changes.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => col(tsCol)
      case _ => unix_micros(col(tsCol))
    }
    // an UNDATED change cannot be versioned: with a NULL effective
    // time the row's interval position is engine-null-ordering
    // dependent and `is_current` (valid_to IS NULL) becomes ambiguous
    // — dropped explicitly (r16 adversarial events sweep)
    val w = Window.partitionBy(col(key)).orderBy(ts, col(tieBreak))
    changes.where(ts.isNotNull)
      .withColumn("valid_from_us", ts)
      .withColumn("valid_to_us", lead(ts, 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Rows of an SCD2 table effective at `asOfUs` (micros):
    * valid_from <= t < valid_to. */
  def snapshotAsOf(scd2: DataFrame, asOfUs: Long): DataFrame =
    scd2.where(col("valid_from_us") <= asOfUs &&
      (col("valid_to_us").isNull || col("valid_to_us") > asOfUs))

  /** CDC extract: what changed between two snapshots of the same table
    * (e.g. the SCD view at two `scd.time`s — "which dim rows did last
    * night's log touch"). Emits one row per key whose state differs:
    *
    *   - `I` — key only in `after` (post-image columns)
    *   - `U` — key in both, any column differs (post-image columns)
    *   - `D` — key only in `before` (pre-image columns)
    *
    * Unchanged keys are dropped. Comparison is null-safe per column
    * (a NULL→value or value→NULL transition is a `U`).
    *
    * `U` requires an UNAMBIGUOUS row identity (r16 cust sweep): keys
    * appearing on more than one row of either snapshot — and NULL
    * keys, which SQL joins never match — have none, and the naive
    * full-outer join CROSS-PAIRS them (an unchanged duplicate key
    * fabricated two U rows whose "post-images" were each other's
    * siblings). Such rows degrade to MULTISET semantics instead:
    * full-row `D` for before-rows missing from after, full-row `I`
    * for after-rows missing from before, and identical multisets —
    * including an unchanged NULL-key row — emit nothing.
    *
    * Scale: ONE pass over each snapshot. The two sides are tagged and
    * unioned, one map-side-combinable `groupBy` counts every distinct
    * full row per side (nb, na), and one window over the key sums those
    * counts per key. A row of an unambiguous key emits I, D or U (a
    * before-only version plus an after-only version is one U carrying
    * the after row); every other row emits |nb − na| copies of D or I,
    * the `exceptAll` multiset rule. Grouping on the full row makes the
    * comparison null-safe, like `<=>`. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      key: String): DataFrame = {
    require(after.columns.toSet == before.columns.toSet,
      s"snapshotDiff: column sets differ " +
        s"(${before.columns.mkString(",")} vs ${after.columns.mkString(",")})")
    val outCols = (key +: before.columns.filterNot(_ == key).toIndexedSeq).map(col)
    def tagged(df: DataFrame, b: Long): DataFrame =
      df.select(outCols :+ lit(b).as("__b") :+ lit(1L - b).as("__a"): _*)
    val (nb, na) = (col("__nb"), col("__na"))
    val byKey = Window.partitionBy(col(key))
    val uniq = col(key).isNotNull && col("__kb") <= 1 && col("__ka") <= 1
    tagged(before, 1L).unionByName(tagged(after, 0L))
      .groupBy(outCols: _*)
      .agg(sum(col("__b")).as("__nb"), sum(col("__a")).as("__na"))
      .withColumn("__kb", sum(nb).over(byKey))
      .withColumn("__ka", sum(na).over(byKey))
      .withColumn("change_type",
        when(na > nb, when(uniq && col("__kb") === 1, lit("U")).otherwise(lit("I")))
          .when(nb > na && !(uniq && col("__ka") === 1), lit("D")))
      .where(col("change_type").isNotNull)
      .withColumn("__copy", explode(array_repeat(lit(0), abs(nb - na).cast("int"))))
      .select(col("change_type") +: outCols: _*)
  }
}
