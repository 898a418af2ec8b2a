package graft.sources

import graft.scd.ScdReader
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}

/** The SQL-only entry point to the Type-7 SCD view — format `"scd"`.
  *
  * The reference's whole UX is that a plain HiveQL user writes
  * `SELECT * FROM doctors` and the engine applies the `.updates`
  * sidecar transparently (reference README.md:169-170, the
  * `example/doctors.hql:1-36` one-time registration;
  * AvroSCDInputFormat.java:51-59 is its host-engine hook). This is the
  * Spark-native equivalent: no Scala required —
  *
  * {{{
  * spark.read.format("scd")
  *   .option("asOf", "2024-01-01")     // optional; conf > now otherwise
  *   .option("format", "parquet")      // inner data format, default parquet
  *   .load(dir)
  * // or pure SQL:
  * CREATE TEMPORARY VIEW doctors USING scd OPTIONS (path '...', asOf '...')
  * }}}
  *
  * As-of resolution follows [[ScdReader]]: `asOf` option >
  * `spark.graft.scd.time` conf > `spark.scd.time` conf > now;
  * `-1` disables replay.
  *
  * Both execution paths build the same view ([[ScdDataSource.view]]:
  * [[ScdReader.loadBase]], then [[graft.scd.ScdCompiler.replay]]):
  *
  *  1. '''Native (preferred)''' — with [[graft.GraftExtensions]]
  *     installed (`spark.sql.extensions=graft.GraftExtensions` or
  *     builder-time `withExtensions`), an analyzer rule
  *     ([[org.apache.spark.sql.graft.ScdRelationRewrite]]) replaces the
  *     DSv2 relation with the handle's [[ScdTable.view]] — exactly
  *     what `ScdReader.read` returns: the scan stays a zero-shuffle
  *     codegen'd replay node and outer filters / projections push
  *     all the way into the parquet/Avro scan (PushedFilters,
  *     ReadSchema, PartitionFilters — proven by ScdSqlSourceSpec).
  *     This is the same architecture Delta Lake uses for its own
  *     format (a catalyst rewrite of the provider's table node).
  *  1. '''V1Scan fallback''' — without the extension, the scan builder
  *     still accepts column pruning + filter pushdown and evaluates the
  *     view through a [[V1Scan]] bridge: pruning and translatable
  *     filters are applied to the INNER DataFrame (so the file scan
  *     underneath still skips columns and row groups); the one cost vs
  *     the native path is a Row-conversion boundary at the top of the
  *     scan. All pushed filters are reported as unhandled, so Spark
  *     re-applies them above — double evaluation, never a wrong row;
  *     like Hive in the reference, each scan re-reads the sidecar.
  *
  * At 100 TB the native path is the one to deploy (one session conf);
  * the fallback exists so `format("scd")` is never silently wrong, just
  * slower, on an unconfigured session.
  */
class ScdDataSource extends TableProvider with RelationProvider
    with SchemaRelationProvider with DataSourceRegister {

  override def shortName(): String = "scd"

  // user-supplied schemas are allowed (replay preserves the base schema
  // by construction — O11 typed write-back — so view schema == base)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = ScdDataSource.params(options)
    if (p.logFeed) graft.scd.ScdLogFeed.schema
    else ScdDataSource.view(SparkSession.active, p, None).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val p = ScdDataSource.capturedConfTime(
      ScdDataSource.params(new CaseInsensitiveStringMap(properties)),
      SparkSession.active)
    if (p.logFeed) ScdLogTable(p.path) else ScdTable(schema, p)()
  }

  // ---- V1 surface (CREATE [TEMPORARY] VIEW/TABLE ... USING scd) ------
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val p = ScdDataSource.capturedConfTime(
      ScdDataSource.params(parameters), sqlContext.sparkSession)
    if (p.logFeed)
      return ScdLogFeedRelation(sqlContext, p.path)
    val schema =
      ScdDataSource.view(sqlContext.sparkSession, p, None).schema
    ScdScanRelation(sqlContext, p, schema, userSchema = None,
      filters = Array.empty)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    ScdScanRelation(sqlContext,
      ScdDataSource.capturedConfTime(ScdDataSource.params(parameters),
        sqlContext.sparkSession),
      schema, userSchema = Some(schema), filters = Array.empty)
}

object ScdDataSource {

  /** Resolved reader parameters. `extra` is passed through to the inner
    * DataSource reader (e.g. `avroSchema`); `logFeed` selects the DML
    * log feed ([[ScdLogTable]]) instead of the as-of data view;
    * `asOfSeq` replays the first n log statements instead of
    * time-gating (the `VERSION AS OF` coordinate — see
    * [[ScdCatalog]]). */
  case class ScdParams(path: String, format: String, asOf: Option[String],
      extra: Map[String, String], logFeed: Boolean = false,
      asOfSeq: Option[Long] = None)

  private val Reserved = Set("path", "paths", "format", "asof", "feed")

  /** Bake a SET `scd.time` session conf into the params at TABLE /
    * RELATION construction (r17 sweep find): the fallback paths
    * otherwise resolve the conf inside `buildScan` — PHYSICAL
    * planning, i.e. action time — while the native analyzer rewrite
    * resolves it when the query ANALYZES. A conf set around `load()`
    * and unset before the action was honored natively and silently
    * ignored by the fallback: different ROWS by extension presence,
    * breaking the fallback's "never wrong, just slower" contract.
    * Only a PRESENT conf is captured — with no conf and no option the
    * as-of stays None, so the now-fallback remains dynamic (each
    * execution sees fresh "now", exactly like the native path). */
  private[graft] def capturedConfTime(p: ScdParams,
      spark: SparkSession): ScdParams =
    if (p.asOf.isDefined || p.logFeed) p
    else p.copy(asOf = graft.scd.ScdReader.confTime(spark))

  private[graft] def params(options: CaseInsensitiveStringMap): ScdParams = {
    import scala.jdk.CollectionConverters._
    params(options.asScala.toMap)
  }

  private[graft] def params(options: Map[String, String]): ScdParams = {
    val ci = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = ci.getOrElse("path", throw new IllegalArgumentException(
      "format(\"scd\") requires a path: .load(dir) or OPTIONS (path '...')"))
    val logFeed = ci.get("feed") match {
      case None => false
      case Some("log") => true
      case Some(other) => throw new IllegalArgumentException(
        s"format(\"scd\"): unknown feed '$other' (supported: 'log')")
    }
    ScdParams(path,
      ci.getOrElse("format", "parquet"),
      ci.get("asof"),
      options.filterNot { case (k, _) =>
        Reserved(k.toLowerCase(java.util.Locale.ROOT)) },
      logFeed)
  }

  /** The as-of view behind every path of this source: the
    * [[ScdReader.loadBase]] base replayed by time ([[ScdReader.read]])
    * or by statement seq ([[graft.scd.ScdLogFeed.asOfSeq]]). */
  def view(spark: SparkSession, p: ScdParams,
      schema: Option[StructType]): DataFrame = {
    val base = ScdReader.loadBase(spark, p.path, p.format, schema, p.extra)
    p.asOfSeq match {
      case Some(n) => graft.scd.ScdLogFeed.applyLogSeq(spark, base, p.path, n)
      case None => ScdReader.applyLogFile(spark, base, p.path, p.asOf)
    }
  }
}

/** DSv2 table handle — with the extension installed it is rewritten
  * away at analysis to its [[view]]; otherwise [[ScdScanBuilder]]
  * serves it through the V1Scan bridge. Equality is on `(schema,
  * params)`; `built` is a view an [[ScdCatalog]] load already made. */
case class ScdTable(override val schema: StructType,
    params: ScdDataSource.ScdParams)(built: Option[DataFrame] = None)
    extends Table with SupportsRead {

  /** The as-of view, built at most once per handle. */
  lazy val view: DataFrame = built.getOrElse(
    ScdDataSource.view(SparkSession.active, params, Some(schema)))

  override def name(): String = s"scd:${params.path}"

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScdScanBuilder(schema, params)
}

/** Fallback scan builder: records pruned columns + pushed filters, then
  * bridges to V1. Every filter is reported back as unhandled (Spark
  * re-applies them), so the internal application is purely an
  * optimization — the inner parquet scan gets to skip row groups. */
class ScdScanBuilder(fullSchema: StructType, params: ScdDataSource.ScdParams)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all re-evaluated above the scan — correctness never depends on us
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = new ScdV1FallbackScan(required, filters, params)
}

class ScdV1FallbackScan(required: StructType, filters: Array[Filter],
    params: ScdDataSource.ScdParams) extends V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    ScdScanRelation(context, params, required, userSchema = None, filters)
      .asInstanceOf[T]
}

/** The V1 relation both fallback paths share. As a [[TableScan]] the
  * pruning/filtering was already fixed by the scan builder; as a
  * [[PrunedFilteredScan]] (the `CREATE ... USING scd` path) Spark hands
  * them to [[buildScan(requiredColumns*]]. Either way the work happens
  * on the INNER DataFrame, so Catalyst pushes it into the file scan. */
case class ScdScanRelation(sqlContext: SQLContext,
    params: ScdDataSource.ScdParams, override val schema: StructType,
    userSchema: Option[StructType], filters: Array[Filter])
    extends BaseRelation with TableScan with PrunedFilteredScan {

  override def buildScan(): RDD[Row] =
    scan(schema.fieldNames, filters)

  override def buildScan(requiredColumns: Array[String],
      pushed: Array[Filter]): RDD[Row] =
    scan(requiredColumns, pushed)

  // all filters are unhandled: Spark re-applies them above this scan
  // (the default BaseRelation.unhandledFilters already says so; spelled
  // out here because correctness of the conservative translation below
  // depends on it)
  override def unhandledFilters(fs: Array[Filter]): Array[Filter] = fs

  private def scan(cols: Array[String], fs: Array[Filter]): RDD[Row] = {
    val df0 = ScdDataSource.view(sqlContext.sparkSession, params, userSchema)
    val filtered = fs.flatMap(ScdScanRelation.toColumn(df0, _))
      .foldLeft(df0)(_ where _)
    // zero-column projection (SELECT count(*)) is a valid DataFrame
    filtered.select(cols.toIndexedSeq.map(df0.col): _*).rdd
  }
}

/** V1 relation for `CREATE ... USING scd OPTIONS (feed 'log')` — the
  * DML log feed through the SQL-DDL surface. */
case class ScdLogFeedRelation(sqlContext: SQLContext, dir: String)
    extends BaseRelation with TableScan {
  override def schema: StructType = graft.scd.ScdLogFeed.schema
  override def buildScan(): RDD[Row] =
    graft.scd.ScdLogFeed.feed(sqlContext.sparkSession, dir).rdd
}

object ScdScanRelation {
  /** Conservative V1 Filter → Column translation: only shapes whose
    * semantics are exactly Spark's own; anything else is skipped (the
    * row still flows — Spark re-applies every filter above the scan). */
  private[graft] def toColumn(df: DataFrame, f: Filter): Option[Column] =
    f match {
      case EqualTo(a, v) => Some(df.col(a) === v)
      case EqualNullSafe(a, v) => Some(df.col(a) <=> v)
      case GreaterThan(a, v) => Some(df.col(a) > v)
      case GreaterThanOrEqual(a, v) => Some(df.col(a) >= v)
      case LessThan(a, v) => Some(df.col(a) < v)
      case LessThanOrEqual(a, v) => Some(df.col(a) <= v)
      case In(a, vs) => Some(df.col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(df.col(a).isNull)
      case IsNotNull(a) => Some(df.col(a).isNotNull)
      case StringStartsWith(a, v) => Some(df.col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(df.col(a).endsWith(v))
      case StringContains(a, v) => Some(df.col(a).contains(v))
      case And(l, r) =>
        for { lc <- toColumn(df, l); rc <- toColumn(df, r) } yield lc && rc
      case Or(l, r) =>
        for { lc <- toColumn(df, l); rc <- toColumn(df, r) } yield lc || rc
      case Not(c) => toColumn(df, c).map(!_)
      case _ => None
    }
}
