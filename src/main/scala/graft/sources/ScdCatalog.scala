package graft.sources

import graft.sources.ScdDataSource.ScdParams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A path-based DSv2 catalog for Type-7 SCD directories — native SQL
  * time travel, the Delta Lake UX:
  *
  * {{{
  * SET spark.sql.catalog.graft = graft.sources.ScdCatalog;
  * SELECT * FROM graft.`/data/customer`;                        -- as-of now
  * SELECT * FROM graft.`/data/customer` TIMESTAMP AS OF '2024-01-01';
  * SELECT * FROM graft.`/data/customer` VERSION AS OF 2;
  * }}}
  *
  * The table identifier IS the directory (backticks admit slashes;
  * multi-part identifiers join with '/'). Two travel coordinates,
  * mirroring the engine's two replay coordinates:
  *
  *  - `TIMESTAMP AS OF` → the reference's `scd.time` semantics
  *    (statements with effective time <= t apply — README.md:172-217),
  *    micros resolved to the same epoch-millis gate as
  *    [[graft.scd.ScdReader.read]];
  *  - `VERSION AS OF n` → the log-seq coordinate (first n statements
  *    apply, [[graft.scd.ScdLogFeed.asOfSeq]]) — versions are
  *    STATEMENTS, because the DML log is the table's only history.
  *
  * Read-only by design: mutations of an SCD table are statements
  * appended to its `.updates` log (the reference's whole model), not
  * catalog DDL — createTable/alterTable/dropTable refuse. Catalog
  * options (`spark.sql.catalog.graft.format=orc`, `.asOf=...`) become
  * reader defaults for every table.
  *
  * Each load builds the as-of view ONCE ([[ScdDataSource.view]]: the
  * one base loader, the one replay fold) and the loaded [[ScdTable]]
  * carries it: with [[graft.GraftExtensions]] installed the analyzer
  * rewrite substitutes that build (full pushdown); without it the
  * V1Scan fallback serves, correct either way. */
class ScdCatalog extends TableCatalog with ProcedureCatalog {

  /** Maintenance procedures, SQL-callable (`CALL graft.compact(...)`,
    * `CALL graft.optimize(...)`, `CALL graft.zone_map(...)`,
    * `CALL graft.bloom_manifest(...)`) — see [[ScdProcedures]]. */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    ScdProcedures.all.getOrElse(
      ident.name().toLowerCase(java.util.Locale.ROOT),
      // typed analysis-time error (this Spark build has no
      // NoSuchProcedureException class; ROUTINE_NOT_FOUND is its
      // error condition for missing callables), so `CALL
      // graft.typo(...)` surfaces as a catchable AnalysisException,
      // not an internal error
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "ROUTINE_NOT_FOUND",
        messageParameters = Map("routineName" ->
          (ident.name() +
            s" (have: ${ScdProcedures.all.keys.toSeq.sorted.mkString(", ")})"))))

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    ScdProcedures.all.keys.toArray.sorted
      .map(Identifier.of(namespace, _))

  private var catalogName: String = "graft"
  private var defaults: Map[String, String] = Map.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    import scala.jdk.CollectionConverters._
    catalogName = name
    defaults = options.asScala.toMap
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  private def params(ident: Identifier, asOf: Option[String],
      seq: Option[Long]): ScdParams = {
    val ci = defaults.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    ScdParams(pathOf(ident),
      ci.getOrElse("format", "parquet"),
      asOf.orElse(ci.get("asof")),
      ci.removedAll(Seq("format", "asof")),
      logFeed = false, asOfSeq = seq)
  }

  private def load(ident: Identifier, asOf: Option[String],
      seq: Option[Long]): Table = {
    val spark = SparkSession.active
    val p = params(ident, asOf, seq)
    val hp = new org.apache.hadoop.fs.Path(p.path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) throw new NoSuchTableException(ident)
    val view = ScdDataSource.view(spark, p, None) // the rewrite reuses it
    ScdTable(view.schema, p)(Some(view))
  }

  override def loadTable(ident: Identifier): Table =
    load(ident, None, None)

  /** `VERSION AS OF n` — the first n log statements applied. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val n = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"catalog $catalogName: VERSION AS OF takes a statement count, " +
          s"got '$version'")
    }
    require(n >= 0, s"VERSION AS OF must be >= 0: $n")
    load(ident, None, Some(n))
  }

  /** `TIMESTAMP AS OF t` — micros from the parser, resolved to the
    * same epoch-millis gate as the `asOf` reader option. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Some((timestamp / 1000L).toString), None)

  override def tableExists(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val hp = new org.apache.hadoop.fs.Path(pathOf(ident))
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no enumerable namespace

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is read-only: an SCD table mutates by " +
        s"appending statements to its .updates log, not by $op " +
        "(use ScdStream.appendStatements / the dmlSink)")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    readOnly("CREATE TABLE")

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = readOnly("ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean =
    readOnly("DROP TABLE")

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")
}
