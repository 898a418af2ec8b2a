package graft.scd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ScdReplay
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a session's earlier reads of an SCD table directory derived,
  * kept for its later reads: the reuse within an interactive session of
  * EDBT 2020's incremental framework (PAPERS.md). The reference re-read
  * and re-applied its log per split (SQLUpdater.java:107-119); without
  * this state every as-of read re-inferred the base schema (a Spark job)
  * and re-resolved every retained statement.
  *
  * One state per (session, qualified dir, format, options, schema)
  * holds:
  *   - the analyzed base relation of its files: schema, file list and
  *     partitions, the work behind [[ScdReader.loadBase]];
  *   - a fingerprint of the directory's data files: path, size and
  *     mtime of every file whose name does not start with '.', from one
  *     recursive listing ([[ScdReader.list]]);
  *   - the session SQL conf it was built under, less the two `scd.time`
  *     keys, which gate statements but resolve none;
  *   - a [[ScdReplay.Memo]] of resolved statements (predicate and SET
  *     values), keyed by the statement and its partition spec.
  *
  * Every read lists the directory once and reads its sidecars from that
  * listing, so an appended statement shows at once. A fingerprint or
  * conf that differs from the state's rebuilds it; a cold read runs the
  * same code over no state. Each read gets a fresh instance of the base
  * (new attribute ids, [[ScdReplay.instance]]), so two reads of one
  * table are two relations to a join.
  *
  * Bounds: at most [[MaxTables]] states in the JVM, the least recently
  * read dropped first, and at most [[ScdCompiler.MaxReplayStatementsDefault]]
  * resolutions per state. A state serves only the session that built
  * it, and the states of a stopped session are dropped at the next
  * read. Residual case: a data file rewritten under the same name with
  * the same size and mtime goes unseen by the fingerprint, the limit
  * Spark's own file-status cache has. Its rows are still read at
  * execution; what the state keeps from before the rewrite is what the
  * relation fixed when it was built, such as an inferred schema.
  */
private[graft] object ScdTableState {

  /** The most table states kept in the JVM, over all sessions. */
  val MaxTables = 32

  /** One read of a table directory: a fresh instance of its base, the
    * directories whose `.updates` sidecar the read replays (root first,
    * each with its partition spec; [[ScdReader.list]]), and the
    * table's memo of resolved statements. */
  final class Read(spark: SparkSession, val base: DataFrame,
      logs: Seq[(Seq[(String, String)], Path)], memo: ScdReplay.Memo) {

    /** `steps` replayed over [[base]], resolving only those the memo
      * lacks. */
    def replay(steps: Seq[ScdCompiler.Step]): DataFrame =
      ScdCompiler.replay(base, steps, memo = Some(memo))

    /** Every sidecar's text with its partition spec, root first. */
    lazy val sidecars: Seq[(Seq[(String, String)], String)] =
      ScdReader.readLogs(spark, logs)
  }

  private final case class Key(session: SparkSession, dir: String,
      format: String, options: Map[String, String],
      schema: Option[StructType])

  private final class State(val files: Seq[(String, Long, Long)],
      val conf: Map[String, String], val base: LogicalPlan,
      val memo: ScdReplay.Memo)

  private val states = new java.util.LinkedHashMap[Key, State](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, State]): Boolean =
      this.size > MaxTables
  }

  /** Read `dir` through its state, building the state with `load` when
    * there is none or it no longer matches the directory or the conf. */
  def open(spark: SparkSession, dir: String, format: String,
      schema: Option[StructType], options: Map[String, String])(
      load: => DataFrame): Read = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = try ScdReader.list(fs, root) catch {
      // a missing directory fails the way the loader fails on it
      case e: java.io.FileNotFoundException => load; throw e
    }
    val key = Key(spark, fs.makeQualified(root).toString, format, options, schema)
    val conf = spark.conf.getAll -- Seq(ScdReader.ConfKey, ScdReader.ConfKeyGraft)
    val state = states.synchronized {
      states.keySet.removeIf(_.session.sparkContext.isStopped)
      Option(states.get(key))
    }.filter(s => s.files == listing.files && s.conf == conf).getOrElse {
      val plan = load.queryExecution.analyzed
      val s = new State(listing.files, conf, plan, new ScdReplay.Memo(plan.output))
      states.synchronized(states.put(key, s))
      s
    }
    new Read(spark, ScdReplay.instance(spark, state.base), listing.logs,
      state.memo)
  }

  /** The number of states kept, for tests of the bound. */
  private[graft] def size: Int = states.synchronized(states.size)
}
