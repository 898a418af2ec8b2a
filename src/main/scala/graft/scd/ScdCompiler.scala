package graft.scd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScdReplay

/** Compiles a parsed `.updates` log onto a DataFrame as ONE replay
  * node, [[org.apache.spark.sql.graft.ScdReplay]] (SURVEY.md §7.1
  * module 3).
  *
  * Semantic contract (SURVEY.md §2.1 derived invariant):
  * {{{
  * read(dir, scdTime) ==
  *   rawData |> foldLeft over stmts S in FILE ORDER where S.time <= scdTime:
  *     UPDATE t SET a1=e1,... WHERE p  =>  per-row: if p then {ai := ei} else id
  *     DELETE FROM t WHERE p           =>  per-row: if p then drop
  * }}}
  *
  * Key semantics, each verified against the reference:
  *   - statements compose SEQUENTIALLY in file order — statement k+1
  *     sees statement k's output (the reference's one-row H2 table
  *     persists mutations across statements within one apply loop,
  *     SQLUpdater.java:166-170). The node runs the statements per row
  *     in that order, over one row state.
  *   - within one UPDATE, every SET right-hand side sees the
  *     PRE-statement values (SQL UPDATE semantics): all of a
  *     statement's values are computed before any is assigned.
  *   - NULL `WHERE` result must NOT fire the statement (SQL keeps only
  *     TRUE): predicates are wrapped `coalesce(p, false)` before use
  *     (SURVEY.md §7.4.4).
  *   - every SET column is cast back to its original Spark type,
  *     mirroring the reference's positional typed write-back into Avro
  *     fields (AvroSCDInputFormat.java:205-222; SURVEY.md §7.4.6).
  *     This is also why every statement sees the same schema, so all
  *     of them resolve in one analyzer pass.
  *   - column resolution is case-insensitive (H2 default upper-casing;
  *     Spark's default `spark.sql.caseSensitive=false` — §7.4.7).
  *
  * Scale note: the plan is one node over the scan whatever the log's
  * length — a NARROW pipeline with zero shuffles, planned into the
  * scan's whole-stage codegen as one generated method per statement.
  * Its pushdown rule moves outer filters on columns no statement SETs
  * below it to the scan and drops SETs nobody reads, with their
  * column dependencies (SURVEY.md §4). The DML text is parsed once on
  * the driver and baked into serialized expressions, so a
  * 1000-executor scan does not re-read `.updates` per task (fixes the
  * reference's acknowledged inefficiency, README.md:233-236).
  */
object ScdCompiler {

  def apply(df: DataFrame, log: ScdLog): DataFrame =
    apply(df, log.statements)

  def apply(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame =
    replay(df, stmts.map((_, None)))

  /** A statement plus its optional partition guard (see [[replay]]). */
  type Step = (ScdStatement, Option[Column])

  /** THE replay: every replay compiles here, and only here is the
    * replay cap checked. A guarded step fires only where its guard
    * holds (a partition directory's log touches only its rows); the
    * guard ANDs into the predicate, so a partitioned replay stays ONE
    * narrow scan with partition pruning intact. `compat` selects
    * [[compat]]'s error policy. */
  private[graft] def replay(df: DataFrame, steps: Seq[Step],
      compat: Boolean = false): DataFrame = {
    guardReplaySize(df, steps.size)
    if (steps.isEmpty) df
    else ScdReplay.plan(df, steps.map(compile(df, _)), skipErrors = compat,
      dryRun = false)
  }

  /** Reference-compat error policy (O13, SQLUpdater.java:171-174): the
    * reference catches any SQLException while replaying DML on a record
    * and SKIPS the record — the row is dropped from the scan. The
    * default Spark-idiomatic policy above fails fast instead (ANSI
    * runtime errors surface); this variant reproduces the reference:
    * a row is dropped iff its WHERE predicate raises, or the predicate
    * holds and any SET expression (incl. the write-back cast) raises.
    * Rows the statement doesn't touch are never at risk — H2 does not
    * evaluate SET expressions when the predicate is false, and neither
    * does the replay node. */
  def compat(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame =
    replay(df, stmts.map((_, None)), compat = true)

  /** The replay size guard's conf key. The replay is one plan node, so
    * plan cost is linear in the log — measured (SCALE.md, "the replay
    * as one plan node"; 4-core VM, warm): read + plan is ~0.2 s at 100
    * statements, ~0.9 s at 1k and ~8 s at 10k, with no stack cliff.
    * What cliffs is driver HEAP: each statement's expressions and its
    * generated method live on the driver while the scan's code is
    * generated, and serialized into the task binary (~1.8 KiB per
    * statement). A 1 GB driver (Spark's default) replays 10k statements
    * and dies of OutOfMemoryError in code generation at 30k; a 3 GB
    * driver replays 30k and dies at 100k. The remedy is the log
    * LIFECYCLE the reference itself prescribes (README.md:239-244):
    * [[ScdReader.compact]] replays once, writes back, and
    * `clearLog = true` truncates the sidecar; this guard makes the
    * cliff a loud, actionable error instead of a driver OOM. Raise the
    * conf only with the driver heap for it. */
  val MaxReplayStatementsConf = "spark.graft.scd.maxReplayStatements"

  /** Default cap: 10 000 statements, the largest log a default 1 GB
    * driver was measured to replay (30k exhausts it), and ~8 s of
    * one-off plan cost. */
  val MaxReplayStatementsDefault = 10000

  private def guardReplaySize(df: DataFrame, n: Int): Unit = {
    val max = df.sparkSession.conf
      .get(MaxReplayStatementsConf, MaxReplayStatementsDefault.toString)
      .toInt
    if (n > max) throw new IllegalStateException(
      s"SCD replay of $n statements exceeds $MaxReplayStatementsConf=" +
        s"$max: every statement costs driver heap and plan time " +
        "(measured: 10k statements take ~8 s to read and plan; 30k " +
        "exhaust a 1 GB driver heap in code generation). Compact the " +
        "log — ScdReader.compact(dir, out, clearLog = true) replays " +
        "once, writes the result back and truncates the sidecar (the " +
        "reference's own prescribed lifecycle) — or raise the conf " +
        "knowingly.")
  }

  /** Predicate wrapped so NULL never fires a statement. */
  private def pred(where: Option[String]) =
    where.map(w => coalesce(expr(w), lit(false))).getOrElse(lit(true))

  /** DRY-RUN statistics: how many rows each statement would touch,
    * honoring sequential composition (statement k's predicate runs
    * against statement k-1's output; a DELETE's victims stop matching
    * later statements). The probe is the replay node itself in its
    * dry-run mode — each row carries the indices of the statements that
    * fired on it, a deleted row is marked dead instead of dropped — and
    * one aggregation of those indices, so the plan does not grow with
    * the log and the replay cap applies as it does to a read. Output:
    * (stmt_idx, verb, n_matched), in statement order. */
  def stats(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame = {
    val spark = df.sparkSession
    if (stmts.isEmpty)
      return spark.range(0).select(col("id").as("stmt_idx"),
        lit("").as("verb"), col("id").as("n_matched"))
    guardReplaySize(df, stmts.size)
    val hits = ScdReplay.plan(df, stmts.map(s => compile(df, (s, None))),
      skipErrors = false, dryRun = true)
      .select(explode(col(ScdReplay.FiredColumn)).as("i"), lit(1L).as("n"))
    // every statement once more with weight 0, so one that fires on no
    // row still has its row (a union, not an outer join: a count() of
    // the result must still run the replay)
    val every = spark.range(stmts.size)
      .select(col("id").cast("int").as("i"), lit(0L).as("n"))
    val verbs = typedLit(stmts.map {
      case _: ScdUpdate => "UPDATE"
      case _: ScdDelete => "DELETE"
    })
    hits.unionByName(every).groupBy("i").agg(sum("n").as("n"))
      .select(col("i").cast("long").as("stmt_idx"),
        element_at(verbs, col("i") + 1).as("verb"), col("n").as("n_matched"))
      .orderBy("stmt_idx")
  }

  /** One statement as the replay node takes it: the fire predicate
    * (partition guard ANDed in) and every SET, cast back to its
    * column's type. */
  private def compile(df: DataFrame, step: Step): ScdReplay.Statement = {
    val (stmt, guard) = step
    // three-valued-logic hygiene: a partition guard comparing against
    // a NULL partition value yields NULL, and a NULL guard must mean
    // "not my partition" (else a seg=A log's DELETE would drop the
    // null partition's rows)
    def fire(where: Option[String]) =
      guard.fold(pred(where))(g => coalesce(g, lit(false)) && pred(where))
    stmt match {
      case ScdUpdate(_, sets, where, _) =>
        // a SET column that resolves to nothing is a DML bug — fail like
        // the reference's H2 execution would (unknown column error,
        // SQLUpdater.java:82-89), never silently no-op (ADVICE r01)
        sets.foreach { case (c, _) =>
          if (!df.schema.fields.exists(_.name.equalsIgnoreCase(c)))
            throw new IllegalStateException(
              s"UPDATE SET references unknown column '$c' " +
                s"(schema: ${df.schema.fieldNames.mkString(", ")})")
        }
        ScdReplay.Statement(fire(where), df.schema.fields.toSeq.flatMap { f =>
          sets.collectFirst { case (c, e) if c.equalsIgnoreCase(f.name) =>
            f.name -> expr(e).cast(f.dataType)
          }
        }, delete = false)
      case ScdDelete(_, where, _) =>
        ScdReplay.Statement(fire(where), Nil, delete = true)
    }
  }
}
