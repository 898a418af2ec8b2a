package graft.scd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles a parsed `.updates` log onto a DataFrame as a fold of
  * narrow, codegen-friendly transformations (SURVEY.md §7.1 module 3).
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
  *     SQLUpdater.java:166-170). Hence one `select` / `filter` per
  *     statement, never a merged projection.
  *   - within one UPDATE, every SET right-hand side sees the
  *     PRE-statement values (SQL UPDATE semantics) — one `select` with
  *     all branches referencing the input columns achieves this.
  *   - NULL `WHERE` result must NOT fire the statement (SQL keeps only
  *     TRUE): predicates are wrapped `coalesce(p, false)` before use
  *     (SURVEY.md §7.4.4).
  *   - every SET column is cast back to its original Spark type,
  *     mirroring the reference's positional typed write-back into Avro
  *     fields (AvroSCDInputFormat.java:205-222; SURVEY.md §7.4.6).
  *   - column resolution is case-insensitive (H2 default upper-casing;
  *     Spark's default `spark.sql.caseSensitive=false` — §7.4.7).
  *
  * Scale note: the compiled plan is a chain of projections/filters —
  * a NARROW pipeline with zero shuffles, fully inside whole-stage
  * codegen, through which Catalyst freely pushes outer-query filters
  * and prunes never-referenced `when` branches (SURVEY.md §4). The DML
  * text is parsed once on the driver and baked into serialized
  * expressions, so a 1000-executor scan does not re-read `.updates`
  * per task (fixes the reference's acknowledged inefficiency,
  * README.md:233-236).
  */
object ScdCompiler {

  def apply(df: DataFrame, log: ScdLog): DataFrame =
    apply(df, log.statements)

  def apply(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame =
    replay(df, stmts.map((_, None)))

  /** A statement plus its optional partition guard (see [[replay]]). */
  type Step = (ScdStatement, Option[Column])

  /** THE statement fold: every replay compiles here, and only here is
    * the replay cap checked. A guarded step fires only where its guard
    * holds (a partition directory's log touches only its rows); the
    * guard ANDs into the predicate, so a partitioned replay stays ONE
    * narrow scan with partition pruning intact. `compat` selects
    * [[compat]]'s error policy (unguarded steps only). */
  private[graft] def replay(df: DataFrame, steps: Seq[Step],
      compat: Boolean = false): DataFrame = {
    guardReplaySize(df, steps.size)
    steps.foldLeft(df) { case (d, (stmt, guard)) =>
      if (compat) applyOneCompat(d, stmt) else applyOne(d, stmt, guard)
    }
  }

  /** Reference-compat error policy (O13, SQLUpdater.java:171-174): the
    * reference catches any SQLException while replaying DML on a record
    * and SKIPS the record — the row is dropped from the scan. The
    * default Spark-idiomatic policy above fails fast instead (ANSI
    * runtime errors surface); this variant reproduces the reference:
    * a row is dropped iff its WHERE predicate raises, or the predicate
    * holds and any SET expression (incl. the write-back cast) raises.
    * Rows the statement doesn't touch are never at risk — H2 does not
    * evaluate SET expressions when the predicate is false. */
  def compat(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame =
    replay(df, stmts.map((_, None)), compat = true)

  /** The replay plan-cost guard's conf key (VERDICT r16 #4): each
    * statement is one chained projection/filter, and CATALYST cost —
    * not execution — is what cliffs: measured on a 32-col table,
    * plan build is 1.8 s at 100 statements, 3.3 s at 300, 19.6 s at
    * 1 000 (superlinear — every analyzer/optimizer pass walks the
    * whole chain to fixpoint), and a driver StackOverflowError at
    * 3 000 (transform recursion depth = chain depth). Execution
    * itself stays flat — the chain is one narrow codegen'd scan.
    * The remedy is the log LIFECYCLE the reference itself prescribes
    * (README.md:239-244): [[ScdReader.compact]] replays once, writes
    * back, and `clearLog = true` truncates the sidecar; this guard
    * makes the cliff a loud, actionable error instead of a
    * minutes-long analyzer stall or a driver crash. Raise the conf
    * only with the measured table above in hand. */
  val MaxReplayStatementsConf = "spark.graft.scd.maxReplayStatements"

  /** Default cap: 250 statements ≈ 3 s of one-off plan cost. TWO
    * -Xss-dependent stack cliffs bound it: analyzer transform
    * recursion over the chain (default-stack spark-shell ~3k, an
    * sbt-forked JVM ~1k), and — tighter — expression CODEGEN
    * recursion when CollapseProject nests same-column SETs on a
    * narrow table (observed at ~400 chained UPDATEs of one column
    * the moment the column is actually evaluated; a count() prunes
    * it, a write does not). 250 keeps margin under the tightest
    * observed cliff. */
  val MaxReplayStatementsDefault = 250

  private def guardReplaySize(df: DataFrame, n: Int): Unit = {
    val max = df.sparkSession.conf
      .get(MaxReplayStatementsConf, MaxReplayStatementsDefault.toString)
      .toInt
    if (n > max) throw new IllegalStateException(
      s"SCD replay of $n statements exceeds $MaxReplayStatementsConf=" +
        s"$max: plan cost grows superlinearly with log length " +
        "(measured: 19.6 s to ANALYZE 1k statements; -Xss-dependent " +
        "stack overflow from ~400 same-column SETs in codegen, " +
        "~1k-3k in analysis). Compact the log — " +
        "ScdReader.compact(dir, " +
        "out, clearLog = true) replays once, writes the result back " +
        "and truncates the sidecar (the reference's own prescribed " +
        "lifecycle) — or raise the conf knowingly.")
  }

  /** Predicate wrapped so NULL never fires a statement. */
  private def pred(where: Option[String]) =
    where.map(w => coalesce(expr(w), lit(false))).getOrElse(lit(true))

  /** DRY-RUN statistics: how many rows each statement would touch,
    * honoring sequential composition (statement k's predicate runs
    * against statement k-1's output; a DELETE's victims stop matching
    * later statements). The whole probe is ONE narrow projection chain
    * + ONE aggregation pass over the table — deletes become an
    * `__alive` flag instead of filters, so no per-statement job and no
    * second scan. Output: (stmt_idx, verb, n_matched). */
  def stats(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame = {
    val spark = df.sparkSession
    if (stmts.isEmpty)
      return spark.range(0).select(col("id").as("stmt_idx"),
        lit("").as("verb"), col("id").as("n_matched"))
    var cur = df.withColumn("__alive", lit(true))
    stmts.zipWithIndex.foreach { case (stmt, i) =>
      val where = stmt match {
        case ScdUpdate(_, _, w, _) => w
        case ScdDelete(_, w, _) => w
      }
      cur = cur.withColumn(s"__m_$i", col("__alive") && pred(where))
      stmt match {
        case u: ScdUpdate => cur = applyOne(cur, u, Some(col(s"__m_$i")))
        case _: ScdDelete =>
          cur = cur.withColumn("__alive", col("__alive") && !col(s"__m_$i"))
      }
    }
    val aggCols = stmts.indices.map(i =>
      sum(when(col(s"__m_$i"), 1L).otherwise(0L)).as(s"n_$i"))
    val one = cur.agg(aggCols.head, aggCols.drop(1): _*)
    val verbs = stmts.map {
      case _: ScdUpdate => "UPDATE"
      case _: ScdDelete => "DELETE"
    }
    val stackArgs = stmts.indices
      .map(i => s"CAST($i AS BIGINT), '${verbs(i)}', coalesce(n_$i, 0L)")
      .mkString(", ")
    one.select(expr(
      s"stack(${stmts.size}, $stackArgs) AS (stmt_idx, verb, n_matched)"))
  }

  private def applyOne(df: DataFrame, stmt: ScdStatement,
      guard0: Option[Column]): DataFrame = {
    // three-valued-logic hygiene: a partition guard comparing against
    // a NULL partition value yields NULL, and filter(!NULL) would DROP
    // the row — a seg=A log deleting the null-partition's rows. NULL
    // guard must mean "not my partition", i.e. false.
    val guard = coalesce(guard0.getOrElse(lit(true)), lit(false))
    stmt match {
      case ScdUpdate(_, sets, where, _) =>
        // a SET column that resolves to nothing is a DML bug — fail like
        // the reference's H2 execution would (unknown column error),
        // never silently no-op (ADVICE r01)
        sets.foreach { case (c, _) =>
          if (!df.schema.fields.exists(_.name.equalsIgnoreCase(c)))
            throw new IllegalStateException(
              s"UPDATE SET references unknown column '$c' " +
                s"(schema: ${df.schema.fieldNames.mkString(", ")})")
        }
        val p = guard && pred(where)
        val cols = df.schema.fields.map { f =>
          sets.collectFirst {
            case (c, e) if c.equalsIgnoreCase(f.name) => e
          } match {
            case Some(e) =>
              when(p, expr(e).cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }
        df.select(cols.toIndexedSeq: _*)
      case ScdDelete(_, where, _) =>
        df.filter(!(guard && pred(where)))
    }
  }

  private def applyOneCompat(df: DataFrame, stmt: ScdStatement): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge.{evalFails, safeValue}
    stmt match {
      case ScdUpdate(_, sets, where, _) =>
        // unknown SET column is a prepare-time failure in the reference
        // (statement prepare at SQLUpdater.java:82-89), not a row skip —
        // fail fast in compat mode too
        sets.foreach { case (c, _) =>
          if (!df.schema.fields.exists(_.name.equalsIgnoreCase(c)))
            throw new IllegalStateException(
              s"UPDATE SET references unknown column '$c'")
        }
        val pRaw = where.map(expr).getOrElse(lit(true))
        val pErr = where.map(w => evalFails(expr(w))).getOrElse(lit(false))
        val fire = coalesce(safeValue(pRaw), lit(false))
        val setExprs = df.schema.fields.flatMap { f =>
          sets.collectFirst { case (c, e) if c.equalsIgnoreCase(f.name) =>
            f -> expr(e).cast(f.dataType)
          }
        }
        val setErr = setExprs.map { case (_, e) => evalFails(e) }
          .reduceOption(_ || _).getOrElse(lit(false))
        val rowErr = pErr || (fire && setErr)
        val kept = df.filter(!rowErr)
        val cols = kept.schema.fields.map { f =>
          setExprs.collectFirst { case (g, e) if g.name == f.name =>
            // safeValue never actually nulls here: error rows are gone
            when(fire, safeValue(e)).otherwise(col(f.name)).as(f.name)
          }.getOrElse(col(f.name))
        }
        kept.select(cols.toIndexedSeq: _*)
      case ScdDelete(_, where, _) =>
        // predicate error ⇒ skip ⇒ dropped — same outcome as a firing
        // DELETE, so: keep iff the predicate evaluates cleanly to
        // FALSE/NULL
        val pErr = where.map(w => evalFails(expr(w))).getOrElse(lit(false))
        val fire = coalesce(where.map(w => safeValue(expr(w))).getOrElse(lit(true)),
          lit(false))
        df.filter(!(pErr || fire))
    }
  }
}
