package org.apache.spark.sql.graft

import graft.scd.ScdCompiler
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, MultiInstanceRelation, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.optimizer.EliminateSQLFunctionNode
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** The whole `.updates` replay as ONE logical node: the reference's
  * per-record apply loop (SQLUpdater.java:166-170) — every retained
  * statement, in file order, against each row as it is scanned.
  *
  * Statement `i` is `preds(i)`, its fire predicate (already NULL-safe,
  * with its partition guard ANDed in), and then either `deletes(i)` or
  * its SETs, `targets(i)` := `values(i)`, each value already cast back
  * to its target's type. An UPDATE's values all see the row as it was
  * before that statement. The fields are (nested) expression lists, so
  * attribute rewrites (`mapExpressions`, self-join deduplication)
  * reach every statement.
  *
  * The node's output IS its child's output: a SET column keeps its
  * attribute id, so the node is a pass-through to every rule that
  * rewrites attributes. Hence child constraints that name a SET column
  * are dropped, the physical node forwards only the partitioning and
  * ordering that name none, and [[ScdReplay.plan]] gives a SET column
  * that may become NULL a nullable attribute below the node.
  *
  * `fired` (empty, or one `array<int>` column) turns the node into the
  * dry run behind [[graft.scd.ScdCompiler.stats]]: a DELETE marks its
  * row dead instead of dropping it, and every row carries the indices
  * of the statements that fired on it. `skipErrors` is the reference's
  * compat policy (SQLUpdater.java:171-174): a statement whose
  * predicate or SET values raise drops the row. */
case class ScdReplay(
    preds: Seq[Expression],
    targets: Seq[Seq[Attribute]],
    values: Seq[Seq[Expression]],
    deletes: Seq[Boolean],
    fired: Seq[Attribute],
    skipErrors: Boolean,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output ++ fired

  override def producedAttributes: AttributeSet = AttributeSet(fired)

  override lazy val validConstraints: ExpressionSet = {
    val set = AttributeSet(targets.flatten)
    ExpressionSet(child.constraints.filter(_.references.intersect(set).isEmpty))
  }

  override def simpleString(maxFields: Int): String =
    ScdReplay.describe("ScdReplay", deletes, skipErrors, fired)

  override protected def withNewChildInternal(newChild: LogicalPlan): ScdReplay =
    copy(child = newChild)
}

object ScdReplay {

  /** One statement before resolution, as [[graft.scd.ScdCompiler]]
    * compiles it: its fire predicate and its SETs, whose targets are
    * exact column names of the input. `key` names the statement to a
    * [[Memo]]; the columns are built only for a statement the memo
    * lacks (each `Column` captures its call site, which costs more
    * than rebinding a held resolution). */
  final class Statement(val delete: Boolean, val key: Any)(
      compile: => (Column, Seq[(String, Column)])) {
    lazy val (fire, sets) = compile
  }

  /** A statement resolved over a relation's output: its fire predicate
    * and its SETs, target attribute to value. */
  final case class Resolved(pred: Expression,
      sets: Seq[(Attribute, Expression)]) {
    def rebind(m: AttributeMap[Attribute]): Resolved = {
      def re(e: Expression) = e.transform { case a: Attribute if m.contains(a) => m(a) }
      Resolved(re(pred), sets.map { case (t, v) => (m(t), re(v)) })
    }
  }

  /** Statement resolutions kept across plans over instances of one
    * relation, by statement key. Each is held over `over`, the output
    * of the instance it was resolved on, and rebound by position onto
    * the output of the instance being planned. At most the default
    * replay cap, [[ScdCompiler.MaxReplayStatementsDefault]], are held; a
    * resolution that would pass that bound first clears the memo. */
  final class Memo(over: Seq[Attribute]) {
    private val held = new java.util.concurrent.ConcurrentHashMap[Any, Resolved]

    /** The held resolution of each key, rebound onto `out`. */
    def get(keys: Seq[Any], out: Seq[Attribute]): Seq[Option[Resolved]] = {
      val m = AttributeMap(over.zip(out))
      keys.map(k => Option(held.get(k)).map(_.rebind(m)))
    }

    /** Hold `rs`, resolved over `out`. */
    def put(rs: Seq[(Any, Resolved)], out: Seq[Attribute]): Unit = {
      val m = AttributeMap(out.zip(over))
      rs.foreach { case (k, r) =>
        if (held.size >= ScdCompiler.MaxReplayStatementsDefault) held.clear()
        held.put(k, r.rebind(m))
      }
    }
  }

  /** Name of the dry run's per-row column of fired statement indices. */
  val FiredColumn = "__scd_fired"

  private[graft] def describe(name: String, deletes: Seq[Boolean],
      skipErrors: Boolean, fired: Seq[Attribute]): String = {
    val n = deletes.count(identity)
    s"$name ${deletes.size} statements (${deletes.size - n} UPDATE, " +
      s"$n DELETE)" + (if (skipErrors) ", skip errors" else "") +
      (if (fired.nonEmpty) ", dry run" else "")
  }

  /** A DataFrame over a fresh instance of `plan`, an analyzed base
    * relation kept across reads: every relation leaf and every alias in
    * it gets new attribute ids, so two reads of one table are two
    * relations to a join or a self-join check (the ids a new
    * `spark.read` would give). */
  def instance(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val fresh = plan.transformUpWithNewOutput {
      case r: LeafNode with MultiInstanceRelation =>
        val n = r.newInstance()
        (n, r.output.zip(n.output))
      case p: Project if p.projectList.exists(_.isInstanceOf[Alias]) =>
        val list = p.projectList.map {
          case a: Alias => a.newInstance()
          case e => e
        }
        (p.copy(projectList = list), p.output.zip(list.map(_.toAttribute))
          .filter { case (a, b) => a.exprId != b.exprId })
    }
    // the Dataset that first analyzed `plan` tagged it with its id; the
    // tag belongs to that Dataset, not to this instance
    fresh.foreach(_.unsetTagValue(org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG))
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], fresh)
  }

  /** Replay `stmts` over `df` as one [[ScdReplay]] node. Every
    * statement `memo` does not hold resolves in ONE analyzer pass over
    * `df` (one projection of all of them): each SET casts back to its
    * column's type, so every statement sees the same schema. Analysis
    * errors surface here, at read time, as they did for a chain. Of the
    * new resolutions, the memo keeps those that cannot change while
    * the session's conf and the relation stay the same: see
    * [[reusable]]. */
  def plan(df: DataFrame, stmts: Seq[Statement], skipErrors: Boolean,
      dryRun: Boolean, memo: Option[Memo] = None): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    register(session)
    val child = df.queryExecution.analyzed
    val held = memo.fold(stmts.map(_ => Option.empty[Resolved]))(
      _.get(stmts.map(_.key), child.output))
    val todo = stmts.zip(held).collect { case (s, None) => s }
    val resolved = resolve(df, child, todo)
    memo.foreach(_.put(todo.zip(resolved).collect {
      case (s, r) if reusable(session, s, r) => s.key -> r
    }, child.output))
    val it = resolved.iterator
    val steps = held.map(_.getOrElse(it.next()))
    // a SET that may write NULL into a column never NULL on input: the
    // column enters the node as a new nullable attribute, or the row
    // writer and the optimizer (`x IS NULL` => false) would trust the
    // input's NOT NULL (an outer join's `withNullability` would not do:
    // the node's own expressions are re-typed from its child's output)
    val widened = AttributeMap(steps.flatMap(_.sets).collect {
      case (t, v) if v.nullable && !t.nullable => t
    }.distinct.map(t => t ->
      Alias(KnownNullable(t), t.name)(explicitMetadata = Some(t.metadata))))
    // the analyzer takes nondeterministic expressions only in a few
    // operators: evaluate each once per row in the projection below the
    // node instead (what its PullOutNondeterministic does for a node
    // that keeps its child's output — which the dry run does not).
    // Below the node it sees the row before any statement, so one that
    // reads a column an earlier statement SETs is refused.
    var written = AttributeSet.empty
    val nondet = steps.flatMap { case Resolved(p, sets) =>
      val found = (p +: sets.map(_._2)).flatMap(_.collect {
        case n: Nondeterministic => n: Expression
        case u: UserDefinedExpression if !u.deterministic => u: Expression
      })
      found.find(_.references.intersect(written).nonEmpty).foreach { e =>
        throw new IllegalStateException(s"SCD statement evaluates the " +
          s"nondeterministic ${e.sql} over a column an earlier statement " +
          "SETs; the replay evaluates it once per row, before any statement")
      }
      written ++= AttributeSet(sets.map(_._1))
      found
    }.distinct.map(e => e -> Alias(e, "_nondeterministic")())
    val swap = nondet.map { case (e, a) => e -> (a.toAttribute: Expression) }.toMap
    def in(e: Expression): Expression = e.transformDown {
      case x if swap.contains(x) => swap(x)
      case a: Attribute if widened.contains(a) => widened(a).toAttribute
    }
    val fired =
      if (dryRun) Seq(AttributeReference(FiredColumn,
        ArrayType(IntegerType, containsNull = false), nullable = false)())
      else Nil
    val columns = child.output.map(a => widened.get(a).getOrElse(a))
    val below =
      if (widened.isEmpty && nondet.isEmpty) child
      else Project(columns ++ nondet.map(_._2), child)
    val node = ScdReplay(steps.map(s => in(s.pred)),
      steps.map(_.sets.map(s => in(s._1).asInstanceOf[Attribute])),
      steps.map(_.sets.map(s => in(s._2))), stmts.map(_.delete), fired,
      skipErrors, below)
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      if (nondet.isEmpty) node else Project(columns.map(_.toAttribute) ++ fired, node))
  }

  /** `stmts` resolved over `child`, `df`'s analyzed plan, in one
    * analyzer pass. A SQL function's body reads a projection of its
    * arguments: with its nodes eliminated as Spark's optimizer does,
    * deterministic argument projections fold into the statements. */
  private def resolve(df: DataFrame, child: LogicalPlan,
      stmts: Seq[Statement]): Seq[Resolved] =
    if (stmts.isEmpty) Nil
    else {
      val cols = stmts.zipWithIndex.flatMap { case (s, i) =>
        s.fire.as(s"p$i") +: s.sets.zipWithIndex.map { case ((_, v), k) =>
          v.as(s"v${i}_$k")
        }
      }
      def strip(e: Expression) = e match { case Alias(x, _) => x; case x => x }
      def perRow(p: LogicalPlan): Option[Seq[Expression]] = p match {
        case Project(list, c) if c.output == child.output => Some(list)
        case Project(list, c: Project) if c.projectList.forall(_.deterministic) =>
          perRow(c).map { below =>
            val m = AttributeMap(c.output.zip(below.map(strip)))
            list.map(_.transformUp { case a: Attribute if m.contains(a) => m(a) })
          }
        case _ => None
      }
      val analyzed = df.select(cols: _*).queryExecution.analyzed
      val list = perRow(EliminateSQLFunctionNode(analyzed))
        .filter(_.size == cols.size).getOrElse(throw new IllegalStateException(
          "SCD statements must be per-row expressions; resolved to:\n" + analyzed))
        .map(strip)
      val it = list.iterator
      stmts.map { s =>
        Resolved(it.next(), s.sets.map { case (name, _) =>
          child.output.find(_.name == name).get -> it.next()
        })
      }
    }

  /** Whether a resolution stays right while the session's SQL conf and
    * the relation stay the same (a [[Memo]] is dropped with either): it
    * calls only built-in functions the session has not re-registered,
    * and holds no UDF, subquery, session variable or nondeterministic
    * expression (a seed or a variable's value is fixed at analysis). */
  private def reusable(spark: org.apache.spark.sql.classic.SparkSession,
      s: Statement, r: Resolved): Boolean = {
    val registry = spark.sessionState.functionRegistry
    def builtin(parts: Seq[String]) = parts.length == 1 && {
      val id = FunctionIdentifier(parts.head)
      FunctionRegistry.builtin.lookupFunctionBuilder(id)
        .exists(b => registry.lookupFunctionBuilder(id).exists(_ eq b))
    }
    (r.pred +: r.sets.map(_._2)).forall(e => e.deterministic &&
      !SubqueryExpression.hasSubquery(e) && !e.exists {
        case _: UserDefinedExpression | _: VariableReference => true
        case _ => false
      }) &&
      (s.fire +: s.sets.map(_._2)).forall(c => spark.expression(c).collect {
        case f: UnresolvedFunction => f.nameParts
      }.forall(builtin))
  }

  /** Plan [[ScdReplay]] on `spark` (strategy + pushdown rule), once per
    * session — sessions built without [[graft.GraftExtensions]] read
    * too (the Pathling `SqlStrategy.setup` pattern). */
  private def register(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(ScdReplayStrategy))
        x.extraStrategies = x.extraStrategies :+ ScdReplayStrategy
      if (!x.extraOptimizations.contains(ScdReplayPushdown))
        x.extraOptimizations = x.extraOptimizations :+ ScdReplayPushdown
    }
  }
}

/** Keeps Catalyst's scan pushdown through [[ScdReplay]]:
  *   - a filter conjunct that is deterministic and names no SET column
  *     commutes with the replay (UPDATEs change only SET columns, a
  *     DELETE only drops rows), so it moves below the node and reaches
  *     the scan's PushedFilters / PartitionFilters;
  *   - under a projection, the steps are walked backwards from the
  *     columns read above: a SET whose column nobody reads later is
  *     dropped, an UPDATE left with no SET disappears, DELETEs stay; the
  *     child is then narrowed to the columns still read, which is the
  *     scan's read schema. Not in the dry run (every predicate counts)
  *     nor under `skipErrors` (a dropped SET could have dropped its row).
  */
object ScdReplayPushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, r: ScdReplay) =>
      val set = AttributeSet(r.targets.flatten)
      val (push, keep) = splitConjunctivePredicates(cond).partition(c =>
        c.deterministic && !SubqueryExpression.hasSubquery(c) &&
          c.references.subsetOf(r.child.outputSet) &&
          c.references.intersect(set).isEmpty)
      if (push.isEmpty) f
      else {
        val below = r.copy(child = Filter(push.reduce(And), r.child))
        keep.reduceOption(And).fold[LogicalPlan](below)(Filter(_, below))
      }
    case p @ Project(_, r: ScdReplay) =>
      p.copy(child = prune(r, p.references))
    case p @ Project(_, f @ Filter(_, r: ScdReplay)) =>
      p.copy(child = f.copy(child = prune(r, p.references ++ f.references)))
  }

  private def prune(r: ScdReplay, read: AttributeSet): LogicalPlan = {
    val node = if (r.fired.nonEmpty || r.skipErrors) r else {
      var needed = read
      val kept = r.preds.indices.reverse.flatMap { i =>
        val sets = r.targets(i).zip(r.values(i)).filter(s => needed.contains(s._1))
        if (r.deletes(i) || sets.nonEmpty) {
          needed = needed ++ r.preds(i).references ++ AttributeSet(sets.map(_._2))
          Some(i -> sets)
        } else None
      }.reverse
      r.copy(preds = kept.map(k => r.preds(k._1)), targets = kept.map(_._2.map(_._1)),
        values = kept.map(_._2.map(_._2)), deletes = kept.map(k => r.deletes(k._1)))
    }
    if (node.preds.isEmpty) r.child
    else {
      val used = read ++ node.references
      if (node.child.outputSet.subsetOf(used)) node
      else node.copy(child = Project(node.child.output.filter(used.contains), node.child))
    }
  }
}

object ScdReplayStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: ScdReplay =>
      ScdReplayExec(r.preds, r.targets, r.values, r.deletes, r.fired,
        r.skipErrors, planLater(r.child)) :: Nil
    case _ => Nil
  }
}

/** Physical [[ScdReplay]]. Inside whole-stage codegen, the columns the
  * statements read or write live in class fields (the row state), each
  * statement is one generated method over those fields, and the
  * methods are called in file order in groups of [[ScdReplayExec.Group]],
  * so generated code grows linearly with the log and no method grows
  * with it. `doExecute` (codegen off or fallen back) interprets the
  * same bound expressions. Counters ride the scan's own job:
  * `rows updated` (rows leaving the replay with at least one UPDATE
  * applied), `rows deleted` (rows the replay dropped) and, as on any
  * operator that drops rows, `number of output rows`. */
case class ScdReplayExec(
    preds: Seq[Expression],
    targets: Seq[Seq[Attribute]],
    values: Seq[Seq[Expression]],
    deletes: Seq[Boolean],
    fired: Seq[Attribute],
    skipErrors: Boolean,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output ++ fired

  override def producedAttributes: AttributeSet = AttributeSet(fired)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numUpdated" -> SQLMetrics.createMetric(sparkContext, "rows updated"),
    "numDeleted" -> SQLMetrics.createMetric(sparkContext, "rows deleted"))

  override def simpleString(maxFields: Int): String =
    ScdReplay.describe("ScdReplayExec", deletes, skipErrors, fired)

  // rows keep their partition and order; only what names a SET column
  // may no longer hold
  private lazy val targetSet = AttributeSet(targets.flatten)

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression if p.references.intersect(targetSet).nonEmpty =>
      UnknownPartitioning(child.outputPartitioning.numPartitions)
    case p => p
  }

  override def outputOrdering: Seq[SortOrder] =
    child.outputOrdering.takeWhile(_.references.intersect(targetSet).isEmpty)

  /** Statements with expressions bound to the child's row; a target
    * becomes its ordinal. */
  private def bound: IndexedSeq[(Expression, Array[Int], Seq[Expression], Boolean)] = {
    val in = child.output
    preds.indices.map { i =>
      (BindReferences.bindReference(preds(i), in),
        targets(i).map(t => in.indexWhere(_.exprId == t.exprId)).toArray,
        BindReferences.bindReferences(values(i), in), deletes(i))
    }
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val steps = bound
    val types = child.output.map(_.dataType)
    val dryRun = fired.nonEmpty
    val skip = skipErrors
    val numOutput = longMetric("numOutputRows")
    val numUpdated = longMetric("numUpdated")
    val numDeleted = longMetric("numDeleted")
    child.execute().mapPartitionsWithIndexInternal { (index, rows) =>
      steps.foreach { s =>
        (s._1 +: s._3).foreach(_.foreach {
          case n: Nondeterministic => n.initialize(index)
          case _ =>
        })
      }
      val width = types.length
      val getters = types.map(InternalRow.getAccessor(_))
      val fieldTypes =
        if (dryRun) types :+ ArrayType(IntegerType, containsNull = false) else types
      val state = new SpecificInternalRow(fieldTypes)
      val toUnsafe = UnsafeProjection.create(fieldTypes.toArray)
      val hits = scala.collection.mutable.ArrayBuffer.empty[Int]
      var touched = false
      /** Run statement `j`; false iff the row is gone (deleted/skipped). */
      def step(j: Int): Boolean = {
        val (pred, ords, vals, delete) = steps(j)
        def run(): Boolean = pred.eval(state) match {
          case true =>
            if (dryRun) hits += j
            if (delete) false
            else {
              val out = vals.map(_.eval(state))
              var k = 0
              while (k < ords.length) { state.update(ords(k), out(k)); k += 1 }
              touched = true
              true
            }
          case _ => true
        }
        if (!skip) run()
        else try run() catch { case _: Exception => false }
      }
      rows.flatMap { row =>
        var i = 0
        while (i < width) { state.update(i, getters(i)(row, i)); i += 1 }
        hits.clear()
        touched = false
        var alive = true
        var j = 0
        while (alive && j < steps.length) { alive = step(j); j += 1 }
        if (!alive) numDeleted += 1
        else if (touched) numUpdated += 1
        if (dryRun) state.update(width, new GenericArrayData(hits.toArray[Any]))
        if (alive || dryRun) {
          numOutput += 1
          Some(toUnsafe(state))
        } else None
      }
    }
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  protected override def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val in = child.output
    val steps = bound
    val used = references
    // the row state: one (isNull, value) field pair per column read or
    // written by a statement; other columns pass straight through
    val state: Seq[ExprCode] = in.map { a =>
      if (!used.contains(a)) null
      else ExprCode(
        JavaCode.isNullGlobal(ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "scdNull")),
        JavaCode.global(ctx.addMutableState(CodeGenerator.javaType(a.dataType), "scdValue"),
          a.dataType))
    }
    val touched = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "scdTouched")
    val dryRun = fired.nonEmpty
    val hits = if (dryRun) ctx.addMutableState("int[]", "scdHits",
      v => s"$v = new int[${steps.size}];") else null
    val nHits = if (dryRun) ctx.addMutableState(CodeGenerator.JAVA_INT, "scdNHits") else null

    val stepFns = steps.zipWithIndex.map { case ((pred, ords, vals, delete), j) =>
      ctx.INPUT_ROW = null
      ctx.currentVars = state
      val p = pred.genCode(ctx)
      val record = if (dryRun) s"$hits[$nHits++] = $j;" else ""
      val effect =
        if (delete) s"$record\nreturn false;"
        else {
          val vs = vals.map(_.genCode(ctx))
          val tmps = vs.zip(ords).map { case (v, o) =>
            (ctx.freshName("scdSetNull"), ctx.freshName("scdSet"), v, o)
          }
          s"""$record
             |${vs.map(_.code).mkString("\n")}
             |${tmps.map { case (n, t, v, o) =>
                  s"boolean $n = ${v.isNull};\n" +
                    s"${CodeGenerator.javaType(in(o).dataType)} $t = ${v.value};"
                }.mkString("\n")}
             |${tmps.map { case (n, t, _, o) =>
                  s"${state(o).isNull} = $n;\n${state(o).value} = $t;"
                }.mkString("\n")}
             |$touched = true;""".stripMargin
        }
      val body =
        s"""${p.code}
           |if (!${p.isNull} && ${p.value}) {
           |  $effect
           |}
           |return true;""".stripMargin
      val fn = ctx.freshName("scdStep")
      ctx.addNewFunction(fn,
        s"""private boolean $fn() {
           |${if (skipErrors) s"try {\n$body\n} catch (Exception e) {\nreturn false;\n}" else body}
           |}""".stripMargin)
    }
    val groups = stepFns.grouped(ScdReplayExec.Group).map { calls =>
      val fn = ctx.freshName("scdSteps")
      ctx.addNewFunction(fn,
        s"""private boolean $fn() {
           |${calls.map(c => s"if (!$c()) return false;").mkString("\n")}
           |return true;
           |}""".stripMargin)
    }.toSeq
    val replayFn = ctx.freshName("scdReplay")
    val replay = ctx.addNewFunction(replayFn,
      s"""private boolean $replayFn() {
         |${groups.map(c => s"if (!$c()) return false;").mkString("\n")}
         |return true;
         |}""".stripMargin)

    val load = in.indices.filter(state(_) != null).map { i =>
      s"${state(i).isNull} = ${input(i).isNull};\n${state(i).value} = ${input(i).value};"
    }.mkString("\n")
    val outVars = in.indices.map(i => if (state(i) != null) state(i) else input(i))
    val numOutput = metricTerm(ctx, "numOutputRows")
    val numUpdated = metricTerm(ctx, "numUpdated")
    val numDeleted = metricTerm(ctx, "numDeleted")
    if (dryRun) {
      val arr = ctx.freshName("scdFired")
      val firedVar = ExprCode(
        code"""org.apache.spark.sql.catalyst.util.ArrayData $arr =
              |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
              |  java.util.Arrays.copyOf($hits, $nHits));""".stripMargin,
        FalseLiteral, JavaCode.variable(arr, fired.head.dataType))
      s"""$load
         |$touched = false;
         |$nHits = 0;
         |if (!$replay()) $numDeleted.add(1);
         |else if ($touched) $numUpdated.add(1);
         |$numOutput.add(1);
         |${consume(ctx, outVars :+ firedVar)}""".stripMargin
    } else {
      // do/while(false): `continue` drops the row without leaving the
      // scan's loop (the FilterExec pattern)
      s"""do {
         |  $load
         |  $touched = false;
         |  if (!$replay()) {
         |    $numDeleted.add(1);
         |    continue;
         |  }
         |  if ($touched) $numUpdated.add(1);
         |  $numOutput.add(1);
         |  ${consume(ctx, outVars)}
         |} while (false);""".stripMargin
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ScdReplayExec =
    copy(child = newChild)
}

object ScdReplayExec {
  /** Statement methods called per generated group method. */
  val Group = 64
}
