package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.3) over the parser and the
  * compiled replay semantics. Uses scalacheck generators with
  * deterministic seeded sampling (the scalatest-plus bridge isn't in
  * the offline cache). */
class UpdatesPropertySpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  /** deterministic forAll: n samples from fixed seeds so failures
    * reproduce */
  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      val a = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      withClue(s"[seed=$i value=$a] ")(f(a))
    }

  // ---- generators ------------------------------------------------------

  private val genTime: Gen[Long] = Gen.chooseNum(0L, 4102444800000L)

  private val genSetExpr: Gen[String] = Gen.oneOf(
    Gen.const("a + 1"), Gen.const("b * 2"), Gen.const("7"),
    Gen.const("a - b"), Gen.const("'x--y'"), Gen.const("abs(b)"))

  private val genWhere: Gen[Option[String]] = Gen.option(Gen.oneOf(
    "a > 3", "b = 0", "a % 2 = 1", "a > 1 AND b < 5"))

  private val genUpdate: Gen[ScdUpdate] = for {
    nSets <- Gen.chooseNum(1, 2)
    cols <- Gen.pick(nSets, Seq("a", "b"))
    exprs <- Gen.listOfN(nSets, genSetExpr)
    where <- genWhere
    t <- genTime
  } yield ScdUpdate("tbl", cols.toSeq.distinct.zip(exprs), where, t)

  private val genDelete: Gen[ScdDelete] = for {
    where <- genWhere
    t <- genTime
  } yield ScdDelete("tbl", where, t)

  private val genStmt: Gen[ScdStatement] = Gen.oneOf(genUpdate, genDelete)

  private val genLog: Gen[List[ScdStatement]] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, genStmt))

  /** Render statements back to `.updates` text, each with an explicit
    * numeric time directive and random multi-line splitting. */
  private def render(stmts: Seq[ScdStatement], seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    stmts.map { s =>
      val sql = s match {
        case ScdUpdate(t, sets, where, _) =>
          s"UPDATE $t SET " +
            sets.map { case (c, e) => s"$c = $e" }.mkString(", ") +
            where.fold("")(w => s" WHERE $w") + ";"
        case ScdDelete(t, where, _) =>
          s"DELETE FROM $t" + where.fold("")(w => s" WHERE $w") + ";"
      }
      // random multi-line split at word boundaries
      val words = sql.split(" ")
      val lines = words.foldLeft(List(List.empty[String])) { (acc, w) =>
        if (rnd.nextDouble() < 0.25) List(w) :: acc
        else (acc.head :+ w) :: acc.tail
      }.reverse.map(_.mkString(" ")).filter(_.nonEmpty)
      s"-- time=${s.timeMillis}\n" + lines.mkString("\n")
    }.mkString("\n")
  }

  // ---- parser properties -----------------------------------------------

  test("property: render → parse roundtrips the statement list") {
    forAll(Gen.zip(genLog, Gen.long)) { case (stmts, seed) =>
      val parsed = UpdatesParser.parse(render(stmts, seed), Long.MaxValue)
      assert(parsed.statements == stmts)
    }
  }

  test("property: time gate retains exactly the <=T subsequence, in file order") {
    forAll(Gen.zip(genLog, Gen.long, genTime)) { case (stmts, seed, t) =>
      val parsed = UpdatesParser.parse(render(stmts, seed), t)
      assert(parsed.statements == stmts.filter(_.timeMillis <= t))
    }
  }

  test("property: scdTime = -1 retains nothing") {
    forAll(Gen.zip(genLog, Gen.long)) { case (stmts, seed) =>
      assert(UpdatesParser.parse(render(stmts, seed), ScdTime.Disabled).isEmpty)
    }
  }

  test("property: monotone scdTime ⇒ monotone retained set") {
    forAll(Gen.zip(genLog, Gen.long, genTime, genTime)) {
      case (stmts, seed, t1, t2) =>
        val (lo, hi) = if (t1 <= t2) (t1, t2) else (t2, t1)
        val text = render(stmts, seed)
        val atLo = UpdatesParser.parse(text, lo).statements
        val atHi = UpdatesParser.parse(text, hi).statements
        // everything retained at lo is retained at hi, same relative order
        assert(atHi.filter(_.timeMillis <= lo) == atLo)
        assert(atLo.size <= atHi.size)
    }
  }

  // ---- replay semantics vs a scala-level simulator ---------------------

  private val schema = StructType(Seq(
    StructField("a", IntegerType), StructField("b", IntegerType)))

  /** simulate one statement on (a, b) rows with the restricted
    * generator grammar above */
  private def evalExpr(e: String, a: Int, b: Int): Int = e match {
    case "a + 1" => a + 1
    case "b * 2" => b * 2
    case "7" => 7
    case "a - b" => a - b
    case "'x--y'" => sys.error("string into int column not simulated")
    case "abs(b)" => math.abs(b)
  }

  private def evalWhere(w: Option[String], a: Int, b: Int): Boolean = w match {
    case None => true
    case Some("a > 3") => a > 3
    case Some("b = 0") => b == 0
    case Some("a % 2 = 1") => a % 2 == 1
    case Some("a > 1 AND b < 5") => a > 1 && b < 5
    case Some(other) => sys.error(s"unsimulated: $other")
  }

  private def simulate(rows: Seq[(Int, Int)],
      stmts: Seq[ScdStatement]): Seq[(Int, Int)] =
    stmts.foldLeft(rows) { (rs, s) =>
      s match {
        case ScdUpdate(_, sets, where, _) =>
          rs.map { case (a, b) =>
            if (!evalWhere(where, a, b)) (a, b)
            else sets.foldLeft((a, b)) { case ((na, nb), (c, e)) =>
              // all RHS see PRE-statement values (a, b)
              val v = evalExpr(e, a, b)
              if (c == "a") (v, nb) else (na, v)
            }
          }
        case ScdDelete(_, where, _) =>
          rs.filterNot { case (a, b) => evalWhere(where, a, b) }
      }
    }

  private val genIntLog: Gen[List[ScdStatement]] = {
    val intExpr = Gen.oneOf("a + 1", "b * 2", "7", "a - b", "abs(b)")
    val upd = for {
      nSets <- Gen.chooseNum(1, 2)
      cols <- Gen.pick(nSets, Seq("a", "b"))
      exprs <- Gen.listOfN(nSets, intExpr)
      where <- genWhere
    } yield ScdUpdate("tbl", cols.toSeq.distinct.zip(exprs), where, 0L)
    val del = genWhere.map(w => ScdDelete("tbl", w, 0L))
    Gen.chooseNum(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(3 -> upd, 1 -> del)))
  }

  private val genRows: Gen[List[(Int, Int)]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(-5, 9), Gen.chooseNum(-5, 9))))

  test("property: compiled replay == scala simulator (sequential composition)") {
    forAll(Gen.zip(genRows, genIntLog), n = 15) { case (rows, stmts) =>
      val df = spark.createDataFrame(
        rows.map { case (a, b) => Row(a, b) }.asJava, schema)
      val got = ScdCompiler(df, stmts).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
      assert(got == simulate(rows, stmts).sorted)
    }
  }

  test("property: compat error policy ≡ default when no expression errors") {
    forAll(Gen.zip(genRows, genIntLog), n = 10) { case (rows, stmts) =>
      val df = spark.createDataFrame(
        rows.map { case (a, b) => Row(a, b) }.asJava, schema)
      val dflt = ScdCompiler(df, stmts).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
      val compat = ScdCompiler.compat(df, stmts).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
      assert(compat == dflt)
    }
  }

  test("property: interpreted replay (codegen off) == codegen'd replay, all three modes") {
    val errLog = Seq[ScdStatement](
      ScdUpdate("tbl", Seq("a" -> "10 div (b - 2)"), Some("a > 1"), 0L),
      ScdDelete("tbl", Some("10 div (a - 3) > 4"), 0L))
    forAll(Gen.zip(genRows, genIntLog), n = 10) { case (rows, stmts) =>
      val df = spark.createDataFrame(
        rows.map { case (a, b) => Row(a, b) }.asJava, schema)
      def run(): Seq[Seq[Seq[Any]]] =
        Seq(ScdCompiler(df, stmts), ScdCompiler.compat(df, stmts ++ errLog),
          ScdCompiler.stats(df, stmts).drop("verb"))
          .map(_.collect().map(_.toSeq).toSeq.sortBy(_.toString))
      val codegen = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = try run()
        finally spark.conf.unset("spark.sql.codegen.wholeStage")
      assert(interpreted == codegen)
      assert(codegen.head.map(r => (r(0), r(1))).sortBy(_.toString) ==
        simulate(rows, stmts).sortBy(_.toString))
    }
  }

  test("property: empty log is identity; unconditional DELETE empties") {
    forAll(genRows, n = 8) { rows =>
      val df = spark.createDataFrame(
        rows.map { case (a, b) => Row(a, b) }.asJava, schema)
      assert(ScdCompiler(df, Nil).collect().length == rows.size)
      assert(ScdCompiler(df, Seq(ScdDelete("t", None, 0L))).collect().isEmpty)
    }
  }
}
