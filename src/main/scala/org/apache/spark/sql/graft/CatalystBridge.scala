package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.TryEval
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, SparkSession}

/** Minimal access shim into `private[sql]` Catalyst plumbing (hence the
  * `org.apache.spark.sql` subpackage — the standard extension-library
  * pattern): graft's native expressions as Columns and SQL functions.
  */
object CatalystBridge {

  /** `TryEval(e)`: evaluate `e`, yielding NULL instead of raising on
    * any runtime error — codegen-friendly (TryEval has doGenCode).
    * Spark has `try_add`/`try_divide`/… but no GENERIC try-wrapper in
    * the public API; Catalyst's `TryEval` is exactly that. */
  def tryEval(c: Column): Column =
    ExpressionUtils.column(TryEval(ExpressionUtils.expression(c)))

  /** Native codegen'd Σ aᵢ·bᵢ (see graft.functions.expressions
    * [[graft.functions.expressions.DotProduct]]). */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Per-ROW bloom membership test over a manifest of serialized
    * blooms (see [[graft.functions.expressions.BloomContains]] — the
    * per-FILE index probe Spark's own `might_contain` cannot express). */
  def bloomContains(bloomBytes: Column, hashed: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.BloomContains(
      ExpressionUtils.expression(bloomBytes),
      ExpressionUtils.expression(hashed)))

  /** Batched per-row bloom probe: ANY of the hashes, one
    * deserialization per row (see
    * [[graft.functions.expressions.BloomContainsAny]]). */
  def bloomContainsAny(bloomBytes: Column, hashes: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.BloomContainsAny(
      ExpressionUtils.expression(bloomBytes),
      ExpressionUtils.expression(hashes)))

  /** Native one-pass winnowing fingerprint (see
    * [[graft.functions.expressions.WinnowMin]]). */
  def winnowMin(text: Column, k: Int, stride: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.WinnowMin(
      ExpressionUtils.expression(text), k, stride))

  /** Native md5 hash fraction (see
    * [[graft.functions.expressions.Md5Fraction]]). */
  def md5Fraction(c: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.Md5Fraction(
      ExpressionUtils.expression(c)))

  /** Native thread-local-digest md5 hex (see
    * [[graft.functions.expressions.Md5Hex]]). */
  def md5Hex(c: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.Md5Hex(
      ExpressionUtils.expression(c)))

  /** Native Unicode normalization (see
    * [[graft.functions.expressions.UnicodeNormalize]]). */
  def unicodeNormalize(c: Column, form: java.text.Normalizer.Form): Column =
    ExpressionUtils.column(graft.functions.expressions.UnicodeNormalize(
      ExpressionUtils.expression(c), form))

  /** Native DEFLATE-compressed byte length (see
    * [[graft.functions.expressions.DeflateLen]]). */
  def deflateLen(c: Column, level: Int = 6): Column =
    ExpressionUtils.column(graft.functions.expressions.DeflateLen(
      ExpressionUtils.expression(c), level))

  /** GPT-2 byte→unicode alphabet map (see
    * [[graft.functions.expressions.ByteLevelChars]]). */
  def byteLevelChars(c: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.ByteLevelChars(
      ExpressionUtils.expression(c)))

  /** Native order-preserving radix cell prefix of a double (see
    * [[graft.functions.expressions.RadixPrefix]]). */
  def radixPrefix(d: Column, bits: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.RadixPrefix(
      ExpressionUtils.expression(d), bits))

  /** Native rank-anchored grid cell (see
    * [[graft.functions.expressions.GridCell]]). */
  def gridCell(k: Column, cuts: Array[Double], pLo: Double, pHi: Double,
      fine: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.GridCell(
      ExpressionUtils.expression(k), cuts, pLo, pHi, fine))

  /** Native Luhn mod-10 checksum test (see
    * [[graft.functions.expressions.LuhnValid]]). */
  def luhnValid(c: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.LuhnValid(
      ExpressionUtils.expression(c)))

  /** Native IBAN mod-97 checksum test (see
    * [[graft.functions.expressions.IbanValid]]). */
  def ibanValid(c: Column): Column =
    ExpressionUtils.column(graft.functions.expressions.IbanValid(
      ExpressionUtils.expression(c)))

  /** Native content-defined chunking over a binary column (see
    * [[graft.functions.expressions.GearChunks]]). */
  def gearChunks(bin: Column, maskBits: Int, minLen: Int,
      maxLen: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.GearChunks(
      ExpressionUtils.expression(bin), maskBits, minLen, maxLen))

  /** Native greedy longest-match wordpiece segmentation against a
    * fixed vocabulary (see
    * [[graft.functions.expressions.WordpieceSegment]]). */
  def wordpieceSegment(text: Column, vocab: Seq[String]): Column =
    ExpressionUtils.column(graft.functions.expressions.WordpieceSegment(
      ExpressionUtils.expression(text), vocab))

  /** Native unigram-LM Viterbi segmentation of one word against a
    * fixed scored piece table (see
    * [[graft.functions.expressions.UnigramSegment]]). */
  def unigramSegment(word: Column, vocab: Seq[(String, Long)],
      oovCostMicro: Long): Column =
    ExpressionUtils.column(graft.functions.expressions.UnigramSegment(
      ExpressionUtils.expression(word), vocab, oovCostMicro))

  /** Native whole-merge-list BPE inference for one word (see
    * [[graft.functions.expressions.BpeApplyAll]]). */
  def bpeApplyAll(word: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(graft.functions.expressions.BpeApplyAll(
      ExpressionUtils.expression(word), merges))

  /** Native PQ asymmetric-distance sum (see
    * [[graft.functions.expressions.AdcDistance]]). */
  def adcDistance(dt: Column, codes: Column, m: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.AdcDistance(
      ExpressionUtils.expression(dt), ExpressionUtils.expression(codes), m))

  /** Native SQ8 asymmetric distance (see
    * [[graft.functions.expressions.SqDistance]]). */
  def sqDistance(grid: Column, codes: Column, qv: Column,
      dim: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.SqDistance(
      ExpressionUtils.expression(grid), ExpressionUtils.expression(codes),
      ExpressionUtils.expression(qv), dim))

  /** Native all-subspace PQ code assignment (see
    * [[graft.functions.expressions.PqNearestCodes]]). */
  def pqNearestCodes(cb: Column, v: Column, m: Int, k: Int,
      dsub: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.PqNearestCodes(
      ExpressionUtils.expression(cb), ExpressionUtils.expression(v),
      m, k, dsub))

  /** Native single-subspace PQ code assignment (see
    * [[graft.functions.expressions.PqNearestCode]]). */
  def pqNearestCode(cb: Column, sv: Column, sub: Column, k: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.PqNearestCode(
      ExpressionUtils.expression(cb), ExpressionUtils.expression(sv),
      ExpressionUtils.expression(sub), k))

  /** Native per-row DSIR importance score against a fixed full-table
    * scorer (see [[graft.functions.expressions.DsirScore]]). */
  def dsirScore(textLower: Column,
      scorer: graft.functions.expressions.DsirScorer): Column =
    ExpressionUtils.column(graft.functions.expressions.DsirScore(
      ExpressionUtils.expression(textLower), scorer))

  /** Misra–Gries heavy-hitters aggregate: bounded k-entry state per
    * partial, mergeable (see
    * [[graft.functions.expressions.MisraGries]]). */
  def freqItems(c: Column, k: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.MisraGries(
      ExpressionUtils.expression(c), k).toAggregateExpression())

  /** Count-Min sketch aggregate: fixed depth×width long grid,
    * order-independent (pure per-cell sums, md5-cell assignment),
    * merges by pointwise addition (see
    * [[graft.functions.expressions.CountMin]]). */
  def countMin(c: Column, depth: Int, width: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.CountMin(
      ExpressionUtils.expression(c), depth, width).toAggregateExpression())

  /** Bounded per-group top-k aggregate over an orderable struct
    * (score first, tie-breaks after) — the map-side-combinable
    * replacement for window-rank top-N (see
    * [[graft.functions.expressions.BoundedTopK]]). */
  def topK(c: Column, k: Int): Column =
    ExpressionUtils.column(graft.functions.expressions.BoundedTopK(
      ExpressionUtils.expression(c), k).toAggregateExpression())

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** SQL-function descriptor for `dot_product`, consumed by
    * `SparkSessionExtensions.injectFunction`. */
  val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.DotProduct].getName, "dot_product"),
    (args: Seq[Expression]) => {
      require(args.length == 2, s"dot_product takes 2 arguments, got ${args.length}")
      graft.functions.expressions.DotProduct(args.head, args(1))
    })

  /** `unicode_normalize(s, 'NFC')` — Unicode normalization; the form
    * must be a string literal naming a `java.text.Normalizer.Form`. */
  val unicodeNormalizeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("unicode_normalize"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.UnicodeNormalize].getName,
      "unicode_normalize"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"unicode_normalize takes (text, form), got ${args.length} args")
      val form = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null =>
          java.text.Normalizer.Form.valueOf(v.toString.toUpperCase)
        case other => throw new IllegalArgumentException(
          s"unicode_normalize: form must be a string literal, got $other")
      }
      graft.functions.expressions.UnicodeNormalize(args.head, form)
    })

  /** `md5_fraction(s)` — the deterministic hash-randomness source. */
  val md5FractionDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("md5_fraction"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.Md5Fraction].getName, "md5_fraction"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        s"md5_fraction takes 1 argument, got ${args.length}")
      graft.functions.expressions.Md5Fraction(args.head)
    })

  /** `winnow_min(s, k, stride)` — the winnowing fingerprint (k and
    * stride must be integer literals). */
  val winnowMinDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("winnow_min"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.WinnowMin].getName, "winnow_min"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"winnow_min takes (text, k, stride), got ${args.length} args")
      def intLit(e: Expression, name: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"winnow_min: $name must be an integer literal, got $other")
      }
      graft.functions.expressions.WinnowMin(args.head,
        intLit(args(1), "k"), intLit(args(2), "stride"))
    })

  /** `deflate_len(payload[, level])` — DEFLATE-compressed byte length
    * (level an integer literal in [1, 9], default 6). */
  val deflateLenDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("deflate_len"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.DeflateLen].getName, "deflate_len"),
    (args: Seq[Expression]) => {
      require(args.length == 1 || args.length == 2,
        s"deflate_len takes (payload[, level]), got ${args.length} args")
      val level = if (args.length < 2) 6 else args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"deflate_len: level must be an integer literal, got $other")
      }
      graft.functions.expressions.DeflateLen(args.head, level)
    })

  /** Column tree → analyzable Catalyst Expression. The thin
    * `ExpressionUtils.expression` wrapper is NOT enough for function
    * builders: it leaves a lazy ColumnNodeExpression whose inner
    * UnresolvedFunctions the analyzer never visits (they surface as
    * INTERNAL_ERROR at codegen). The full converter lowers the node
    * tree to real Catalyst nodes that resolve like any parsed SQL. */
  private def lower(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `simhash64(text)` — the packed-long 64-bit SimHash signature
    * (identical to [[graft.operators.Dedup.simHashColumn]]; a SQL
    * macro expanding to the per-row expression form, so plain-SQL
    * users — the reference's own audience — can sign and band without
    * the DataFrame API). */
  val simhash64Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo("graft.operators.Dedup", "simhash64"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        s"simhash64 takes 1 argument, got ${args.length}")
      lower(graft.operators.Dedup.simHashColumn(
        ExpressionUtils.column(args.head)))
    })

  /** `hamming64(a, b)` — XOR + popcount distance between two packed
    * signature longs. */
  val hamming64Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hamming64"),
    new ExpressionInfo("graft.operators.Dedup", "hamming64"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"hamming64 takes 2 arguments, got ${args.length}")
      lower(graft.operators.Dedup.hamming(
        ExpressionUtils.column(args.head), ExpressionUtils.column(args(1))))
    })

  /** Bloom-filter aggregate over pre-hashed (xxhash64) long values —
    * Catalyst's `BloomFilterAggregate`, the mergeable-partials sketch
    * Spark's own `InjectRuntimeFilter` builds for runtime row-level
    * pruning; there is no public `functions._` surface for it. */
  def bloomFilterAgg(hashed: Column, expectedItems: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(ExpressionUtils.expression(hashed),
          expectedItems).toAggregateExpression())

  /** `might_contain(bloom, xxhash64Value)` — the probe-side test for
    * [[bloomFilterAgg]]'s sketch. The bloom side must be foldable or a
    * scalar subquery ([[scalarSubquery]]). */
  def bloomMightContain(bloom: Column, hashed: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ExpressionUtils.expression(bloom),
        ExpressionUtils.expression(hashed)))

  /** A one-row/one-column `df` as a scalar-subquery expression usable
    * inside another Dataset's filter/select — the shape Spark's
    * runtime-filter rule emits (the subquery executes once, its value
    * is then available to every task). */
  def scalarSubquery(df: org.apache.spark.sql.Dataset[_]): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        df.queryExecution.analyzed))

  /** `freq_items(s, k)` — the Misra–Gries heavy-hitters aggregate in
    * plain SQL (k must be an integer literal). The analyzer wraps the
    * raw AggregateFunction, as with any built-in aggregate. */
  val freqItemsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_items"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.MisraGries].getName, "freq_items"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"freq_items takes (column, k), got ${args.length} args")
      val k = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"freq_items: k must be an integer literal, got $other")
      }
      graft.functions.expressions.MisraGries(args.head, k)
    })

  /** `count_min(s, depth, width)` — the Count-Min sketch aggregate in
    * plain SQL (depth and width must be integer literals). */
  val countMinDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("count_min"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.CountMin].getName, "count_min"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"count_min takes (column, depth, width), got ${args.length} args")
      def intLit(e: Expression, name: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"count_min: $name must be an integer literal, got $other")
      }
      graft.functions.expressions.CountMin(args.head,
        intLit(args(1), "depth"), intLit(args(2), "width"))
    })

  /** `top_k(struct_col, k)` — bounded per-group top-k in plain SQL
    * (k must be an integer literal). */
  val topKDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("top_k"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.BoundedTopK].getName, "top_k"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"top_k takes (struct, k), got ${args.length} args")
      val k = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"top_k: k must be an integer literal, got $other")
      }
      graft.functions.expressions.BoundedTopK(args.head, k)
    })

  /** Shared plan-time extraction for SQL-facing piece tables: a
    * FOLDABLE array argument (an array literal or anything constant
    * folding collapses) evaluated once at analysis — NULL elements
    * and per-row (non-foldable) arrays rejected with the function's
    * own name in the message. */
  private def foldArray(fn: String, e: Expression,
      et: org.apache.spark.sql.types.DataType,
      what: String): Array[AnyRef] = e match {
    case f if f.foldable && (f.dataType match {
          case org.apache.spark.sql.types.ArrayType(t, _) => t == et
          case _ => false
        }) =>
      f.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          a.toObjectArray(et).map {
            case null => throw new IllegalArgumentException(
              s"$fn: $what array must not contain NULL")
            case v => v
          }
        case _ => throw new IllegalArgumentException(
          s"$fn: $what array evaluated to NULL")
      }
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a foldable array of " +
        s"${et.catalogString}, got $other")
  }

  private def foldStringArray(fn: String, e: Expression,
      what: String): Seq[String] =
    foldArray(fn, e, org.apache.spark.sql.types.StringType, what)
      .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString).toSeq

  /** Long array, with the natural `array(3, 3)` int spelling widened
    * instead of rejected. */
  private def foldLongArray(fn: String, e: Expression,
      what: String): Seq[Long] = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, _) =>
      foldArray(fn, e, org.apache.spark.sql.types.IntegerType, what)
        .map(_.asInstanceOf[java.lang.Integer].longValue()).toSeq
    case _ =>
      foldArray(fn, e, org.apache.spark.sql.types.LongType, what)
        .map(_.asInstanceOf[java.lang.Long].longValue()).toSeq
  }

  /** `wordpiece(text, array('piece', ...))` — greedy longest-match
    * segmentation in plain SQL. The vocab must be a foldable
    * array<string> (an array literal or anything constant-folded to
    * one): the trie is built once at plan time, not per row. */
  val wordpieceDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("wordpiece"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.WordpieceSegment].getName,
      "wordpiece"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"wordpiece takes (text, vocab_array), got ${args.length} args")
      graft.functions.expressions.WordpieceSegment(args.head,
        foldStringArray("wordpiece", args(1), "vocab"))
    })

  /** `unigram_segment(word, array(pieces...), array(costs...)
    * [, oov_cost])` — minimum-cost unigram-LM Viterbi segmentation in
    * plain SQL (the [[wordpieceDescriptor]] twin for the trained
    * tokenizer family). Both arrays must be foldable and equal-length:
    * piece i costs costs[i] micro-nats (int literals widen); the
    * optional 4th arg — any foldable integer expression — overrides
    * the OOV single-codepoint fallback cost. */
  val unigramSegmentDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("unigram_segment"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.UnigramSegment].getName,
      "unigram_segment"),
    (args: Seq[Expression]) => {
      require(args.length == 3 || args.length == 4,
        s"unigram_segment takes (word, pieces, costs [, oov_cost]), " +
          s"got ${args.length} args")
      val pieces = foldStringArray("unigram_segment", args(1), "pieces")
      val costs = foldLongArray("unigram_segment", args(2), "costs")
      require(pieces.length == costs.length,
        s"unigram_segment: ${pieces.length} pieces vs " +
          s"${costs.length} costs")
      // same foldable contract as the arrays (a bare literal is just
      // the common case of a foldable integer expression)
      val oov = args.lift(3).map { e =>
        val ok = e.foldable && (e.dataType ==
          org.apache.spark.sql.types.LongType ||
          e.dataType == org.apache.spark.sql.types.IntegerType)
        if (!ok) throw new IllegalArgumentException(
          s"unigram_segment: oov_cost must be a foldable integer, " +
            s"got $e")
        e.eval() match {
          case v: java.lang.Long => v.longValue()
          case v: java.lang.Integer => v.longValue()
          case null => throw new IllegalArgumentException(
            "unigram_segment: oov_cost evaluated to NULL")
        }
      }.getOrElse(graft.operators.UnigramTokenizer.OovCostMicro)
      graft.functions.expressions.UnigramSegment(args.head,
        pieces.zip(costs), oov)
    })

  /** The catalyst expression behind a Column — for tests and
    * diagnostics outside the org.apache.spark.sql package. */
  def expressionOf(c: Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** Derive a zone-map `keep` predicate FROM a row-level residual
    * filter's expression tree — the translation behind
    * `Layout.skipScanAuto`, so callers write ONE predicate and the
    * manifest probe falls out. Sound by construction: every
    * translation is an over-approximation (a file is kept whenever the
    * residual COULD match a row in it), and any conjunct the walker
    * doesn't understand folds to `keep = true` for that term —
    * unknown predicates cost I/O, never rows. Handled shapes (both
    * operand orders): =, <=>, <, <=, >, >=, IN, BETWEEN (arrives as
    * And(>=, <=)), IS NULL / IS NOT NULL, AND, OR. Supported only for
    * columns whose `<c>_min`/`<c>_max` (and `<c>_nulls` for the null
    * probes) exist in the manifest — `stat`/`nulls` report that;
    * `hasRows` gates the IS-NOT-NULL all-null-file skip on the `rows`
    * column.
    *
    * The residual must be UNANALYZED column algebra over the data
    * schema (the normal `col("k") > lit(5)` shape) — attribute nodes
    * are matched by name. */
  def manifestKeep(residual: Column, stat: String => Boolean,
      nulls: String => Boolean, hasRows: Boolean): Column = {
    import org.apache.spark.sql.internal.{ColumnNode, UnresolvedFunction, UnresolvedAttribute, Literal => NLit}
    object C { // a manifest-covered data column
      def unapply(n: ColumnNode): Option[String] = n match {
        case u: UnresolvedAttribute
            if u.nameParts.length == 1 && stat(u.nameParts.head) =>
          Some(u.nameParts.head)
        case _ => None
      }
    }
    object L { // a non-null literal, rewrapped as a Column
      def unapply(n: ColumnNode): Option[Column] = n match {
        case l: NLit if l.value != null => Some(Column(l))
        case _ => None
      }
    }
    object NullLit {
      def unapply(n: ColumnNode): Boolean = n match {
        case l: NLit => l.value == null
        case _ => false
      }
    }
    object F { // an UnresolvedFunction as (lowercased name, args)
      def unapply(n: ColumnNode): Option[(String, Seq[ColumnNode])] =
        n match {
          case f: UnresolvedFunction => Some((
            f.functionName.toLowerCase(java.util.Locale.ROOT),
            f.arguments))
          case _ => None
        }
    }
    def lo(c: String) = col(s"${c}_min")
    def hi(c: String) = col(s"${c}_max")
    // skipping only on a PROVABLE non-match: a comparison that yields
    // NULL or ERRORS proves nothing (all-NULL file stats; a
    // cross-type probe — string stats vs a numeric literal — is a
    // NULL cast pre-ANSI and a raise under ANSI), so every term is
    // "NOT provably disjoint" via tryEval, with the all-NULL case
    // skipped through the null COUNTS when the manifest carries them.
    // One asymmetry, documented: a file whose castable min/max prove
    // disjointness is skipped even if an interior row would fail the
    // row-level ANSI cast — the pruned scan can SUCCEED where the
    // full scan would raise; it can never return different rows.
    def notAllNull(c: String) =
      if (nulls(c) && hasRows) col(s"${c}_nulls") < col("rows")
      else lit(true)
    def prove(disjoint: Column) = !coalesce(tryEval(disjoint), lit(false))
    def eq(c: String, v: Column) =
      prove(lo(c) > v) && prove(hi(c) < v) && notAllNull(c)
    def rangeK(c: String, a: Column, b: Column) =
      prove(lo(c) > b) && prove(hi(c) < a) && notAllNull(c)
    def nullsKeep(c: String) =
      if (nulls(c)) col(s"${c}_nulls") > 0 else lit(true)
    def walk(n: ColumnNode): Column = n match {
      case F("and", Seq(a, b)) => walk(a) && walk(b)
      case F("or", Seq(a, b)) => walk(a) || walk(b)
      case F("=" | "==", Seq(C(c), L(v))) => eq(c, v)
      case F("=" | "==", Seq(L(v), C(c))) => eq(c, v)
      case F("<=>", Seq(C(c), L(v))) => eq(c, v)
      case F("<=>", Seq(L(v), C(c))) => eq(c, v)
      case F("<=>", Seq(C(c), NullLit())) => nullsKeep(c)
      case F("<=>", Seq(NullLit(), C(c))) => nullsKeep(c)
      case F(">", Seq(C(c), L(v))) => prove(hi(c) <= v) && notAllNull(c)
      case F(">", Seq(L(v), C(c))) => prove(lo(c) >= v) && notAllNull(c)
      case F(">=", Seq(C(c), L(v))) => prove(hi(c) < v) && notAllNull(c)
      case F(">=", Seq(L(v), C(c))) => prove(lo(c) > v) && notAllNull(c)
      case F("<", Seq(C(c), L(v))) => prove(lo(c) >= v) && notAllNull(c)
      case F("<", Seq(L(v), C(c))) => prove(hi(c) <= v) && notAllNull(c)
      case F("<=", Seq(C(c), L(v))) => prove(lo(c) > v) && notAllNull(c)
      case F("<=", Seq(L(v), C(c))) => prove(hi(c) < v) && notAllNull(c)
      case F("in", C(c) +: vs)
          if vs.nonEmpty && vs.forall(L.unapply(_).isDefined) =>
        vs.map(v => eq(c, L.unapply(v).get)).reduce(_ || _)
      case F("isnull", Seq(C(c))) => nullsKeep(c)
      case F("isnotnull", Seq(C(c))) => notAllNull(c)
      case F("between", Seq(C(c), L(a), L(b))) => rangeK(c, a, b)
      case _ => lit(true) // unknown term: keep — I/O, never rows
    }
    walk(residual.node)
  }

  /** `bpe_apply(word, array(lhs...), array(rhs...))` — whole-merge-list
    * BPE inference in plain SQL (the [[wordpieceDescriptor]] twin for
    * the trained-BPE serving path). Both arrays must be foldable,
    * equal-length, and pair up in TRAINING ORDER: rule i merges
    * (lhs[i], rhs[i]). */
  val bpeApplyDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_apply"),
    new ExpressionInfo(
      classOf[graft.functions.expressions.BpeApplyAll].getName,
      "bpe_apply"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"bpe_apply takes (word, lhs_array, rhs_array), got ${args.length} args")
      val lhs = foldStringArray("bpe_apply", args(1), "lhs")
      val rhs = foldStringArray("bpe_apply", args(2), "rhs")
      require(lhs.length == rhs.length,
        s"bpe_apply: ${lhs.length} lhs vs ${rhs.length} rhs")
      graft.functions.expressions.BpeApplyAll(args.head, lhs.zip(rhs))
    })

  /** `bloom_contains(bloom, xxhash64(v))` — SQL probe for the per-file
    * bloom manifests `CALL graft.bloom_manifest(...)` builds, so file
    * skipping composes in pure SQL: filter the manifest, read the
    * surviving paths. */
  val bloomContainsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_contains"),
    new ExpressionInfo("graft.functions.expressions.BloomContains",
      "bloom_contains"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"bloom_contains takes 2 arguments, got ${args.length}")
      graft.functions.expressions.BloomContains(args.head, args(1))
    })

  /** `luhn_valid(s)` — the payment-card mod-10 checksum as a SQL
    * function, so pure-SQL PII audits validate candidates the same
    * way [[graft.operators.TextAnalysis.piiAudit]] does. */
  val luhnValidDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("luhn_valid"),
    new ExpressionInfo("graft.functions.expressions.LuhnValid",
      "luhn_valid"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        s"luhn_valid takes 1 argument, got ${args.length}")
      graft.functions.expressions.LuhnValid(args.head)
    })

  /** `iban_valid(s)` — the ISO 13616 mod-97 checksum as a SQL
    * function, the bank-account sibling of `luhn_valid`. */
  val ibanValidDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("iban_valid"),
    new ExpressionInfo("graft.functions.expressions.IbanValid",
      "iban_valid"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        s"iban_valid takes 1 argument, got ${args.length}")
      graft.functions.expressions.IbanValid(args.head)
    })

  /** `hdr_key(x, subBits)` — the log-linear quantile-sketch bucket key
    * ([[graft.operators.Sketch.hdrKey]]) as a SQL function, so
    * pure-SQL pipelines histogram with the same integer bucketing the
    * `CALL graft.hdr_index` artifact uses. `subBits` must be an
    * integer literal (it shapes the expression tree at resolution
    * time, like winnow_min's k/stride). */
  val hdrKeyDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hdr_key"),
    new ExpressionInfo("graft.operators.Sketch", "hdr_key"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"hdr_key takes (x, subBits), got ${args.length} args")
      val bits = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"hdr_key: subBits must be an integer literal, got $other")
      }
      require(bits >= 1 && bits <= 20,
        s"hdr_key: subBits must be in [1,20], got $bits")
      // the catalyst tree mirroring Sketch.hdrKey exactly (built
      // directly — a Column wrapper would arrive as an unresolvable
      // ColumnNodeExpression in the function-registry path)
      import org.apache.spark.sql.catalyst.expressions.{Add, Bin, CaseWhen, Cast, Length, LessThan, Literal, Multiply, ShiftRight, Subtract}
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val x = Cast(args.head, LongType)
      val e = Cast(Subtract(Length(Bin(x)), Literal(1)), IntegerType)
      val s = Subtract(e, Literal(bits))
      val big = Add(
        Cast(ShiftRight(x, s), LongType),
        Multiply(Cast(s, LongType), Literal(1L << bits)))
      CaseWhen(Seq(
        (LessThan(x, Literal(0L)), Literal(null, LongType)),
        (LessThan(x, Literal(1L << bits)), x)), Some(big))
    })

  private def allDescriptors = Seq(
    dotProductDescriptor, md5FractionDescriptor, winnowMinDescriptor,
    simhash64Descriptor, hamming64Descriptor, freqItemsDescriptor,
    countMinDescriptor, topKDescriptor, wordpieceDescriptor,
    unigramSegmentDescriptor, bpeApplyDescriptor,
    deflateLenDescriptor, unicodeNormalizeDescriptor,
    bloomContainsDescriptor, hdrKeyDescriptor, luhnValidDescriptor,
    ibanValidDescriptor)

  /** Imperative registration on an existing session (the builder-time
    * path is `withExtensions(new graft.GraftExtensions)`). */
  def registerFunctions(spark: SparkSession): Unit =
    allDescriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** All function descriptors, for `injectFunction`. */
  def functionDescriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    allDescriptors
}
