package graft.scd

/** Parser for the `.updates` DML log — a semantic re-implementation of
  * the reference's line fold (SQLUpdater.java:54-159), no code shared.
  *
  * Grammar (reference README.md:127-144):
  *   - `-- time=<ts>` directive lines set the effective time for all
  *     FOLLOWING statements; the initial effective time is epoch 0
  *     (SQLUpdater.java:125); an empty value falls back to the query's
  *     scd.time (SQLUpdater.java:129); prefix match is case-insensitive
  *     (SQLUpdater.java:128) and must be at the start of the line.
  *   - statements may span lines; lines are joined with single spaces
  *     until a line ending in `;` (SQLUpdater.java:137-152); a dangling
  *     unterminated statement raises "Incomplete SQL in updates"
  *     (SQLUpdater.java:155-157).
  *   - trailing `-- comment` text is stripped. DIVERGENCE (documented,
  *     SURVEY.md §7.4.3): the reference's naive `indexOf("--")` also
  *     truncates inside string literals; we use a quote-aware scan so
  *     `WHERE name = 'a--b'` parses correctly. Set
  *     `strictCommentCompat = true` to reproduce the reference bug.
  *   - a statement is RETAINED iff its effective time <= scdTime; gating
  *     happens line-by-line during assembly, exactly like the reference
  *     (SQLUpdater.java:130), so `scdTime = -1` retains nothing.
  *   - verbs other than UPDATE / DELETE → "Unsupported DML"
  *     (SQLUpdater.java:62-63); statements must all target one table
  *     ("Multiple table names in DDL", SQLUpdater.java:65-69).
  */
object UpdatesParser {

  private val TimePrefix = "-- time="

  /** Parse + time-gate a `.updates` text. Statements come back in file
    * order with effective times attached. */
  def parse(text: String, scdTime: Long,
      strictCommentCompat: Boolean = false): ScdLog = {
    val raw = rawStatements(text, scdTime, strictCommentCompat)
    val stmts = raw.map { case (sql, t) => classify(sql, t) }
    ScdLog(singleTable(stmts), stmts)
  }

  /** The reference's one-table check (SQLUpdater.java:65-69): the one
    * table all `stmts` target (first spelling), None when empty. */
  private[scd] def singleTable(stmts: Seq[ScdStatement]): Option[String] =
    stmts.foldLeft(Option.empty[String]) {
      case (Some(t), s) if !t.equalsIgnoreCase(s.table) =>
        throw new IllegalStateException(
          s"Multiple table names in DDL: $t and ${s.table}")
      case (acc, s) => acc.orElse(Some(s.table))
    }

  /** The line fold: returns retained (statementSql, effectiveTimeMillis)
    * pairs in file order. */
  private[scd] def rawStatements(text: String, scdTime: Long,
      strictCommentCompat: Boolean): Seq[(String, Long)] =
    rawStatements(text, scdTime, strictCommentCompat, gateTime = scdTime)

  /** Variant with the retain gate decoupled from the empty-directive
    * fallback time: `scdTime` resolves `-- time=` (no value) lines,
    * `gateTime` decides retention — pass `Long.MaxValue` to enumerate
    * EVERY statement with its effective time (the log-truncation path
    * needs the full inventory, not the as-of subset). */
  private[scd] def rawStatements(text: String, scdTime: Long,
      strictCommentCompat: Boolean, gateTime: Long): Seq[(String, Long)] = {
    val out = Seq.newBuilder[(String, Long)]
    var currentTime = 0L
    var working: StringBuilder = null
    for (rawLine <- text.linesIterator) {
      if (rawLine.toLowerCase.startsWith(TimePrefix)) {
        currentTime =
          ScdTime.parse(rawLine.substring(TimePrefix.length), scdTime)
      } else if (currentTime <= gateTime) {
        var line = rawLine.trim
        val ci =
          if (strictCommentCompat) line.indexOf("--")
          else topLevelIndexOfComment(line)
        if (ci >= 0) line = line.substring(0, ci).trim
        if (line.nonEmpty) {
          if (!line.endsWith(";")) {
            if (working == null) working = new StringBuilder
            working.append(line).append(' ')
          } else {
            val full =
              if (working != null) { working.append(line); working.toString }
              else line
            out += ((full, currentTime))
            working = null
          }
        }
      }
    }
    if (working != null)
      throw new IllegalStateException(
        s"Incomplete SQL in updates: $working")
    out.result()
  }

  /** Classify one raw statement and split its clauses. */
  private[scd] def classify(sqlWithSemi: String, time: Long): ScdStatement = {
    val sql = sqlWithSemi.stripSuffix(";").trim
    val verb = firstWord(sql).toUpperCase
    verb match {
      case "UPDATE" => parseUpdate(sql, time)
      case "DELETE" => parseDelete(sql, time)
      case _ =>
        throw new IllegalStateException(s"Unsupported DML: $sqlWithSemi")
    }
  }

  private def parseUpdate(sql: String, time: Long): ScdUpdate = {
    val afterVerb = sql.substring(6).trim // drop UPDATE
    val (table, rest0) = takeWord(afterVerb)
    val setIdx = keywordIndex(rest0, "SET")
    require(setIdx >= 0, s"UPDATE without SET: $sql")
    val afterSet = rest0.substring(setIdx + 3)
    val whereIdx = keywordIndex(afterSet, "WHERE")
    val (setPart, wherePart) =
      if (whereIdx >= 0)
        (afterSet.substring(0, whereIdx),
          Some(afterSet.substring(whereIdx + 5).trim))
      else (afterSet, None)
    val sets = splitTopLevel(setPart, ',').map { a =>
      val eq = topLevelIndexOf(a, '=')
      require(eq > 0, s"Malformed SET assignment '$a' in: $sql")
      (a.substring(0, eq).trim, a.substring(eq + 1).trim)
    }
    require(sets.nonEmpty, s"UPDATE with empty SET list: $sql")
    ScdUpdate(table, sets, wherePart.filter(_.nonEmpty), time)
  }

  private def parseDelete(sql: String, time: Long): ScdDelete = {
    // reference splits on whitespace and takes token[2] as the table —
    // i.e. `DELETE FROM <t>` — without validating token[1]
    val afterVerb = sql.substring(6).trim
    val (kw, rest0) = takeWord(afterVerb)
    require(kw.equalsIgnoreCase("FROM"), s"DELETE without FROM: $sql")
    val (table, rest1) = takeWord(rest0)
    val whereIdx = keywordIndex(rest1, "WHERE")
    val where =
      if (whereIdx >= 0) Some(rest1.substring(whereIdx + 5).trim).filter(_.nonEmpty)
      else None
    ScdDelete(table, where, time)
  }

  // ---- quote/paren-aware scanning helpers -------------------------------

  private def firstWord(s: String): String = takeWord(s)._1

  private def takeWord(s: String): (String, String) = {
    val t = s.trim
    val i = t.indexWhere(_.isWhitespace)
    if (i < 0) (t, "") else (t.substring(0, i), t.substring(i + 1))
  }

  private def isWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_' || c == '$'

  /** Index of `kw` as a standalone word at paren-depth 0 outside string
    * literals, case-insensitive; -1 if absent. */
  private[scd] def keywordIndex(s: String, kw: String): Int = {
    var i = 0; var depth = 0; var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
            (i == 0 || !isWordChar(s.charAt(i - 1))) &&
            (i + kw.length >= s.length || !isWordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** First `--` at depth 0 outside string literals; -1 if none. */
  private def topLevelIndexOfComment(s: String): Int = {
    var i = 0; var inQ = false
    while (i < s.length - 1) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (c == '\'') inQ = true
      else if (c == '-' && s.charAt(i + 1) == '-') return i
      i += 1
    }
    -1
  }

  private[scd] def topLevelIndexOf(s: String, target: Char): Int = {
    var i = 0; var depth = 0; var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case x if x == target && depth == 0 => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  private[scd] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var start = 0; var i = 0; var depth = 0; var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case x if x == sep && depth == 0 =>
          parts += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    parts += s.substring(start)
    parts.result().map(_.trim).filter(_.nonEmpty)
  }
}
