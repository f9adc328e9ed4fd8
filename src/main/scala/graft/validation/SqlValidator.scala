package graft.validation

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedHaving, UnresolvedInlineTable, UnresolvedRelation, UnresolvedSubqueryColumnAliases, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical._

/** The relay's SQL admission gate (R1, `core/src/execute/validation.rs`):
  * read-only, exactly one statement, exactly one Entity, construct whitelist.
  *
  * Parsing is done with Spark's own parser instead of sqlparser-rs, so the
  * whitelist is enforced *semantically* on the unresolved `LogicalPlan`
  * (SURVEY §7.4): constructs the reference rejects either fail Spark's parse
  * ("sqlparser syntax error: ...") or are rejected by the plan walker with
  * the reference's message. The three golden negatives reproduce the
  * reference's exact error strings
  * (`core/src/execute/validation.rs:579-653`).
  */
object SqlValidator {
  val MaxQueryLength: Int = 1000000

  final case class InvalidQuery(msg: String)
      extends Exception(s"invalid query: $msg")

  /** `SIMILAR TO` -> `RLIKE` translation (SURVEY §2.2): the reference's
    * sqlparser accepts SIMILAR TO (`validation.rs:152-163`) but Spark's
    * grammar has no such predicate. SQL:2016 SIMILAR TO patterns are
    * regex-like already (| * + ? () [] {} pass through); `%` -> `.*`,
    * `_` -> `.` (unescaped occurrences), anchored both ends. */
  private[validation] def translateSimilarTo(sql: String): String = {
    val p = java.util.regex.Pattern.compile(
      "(?i)\\b(NOT\\s+)?SIMILAR\\s+TO\\s+'([^']*)'")
    val m = p.matcher(sql)
    val out = new StringBuffer
    while (m.find()) {
      val neg = Option(m.group(1)).map(_ => "NOT ").getOrElse("")
      val pat = m.group(2)
        .replaceAll("(?<!\\\\)%", ".*")
        .replaceAll("(?<!\\\\)_", ".")
      m.appendReplacement(out,
        java.util.regex.Matcher.quoteReplacement(s"${neg}RLIKE '^(?:$pat)$$'"))
    }
    m.appendTail(out)
    out.toString
  }

  /** Index just past the closing quote of the string literal opening at
    * `start` (s(start) is ' or "): Spark's default lexing — BOTH quote
    * chars delimit string literals and backslash escapes the next char
    * (escapedStringLiterals=false, the default everywhere this engine
    * runs). Returns s.length when unterminated. Shared by every bridge
    * scanner so none can disagree about where literal data lives. */
  private def literalEnd(s: String, start: Int): Int = {
    val q = s.charAt(start)
    var i = start + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == q) return i + 1
      else i += 1
    }
    s.length
  }

  /** Apply `f` only OUTSIDE string literals (single- OR double-quoted,
    * backslash-escape-aware — [[literalEnd]]): the text splits at quote
    * boundaries, non-literal segments map through `f`, literal bytes pass
    * through untouched (a SQL phrase cannot span a literal boundary, so
    * segment-local rewriting is lossless). Keeps every bridge from
    * corrupting user data the way an unguarded replaceAll would — the
    * same literal-safety contract the {}-brace golden pins for validation
    * itself. */
  private def mapOutsideLiterals(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        out.append(f(seg.toString)); seg.clear()
        val end = literalEnd(sql, i)
        out.append(sql.substring(i, end))
        i = end
      } else { seg += c; i += 1 }
    }
    out.append(f(seg.toString))
    out.toString
  }

  /** First index of `word` (case-insensitive, word-boundaried) at paren
    * depth 0 outside string literals, or -1. The scanner the rewrite
    * bridges use to find CLAUSE keywords — a regex would also match the
    * same token inside a subquery or a literal. */
  private def findTopLevel(s: String, word: String, from: Int = 0): Int = {
    var depth = 0
    var i = from
    def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\'' | '"' => i = literalEnd(s, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, word, 0, word.length) &&
              (i == 0 || !isIdent(s.charAt(i - 1))) &&
              (i + word.length >= s.length || !isIdent(s.charAt(i + word.length))))
            return i
      }
      i += 1
    }
    -1
  }

  private def hasTopLevel(s: String, words: Seq[String]): Boolean =
    words.exists(findTopLevel(s, _) >= 0)

  private def containsOutsideLiterals(s: String, ch: Char): Boolean = {
    var found = false
    mapOutsideLiterals(s) { seg =>
      if (seg.indexOf(ch.toInt) >= 0) found = true; seg
    }
    found
  }

  /** `TOP n` -> trailing `LIMIT n` (the T-SQL quantity form the
    * reference's sqlparser accepts, `validation.rs:423-427`): Spark's
    * grammar has no TOP token, so a user porting reference-accepted SQL
    * hit a parse error before this bridge. Handles `TOP n` / `TOP (n)`
    * after `SELECT [DISTINCT]`; the `PERCENT` / `WITH TIES` variants have
    * no LIMIT equivalent and fall through to the parser's error — as does
    * any statement with a top-level set operation or a stray ';', where a
    * trailing LIMIT would bind to the whole union instead of TOP's own
    * SELECT branch (T-SQL scopes TOP per branch; silently changing that
    * would be worse than the parse error). */
  private[validation] def translateTopN(sql: String): String = {
    val p = java.util.regex.Pattern.compile(
      "(?is)^(\\s*SELECT\\s+(?:DISTINCT\\s+)?)TOP\\s*\\(?\\s*(\\d+)\\s*\\)?\\s+(?!PERCENT\\b|WITH\\b)(.*)$")
    val m = p.matcher(sql)
    if (!m.matches()) return sql
    // a CALL to a function named top — `SELECT top(5) AS x FROM t` —
    // also matches the quantity pattern; the giveaway is the remnant
    // starting where a projection item cannot (AS / ',' / ')' / a binary
    // operator). Decline rather than garble a working query.
    val rem = m.group(3)
    val callRemnant = java.util.regex.Pattern
      .compile("(?is)^(?:AS\\b|,|\\)|\\|\\||[+\\-/%<>=]).*").matcher(rem).matches()
    if (callRemnant ||
      hasTopLevel(rem, Seq("UNION", "INTERSECT", "EXCEPT")) ||
      containsOutsideLiterals(rem, ';')) sql
    else s"${m.group(1)}$rem LIMIT ${m.group(2)}"
  }

  /** `SELECT DISTINCT ON (exprs) ...` -> the row_number()-window form
    * (q12's spelling): the reference's sqlparser accepts Postgres
    * DISTINCT ON (`validation.rs:413-422`); Spark's parser rejects the
    * tokens. The rewrite keeps first-row-per-group semantics — partition
    * by the ON exprs, order by the statement's ORDER BY (or the ON exprs
    * when absent), rank filter rn = 1 — and restores the outer ORDER BY.
    * It applies only when every projection item has a derivable output
    * name (an identifier or an `... AS name` alias); star or unnamed
    * expression projections fall through unchanged to the parser's error,
    * the pre-bridge behavior. */
  private[validation] def translateDistinctOn(sql: String): String = {
    val head = java.util.regex.Pattern
      .compile("(?is)^\\s*SELECT\\s+DISTINCT\\s+ON\\s*\\(").matcher(sql)
    if (!head.lookingAt()) return sql
    // matching close paren of the ON list (quote/paren-aware — the exprs
    // may themselves contain calls)
    val openIdx = head.end() - 1
    var depth = 0
    var closeIdx = -1
    var i = openIdx
    while (i < sql.length && closeIdx < 0) {
      sql.charAt(i) match {
        case '\'' | '"' => i = literalEnd(sql, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) closeIdx = i
        case _ =>
      }
      i += 1
    }
    if (closeIdx < 0) return sql
    val onExprs = sql.substring(openIdx + 1, closeIdx).trim
    val rest = sql.substring(closeIdx + 1)
    if (onExprs.isEmpty) return sql
    // set operations cannot be scoped through this rewrite (the window
    // would wrap only the first branch) — decline to the parser's error
    if (hasTopLevel(rest, Seq("UNION", "INTERSECT", "EXCEPT")) ||
      containsOutsideLiterals(rest, ';')) return sql
    // clause keywords located by the TOP-LEVEL scanner, never a regex: a
    // subquery's FROM/ORDER BY sits inside parens and a literal's inside
    // quotes — the round-12 review caught the regex form capturing the
    // FIRST "ORDER BY" anywhere, garbling valid dialect SQL into
    // neither-dialect text instead of declining
    val fromIdx = findTopLevel(rest, "FROM")
    if (fromIdx < 0) return sql
    val proj = rest.substring(0, fromIdx).trim
    val afterFrom = rest.substring(fromIdx + 4)
    val names = splitTopLevel(proj).map(outputName)
    if (names.exists(_.isEmpty)) return sql
    // duplicate output names would make the rebuilt outer projection (and
    // its restored ORDER BY) ambiguous — Postgres itself would accept the
    // statement only to error on reference; decline to the parser error
    if (names.flatten.map(_.toLowerCase).distinct.size != names.size) return sql
    val obIdx = findTopLevel(afterFrom, "ORDER")
    val byOk = obIdx >= 0 && java.util.regex.Pattern
      .compile("(?is)^ORDER\\s+BY\\s").matcher(afterFrom.substring(obIdx))
      .lookingAt()
    // split a trailing LIMIT/OFFSET: the paging clause belongs on the
    // OUTER query (Postgres pages the distinct result, not the source)
    def splitPaging(s: String): (String, String) = {
      val cut = Seq(findTopLevel(s, "LIMIT"), findTopLevel(s, "OFFSET"))
        .filter(_ >= 0).sorted.headOption
      cut match {
        case Some(cx) => (s.substring(0, cx).trim, " " + s.substring(cx).trim)
        case None => (s.trim, "")
      }
    }
    val (fromRest, ordList, paging, hadOrder) =
      if (byOk) {
        val (oa, pg) = splitPaging(afterFrom.substring(obIdx)
          .replaceFirst("(?is)^ORDER\\s+BY\\s+", ""))
        (afterFrom.substring(0, obIdx).trim, oa, pg, true)
      } else {
        val (fr, pg) = splitPaging(afterFrom)
        (fr, onExprs, pg, false)
      }
    if (ordList.isEmpty || fromRest.isEmpty) return sql
    // Postgres demands the ON exprs be the LEADING ORDER BY exprs ("SELECT
    // DISTINCT ON expressions must match initial ORDER BY expressions");
    // a statement Postgres rejects must not bridge into some OTHER
    // semantics here — decline to the parser error instead
    if (hadOrder) {
      def norm(e: String) = e.trim.replaceAll("\\s+", " ").toLowerCase
      def stripDir(e: String) = e.trim
        .replaceAll("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$", "")
        .replaceAll("(?is)\\s+(ASC|DESC)\\s*$", "")
      val ons = splitTopLevel(onExprs).map(norm)
      val ords = splitTopLevel(ordList).map(e => norm(stripDir(e)))
      if (ords.size < ons.size ||
          ons.zip(ords).exists { case (a, b) => a != b }) return sql
    }
    // ordinal sort keys (ORDER BY 1, 2) resolve in Sort/Aggregate but NOT
    // inside a window spec — there they'd be constant literals and the
    // kept row per group would be arbitrary. Decline to the parser's
    // error rather than silently diverge from DISTINCT ON semantics.
    if (hadOrder && splitTopLevel(ordList).exists(_.trim.matches(
        "(?is)\\d+(\\s+(ASC|DESC))?(\\s+NULLS\\s+(FIRST|LAST))?")))
      return sql
    val outer = if (hadOrder) s" ORDER BY $ordList$paging" else paging
    s"SELECT ${names.flatten.mkString(", ")} FROM " +
      s"(SELECT $proj, row_number() OVER (PARTITION BY $onExprs ORDER BY $ordList) " +
      s"AS __graft_rn FROM $fromRest) __graft_don WHERE __graft_rn = 1$outer"
  }

  /** Top-level comma split: quote- and paren-aware ([[literalEnd]]), so
    * function arguments and string literals never split a projection
    * item. */
  private[validation] def splitTopLevel(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\'' | '"' =>
          val end = literalEnd(s, i)
          cur.append(s.substring(i, end))
          i = end - 1
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 =>
          out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** Output column name of a projection item: trailing `AS name` alias,
    * or the last segment of a (possibly qualified) identifier. None for
    * unnamed expressions — the DISTINCT ON bridge then declines. */
  private[validation] def outputName(item: String): Option[String] = {
    val t = item.trim
    val as = java.util.regex.Pattern
      .compile("(?is)^.*\\s+AS\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$").matcher(t)
    if (as.matches()) Some(as.group(1))
    else if (t.matches("[A-Za-z_][A-Za-z_0-9]*(\\.[A-Za-z_][A-Za-z_0-9]*)?"))
      Some(t.split('.').last)
    else None
  }

  /** Case-insensitive word-boundaried match of `word` at index `i`. */
  private def wordAt(s: String, i: Int, word: String): Boolean = {
    def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    i >= 0 && s.regionMatches(true, i, word, 0, word.length) &&
      (i == 0 || !isIdent(s.charAt(i - 1))) &&
      (i + word.length == s.length || !isIdent(s.charAt(i + word.length)))
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    i
  }

  /** `LISTAGG(...) ... ON OVERFLOW ERROR|TRUNCATE [filler] [WITH[OUT]
    * COUNT]` -> drop the clause (`validation.rs:302-312`): Spark 4's
    * listagg has no overflow clause, and since no VARCHAR length cap
    * exists nothing can overflow — ERROR can never raise and TRUNCATE
    * (with any filler / count decoration) can never fire, so the strip is
    * semantics-preserving for BOTH variants. Scanner-based: the phrase is
    * located outside string literals and only inside a call's parens
    * (depth > 0 — a JOIN's ON at depth 0 can never match since OVERFLOW
    * must follow); the TRUNCATE filler is itself a string literal and is
    * excised via [[literalEnd]], never a regex. */
  private[validation] def translateListAggOverflow(sql: String): String = {
    val out = new StringBuilder
    var depth = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val end = literalEnd(sql, i); out.append(sql.substring(i, end)); i = end
      } else if (c == '(') { depth += 1; out += c; i += 1 }
      else if (c == ')') { depth -= 1; out += c; i += 1 }
      else if (depth > 0 && wordAt(sql, i, "ON")) {
        var p = skipWs(sql, i + 2)
        if (!wordAt(sql, p, "OVERFLOW")) { out += c; i += 1 }
        else {
          p = skipWs(sql, p + 8)
          if (wordAt(sql, p, "ERROR")) {
            while (out.nonEmpty && Character.isWhitespace(out.last))
              out.setLength(out.length - 1)
            i = p + 5
          } else if (wordAt(sql, p, "TRUNCATE")) {
            p += 8
            var q = skipWs(sql, p)
            if (q < sql.length && (sql.charAt(q) == '\'' || sql.charAt(q) == '"'))
              p = literalEnd(sql, q)
            q = skipWs(sql, p)
            val withLen =
              if (wordAt(sql, q, "WITHOUT")) 7
              else if (wordAt(sql, q, "WITH")) 4 else 0
            if (withLen > 0) {
              val r = skipWs(sql, q + withLen)
              if (wordAt(sql, r, "COUNT")) p = r + 5
            }
            while (out.nonEmpty && Character.isWhitespace(out.last))
              out.setLength(out.length - 1)
            i = p
          } else { out += c; i += 1 }
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** `ARRAY(subquery)` (`validation.rs:296` ArraySubquery — the Postgres
    * array-from-rows constructor the reference's sqlparser accepts;
    * Spark's `array(...)` only takes element expressions) -> a scalar
    * `collect_list` subquery:
    * `(SELECT <agg> FROM (subquery) t(c))`. NULL elements survive —
    * collect_list alone would silently DROP them where Postgres/DuckDB
    * ARRAY keeps them, so rows collect as one-field structs (never null)
    * and unwrap with a transform. Element order is made CLUSTER-SAFE,
    * never left to shuffle-fetch order (Spark's final aggregation
    * concatenates partial lists in whatever order remote blocks arrive —
    * only local mode happens to preserve a sort):
    *  - body ordered `ORDER BY 1 [ASC]` (by the projected value, the
    *    Postgres-idiomatic spelling) ->
    *    `array_sort(transform(collect_list(struct(c)), x -> x.c))`, which
    *    IS that order regardless of merge order — ascending, NULLS LAST,
    *    matching DuckDB's ORDER BY default (q41 pins it against DuckDB's
    *    native ARRAY);
    *  - no ORDER BY -> the unsorted unwrap (the standard leaves the
    *    order unspecified; so does this engine);
    *  - ANY OTHER ORDER BY (DESC, expressions, multiple keys) rides a
    *    rank column: the body's projection gains
    *    `row_number() OVER (ORDER BY keys)` and elements collect as
    *    (rank, value) structs, array_sort on the never-null unique rank —
    *    merge-order-independent for arbitrary keys. Keys keep their
    *    written direction; an UNSPECIFIED null placement becomes explicit
    *    `NULLS LAST` in BOTH directions — DuckDB's default (the engine of
    *    record for the oracle; Spark's own default flips by direction,
    *    and silently inheriting it would diverge). Ordinal `1` and the
    *    projection's output alias resolve to the projected expression
    *    (a window spec cannot see either). DISTINCT bodies rank ABOVE
    *    the distinct (the distinct SELECT stays intact underneath — a
    *    rank inside it would change its semantics), so their keys may
    *    only be the projected value: ordinal 1, the alias, or the
    *    projected expression verbatim — the standard's own
    *    SELECT DISTINCT ordering constraint. Declined to the parser
    *    error: WITH bodies, set-op bodies, LIMIT/OFFSET after the
    *    ordering, ordinals beyond the single projected column, and
    *    DISTINCT keys beyond the projected value.
    * Applies only when the parenthesized body starts with SELECT/WITH —
    * `array(1, 2)` element constructors pass through. */
  private[validation] def translateArraySubquery(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val end = literalEnd(sql, i); out.append(sql.substring(i, end)); i = end
      } else if (wordAt(sql, i, "ARRAY")) {
        val p = skipWs(sql, i + 5)
        val close =
          if (p < sql.length && sql.charAt(p) == '(') matchParen(sql, p) else -1
        val body0 = if (close < 0) "" else sql.substring(p + 1, close).trim
        val rewritten: Option[String] =
          if (close < 0 || !(body0.regionMatches(true, 0, "SELECT", 0, 6) ||
              body0.regionMatches(true, 0, "WITH", 0, 4))) None
          else {
            // nested ARRAY(...) in the body bridges first, so the clause
            // surgery below scans already-balanced translated text
            val body = translateArraySubquery(body0)
            val obIdx = findTopLevel(body, "ORDER")
            val isOb = obIdx >= 0 && java.util.regex.Pattern
              .compile("(?is)^ORDER\\s+BY\\s").matcher(body.substring(obIdx))
              .lookingAt()
            val unwrap =
              "transform(collect_list(struct(__graft_ac)), x -> x.__graft_ac)"
            def scalar(a: String) =
              s"(SELECT $a FROM ($body) __graft_at(__graft_ac))"
            if (!isOb) Some(scalar(unwrap))
            else {
              val tail = body.substring(obIdx)
                .replaceFirst("(?is)^ORDER\\s+BY\\s+", "")
              val cut = Seq(findTopLevel(tail, "LIMIT"),
                findTopLevel(tail, "OFFSET")).filter(_ >= 0).sorted.headOption
              val keys = cut.map(tail.substring(0, _)).getOrElse(tail).trim
              if (keys.matches("(?is)1(\\s+ASC)?")) Some(scalar(s"array_sort($unwrap)"))
              else translateArrayOrdered(body, obIdx, keys, hasPaging = cut.isDefined)
            }
          }
        rewritten match {
          case Some(r) =>
            out.append(r)
            i = close + 1
          case None => out += c; i += 1
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** The general-ordering ARRAY(subquery) emission (`validation.rs:296`
    * with an ORDER BY beyond `1 [ASC]`): elements collect as
    * (row_number, value) structs and array_sort orders on the non-null
    * UNIQUE rank, so the array order is the window's order regardless of
    * how partial aggregates merge. The rank column is injected into the
    * body's own projection — ordering keys may reference any input
    * column, not just the projected one. None (decline to the parser's
    * error) for the shapes the injection cannot express; see
    * [[translateArraySubquery]]. */
  private def translateArrayOrdered(
      body: String, obIdx: Int, keys: String, hasPaging: Boolean): Option[String] = {
    def isIdentChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    if (hasPaging) return None
    if (!body.regionMatches(true, 0, "SELECT", 0, 6) ||
        (body.length > 6 && isIdentChar(body.charAt(6)))) return None
    if (hasTopLevel(body, Seq("UNION", "INTERSECT", "EXCEPT"))) return None
    if (java.util.regex.Pattern.compile("(?is)^\\s*ALL\\b")
        .matcher(body.substring(6)).lookingAt()) return None
    val distinctM = java.util.regex.Pattern.compile("(?is)^\\s*DISTINCT\\b")
      .matcher(body.substring(6))
    val isDistinct = distinctM.lookingAt()
    val projFrom = if (isDistinct) 6 + distinctM.end() else 6
    val fromIdx = findTopLevel(body, "FROM")
    if (fromIdx < 0 || fromIdx > obIdx || fromIdx < projFrom) return None
    val proj = body.substring(projFrom, fromIdx).trim
    if (proj.isEmpty || splitTopLevel(proj).size != 1) return None
    val rest = body.substring(fromIdx + 4, obIdx).trim
    if (rest.isEmpty) return None
    // the projected expression sans alias: ordinal-1 / output-alias keys
    // substitute it (neither resolves inside a window spec)
    val asM = java.util.regex.Pattern
      .compile("(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z_0-9]*)\\s*$").matcher(proj)
    val (projExpr, alias) =
      if (asM.matches()) (asM.group(1), Some(asM.group(2)))
      else (proj, Option.empty[String])
    val items = splitTopLevel(keys).map(_.trim)
    if (items.isEmpty || items.exists(_.isEmpty)) return None
    val rendered = items.map { it =>
      val nm = java.util.regex.Pattern
        .compile("(?is)^(.*?)\\s+NULLS\\s+(FIRST|LAST)\\s*$").matcher(it)
      val (noNulls, nulls) =
        if (nm.matches()) (nm.group(1), Some(nm.group(2).toUpperCase))
        else (it, Option.empty[String])
      val dm = java.util.regex.Pattern
        .compile("(?is)^(.*?)\\s+(ASC|DESC)\\s*$").matcher(noNulls)
      val (e0, dir) =
        if (dm.matches()) (dm.group(1).trim, dm.group(2).toUpperCase)
        else (noNulls.trim, "ASC")
      def norm(x: String) = x.replaceAll("\\s+", " ").trim.toLowerCase
      // DISTINCT bodies: the rank column must sit ABOVE the distinct (a
      // rank inside it would change its semantics), so keys may only be
      // the projected value itself — ordinal 1, the output alias, or the
      // projected expression verbatim (the standard's own constraint:
      // for SELECT DISTINCT, ORDER BY expressions must appear in the
      // select list) — and substitute to the wrapped column
      val e =
        if (e0 == "1" || alias.exists(_.equalsIgnoreCase(e0)))
          Some(if (isDistinct) "__graft_ac" else s"($projExpr)")
        else if (e0.isEmpty || e0.matches("\\d+")) None
        else if (isDistinct)
          if (norm(e0) == norm(projExpr)) Some("__graft_ac") else None
        else Some(e0)
      e.map(x => s"$x $dir NULLS ${nulls.getOrElse("LAST")}")
    }
    if (rendered.exists(_.isEmpty)) return None
    val keysSql = rendered.map(_.get).mkString(", ")
    val wrap = "(SELECT transform(array_sort(collect_list(" +
      "struct(__graft_rn, __graft_ac))), x -> x.__graft_ac) "
    if (isDistinct) {
      // the distinct SELECT stays intact underneath; the rank projects
      // over its (aliased) single output column
      val bodyNoOb = body.substring(0, obIdx).trim
      Some(wrap +
        "FROM (SELECT __graft_ac, row_number() OVER " +
        s"(ORDER BY $keysSql) AS __graft_rn " +
        s"FROM ($bodyNoOb) __graft_ad(__graft_ac)) " +
        "__graft_at(__graft_ac, __graft_rn))")
    } else Some(wrap +
      s"FROM (SELECT $proj, row_number() OVER " +
      s"(ORDER BY $keysSql) AS __graft_rn " +
      s"FROM $rest) __graft_at(__graft_ac, __graft_rn))")
  }

  /** Index of the ')' matching the '(' at `open` (literal-aware), or -1. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' | '"' => i = literalEnd(s, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Quantified comparison predicates `op ANY/SOME/ALL (subquery)`
    * (`validation.rs:164-171` AnyOp/AllOp — whitelisted by the reference's
    * sqlparser; Spark's grammar has no quantified form). Two rewrite
    * classes, both EXACT under SQL's three-valued logic:
    *  - `= ANY` -> `IN`, `<> ALL` / `!= ALL` -> `NOT IN` (the standard
    *    identities — Spark's IN over a subquery already implements the
    *    quantifier's NULL semantics);
    *  - every other operator × quantifier combination (`> >= < <=` ×
    *    ANY/ALL, plus `= ALL` and `<> ANY`) captures the LEFT operand
    *    (the same primary-expression scanner AT TIME ZONE uses) and
    *    expands to a parenthesized CASE over ONE struct-valued scalar
    *    subquery `(SELECT struct(MIN(c) AS mn, MAX(c) AS mx, <default> AS
    *    r) FROM body)`: a witness against the non-null extremum decides
    *    TRUE (ANY) / FALSE (ALL) — for the equality forms the witness is
    *    a non-null element differing from the operand (`v <> mn OR
    *    v <> mx`); a NULL operand against a non-empty set is NULL; every
    *    no-witness outcome folds into the subquery-computed default `r`
    *    (empty -> FALSE/TRUE vacuous, NULL-bearing -> NULL, else
    *    FALSE/TRUE) — reproducing Postgres/DuckDB bit-for-bit even in
    *    PROJECTED position and against empty or NULL-bearing subqueries
    *    (q39/q42 pin the corners against DuckDB's native quantifiers).
    *    The struct subquery is referenced by field access up to three
    *    times but the references are textually IDENTICAL, so Spark
    *    executes it ONCE (subquery reuse dedupes identical plans —
    *    measured: the three-reference form costs the same jobs as one
    *    reference, vs one job per subquery for the former
    *    three-distinct-subquery emission). The operand evaluates up to
    *    thrice (comparison + IS NULL) — fine for the deterministic
    *    expressions the validator admits.
    * The left operand may be a COMPOUND expression (`a + b > ALL (...)`,
    * `x || y <> ANY (...)`, `-v < ANY (...)`): the quantified comparison
    * binds looser than every arithmetic/bitwise/concat operator, so the
    * capture extends across the whole operator chain
    * ([[quantifierOperandStart]]) and the emission parenthesizes it once.
    * SOME is ANY's synonym. Declined to the parser's error: a keyword not
    * followed by a parenthesized SELECT/WITH (`UNION ALL`, `SELECT ALL`,
    * `any(...)` calls pass through untouched), a CASE-expression operand,
    * and operand chains with an uncapturable link (an array-index/cast
    * tail, an interval-unit fragment). */
  private[validation] def translateQuantified(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val end = literalEnd(sql, i); out.append(sql.substring(i, end)); i = end
      } else {
        val kw = Seq("ANY", "SOME", "ALL").find(wordAt(sql, i, _))
        val consumed = kw.exists { w =>
          // the comparison operator immediately before (in emitted text)
          var j = out.length
          while (j > 0 && Character.isWhitespace(out.charAt(j - 1))) j -= 1
          var o = j
          while (o > 0 && "=<>!".indexOf(out.charAt(o - 1)) >= 0) o -= 1
          val op = out.substring(o, j)
          val p = skipWs(sql, i + w.length)
          val close =
            if (op.nonEmpty && p < sql.length && sql.charAt(p) == '(')
              matchParen(sql, p)
            else -1
          val body0 = if (close < 0) "" else sql.substring(p + 1, close).trim
          if (close < 0 || !(body0.regionMatches(true, 0, "SELECT", 0, 6) ||
              body0.regionMatches(true, 0, "WITH", 0, 4))) false
          else {
            val body = translateQuantified(body0)
            val isAll = w.equalsIgnoreCase("ALL")
            val emptyV = if (isAll) "TRUE" else "FALSE"
            // ONE struct subquery per quantifier: extrema + the
            // no-witness default (empty -> vacuous TRUE/FALSE,
            // NULL-bearing -> NULL, else vacuous again). Field accesses
            // below repeat this text verbatim — identical subquery plans
            // execute once (Spark's subquery reuse), so the whole
            // predicate costs one aggregation over the body.
            def sq =
              s"(SELECT struct(MIN(__graft_qc) AS mn, MAX(__graft_qc) AS mx, " +
                s"CASE WHEN count(*) = 0 THEN $emptyV " +
                s"WHEN count(__graft_qc) < count(*) THEN NULL " +
                s"ELSE $emptyV END AS r) FROM ($body) __graft_qt(__graft_qc))"
            // the CASE shared by every captured-operand form: a witness
            // decides immediately (its comparison NULL-skips when the
            // relevant extremum is NULL — empty or all-NULL set); a NULL
            // operand against a set with any non-null member is NULL; all
            // remaining outcomes are the subquery-computed default.
            // COMPOUND captures (`a + b > ALL (...)` — the quantified
            // comparison binds looser than every arithmetic/concat
            // operator, so the whole chain is the operand) emit
            // parenthesized once; simple primaries emit verbatim.
            def emitCase(
                cap: Option[(Int, Boolean)], o: Int,
                witness: (String, String) => String,
                nullGuardField: String): Boolean = cap match {
              case None => false
              case Some((st, isCompound)) =>
                val raw = out.substring(st, o).trim
                val v = if (isCompound) s"($raw)" else raw
                out.delete(st, out.length)
                out.append(
                  s"(CASE ${witness(v, sq)} " +
                    s"WHEN $v IS NULL AND $sq.$nullGuardField IS NOT NULL THEN NULL " +
                    s"ELSE $sq.r END)")
                i = close + 1
                true
            }
            (op, isAll) match {
              case ("=", false) | ("<>", true) | ("!=", true) =>
                val r = if (isAll) s"NOT IN ($body)" else s"IN ($body)"
                out.delete(o, out.length)
                // never glue onto an unspaced operand: `k=ANY(...)` must
                // become `k IN (...)`, not the identifier `kIN`
                if (out.nonEmpty && !Character.isWhitespace(out.last))
                  out.append(' ')
                out.append(r)
                i = close + 1
                true
              case (">", _) | (">=", _) | ("<", _) | ("<=", _) =>
                // witness extremum over the NON-NULL values: ANY needs the
                // friendliest element (MIN for >/>=), ALL the harshest
                val f =
                  if ((op == ">" || op == ">=") != isAll) "mn" else "mx"
                emitCase(quantifierOperandStart(out.substring(0, o)), o,
                  (v, s) =>
                    if (isAll) s"WHEN NOT ($v $op $s.$f) THEN FALSE"
                    else s"WHEN $v $op $s.$f THEN TRUE",
                  f)
              case ("=", true) | ("<>", false) | ("!=", false) =>
                // equality quantifiers: the witness is a non-null element
                // DIFFERING from the operand — exists iff min != v or
                // max != v over the non-null values (total order), which
                // NULL-skips exactly when no non-null element exists
                emitCase(quantifierOperandStart(out.substring(0, o)), o,
                  (v, s) =>
                    s"WHEN ($v <> $s.mn OR $v <> $s.mx) " +
                      s"THEN ${if (isAll) "FALSE" else "TRUE"}",
                  "mn")
              case _ => false
            }
          }
        }
        if (!consumed) { out += c; i += 1 }
      }
    }
    out.toString
  }

  /** `expr AT TIME ZONE 'tz'` (`validation.rs:176` AtTimeZone): Spark's
    * grammar has no AT TIME ZONE operator. The bridge implements the
    * Postgres operator over the timestamp types the engine carries:
    *  - naive operand -> `to_utc_timestamp(expr, 'tz')` — interpret the
    *    wall-clock in `tz`, produce the instant (DuckDB/Postgres
    *    timestamp-without-tz semantics, q40-pinned hash-exact);
    *  - a CHAINED application, whose operand is itself an already-bridged
    *    `to_utc_timestamp(...)`/`from_utc_timestamp(...)` call (an
    *    instant), maps to `from_utc_timestamp(expr, 'tz')` — instant ->
    *    wall-clock in `tz` — so the Postgres naive->instant->naive
    *    round-trip composes exactly.
    * The operand is the preceding primary expression: an optionally
    * qualified identifier, a call or parenthesized expression, or a typed
    * literal (`TIMESTAMP '...'`). AT TIME ZONE binds TIGHTER than every
    * binary operator in Postgres, so an operator-preceded primary
    * (`ts + i AT TIME ZONE 'x'` ⇒ `ts + (i AT TIME ZONE 'x')`) is a
    * CORRECT capture and bridges; only non-expression fragments — a `::`
    * cast tail (the capture would be the bare type name) or a CASE END —
    * decline to the parser's error, as does a zone that is not a string
    * literal. */
  private[validation] def translateAtTimeZone(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val end = literalEnd(sql, i); out.append(sql.substring(i, end)); i = end
      } else if (wordAt(sql, i, "AT")) {
        var ok = false
        var p = skipWs(sql, i + 2)
        if (wordAt(sql, p, "TIME")) {
          p = skipWs(sql, p + 4)
          if (wordAt(sql, p, "ZONE")) {
            p = skipWs(sql, p + 4)
            if (p < sql.length && sql.charAt(p) == '\'') {
              val zEnd = literalEnd(sql, p)
              val zone = sql.substring(p, zEnd)
              // shared fragment guard, operator-tolerant: AT TIME ZONE
              // binds TIGHTER than every binary operator in Postgres, so
              // an operator-preceded primary (`a + b AT TIME ZONE 'x'`,
              // `x = ts AT TIME ZONE 'x'`) really is the whole operand
              // and bridges correctly; only non-expression fragments
              // ('::' cast tails, '.'-preceded, CASE END) decline
              operandStart(out.toString)
                  .filter(wholeCapture(out, _, out.length))
                  .foreach { st =>
                val operand = out.substring(st).trim
                // instant detection must see through wrapping parens:
                // `(ts AT TIME ZONE 'UTC') AT TIME ZONE 'x'` arrives here
                // as `(to_utc_timestamp(ts, 'UTC'))` and is an instant
                var peeled = operand
                while (peeled.startsWith("(") &&
                    matchParen(peeled, 0) == peeled.length - 1)
                  peeled = peeled.substring(1, peeled.length - 1).trim
                val fn =
                  if (peeled.regionMatches(true, 0, "to_utc_timestamp(", 0, 17) ||
                      peeled.regionMatches(true, 0, "from_utc_timestamp(", 0, 19))
                    "from_utc_timestamp"
                  else "to_utc_timestamp"
                out.delete(st, out.length)
                out.append(s"$fn($operand, $zone)")
                i = zEnd
                ok = true
              }
            }
          }
        }
        if (!ok) { out += c; i += 1 }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Whether the primary captured at `emitted[st, end)` is usable as a
    * WHOLE operand for a bridge whose phrase binds TIGHTER than every
    * binary operator (AT TIME ZONE — an operator-preceded primary really
    * is the whole operand there). Rejected: empty captures, CASE tails
    * (`END`), and '.'/'::'-preceded captures (a field-access or cast
    * FRAGMENT — `x::int` would capture the bare type name). Bridges that
    * bind LOOSER than arithmetic (the quantifier comparisons) use
    * [[quantifierOperandStart]], which EXTENDS across the operators this
    * guard would otherwise sit behind. */
  private def wholeCapture(
      emitted: StringBuilder, st: Int, end: Int): Boolean = {
    val v = emitted.substring(st, end).trim
    var q = st
    while (q > 0 && Character.isWhitespace(emitted.charAt(q - 1))) q -= 1
    val pc = if (q == 0) ' ' else emitted.charAt(q - 1)
    v.nonEmpty && !v.equalsIgnoreCase("END") && ".:".indexOf(pc.toInt) < 0
  }

  /** Keywords that end a quantifier operand chain: anything binding
    * LOOSER than the comparison itself (logical/clause context, CASE
    * branch markers), plus END (a CASE tail is not capturable without
    * its whole CASE) and INTERVAL (an interval literal's head). */
  private val QuantBoundaryKw = Set(
    "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "CASE", "END", "IN", "IS",
    "LIKE", "ILIKE", "RLIKE", "BETWEEN", "ESCAPE", "SELECT", "WHERE",
    "FROM", "HAVING", "ON", "BY", "AS", "DISTINCT", "ALL", "ANY", "SOME",
    "LIMIT", "OFFSET", "JOIN", "USING", "OVER", "UNION", "INTERSECT",
    "EXCEPT", "VALUES", "EXISTS", "INTERVAL", "SET")

  /** Start of the longest capturable LEFT OPERAND ending at `s`'s end for
    * a quantified comparison, plus whether it is COMPOUND (spans an
    * operator — the emission then parenthesizes it once). The reference
    * whitelists an ARBITRARY left expression on ANY/ALL
    * (`validation.rs:164-171`), and the quantified comparison binds
    * LOOSER than every arithmetic/bitwise/concat operator, so the
    * primary capture ([[operandStart]]) extends left across binary
    * `+ - * / % ^ & | ||` links and unary signs — the whole chain really
    * is the operand — stopping at any lower-precedence boundary (a
    * [[QuantBoundaryKw]] keyword, a comma, an opening paren, the
    * statement head). None — decline to the parser's error, leaving the
    * original text — when any link is NOT capturable: an
    * array-index/cast tail, a CASE END, an interval-unit fragment (bare
    * identifier directly after a string literal), or a
    * comparison-preceded capture (a chained comparison is not valid SQL,
    * and re-parenthesizing a piece of one would invent semantics). */
  private[validation] def quantifierOperandStart(s: String): Option[(Int, Boolean)] = {
    def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    def wsBack(k0: Int): Int = {
      var k = k0
      while (k > 0 && Character.isWhitespace(s.charAt(k - 1))) k -= 1
      k
    }
    // one primary ending at `end`; None on keyword/fragment primaries
    def primaryBefore(end: Int): Option[Int] = {
      val prefix = s.substring(0, end)
      operandStart(prefix).flatMap { p =>
        val tok = prefix.substring(p).trim
        val q = wsBack(p)
        val pc = if (q == 0) ' ' else s.charAt(q - 1)
        val isBareWord = tok.nonEmpty && tok.forall(isIdent)
        val prevTok =
          if (q > 0 && isIdent(pc)) {
            var w = q
            while (w > 0 && isIdent(s.charAt(w - 1))) w -= 1
            Some((s.substring(w, q).toUpperCase, w))
          } else None
        if (isBareWord && QuantBoundaryKw.contains(tok.toUpperCase)) None
        // a unit after TO is the tail of a compound interval literal
        // (INTERVAL '1-2' YEAR TO MONTH) — not capturable as a primary;
        // decline whole rather than re-parenthesize a piece of it
        else if (isBareWord && prevTok.exists(_._1 == "TO")) None
        // a bare word after a NUMBER is the unit of the unquoted
        // interval spelling: `INTERVAL <n> UNIT` captures as ONE primary
        // from the INTERVAL head; any other word-after-number tail is a
        // fragment — decline whole
        else if (isBareWord && prevTok.exists(t => t._1.forall(_.isDigit))) {
          var w2 = prevTok.get._2
          while (w2 > 0 && Character.isWhitespace(s.charAt(w2 - 1))) w2 -= 1
          if (w2 >= 8 && wordAt(s, w2 - 8, "INTERVAL")) Some(w2 - 8) else None
        }
        // a bare identifier directly after a string literal is a
        // typed-literal tail: `INTERVAL '<v>' UNIT` captures as ONE
        // primary from the INTERVAL head (the single-unit interval
        // literal is a valid quantifier operand); anything else
        // ('1' FOO) is a fragment — decline whole. The unit-INSIDE
        // spelling `INTERVAL '1 day'` never reaches this branch:
        // operandStart's typed-literal capture includes the INTERVAL
        // head, so the whole literal is one primary already.
        else if (isBareWord && (pc == '\'' || pc == '"'))
          intervalLiteralStart(prefix, q)
        else Some(p)
      }
    }
    // start of `INTERVAL '<v>'` given the index just AFTER the literal's
    // closing quote (forward literal scan — backwards quote counting is
    // ambiguous); None when no INTERVAL keyword heads the literal
    def intervalLiteralStart(prefix: String, litEndIdx: Int): Option[Int] = {
      var i2 = 0
      var ls = -1
      while (i2 < litEndIdx) {
        val ch = prefix.charAt(i2)
        if (ch == '\'' || ch == '"') {
          val e2 = literalEnd(prefix, i2)
          if (e2 == litEndIdx) ls = i2
          i2 = e2
        } else i2 += 1
      }
      if (ls < 0) None
      else {
        var w = ls
        while (w > 0 && Character.isWhitespace(prefix.charAt(w - 1))) w -= 1
        if (w >= 8 && wordAt(prefix, w - 8, "INTERVAL")) Some(w - 8) else None
      }
    }
    var st = primaryBefore(s.length) match {
      case Some(p) => p
      case None => return None
    }
    var compound = false
    var done = false
    while (!done) {
      val k = wsBack(st)
      if (k == 0) done = true
      else {
        val c = s.charAt(k - 1)
        val opStart =
          if (c == '|' && k >= 2 && s.charAt(k - 2) == '|') Some(k - 2)
          else if ("+-*/%^&|".indexOf(c.toInt) >= 0) Some(k - 1)
          else None
        opStart match {
          case None => done = true
          case Some(os) =>
            val q = wsBack(os)
            val pc = if (q == 0) ' ' else s.charAt(q - 1)
            val kwBefore =
              if (q > 0 && isIdent(pc)) {
                var w = q
                while (w > 0 && isIdent(s.charAt(w - 1))) w -= 1
                Some(s.substring(w, q).toUpperCase)
              } else None
            val signable = c == '+' || c == '-'
            // a sign with no left operand (expression head, after '(' or
            // ',' or another operator or a boundary keyword) is UNARY:
            // include it and keep walking left. END is NOT a unary
            // context — it CLOSES an expression, so an operator after it
            // is binary with a CASE-tail left operand, which the binary
            // branch below declines whole (a partial capture of `+ 1`
            // out of `CASE ... END + 1` would garble the statement)
            val unaryContext = q == 0 || pc == '(' || pc == ',' ||
              "+-*/%^&|<>=!".indexOf(pc.toInt) >= 0 ||
              kwBefore.exists(k => k != "END" && QuantBoundaryKw.contains(k))
            if (signable && unaryContext) {
              compound = true
              st = os
              if (q == 0 || pc == '(' || pc == ',' ||
                  kwBefore.exists(QuantBoundaryKw.contains)) done = true
              // else an operator precedes the sign — next loop examines it
            } else {
              primaryBefore(os) match {
                case Some(p) => compound = true; st = p
                case None => return None
              }
            }
        }
      }
    }
    val q = wsBack(st)
    val pc = if (q == 0) ' ' else s.charAt(q - 1)
    val v = s.substring(st).trim
    if (v.isEmpty || ".:<>=!".indexOf(pc.toInt) >= 0) None
    else Some((st, compound))
  }

  /** Start index of the primary expression ending at `s`'s end (trailing
    * whitespace allowed): a call/parenthesized expression (with its
    * optionally qualified callee name), a string literal (with an
    * optional TIMESTAMP/DATE/TIME type keyword), or a qualified
    * identifier. None when the tail is anything else — the AT TIME ZONE
    * bridge then declines. Paren matching and literal bounds come from
    * one forward pass ([[literalEnd]]), never a backwards quote scan. */
  private def operandStart(s: String): Option[Int] = {
    // forward maps: literal membership + matching open paren per close
    val inLit = new Array[Boolean](s.length)
    val litStart = new Array[Int](s.length)
    val openOf = Array.fill(s.length)(-1)
    val stack = mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"') {
        val e = literalEnd(s, i)
        var k = i
        while (k < e) { inLit(k) = true; litStart(k) = i; k += 1 }
        i = e
      } else {
        if (c == '(') stack += i
        else if (c == ')' && stack.nonEmpty)
          openOf(i) = stack.remove(stack.length - 1)
        i += 1
      }
    }
    def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var j = s.length
    while (j > 0 && Character.isWhitespace(s.charAt(j - 1))) j -= 1
    if (j == 0) return None
    val last = s.charAt(j - 1)
    if (last == ')') {
      val open = openOf(j - 1)
      if (open < 0) return None
      // include a directly-preceding (qualified) callee name, if any
      var st = open
      while (st > 0 && (isIdent(s.charAt(st - 1)) || s.charAt(st - 1) == '.'))
        st -= 1
      Some(st)
    } else if (inLit(j - 1)) {
      val ls = litStart(j - 1)
      // typed literal: include a TIMESTAMP/DATE/TIME keyword before it
      var k = ls
      while (k > 0 && Character.isWhitespace(s.charAt(k - 1))) k -= 1
      val kwEndsHere = Seq("TIMESTAMP", "DATE", "TIME", "INTERVAL").find(w =>
        k >= w.length && wordAt(s, k - w.length, w))
      Some(kwEndsHere.map(w => k - w.length).getOrElse(ls))
    } else if (isIdent(last)) {
      var st = j
      while (st > 0 && (isIdent(s.charAt(st - 1)) || s.charAt(st - 1) == '.'))
        st -= 1
      Some(st)
    } else None
  }

  /** Preprocess dialect bridges before parsing: a single trailing ';' is
    * dropped (quote-aware — the common terminator would otherwise make
    * every set-op/semicolon-shy bridge decline bridgeable SQL), then
    * SIMILAR TO -> anchored RLIKE, LISTAGG ON OVERFLOW -> dropped clause,
    * ARRAY(subquery) -> scalar collect_list, AT TIME ZONE ->
    * to/from_utc_timestamp, quantified ANY/SOME/ALL (all six operator ×
    * quantifier combinations) -> IN / NOT IN / one struct-subquery
    * tri-state CASE, TOP n -> LIMIT n, DISTINCT ON -> row_number
    * window. (`IS [NOT] UNKNOWN` needs no bridge — Spark 4 parses it
    * natively with the reference's semantics, q41-pinned.) */
  def preprocess(sql: String): String = {
    val one = splitStatements(sql) match {
      case Seq(s) => s
      case _ => sql
    }
    translateDistinctOn(translateTopN(translateQuantified(translateAtTimeZone(
      translateArraySubquery(translateListAggOverflow(translateSimilarTo(one)))))))
  }

  /** Validate `sql`; returns the single referenced entity name.
    * Mirrors `validate_sql` (`validation.rs:24-59`). Callers executing the
    * SQL should run `preprocess(sql)` and execute the result. */
  def validate(sql: String, spark: SparkSession): String = {
    if (sql.length > MaxQueryLength)
      throw InvalidQuery(
        s"SQL string exceeds maximum length of $MaxQueryLength characters! " +
          "Either simplify query or break into multiple parts.")

    val statements = splitStatements(sql)
    if (statements.size != 1)
      throw InvalidQuery(
        s"Each query must contain exactly one statement. Found: ${statements.size}")

    val plan =
      try spark.sessionState.sqlParser.parsePlan(preprocess(statements.head))
      catch {
        case e: ParseException =>
          throw InvalidQuery(s"sqlparser syntax error: ${e.getMessage}")
      }

    if (!isReadOnly(plan))
      throw InvalidQuery(
        "SQL templates may only contain read-only queries (e.g. select statements), " +
          s"found statement: ${normalizeStatement(statements.head)}")

    validatePlan(plan)

    val entities = relationNames(plan)
    if (entities.size != 1)
      throw InvalidQuery("There must be exactly one entity per query.")
    entities.head
  }

  /** Top-level split on ';' (the reference parses the full text and
    * counts statements; Spark's parser is single-statement, so we count
    * before parsing). A ';' inside a string literal, a `-- …` or
    * `/* … */` comment or a backquoted identifier does not split, and a
    * piece holding only whitespace and comments is no statement. Literal
    * bounds come from [[literalEnd]] — the SAME backslash-escape-aware
    * scanner every bridge uses, so statement splitting and bridge
    * rewriting can never disagree about where literal data lives (a
    * quote-toggling scanner mis-split `'a\';b'`). */
  private[validation] def splitStatements(sql: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var start = 0
    var code = false // the current piece holds more than comments
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i)
        i = if (nl < 0) sql.length else nl
      } else if (sql.startsWith("/*", i)) i = blockCommentEnd(sql, i)
      else if (c == ';') {
        if (code) out += sql.substring(start, i)
        start = i + 1
        code = false
        i += 1
      } else {
        if (!c.isWhitespace) code = true
        i =
          if (c == '\'' || c == '"') literalEnd(sql, i)
          else if (c == '`') identifierEnd(sql, i)
          else i + 1
      }
    }
    if (code) out += sql.substring(start)
    out.toSeq
  }

  /** Index just past the bracketed comment opening at `start`; Spark's
    * lexer nests them. Returns s.length when unterminated. */
  private def blockCommentEnd(s: String, start: Int): Int = {
    var depth = 0
    var i = start
    while (i < s.length) {
      if (s.startsWith("/*", i)) { depth += 1; i += 2 }
      else if (s.startsWith("*/", i)) {
        depth -= 1
        i += 2
        if (depth == 0) return i
      } else i += 1
    }
    s.length
  }

  /** Index just past the backquoted identifier opening at `start`; a
    * doubled backquote inside it is an escaped one. */
  private def identifierEnd(s: String, start: Int): Int = {
    var i = start + 1
    while (i < s.length) {
      if (s.charAt(i) != '`') i += 1
      else if (s.startsWith("``", i)) i += 2
      else return i + 1
    }
    s.length
  }

  private def isReadOnly(plan: LogicalPlan): Boolean = plan match {
    case _: InsertIntoStatement => false
    case p =>
      // any DML/DDL command parses to a Command-ish node; queries parse to
      // Project/Aggregate/UnresolvedWith/SetOperation/... over relations
      !p.nodeName.toLowerCase.contains("command") &&
      !p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command]
  }

  /** Uppercase-keyword normalization of a rejected statement, matching the
    * reference's re-serialized AST in the error text (e.g.
    * `INSERT INTO user_tables VALUES (1, 2)`). */
  private[validation] def normalizeStatement(sql: String): String = {
    val keywords = Set(
      "insert", "into", "values", "update", "set", "delete", "from", "create",
      "table", "drop", "alter", "select", "where", "truncate", "merge", "copy",
      "grant", "revoke", "show", "describe", "explain", "analyze", "use")
    sql.trim
      .replaceAll("\\s+", " ")
      .replaceAll(",\\s*", ", ")
      .split(" ")
      .map(w => if (keywords.contains(w.toLowerCase)) w.toUpperCase else w)
      .mkString(" ")
  }

  /** All distinct relation names referenced anywhere in the plan, including
    * CTE alias references — matching sqlparser-rs `visit_relations`, which
    * does not resolve CTE scoping (`validation.rs:77-94`): a CTE named after
    * the entity counts once; a CTE with a fresh name counts as a second
    * "entity" and is rejected, exactly like the reference. */
  private[validation] def relationNames(plan: LogicalPlan): Seq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    def walk(p: LogicalPlan): Unit = {
      p match {
        case r: UnresolvedRelation => seen += r.multipartIdentifier.mkString(".")
        case w: UnresolvedWith =>
          // visit cte definitions AND the main body; references to the cte
          // alias inside the body are UnresolvedRelations and count as names
          w.cteRelations.foreach { case (_, sub, _) => walk(sub) }
        case _ =>
      }
      p.children.foreach(walk)
      p.expressions.foreach(_.foreach {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          walk(sq.plan)
        case _ =>
      })
    }
    walk(plan)
    seen.toSeq
  }

  /** Construct whitelist on the unresolved plan (`validation.rs:96-568`).
    * Allowed: single-table SELECT with projection/filter/agg/having/sort/
    * limit/offset/distinct/windows/set-ops/CTEs/subqueries/VALUES.
    * Rejected with the reference's messages: explicit JOINs (only derived-
    * table source substitution is allowed), table-valued functions,
    * multi-part table paths, lateral views, DISTRIBUTE BY / CLUSTER BY,
    * TABLESAMPLE, optimizer hints.
    *
    * DEFAULT-DENY: the reference rejects every construct not on its
    * whitelist (`validation.rs:372-376` unknown-expr catch-all, table
    * factors :445-478). Mirror that posture at the plan-node level — any
    * node outside the known-allowed set fails with the reference's
    * catch-all message, so a Spark-specific construct the blacklist never
    * anticipated cannot slip through an admission gate. Subquery-expression
    * plans (IN/EXISTS/scalar) are walked too — they are expressions, not
    * children, so a bare `plan.foreach` would miss a JOIN hidden inside
    * `WHERE x IN (SELECT ...)`. */
  private def validatePlan(plan: LogicalPlan): Unit = {
    def fail(msg: String): Nothing = throw InvalidQuery(msg)
    def walk(p: LogicalPlan): Unit = {
      p match {
        case j: Join =>
          fail(s"only explicit source substitutions are allowed but found ${j.joinType.sql} JOIN")
        case _: Generate => fail("Lateral views are not allowed!")
        case _: UnresolvedTableValuedFunction =>
          fail("Table valued functions are not allowed!")
        case r: UnresolvedRelation if r.multipartIdentifier.size > 1 =>
          fail(s"Explicit table paths are not allowed! Found: ${r.multipartIdentifier.mkString(".")}")
        // CLUSTER BY parses as a local Sort over RepartitionByExpression
        // with IDENTICAL sort/partition expressions — report it with the
        // reference's cluster-by message (`validation.rs:500-504`).
        // DISTRIBUTE BY x SORT BY y parses to the same node pair but with
        // different expressions and must keep the distribute-by message
        // (the reference sees the DISTRIBUTE BY token).
        // KNOWN DIVERGENCE (accepted): `DISTRIBUTE BY x SORT BY x` — the
        // identical-expression spelling — is indistinguishable from
        // CLUSTER BY x at plan level, so it gets the cluster-by message
        // where the token-based reference would say distribute-by. Both
        // are rejected; only the message text differs, and recovering the
        // token would mean re-lexing the SQL outside the parser.
        case s: Sort if !s.global && (s.child match {
          case r: RepartitionByExpression =>
            s.order.size == r.partitionExpressions.size &&
              s.order.map(_.child).zip(r.partitionExpressions)
                .forall { case (a, b) => a.semanticEquals(b) }
          case _ => false
        }) =>
          fail("Cluster by clause is not allowed!")
        case _: RepartitionByExpression =>
          fail("Distribute by clause is not allowed!")
        case _: Sample =>
          fail("only explicit source substitutions are allowed but found TABLESAMPLE")
        // reference has no hint concept; its unknown-construct catch-all
        // applies (`validation.rs:372-376`)
        case _: UnresolvedHint =>
          fail("Unrecognized query expression is not implemented")
        // the allowed single-table SELECT surface
        case _: Project | _: Filter | _: Aggregate | _: Sort | _: GlobalLimit
           | _: LocalLimit | _: Offset | _: Distinct | _: Union | _: Intersect
           | _: Except | _: UnresolvedWith | _: SubqueryAlias
           | _: UnresolvedRelation | _: UnresolvedHaving
           | _: UnresolvedInlineTable | _: OneRowRelation
           | _: UnresolvedSubqueryColumnAliases | _: WithWindowDefinition => ()
        case _ =>
          fail("Unrecognized query expression is not implemented")
      }
      p.children.foreach(walk)
      p match {
        case w: UnresolvedWith =>
          w.cteRelations.foreach { case (_, sub, _) => walk(sub) }
        case _ =>
      }
      p.expressions.foreach(_.foreach {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          walk(sq.plan)
        // Spark 4 parses `expr COLLATE name` natively; the reference
        // rejects collation expressions (`validation.rs:222-226`)
        case _: org.apache.spark.sql.catalyst.expressions.Collate =>
          fail("collation expressions are not allowed")
        // the equivalent FUNCTION-CALL spellings `collate(expr, 'name')` /
        // `collation(expr)` parse as UnresolvedFunction, not Collate —
        // without this arm they would bypass the keyword-form deny above
        // (there is no general function allowlist to catch them)
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.lastOption.exists(n =>
              n.equalsIgnoreCase("collate") || n.equalsIgnoreCase("collation")) =>
          fail("collation expressions are not allowed")
        case _ =>
      })
    }
    walk(plan)
  }
}
