package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.validation.SqlValidator

/** Validator parity: the three golden negatives assert the reference's exact
  * error strings (`core/src/execute/validation.rs:579-653`); plus the
  * single-entity rule and construct rejections. */
class ValidatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSessions.spark

  private def errOf(sql: String): String =
    intercept[SqlValidator.InvalidQuery](SqlValidator.validate(sql, spark)).getMessage

  test("golden: insert rejected with exact reference error string") {
    assert(errOf("insert into user_tables values (1,2)") ==
      "invalid query: SQL templates may only contain read-only queries (e.g. select statements), " +
        "found statement: INSERT INTO user_tables VALUES (1, 2)")
  }

  test("golden: multi-statement rejected with exact reference error string") {
    val sql = "with user_tables as (select * from user_tables) select * from user_tables; " +
      "select * from user_tables"
    assert(errOf(sql) ==
      "invalid query: Each query must contain exactly one statement. Found: 2")
  }

  test("statement count: a ';' inside a block comment ends no statement") {
    assert(SqlValidator.validate("SELECT orderkey FROM lineitem /* ; */", spark) == "lineitem")
  }

  test("statement count: a ';' inside a line comment ends no statement") {
    assert(SqlValidator.validate("SELECT orderkey FROM lineitem -- a; b", spark) == "lineitem")
  }

  test("statement count: a quote inside a backquoted identifier opens no string literal") {
    assert(errOf("SELECT `it's` FROM lineitem WHERE orderkey > 1; SELECT 2") ==
      "invalid query: Each query must contain exactly one statement. Found: 2")
  }

  test("golden: >1,000,000 chars rejected with exact reference error string") {
    val stmt = "select * from table;"
    val sql = stmt * 50001
    assert(errOf(sql) ==
      "invalid query: SQL string exceeds maximum length of 1000000 characters! " +
        "Either simplify query or break into multiple parts.")
  }

  test("single entity: two distinct relations rejected, self-named CTE passes") {
    assert(errOf("with a as (select * from t1) select * from t2") ==
      "invalid query: There must be exactly one entity per query.")
    // CTE named like the entity shadows it -> one distinct name -> valid
    assert(SqlValidator.validate(
      "with lineitem as (select * from lineitem) select * from lineitem", spark) == "lineitem")
  }

  test("accepted surface parses and returns the entity") {
    assert(SqlValidator.validate(
      "select linenumber, tax_amount from lineitem where tax_percent > 3 limit 10",
      spark) == "lineitem")
    assert(SqlValidator.validate(
      """select returnflag, linestatus, sum(quantity) filter (where quantity > 5) q,
        |       row_number() over (partition by returnflag order by linestatus) rn
        |from lineitem group by rollup(returnflag, linestatus)
        |having count(*) > 0 order by returnflag limit 5""".stripMargin, spark) == "lineitem")
    assert(SqlValidator.validate(
      "select * from lineitem where orderkey in (select orderkey from lineitem) " +
        "and exists (select 1 from lineitem)", spark) == "lineitem")
  }

  test("joins / multipart names / distribute by rejected") {
    assert(errOf("select * from a join b on a.x = b.x").contains("only explicit source"))
    assert(errOf("select * from cat.db.t").contains("Explicit table paths are not allowed!"))
    assert(errOf("select * from t distribute by x") ==
      "invalid query: Distribute by clause is not allowed!")
  }

  test("SIMILAR TO translates to anchored RLIKE and validates/executes") {
    assert(SqlValidator.preprocess(
      "select * from t where name SIMILAR TO 'Cust%r#_1'") ==
      "select * from t where name RLIKE '^(?:Cust.*r#.1)$'")
    assert(SqlValidator.preprocess(
      "select * from t where name NOT SIMILAR TO '(a|b)%'") ==
      "select * from t where name NOT RLIKE '^(?:(a|b).*)$'")
    assert(SqlValidator.validate(
      "select custkey from customer where customername similar to 'Customer#%1'",
      spark) == "customer")
    // end-to-end: SIMILAR TO == equivalent LIKE
    graft.mesh.Fixtures.registerRaw(spark, TestSessions.sfDir)
    val session = new graft.mesh.MeshSession(spark, graft.mesh.Fixtures.mesh, "global")
    val viaSimilar = session.sql(
      "select custkey from customer where customername SIMILAR TO 'Customer#%1'")
    val viaLike = session.sql(
      "select custkey from customer where customername LIKE 'Customer#%1'")
    assert(viaSimilar.exceptAll(viaLike).count() == 0)
    assert(viaLike.exceptAll(viaSimilar).count() == 0)
    assert(viaLike.count() > 0)
  }

  test("TOP n bridges to LIMIT n and validates/executes (validation.rs:423-427)") {
    assert(SqlValidator.preprocess(
      "SELECT TOP 5 custkey FROM customer ORDER BY custkey") ==
      "SELECT custkey FROM customer ORDER BY custkey LIMIT 5")
    assert(SqlValidator.preprocess(
      "select distinct top (3) mktsegment from customer") ==
      "select distinct mktsegment from customer LIMIT 3")
    // PERCENT / WITH TIES have no LIMIT equivalent: fall through untouched
    assert(SqlValidator.preprocess("SELECT TOP 5 PERCENT x FROM t") ==
      "SELECT TOP 5 PERCENT x FROM t")
    // a column named top / top_5 is not a quantity — untouched
    assert(SqlValidator.preprocess("SELECT top FROM t") == "SELECT top FROM t")
    // T-SQL scopes TOP to its own SELECT branch; a trailing LIMIT would
    // bind to the whole union — decline to the parser's error instead of
    // silently changing semantics (round-12 review finding)
    val topUnion = "SELECT TOP 3 custkey FROM customer UNION ALL SELECT custkey FROM customer"
    assert(SqlValidator.preprocess(topUnion) == topUnion)
    // a UNION inside a string literal is not a set operation — bridged
    assert(SqlValidator.preprocess("SELECT TOP 2 x FROM t WHERE y = ' UNION '")
      == "SELECT x FROM t WHERE y = ' UNION ' LIMIT 2")
    // the common trailing terminator is stripped BEFORE the bridges run
    // (round-12 advice: declining `...;` on otherwise-bridgeable SQL) —
    // only an EMBEDDED separator still declines
    assert(SqlValidator.preprocess("SELECT TOP 2 x FROM t; ") ==
      "SELECT x FROM t LIMIT 2")
    assert(SqlValidator.preprocess("SELECT TOP 2 x FROM t; SELECT 1") ==
      "SELECT TOP 2 x FROM t; SELECT 1")
    // a backslash-escaped quote must not flip the literal scanner: the
    // UNION after 'a\'b' is REAL and the bridge must decline
    val escUnion = "SELECT TOP 2 x FROM t WHERE y = 'a\\'b' UNION ALL SELECT x FROM t"
    assert(SqlValidator.preprocess(escUnion) == escUnion)
    // a CALL to a function named top is not the quantity form — untouched
    assert(SqlValidator.preprocess("SELECT top(5) AS x FROM t") ==
      "SELECT top(5) AS x FROM t")
    assert(SqlValidator.validate(
      "SELECT TOP 7 custkey FROM customer ORDER BY custkey", spark) == "customer")
    graft.mesh.Fixtures.registerRaw(spark, TestSessions.sfDir)
    val session = new graft.mesh.MeshSession(spark, graft.mesh.Fixtures.mesh, "global")
    val viaTop = session.sql("SELECT TOP 7 custkey FROM customer ORDER BY custkey")
    val viaLimit = session.sql("SELECT custkey FROM customer ORDER BY custkey LIMIT 7")
    assert(viaTop.collect().toSeq == viaLimit.collect().toSeq)
    assert(viaTop.count() == 7)
  }

  test("DISTINCT ON bridges to the row_number form and validates/executes (validation.rs:413-422)") {
    val don = "SELECT DISTINCT ON (nationkey) nationkey, custkey, acctbal " +
      "FROM customer ORDER BY nationkey, acctbal DESC, custkey"
    val bridged = SqlValidator.preprocess(don)
    assert(bridged ==
      "SELECT nationkey, custkey, acctbal FROM (SELECT nationkey, custkey, acctbal, " +
        "row_number() OVER (PARTITION BY nationkey ORDER BY nationkey, acctbal DESC, custkey) " +
        "AS __graft_rn FROM customer) __graft_don WHERE __graft_rn = 1 " +
        "ORDER BY nationkey, acctbal DESC, custkey")
    // no ORDER BY -> the ON exprs order the window
    assert(SqlValidator.preprocess("SELECT DISTINCT ON (k) k, v FROM t") ==
      "SELECT k, v FROM (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY k) " +
        "AS __graft_rn FROM t) __graft_don WHERE __graft_rn = 1")
    // aliased expressions derive their output name from the alias
    assert(SqlValidator.preprocess(
      "SELECT DISTINCT ON (k) k, round(v, 2) AS rv FROM t").startsWith("SELECT k, rv FROM "))
    // star projections cannot be re-projected: untouched (pre-bridge behavior)
    assert(SqlValidator.preprocess("SELECT DISTINCT ON (k) * FROM t") ==
      "SELECT DISTINCT ON (k) * FROM t")
    // a subquery's ORDER BY is NOT the outer ORDER BY (round-12 review
    // finding: the regex form captured the first occurrence anywhere and
    // emitted garbled SQL) — the scanner leaves the derived table intact
    // and orders the window by the ON exprs
    assert(SqlValidator.preprocess(
      "SELECT DISTINCT ON (k) k, v FROM (SELECT k, v FROM u ORDER BY v DESC LIMIT 3) t") ==
      "SELECT k, v FROM (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY k) " +
        "AS __graft_rn FROM (SELECT k, v FROM u ORDER BY v DESC LIMIT 3) t) " +
        "__graft_don WHERE __graft_rn = 1")
    // trailing paging belongs to the DISTINCT result, not the source
    assert(SqlValidator.preprocess(
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC LIMIT 4") ==
      "SELECT k, v FROM (SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY k, v DESC) " +
        "AS __graft_rn FROM t) __graft_don WHERE __graft_rn = 1 ORDER BY k, v DESC LIMIT 4")
    // a FROM inside a projection string literal does not split the clause
    assert(SqlValidator.preprocess(
      "SELECT DISTINCT ON (k) k, ' FROM ' AS tag FROM t") ==
      "SELECT k, tag FROM (SELECT k, ' FROM ' AS tag, row_number() OVER (" +
        "PARTITION BY k ORDER BY k) AS __graft_rn FROM t) __graft_don WHERE __graft_rn = 1")
    // set operations cannot scope through the rewrite — untouched
    val donUnion = "SELECT DISTINCT ON (k) k FROM t UNION SELECT k FROM u"
    assert(SqlValidator.preprocess(donUnion) == donUnion)
    // ordinal sort keys do not resolve inside a window spec — declined
    // rather than silently ordering the window by a constant
    val donOrd = "SELECT DISTINCT ON (k) k, v FROM t ORDER BY 1, 2 DESC"
    assert(SqlValidator.preprocess(donOrd) == donOrd)
    assert(SqlValidator.validate(don, spark) == "customer")
    graft.mesh.Fixtures.registerRaw(spark, TestSessions.sfDir)
    val session = new graft.mesh.MeshSession(spark, graft.mesh.Fixtures.mesh, "global")
    val viaDon = session.sql(don)
    val viaRn = session.sql(
      "SELECT nationkey, custkey, acctbal FROM (" +
        "SELECT nationkey, custkey, acctbal, row_number() OVER (" +
        "PARTITION BY nationkey ORDER BY acctbal DESC, custkey) AS rn FROM customer) t " +
        "WHERE rn = 1 ORDER BY nationkey")
    assert(viaDon.collect().toSeq == viaRn.collect().toSeq)
    assert(viaDon.count() > 0)
  }

  test("LISTAGG ON OVERFLOW ERROR clause drops; TRUNCATE falls through (validation.rs:302-312)") {
    // SQL:2016 places the clause INSIDE the LISTAGG parens:
    // LISTAGG(expr, sep ON OVERFLOW ...) WITHIN GROUP (...)
    assert(SqlValidator.preprocess(
      "SELECT listagg(name, ',' ON OVERFLOW ERROR) WITHIN GROUP (ORDER BY name) FROM t") ==
      "SELECT listagg(name, ',') WITHIN GROUP (ORDER BY name) FROM t")
    // at paren depth 0 the phrase cannot be a listagg clause (no valid SQL
    // puts it there) — untouched, so the parser rejects it like the
    // reference's sqlparser would
    assert(SqlValidator.preprocess("SELECT x ON OVERFLOW ERROR FROM t") ==
      "SELECT x ON OVERFLOW ERROR FROM t")
    // TRUNCATE never fires either (Spark has no VARCHAR cap): strip the
    // clause with its filler literal and count decoration intact
    assert(SqlValidator.preprocess(
      "SELECT listagg(name, ',' ON OVERFLOW TRUNCATE) FROM t") ==
      "SELECT listagg(name, ',') FROM t")
    assert(SqlValidator.preprocess(
      "SELECT listagg(name, ',' ON OVERFLOW TRUNCATE '...' WITH COUNT) FROM t") ==
      "SELECT listagg(name, ',') FROM t")
    assert(SqlValidator.preprocess(
      "SELECT listagg(name ON OVERFLOW TRUNCATE WITHOUT COUNT) FROM t") ==
      "SELECT listagg(name) FROM t")
    // the filler is a string literal — a ') ' inside it must not confuse
    // the call-paren tracking
    assert(SqlValidator.preprocess(
      "SELECT listagg(name, ',' ON OVERFLOW TRUNCATE ') oops' WITH COUNT) FROM t") ==
      "SELECT listagg(name, ',') FROM t")
    // at depth 0 the phrase is not a listagg clause — untouched
    assert(SqlValidator.preprocess("SELECT x ON OVERFLOW TRUNCATE FROM t") ==
      "SELECT x ON OVERFLOW TRUNCATE FROM t")
    // the phrase inside a string literal survives byte-for-byte (round-12
    // review finding: the unguarded replaceAll corrupted the literal)
    assert(SqlValidator.preprocess(
      "SELECT count(*) FROM events WHERE props LIKE '% ON OVERFLOW ERROR%'") ==
      "SELECT count(*) FROM events WHERE props LIKE '% ON OVERFLOW ERROR%'")
    // double-quoted Spark string literals are literals too
    assert(SqlValidator.preprocess(
      "SELECT count(*) FROM events WHERE props LIKE \"% ON OVERFLOW ERROR%\"") ==
      "SELECT count(*) FROM events WHERE props LIKE \"% ON OVERFLOW ERROR%\"")
  }

  /** The ONE struct subquery every captured-operand quantifier rewrite
    * references (extrema + no-witness default). */
  private def quantSq(body: String, isAll: Boolean): String = {
    val e = if (isAll) "TRUE" else "FALSE"
    s"(SELECT struct(MIN(__graft_qc) AS mn, MAX(__graft_qc) AS mx, " +
      s"CASE WHEN count(*) = 0 THEN $e " +
      s"WHEN count(__graft_qc) < count(*) THEN NULL " +
      s"ELSE $e END AS r) FROM ($body) __graft_qt(__graft_qc))"
  }

  /** Expected emission of the inequality-quantifier CASE rewrite. */
  private def quantCase(
      v: String, op: String, ext: String, body: String, isAll: Boolean): String = {
    val sq = quantSq(body, isAll)
    val f = ext.toLowerCase match { case "min" => "mn"; case _ => "mx" }
    val branch =
      if (isAll) s"WHEN NOT ($v $op $sq.$f) THEN FALSE"
      else s"WHEN $v $op $sq.$f THEN TRUE"
    s"(CASE $branch WHEN $v IS NULL AND $sq.$f IS NOT NULL THEN NULL " +
      s"ELSE $sq.r END)"
  }

  /** Expected emission of the equality-quantifier (`= ALL` / `<> ANY`)
    * CASE rewrite: witness = a non-null element differing from v. */
  private def quantEqCase(v: String, body: String, isAll: Boolean): String = {
    val sq = quantSq(body, isAll)
    val wv = if (isAll) "FALSE" else "TRUE"
    s"(CASE WHEN ($v <> $sq.mn OR $v <> $sq.mx) THEN $wv " +
      s"WHEN $v IS NULL AND $sq.mn IS NOT NULL THEN NULL " +
      s"ELSE $sq.r END)"
  }

  test("quantified ANY/SOME/ALL bridges to IN / NOT IN / exact CASE subqueries (validation.rs:164-171)") {
    assert(SqlValidator.preprocess(
      "SELECT k FROM t WHERE k = ANY (SELECT k FROM t WHERE v > 1)") ==
      "SELECT k FROM t WHERE k IN (SELECT k FROM t WHERE v > 1)")
    assert(SqlValidator.preprocess(
      "SELECT k FROM t WHERE k = SOME (SELECT k FROM u)") ==
      "SELECT k FROM t WHERE k IN (SELECT k FROM u)")
    assert(SqlValidator.preprocess(
      "SELECT k FROM t WHERE k <> ALL (SELECT k FROM u)") ==
      "SELECT k FROM t WHERE k NOT IN (SELECT k FROM u)")
    // unspaced operators must not glue onto the operand (k=ANY -> k IN)
    assert(SqlValidator.preprocess(
      "SELECT k FROM t WHERE k=ANY(SELECT k FROM u)") ==
      "SELECT k FROM t WHERE k IN (SELECT k FROM u)")
    // inequality quantifiers expand to the exact three-valued CASE:
    // empty -> FALSE/TRUE, witness vs the non-null extremum, NULL when
    // the subquery carries NULLs or the operand is NULL
    val b = "SELECT v FROM u"
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE v > ANY ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("v", ">", "MIN", b, isAll = false)}")
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE v <= ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("v", "<=", "MIN", b, isAll = true)}")
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE v < ANY ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("v", "<", "MAX", b, isAll = false)}")
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE v >= ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("v", ">=", "MAX", b, isAll = true)}")
    // parenthesized and call operands capture whole
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE (a + b) > ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(a + b)", ">", "MAX", b, isAll = true)}")
    // COMPOUND left operands (validation.rs:164-171 whitelists an
    // arbitrary left expression): the capture extends across the whole
    // arithmetic/concat chain — the comparison binds looser than all of
    // it — and the emission parenthesizes the operand once
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE a + b > ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(a + b)", ">", "MAX", b, isAll = true)}")
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE a || b <> ANY ($b)") ==
      s"SELECT k FROM t WHERE ${quantEqCase("(a || b)", b, isAll = false)}")
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE -v < ANY ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(-v)", "<", "MAX", b, isAll = false)}")
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE t.v * f(y) % 3 >= ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(t.v * f(y) % 3)", ">=", "MAX", b, isAll = true)}")
    // the chain stops at a LOWER-precedence boundary: `p AND b` captures
    // only `b` (AND binds looser than the comparison — correct scope)
    assert(SqlValidator.preprocess(s"SELECT k FROM t WHERE p AND b = ALL ($b)") ==
      s"SELECT k FROM t WHERE p AND ${quantEqCase("b", b, isAll = true)}")
    val caseOp = s"SELECT k FROM t WHERE CASE WHEN p THEN q ELSE r END > ALL ($b)"
    assert(SqlValidator.preprocess(caseOp) == caseOp)
    // an operator after END is BINARY with a CASE-tail left operand —
    // uncapturable, so the whole chain declines (a partial capture of
    // `+ 1` would garble the statement, the round-12 class)
    val caseArith =
      s"SELECT k FROM t WHERE CASE WHEN p THEN q ELSE r END + 1 > ALL ($b)"
    assert(SqlValidator.preprocess(caseArith) == caseArith)
    // single-unit interval literals are capturable primaries in ALL
    // three spellings (unit after the literal, unit inside the literal,
    // unquoted) — the date-arithmetic operand chain bridges whole
    assert(SqlValidator.preprocess(
      s"SELECT k FROM t WHERE ts + INTERVAL '1' DAY > ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(ts + INTERVAL '1' DAY)", ">", "MAX", b, isAll = true)}")
    assert(SqlValidator.preprocess(
      s"SELECT k FROM t WHERE ts + INTERVAL '1 day' > ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(ts + INTERVAL '1 day')", ">", "MAX", b, isAll = true)}")
    assert(SqlValidator.preprocess(
      s"SELECT k FROM t WHERE ts + INTERVAL 1 DAY > ALL ($b)") ==
      s"SELECT k FROM t WHERE ${quantCase("(ts + INTERVAL 1 DAY)", ">", "MAX", b, isAll = true)}")
    // a bare word after a number WITHOUT the INTERVAL head is a
    // fragment — decline whole
    val numTail = s"SELECT k FROM t WHERE 1 FOO > ALL ($b)"
    assert(SqlValidator.preprocess(numTail) == numTail)
    // fragments still decline WHOLE (never a partial re-parenthesize):
    // '::' cast tails, compound TO-unit interval tails, array-index tails
    val castOp = s"SELECT k FROM t WHERE a::int > ALL ($b)"
    assert(SqlValidator.preprocess(castOp) == castOp)
    val castChain = s"SELECT k FROM t WHERE a::int + b > ALL ($b)"
    assert(SqlValidator.preprocess(castChain) == castChain)
    val toChain =
      s"SELECT k FROM t WHERE ts + INTERVAL '1-2' YEAR TO MONTH > ALL ($b)"
    assert(SqlValidator.preprocess(toChain) == toChain)
    val idxOp = s"SELECT k FROM t WHERE arr[1] + b > ALL ($b)"
    assert(SqlValidator.preprocess(idxOp) == idxOp)
    // = ALL and <> ANY bridge to the equality-witness CASE (a non-null
    // element differing from the operand decides; the dual identities
    // = ANY -> IN / <> ALL -> NOT IN stay on Spark's native IN)
    assert(SqlValidator.preprocess("SELECT k FROM t WHERE v = ALL (SELECT v FROM u)") ==
      s"SELECT k FROM t WHERE ${quantEqCase("v", "SELECT v FROM u", isAll = true)}")
    assert(SqlValidator.preprocess("SELECT k FROM t WHERE v <> ANY (SELECT v FROM u)") ==
      s"SELECT k FROM t WHERE ${quantEqCase("v", "SELECT v FROM u", isAll = false)}")
    assert(SqlValidator.preprocess("SELECT k FROM t WHERE v != ANY (SELECT v FROM u)") ==
      s"SELECT k FROM t WHERE ${quantEqCase("v", "SELECT v FROM u", isAll = false)}")
    // the equality forms share the compound capture, and literal bytes
    // survive untouched
    assert(SqlValidator.preprocess("SELECT k FROM t WHERE a + b = ALL (SELECT v FROM u)") ==
      s"SELECT k FROM t WHERE ${quantEqCase("(a + b)", "SELECT v FROM u", isAll = true)}")
    val eqLit = "SELECT k FROM t WHERE s = '= ALL (SELECT 1)'"
    assert(SqlValidator.preprocess(eqLit) == eqLit)
    // non-subquery operands and non-operator contexts pass through:
    // UNION ALL, SELECT ALL, aggregate any(...), LIKE ANY pattern lists
    val ua = "SELECT k FROM t UNION ALL SELECT k FROM u"
    assert(SqlValidator.preprocess(ua) == ua)
    val likeAny = "SELECT k FROM t WHERE s LIKE ANY ('a%', 'b%')"
    assert(SqlValidator.preprocess(likeAny) == likeAny)
    val anyCall = "SELECT any(flag) FROM t"
    assert(SqlValidator.preprocess(anyCall) == anyCall)
    // literal safety: the phrase inside a string survives byte-for-byte
    val lit = "SELECT k FROM t WHERE s = '= ANY (SELECT 1)'"
    assert(SqlValidator.preprocess(lit) == lit)
    // validates + executes end-to-end over one entity, equal to native IN
    assert(SqlValidator.validate(
      "SELECT custkey FROM customer WHERE nationkey = ANY (SELECT nationkey FROM customer WHERE acctbal > 9000)",
      spark) == "customer")
    graft.mesh.Fixtures.registerRaw(spark, TestSessions.sfDir)
    val session = new graft.mesh.MeshSession(spark, graft.mesh.Fixtures.mesh, "global")
    val viaAny = session.sql(
      "SELECT custkey FROM customer WHERE acctbal > ANY (SELECT acctbal FROM customer WHERE nationkey = 1) ORDER BY custkey")
    val viaMin = session.sql(
      "SELECT custkey FROM customer WHERE acctbal > (SELECT min(acctbal) FROM customer WHERE nationkey = 1) ORDER BY custkey")
    assert(viaAny.collect().toSeq == viaMin.collect().toSeq)
    assert(viaAny.count() > 0)
  }

  test("AT TIME ZONE bridges to to/from_utc_timestamp (validation.rs:176)") {
    assert(SqlValidator.preprocess(
      "SELECT ts AT TIME ZONE 'America/New_York' FROM events") ==
      "SELECT to_utc_timestamp(ts, 'America/New_York') FROM events")
    // qualified identifier operand
    assert(SqlValidator.preprocess(
      "SELECT e.ts AT TIME ZONE 'UTC' FROM events e") ==
      "SELECT to_utc_timestamp(e.ts, 'UTC') FROM events e")
    // call operand keeps its callee
    assert(SqlValidator.preprocess(
      "SELECT date_trunc('hour', ts) AT TIME ZONE 'Asia/Tokyo' FROM events") ==
      "SELECT to_utc_timestamp(date_trunc('hour', ts), 'Asia/Tokyo') FROM events")
    // typed literal operand
    assert(SqlValidator.preprocess(
      "SELECT TIMESTAMP '2024-01-01 00:00:00' AT TIME ZONE 'UTC'") ==
      "SELECT to_utc_timestamp(TIMESTAMP '2024-01-01 00:00:00', 'UTC')")
    // chained: the second application sees an instant -> from_utc_timestamp
    assert(SqlValidator.preprocess(
      "SELECT ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' FROM events") ==
      "SELECT from_utc_timestamp(to_utc_timestamp(ts, 'UTC'), 'America/New_York') FROM events")
    // ... and through wrapping parens (Postgres accepts the explicit form)
    assert(SqlValidator.preprocess(
      "SELECT (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo' FROM events") ==
      "SELECT from_utc_timestamp((to_utc_timestamp(ts, 'UTC')), 'Asia/Tokyo') FROM events")
    // zone must be a string literal; otherwise decline to the parser error
    val zexpr = "SELECT ts AT TIME ZONE tzcol FROM events"
    assert(SqlValidator.preprocess(zexpr) == zexpr)
    // NON-EXPRESSION fragment captures decline WHOLE: a '::' cast tail or
    // a CASE END must not rewrite into garbled
    // `x::to_utc_timestamp(timestamp, ...)` text
    val castFrag = "SELECT x::timestamp AT TIME ZONE 'UTC' FROM events"
    assert(SqlValidator.preprocess(castFrag) == castFrag)
    val caseFrag =
      "SELECT CASE WHEN p THEN ts ELSE ts END AT TIME ZONE 'UTC' FROM events"
    assert(SqlValidator.preprocess(caseFrag) == caseFrag)
    // ...but an operator-preceded primary IS the whole operand (AT TIME
    // ZONE binds tighter than every binary operator in Postgres): these
    // bridge, they do not decline
    assert(SqlValidator.preprocess("SELECT ts + i AT TIME ZONE 'UTC' FROM events") ==
      "SELECT ts + to_utc_timestamp(i, 'UTC') FROM events")
    assert(SqlValidator.preprocess(
      "SELECT k FROM t WHERE x = ts AT TIME ZONE 'UTC'") ==
      "SELECT k FROM t WHERE x = to_utc_timestamp(ts, 'UTC')")
    // literal safety
    val lit = "SELECT k FROM t WHERE s = 'AT TIME ZONE ''x'''"
    assert(SqlValidator.preprocess(lit) == lit)
    assert(SqlValidator.validate(
      "SELECT ts AT TIME ZONE 'UTC' AS tsu FROM events", spark) == "events")
  }

  test("ARRAY(subquery) bridges to a scalar collect_list (validation.rs:296)") {
    // ORDER BY 1 (by the projected value) -> array_sort, which IS that
    // order independent of partial-list merge order — the only
    // cluster-safe spelling (shuffle fetch order is not deterministic).
    // Rows collect as one-field structs so NULL elements survive like
    // DuckDB/Postgres ARRAY (collect_list alone would drop them).
    val unwrap = "transform(collect_list(struct(__graft_ac)), x -> x.__graft_ac)"
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u ORDER BY 1) AS arr FROM t") ==
      s"SELECT (SELECT array_sort($unwrap) FROM " +
        "(SELECT k FROM u ORDER BY 1) __graft_at(__graft_ac)) AS arr FROM t")
    // no ORDER BY: unspecified order, like the standard
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u) AS arr FROM t") ==
      s"SELECT (SELECT $unwrap FROM (SELECT k FROM u) " +
        "__graft_at(__graft_ac)) AS arr FROM t")
    // any OTHER ordering rides a rank column: the body projects
    // row_number() over the written keys (direction kept, unspecified
    // null placement made explicitly NULLS LAST — DuckDB's default in
    // both directions, where Spark's own flips) and array_sort orders on
    // the never-null unique rank — merge-order-independent for arbitrary
    // keys. Ordinal 1 / the output alias resolve to the projected
    // expression (a window spec sees neither).
    def ranked(proj: String, keys: String, rest: String) =
      "(SELECT transform(array_sort(collect_list(" +
        "struct(__graft_rn, __graft_ac))), x -> x.__graft_ac) " +
        s"FROM (SELECT $proj, row_number() OVER (ORDER BY $keys) " +
        s"AS __graft_rn FROM $rest) __graft_at(__graft_ac, __graft_rn))"
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u ORDER BY k) AS arr FROM t") ==
      s"SELECT ${ranked("k", "k ASC NULLS LAST", "u")} AS arr FROM t")
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u ORDER BY k DESC) AS arr FROM t") ==
      s"SELECT ${ranked("k", "k DESC NULLS LAST", "u")} AS arr FROM t")
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u ORDER BY v DESC NULLS FIRST, k ASC) AS arr FROM t") ==
      s"SELECT ${ranked("k", "v DESC NULLS FIRST, k ASC NULLS LAST", "u")} AS arr FROM t")
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k AS a FROM u ORDER BY a DESC) AS arr FROM t") ==
      s"SELECT ${ranked("k AS a", "(k) DESC NULLS LAST", "u")} AS arr FROM t")
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u ORDER BY 1 DESC) AS arr FROM t") ==
      s"SELECT ${ranked("k", "(k) DESC NULLS LAST", "u")} AS arr FROM t")
    // GROUP BY bodies keep their aggregation under the rank projection
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT k FROM u GROUP BY k ORDER BY length(k) DESC, k) AS arr FROM t") ==
      s"SELECT ${ranked("k", "length(k) DESC NULLS LAST, k ASC NULLS LAST",
        "u GROUP BY k")} AS arr FROM t")
    // DISTINCT bodies rank ABOVE the intact distinct SELECT; keys may
    // only be the projected value (ordinal/alias/verbatim expression —
    // the standard's own SELECT DISTINCT ordering constraint)
    def rankedDistinct(body: String, keys: String) =
      "(SELECT transform(array_sort(collect_list(" +
        "struct(__graft_rn, __graft_ac))), x -> x.__graft_ac) " +
        s"FROM (SELECT __graft_ac, row_number() OVER (ORDER BY $keys) " +
        s"AS __graft_rn FROM ($body) __graft_ad(__graft_ac)) " +
        "__graft_at(__graft_ac, __graft_rn))"
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT DISTINCT k FROM u ORDER BY k DESC) AS arr FROM t") ==
      s"SELECT ${rankedDistinct("SELECT DISTINCT k FROM u",
        "__graft_ac DESC NULLS LAST")} AS arr FROM t")
    assert(SqlValidator.preprocess(
      "SELECT ARRAY(SELECT DISTINCT k FROM u ORDER BY 1 DESC NULLS FIRST) AS arr FROM t") ==
      s"SELECT ${rankedDistinct("SELECT DISTINCT k FROM u",
        "__graft_ac DESC NULLS FIRST")} AS arr FROM t")
    // a DISTINCT key beyond the projected value cannot rank above the
    // distinct — decline whole
    val byDistinctExpr =
      "SELECT ARRAY(SELECT DISTINCT k FROM u ORDER BY length(k) DESC) AS arr FROM t"
    assert(SqlValidator.preprocess(byDistinctExpr) == byDistinctExpr)
    // ordinals beyond the projection and paging still decline whole
    val byOrd2 = "SELECT ARRAY(SELECT k FROM u ORDER BY 2) AS arr FROM t"
    assert(SqlValidator.preprocess(byOrd2) == byOrd2)
    val byPaged =
      "SELECT ARRAY(SELECT k FROM u ORDER BY k DESC LIMIT 3) AS arr FROM t"
    assert(SqlValidator.preprocess(byPaged) == byPaged)
    // the element-expression constructor is Spark-native — untouched
    assert(SqlValidator.preprocess("SELECT array(1, 2) FROM t") ==
      "SELECT array(1, 2) FROM t")
    // an ARRAY type mention (cast) is not the constructor — untouched
    assert(SqlValidator.preprocess("SELECT CAST(x AS ARRAY<INT>) FROM t") ==
      "SELECT CAST(x AS ARRAY<INT>) FROM t")
    val lit = "SELECT 'ARRAY(SELECT 1)' FROM t"
    assert(SqlValidator.preprocess(lit) == lit)
  }

  test("DISTINCT ON declines non-Postgres ORDER BY prefixes and duplicate names") {
    // Postgres: "SELECT DISTINCT ON expressions must match initial ORDER BY
    // expressions" — a mismatched prefix must not bridge into DIFFERENT
    // semantics (round-12 advice)
    val badOrder = "SELECT DISTINCT ON (k) k, v FROM t ORDER BY v DESC"
    assert(SqlValidator.preprocess(badOrder) == badOrder)
    val badOrder2 = "SELECT DISTINCT ON (k, j) k, j, v FROM t ORDER BY k, v"
    assert(SqlValidator.preprocess(badOrder2) == badOrder2)
    // matching prefix with direction decoration still bridges
    assert(SqlValidator.preprocess(
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k ASC, v DESC") !=
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k ASC, v DESC")
    // duplicate projection output names would make the outer projection
    // ambiguous — decline
    val dup = "SELECT DISTINCT ON (k) k, a.v, b.v FROM t ORDER BY k"
    assert(SqlValidator.preprocess(dup) == dup)
  }

  test("golden: literal {}-brace predicate survives validation and execution (query4)") {
    // the reference's query4 (`test/queries.py:16-20`): `{tax_val}` braces
    // are LITERAL characters inside string literals — they must pass the
    // validator untouched and the tautological predicate must not change
    // the result. (Template-side escaping for mapping expressions is the
    // Transformation `{{...}}` capture-brace rule, AlgebraSpec.)
    val q4 = "select linenumber, tax_percent from lineitem " +
      "where tax_percent>3 and '{tax_val}'='{tax_val}'  limit 10"
    assert(SqlValidator.validate(q4, spark) == "lineitem")
    graft.mesh.Fixtures.registerRaw(spark, TestSessions.sfDir)
    val session = new graft.mesh.MeshSession(spark, graft.mesh.Fixtures.mesh, "global")
    val got = session.sql(q4)
    assert(got.count() == 10)
    // tautology: same rows as the query without the brace predicate
    val without = session.sql(
      "select linenumber, tax_percent from lineitem where tax_percent>3 limit 10")
    assert(got.columns.toSeq == Seq("linenumber", "tax_percent"))
    assert(got.exceptAll(without).count() == 0 && without.exceptAll(got).count() == 0)
  }

  test("syntax errors surface as sqlparser syntax error") {
    assert(errOf("selec * from t").startsWith("invalid query: sqlparser syntax error:"))
  }

  test("default-deny: TABLESAMPLE, hints, and novel constructs rejected") {
    // the reference rejects every construct not on its whitelist
    // (`validation.rs:372-376` catch-all, table factors :445-478); the plan
    // walker must do the same, not merely blacklist known offenders.
    assert(errOf("select * from lineitem tablesample (10 percent)") ==
      "invalid query: only explicit source substitutions are allowed but found TABLESAMPLE")
    assert(errOf("select /*+ BROADCAST(lineitem) */ * from lineitem") ==
      "invalid query: Unrecognized query expression is not implemented")
    // novel-construct probe: a Spark-specific plan node outside the allowed
    // set (TRANSFORM parses to ScriptTransformation)
    assert(errOf("select transform(a) using 'cat' from lineitem") ==
      "invalid query: Unrecognized query expression is not implemented")
    // default-deny must also reach subquery-expression plans (expressions,
    // not children): a JOIN hidden inside IN (...) is rejected
    assert(errOf("select * from lineitem where orderkey in " +
      "(select a.x from lineitem a join lineitem b on a.x = b.x)")
      .contains("only explicit source"))
  }

  test("CLUSTER BY and COLLATE rejected with reference messages") {
    assert(errOf("select * from t cluster by x") ==
      "invalid query: Cluster by clause is not allowed!")
    // plain SORT BY stays allowed (validation.rs:512-514)
    assert(SqlValidator.validate(
      "select custkey from customer sort by custkey", spark) == "customer")
    // DISTRIBUTE BY x SORT BY y parses to the same Sort-over-Repartition
    // node pair as CLUSTER BY but with different expressions — it must
    // keep the reference's DISTRIBUTE BY message
    assert(errOf("select * from t distribute by x sort by y") ==
      "invalid query: Distribute by clause is not allowed!")
    assert(errOf("select customername collate unicode_ci from customer") ==
      "invalid query: collation expressions are not allowed")
    // the FUNCTION-CALL spellings parse as UnresolvedFunction, not the
    // Collate node — they must hit the same deny, not slip past it
    assert(errOf("select collate(customername, 'unicode_ci') from customer") ==
      "invalid query: collation expressions are not allowed")
    assert(errOf("select COLLATION(customername) from customer") ==
      "invalid query: collation expressions are not allowed")
  }

  test("lateral views and table-valued functions rejected") {
    assert(errOf("select * from t lateral view explode(xs) e as x") ==
      "invalid query: Lateral views are not allowed!")
    assert(errOf("select * from range(10)") ==
      "invalid query: Table valued functions are not allowed!")
  }
}
