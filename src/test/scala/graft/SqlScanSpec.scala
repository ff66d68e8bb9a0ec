package graft

import org.scalatest.funsuite.AnyFunSuite

/** Direct unit tests of the shared lexical scanner. The rewrites in
  * GraftSql are covered end-to-end by the fuzz tiers; this spec pins the
  * primitives' contracts in isolation so a future edit to one of them
  * fails HERE with a readable case, not three layers up in a corpus
  * statement.
  */
class SqlScanSpec extends AnyFunSuite {
  import SqlScan._

  private def maskOf(s: String) = literalMask(s)

  test("literalMask: opening quote outside, interior and escapes inside") {
    val s = "a 'b''c' d"
    val m = maskOf(s)
    assert(!m(2), "opening quote must be outside")
    assert(m(3) && m(4) && m(5) && m(6) && m(7), "interior + escape + closer inside")
    assert(!m(0) && !m(9))
  }

  test("parenDepthOf ignores parens inside literals") {
    val s = "f(a, '(((' , b)"
    val d = parenDepthOf(s, maskOf(s))
    assert(d(s.length - 1) == 0)
    assert(d.max == 1, "literal parens must not nest")
  }

  test("closeParen / closeGroup: nesting, masking, unbalanced") {
    val s = "f(g(x, ')'), [1, [2]])"
    val m = maskOf(s)
    assert(closeParen(s, m, 1) == s.length - 1)
    assert(closeParen(s, m, 3) == 10)
    assert(closeGroup(s, m, 13, '[', ']') == s.length - 2)
    assert(closeParen("f(x", maskOf("f(x"), 1) == -1)
  }

  test("operandStart: identifiers, call chains, literals, groups") {
    def start(s: String): Int = operandStart(s, maskOf(s), s.length - 1)
    assert(start("a.b.c") == 0)
    assert(start("  tbl.col") == 2)
    assert(start("f(x, y)") == 0)
    // a trailing subscript group after a call closes on ITSELF: the
    // backward scan does not chain through `)[` (pinned contract — arrow
    // LHS capture for `f(x)[0] -> 'k'` starts at the subscript)
    assert(start("ns.fn(x)[2]") == 8)
    assert(start("x + 'lit'") == 4, "literal operand starts at its opening quote")
    assert(operandStart("a +", maskOf("a +"), 2) == -1, "operator is not an operand")
  }

  test("exprStart: arithmetic chains, unary signs, CASE END operands") {
    def es(s: String): Int = exprStart(s, maskOf(s), s.length - 1)
    assert(es("n % 5") == 0)
    assert(es("WHERE a + b * c") == 6)
    assert(es("WHERE -5") == 6, "unary minus folds into the operand")
    val caseSql = "WHERE CASE WHEN a THEN 1 ELSE 2 END"
    assert(es(caseSql) == 6, "a lone END extends to its CASE")
    val caseArith = "WHERE CASE WHEN a THEN 1 ELSE 2 END - 5"
    assert(es(caseArith) == 6, "CASE END as left arithmetic operand")
  }

  test("matchingCaseStart / matchingCaseEnd: nesting and identifier immunity") {
    val s = "CASE WHEN weekend THEN CASE WHEN b THEN 1 ELSE 2 END ELSE 3 END"
    val m = maskOf(s)
    assert(matchingCaseEnd(s, m, 0) == s.length, "outer CASE spans to outer END")
    val inner = s.indexOf("CASE", 4)
    assert(matchingCaseEnd(s, m, inner) == s.indexOf("END") + 3,
      "inner CASE closes at inner END")
    assert(matchingCaseStart(s, m, s.length - 1) == 0,
      "outer END opens at outer CASE; `weekend` must not count")
  }

  test("prevToken / operandEndsBefore / startsExpression") {
    val kw = Set("select", "where", "and")
    assert(prevToken("", 0) == PrevTok.Start)
    assert(prevToken("a + b", 4) == PrevTok.Sym('+'))
    assert(prevToken("SELECT x", 8) == PrevTok.Word("x"))
    // operand tails
    assert(operandEndsBefore("f(x) XOR", 5, kw))
    assert(operandEndsBefore("'lit' XOR", 6, kw))
    assert(operandEndsBefore("col XOR", 4, kw))
    // boundary keyword / operator / start: no operand
    assert(!operandEndsBefore("WHERE XOR", 6, Set("where")))
    assert(!operandEndsBefore("a + XOR", 4, kw))
    assert(!operandEndsBefore("XOR", 0, kw))
    // expression starts
    val startKw = Set("select", "where", "then")
    assert(startsExpression("SELECT INTERVAL", 7, startKw))
    assert(startsExpression("f(INTERVAL", 2, startKw))
    assert(startsExpression("a < INTERVAL", 4, startKw))
    assert(!startsExpression("ts - INTERVAL", 5, startKw),
      "right operand of arithmetic is mid-expression")
    assert(!startsExpression("f(x) INTERVAL", 5, startKw))
  }

  test("infixOperandBounds: boundaries, CASE blocks as single operands") {
    val kw = Set("or", "select", "where", "when", "then", "else", "end", "case")
    def bounds(s: String): (String, String) = {
      val x = s.indexOf("XOR")
      val (ls, re) = infixOperandBounds(s, maskOf(s), x, x + 3, kw)
      (s.substring(ls, x).trim, s.substring(x + 3, re).trim)
    }
    assert(bounds("SELECT a XOR b OR c") == ("a", "b"))
    assert(bounds("f(a XOR b, c)") == ("a", "b"))
    assert(bounds("SELECT a AND b XOR c") == ("a AND b", "c"))
    // a complete CASE…END is one operand on either side
    assert(bounds("SELECT CASE WHEN a THEN 1 ELSE 2 END XOR b")
      == ("CASE WHEN a THEN 1 ELSE 2 END", "b"))
    assert(bounds("SELECT b XOR CASE WHEN a THEN 1 ELSE 2 END")
      == ("b", "CASE WHEN a THEN 1 ELSE 2 END"))
    // …but an XOR INSIDE a CASE arm stays inside that arm
    assert(bounds("CASE WHEN a XOR b THEN 1 ELSE 2 END") == ("a", "b"))
  }

  test("topLevelArms: depth-0 set ops cut, EXCEPT( and literals do not") {
    def arms(s: String): Seq[String] = {
      val m = maskOf(s)
      topLevelArms(s, m, parenDepthOf(s, m)).map { case (a, b) => s.substring(a, b).trim }
    }
    assert(arms("SELECT 1") == Seq("SELECT 1"))
    assert(arms("SELECT 1 UNION ALL SELECT 2") == Seq("SELECT 1", "SELECT 2"))
    assert(arms("SELECT 1 UNION SELECT 2 INTERSECT SELECT 3").size == 3)
    assert(arms("SELECT x FROM (SELECT 1 UNION ALL SELECT 2)").size == 1,
      "nested set op is not a top-level cut")
    assert(arms("SELECT 'a UNION b'").size == 1, "literal content is not a cut")
    assert(arms("SELECT * EXCEPT (x) FROM t UNION ALL SELECT 1").size == 2,
      "EXCEPT( is column exclusion, UNION still cuts")
  }

  test("relationRefs: FROM items, aliases, derived tables, table functions") {
    def refs(s: String) = {
      val m = maskOf(s)
      relationRefs(s, m, parenDepthOf(s, m))
    }
    // names + aliases, AS optional, clause keywords never aliases
    val r1 = refs("SELECT * FROM orders o JOIN customer AS c ON o.k = c.k WHERE 1=1")
    assert(r1.map(r => (r.keyword, r.name, r.alias)) == Seq(
      ("from", Some("orders"), Some("o")),
      ("join", Some("customer"), Some("c"))))
    assert(r1.forall(_.afterKeyword))
    // comma list: later items are not afterKeyword; stopword ends capture
    val r2 = refs("SELECT * FROM a, b x, c WHERE y")
    assert(r2.map(r => (r.name, r.alias, r.afterKeyword)) == Seq(
      (Some("a"), None, true), (Some("b"), Some("x"), false),
      (Some("c"), None, false)))
    // derived tables are name-less; table functions flagged
    val r3 = refs("SELECT * FROM (SELECT 1) t JOIN UNNEST(xs) u")
    assert(r3.head.name.isEmpty && r3.head.keyword == "from")
    assert(r3.last.tableFn && r3.last.name.contains("UNNEST"))
    // FROM range(0, 10): identifier then paren is a table fn, not derived
    val r4 = refs("SELECT * FROM range(0, 10)")
    assert(r4.map(r => (r.name, r.tableFn)) == Seq((Some("range"), true)))
    // JOIN ( and quoted targets are name-less (opacity hooks)
    val r5 = refs("""SELECT * FROM t JOIN (SELECT 1) s ON 1=1""")
    assert(r5.exists(r => r.keyword == "join" && r.name.isEmpty && !r.quoted))
    assert(refs("""SELECT * FROM "weird name"""").exists(_.quoted))
  }

  test("relationRefs: depth, literal masking, nested FROM") {
    def refs(s: String) = {
      val m = maskOf(s)
      relationRefs(s, m, parenDepthOf(s, m))
    }
    // a subquery's FROM is recorded at its own depth
    val r = refs("SELECT * FROM (SELECT k FROM inner_t i) sub JOIN outer_t")
    assert(r.filter(_.depth == 0).flatMap(_.name) == Seq("outer_t"))
    assert(r.exists(x => x.name.contains("inner_t") && x.depth == 1 &&
      x.alias.contains("i")))
    // FROM inside a string literal is content, not a relation
    assert(refs("SELECT 'copied FROM x' FROM real_t").flatMap(_.name)
      == Seq("real_t"))
    // dotted and $-prefixed names survive
    assert(refs("SELECT * FROM db.sch.t JOIN $planets p").flatMap(_.name)
      == Seq("db.sch.t", "$planets"))
  }

  test("lex: literals, escapes, unterminated tail, comments only in comment mode") {
    val s = "a 'b''c' -- d'\n/* 'e */ /*+ f */ 'g"
    // without comment mode the apostrophe after `d` opens a literal
    assert(lex(s) == Seq(Span(2, 8, comment = false), Span(13, 19, comment = false),
      Span(33, 35, comment = false)))
    assert(lex(s, comments = true) == Seq(Span(2, 8, comment = false),
      Span(9, 14, comment = true), Span(15, 23, comment = true), Span(33, 35, comment = false)))
  }

  test("fixpoint: one step per occurrence until None, no-progress step throws") {
    var calls = 0
    val out = fixpoint("strip", "x" * 100) { (s, _) =>
      calls += 1
      if (s.isEmpty) None else Some(s.tail)
    }
    assert(out.isEmpty && calls == 101)
    // the mask handed to each step is the current text's literal mask
    assert(fixpoint("unquote", "'a' b") { (s, m) =>
      if (s.startsWith("'")) Some(s.substring(m.lastIndexOf(true) + 1).trim) else None
    } == "b")
    val e = intercept[IllegalStateException](fixpoint("stuck", "x")((s, _) => Some(s)))
    assert(e.getMessage.contains("stuck"))
  }

  test("topLevelCommas: nested groups and literals hide their commas") {
    val s = "f(a, g(b, c), [d, e], 'x,y')"
    assert(topLevelCommas(s, maskOf(s), 1, s.length - 1) == Seq(3, 12, 20))
  }
}
