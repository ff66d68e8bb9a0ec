package graft

import java.util.regex.Matcher

/** Shared literal-masked SQL token scanner — the ONE place the dialect
  * rewrites in [[GraftSql]] get their lexical context from.
  *
  * Three rounds of advisor findings were the same bug class: a rewrite's
  * regex fired mid-expression because its guard re-derived quote/paren/
  * operand context ad hoc (XOR splice r11, bare-alias retarget r12,
  * INTERVAL-minuend swap r12). This object promotes that machinery from
  * per-rewrite guard to shared infrastructure:
  *
  *  - the single-quote lexer ([[lex]]) — the only code that knows the
  *    `'…'` / `''`-escape grammar (and, for comment stripping, line and
  *    block comments); everything below reads its spans or its
  *    [[literalMask]];
  *  - literal masking ([[literalMask]], [[mapOutsideLiterals]],
  *    [[replaceOutsideLiterals]], [[mapOutsideBackticks]]) — no rewrite may
  *    see string-literal content as SQL;
  *  - the fixpoint driver ([[fixpoint]]) — every splice-one-occurrence
  *    rewrite runs under it: it recomputes the mask and applies one step
  *    until the step reports nothing left, with no iteration cap; a step
  *    that returns its input unchanged is an `IllegalStateException`
  *    naming the rewrite;
  *  - balanced-group scanning ([[parenDepthOf]], [[closeParen]],
  *    [[closeGroup]], [[topLevelCommas]]) — splices that consume a call's
  *    argument list find the real closing delimiter, mask-aware;
  *  - operand/expression capture ([[operandStart]], [[exprStart]],
  *    [[matchingCaseStart]], [[enclosingCallName]]) — backward scans that
  *    identify the operand an infix operator binds to;
  *  - explicit operand/operator context ([[prevToken]],
  *    [[operandEndsBefore]], [[startsExpression]]) — the decision "does an
  *    operand end immediately before position p" that every infix-keyword
  *    rewrite needs, written once with an ADT instead of per-rewrite char
  *    poking;
  *  - statement structure ([[topLevelArms]]) — depth-0 set-operation arm
  *    spans for per-arm scoped rewrites.
  *
  * All functions treat positions inside single-quoted literals per the
  * mask contract of [[literalMask]]: the OPENING quote is outside (a match
  * may start AT a literal), interior and closing quote are inside.
  */
private[graft] object SqlScan {

  /** A lexeme the rewrites never look into: a single-quoted literal from
    * its opening quote to just past its closing one (to the end of the text
    * when unterminated), or — in comment mode — a comment. */
  final case class Span(start: Int, end: Int, comment: Boolean)

  /** The single-quote lexer: the literal spans of `sql` in order, a doubled
    * `''` inside a literal being an escape. With `comments`, `--` line
    * comments (up to, not including, the newline) and block comments are
    * spans too, so an apostrophe inside a comment (`-- don't`) opens no
    * literal and `--` inside a literal stays content; a block comment whose
    * opener is followed by `+` is an optimizer hint and stays text. */
  def lex(sql: String, comments: Boolean = false): Seq[Span] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    val n = sql.length
    var i = 0
    while (i < n) {
      if (sql.charAt(i) == '\'') {
        var j = i + 1
        var open = true
        while (j < n && open) {
          if (sql.charAt(j) != '\'') j += 1
          else if (j + 1 < n && sql.charAt(j + 1) == '\'') j += 2
          else { open = false; j += 1 }
        }
        spans += Span(i, j, comment = false)
        i = j
      } else if (comments && sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i)
        val end = if (nl < 0) n else nl
        spans += Span(i, end, comment = true)
        i = end
      } else if (comments && sql.startsWith("/*", i) && !sql.startsWith("/*+", i)) {
        val close = sql.indexOf("*/", i + 2)
        val end = if (close < 0) n else close + 2
        spans += Span(i, end, comment = true)
        i = end
      } else i += 1
    }
    spans.toSeq
  }

  /** mask(i) = true iff position i sits strictly inside a single-quoted
    * literal (opening quote excluded, so a regex match that starts AT a
    * literal — e.g. `'x' = ANY(arr)` — still rewrites; content matches —
    * e.g. the arrow in `'a -> 1'` — do not). */
  def literalMask(sql: String): Array[Boolean] = {
    val mask = new Array[Boolean](sql.length)
    lex(sql).foreach(sp => java.util.Arrays.fill(mask, sp.start + 1, sp.end, true))
    mask
  }

  /** Regex replace that skips matches starting inside a string literal. */
  def replaceOutsideLiterals(
      re: scala.util.matching.Regex, sql: String)(
      f: scala.util.matching.Regex.Match => String): String = {
    val mask = literalMask(sql)
    re.replaceAllIn(sql, m =>
      Matcher.quoteReplacement(if (m.start < mask.length && mask(m.start)) m.matched else f(m)))
  }

  /** Apply a transformation only to the regions of `sql` outside single-quoted
    * string literals (literals are preserved verbatim). */
  def mapOutsideLiterals(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    var pos = 0
    lex(sql).foreach { sp =>
      out.append(f(sql.substring(pos, sp.start))).append(sql.substring(sp.start, sp.end))
      pos = sp.end
    }
    out.append(f(sql.substring(pos))).toString
  }

  /** Rewrite to a fixpoint: `step` gets the current text and its literal
    * mask and returns the text with ONE occurrence rewritten, or None when
    * none is left. Progress contract: every Some must differ from the text
    * it was given — a step that returns its input unchanged would loop
    * forever, so it throws an IllegalStateException naming `rewrite`. There
    * is no iteration cap: a statement with any number of occurrences
    * rewrites completely. */
  def fixpoint(rewrite: String, sql: String)(
      step: (String, Array[Boolean]) => Option[String]): String = {
    var cur = sql
    var next = step(cur, literalMask(cur))
    while (next.isDefined) {
      if (next.get == cur)
        throw new IllegalStateException(s"$rewrite rewrite made no progress on: $cur")
      cur = next.get
      next = step(cur, literalMask(cur))
    }
    cur
  }

  /** Apply `f` only to the spans outside backtick-quoted identifiers (which
    * may legally start with a digit, e.g. `` `1_2` ``). Odd split indices are
    * identifier interiors; a doubled `` `` `` escape yields empty even spans,
    * which `f` maps harmlessly. */
  def mapOutsideBackticks(text: String)(f: String => String): String =
    if (!text.contains('`')) f(text)
    else text.split("`", -1).zipWithIndex.map { case (seg, idx) =>
      if (idx % 2 == 0) f(seg) else seg
    }.mkString("`")

  /** Per-position paren nesting depth, literal-masked (chars inside string
    * literals neither open nor close). */
  def parenDepthOf(s: String, mask: Array[Boolean]): Array[Int] = {
    val d = new Array[Int](s.length)
    var dep = 0
    var k = 0
    while (k < s.length) {
      val c = s.charAt(k)
      if (k >= mask.length || !mask(k)) {
        if (c == '(') dep += 1
        else if (c == ')') dep = math.max(0, dep - 1)
      }
      d(k) = dep
      k += 1
    }
    d
  }

  /** Find the `)` closing the `(` at `open` (mask-aware); -1 if unbalanced. */
  def closeParen(s: String, mask: Array[Boolean], open: Int): Int =
    closeGroup(s, mask, open, '(', ')')

  /** Find the closer matching the opener at `open` for an arbitrary
    * delimiter pair (mask-aware); -1 if unbalanced. */
  def closeGroup(
      s: String, mask: Array[Boolean], open: Int,
      openCh: Char, closeCh: Char): Int = {
    var depth = 0
    var k = open
    while (k < s.length) {
      val ch = s.charAt(k)
      if (!mask(k) && ch == openCh) depth += 1
      else if (!mask(k) && ch == closeCh) { depth -= 1; if (depth == 0) return k }
      k += 1
    }
    -1
  }

  /** Positions of the commas directly inside the group that opens at `open`
    * and closes at `close`: commas nested in a deeper (...)/[...] group do
    * not count (mask-aware). */
  def topLevelCommas(s: String, mask: Array[Boolean], open: Int, close: Int): Seq[Int] = {
    val commas = scala.collection.mutable.ArrayBuffer.empty[Int]
    var k = open + 1
    while (k < close) {
      val ch = s.charAt(k)
      if (!mask(k) && (ch == '(' || ch == '[')) {
        val e = closeGroup(s, mask, k, ch, if (ch == '(') ')' else ']')
        k = if (e < 0) close else e + 1
      } else {
        if (!mask(k) && ch == ',') commas += k
        k += 1
      }
    }
    commas.toSeq
  }

  /** Scan backwards from inclusive position `l` (the last non-space char of
    * an operand) to the operand's start: a string literal, a balanced
    * (...)/[...] group with an optional preceding dotted call name, or a
    * dotted identifier. Returns -1 when nothing operand-like ends at `l`. */
  def operandStart(sql: String, mask: Array[Boolean], l: Int): Int = {
    if (l < 0) -1
    else if (sql.charAt(l) == '\'' && mask(l)) {
      // closing quote of a literal: walk the masked interior to the opener
      var k = l - 1
      while (k >= 0 && mask(k)) k -= 1
      if (k >= 0 && sql.charAt(k) == '\'') k else -1
    } else if (sql.charAt(l) == ')' || sql.charAt(l) == ']') {
      var depth = 0
      var k = l
      var open = -1
      while (k >= 0 && open < 0) {
        val ch = sql.charAt(k)
        if (!mask(k) && (ch == ')' || ch == ']')) depth += 1
        else if (!mask(k) && (ch == '(' || ch == '[')) { depth -= 1; if (depth == 0) open = k }
        k -= 1
      }
      if (open < 0) -1
      else {
        var w = open - 1
        while (w >= 0 && (sql.charAt(w).isLetterOrDigit || sql.charAt(w) == '_' || sql.charAt(w) == '.')) w -= 1
        w + 1
      }
    } else {
      var w = l
      while (w >= 0 && (sql.charAt(w).isLetterOrDigit || sql.charAt(w) == '_' ||
        sql.charAt(w) == '.' || sql.charAt(w) == '$')) w -= 1
      if (w + 1 <= l) w + 1 else -1
    }
  }

  /** SQL keywords that terminate leftward expression capture — an operand
    * equal to one of these is clause context, not part of the expression. */
  val exprBoundaryKw: Set[String] = Set("select", "from", "where", "and", "or",
    "not", "on", "when", "then", "else", "end", "case", "by", "having",
    "join", "in", "between", "like", "ilike", "rlike", "as", "union",
    "intersect", "except", "limit", "offset", "distinct", "all", "any")

  /** Position of the CASE opening the END whose last char sits at `endLast`,
    * tracking nested CASE…END blocks; -1 if unmatched. Word-extraction keeps
    * identifiers like `weekend` from counting as END. */
  def matchingCaseStart(sql: String, mask: Array[Boolean], endLast: Int): Int = {
    var depth = 1
    var i = endLast - 3 // skip over the "end" word itself
    while (i >= 0) {
      if (!mask(i) && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) {
        var ws = i
        while (ws >= 0 && !mask(ws) && (sql.charAt(ws).isLetterOrDigit || sql.charAt(ws) == '_')) ws -= 1
        val word = sql.substring(ws + 1, i + 1).toLowerCase
        if (word == "end") depth += 1
        else if (word == "case") { depth -= 1; if (depth == 0) return ws + 1 }
        i = ws
      } else i -= 1
    }
    -1
  }

  /** Like [[operandStart]], but extends leftward over binary arithmetic
    * (`+ - * / %`) so a quantified comparison with an expression LHS
    * (`n_nationkey % 5 = ALL (...)`) captures the WHOLE expression — the
    * extremum/equality CASE rewrites substitute the LHS inside a CASE, where
    * a dangling `n_nationkey % ` prefix would otherwise corrupt the types.
    * Chaining stops at clause keywords so `WHERE -5 = ANY (...)` does not
    * swallow `WHERE` through the unary minus. */
  def exprStart(sql: String, mask: Array[Boolean], l: Int): Int = {
    var start = operandStart(sql, mask, l)
    if (start < 0) return -1
    // the operand IS a CASE expression's END: extend to the matching CASE
    // (`CASE … END <= ANY (...)` — grammar-fuzz find, r13; the bare END
    // word would otherwise be spliced mid-expression)
    if (sql.substring(start, l + 1).equalsIgnoreCase("end")) {
      val cs = matchingCaseStart(sql, mask, l)
      if (cs >= 0) start = cs
    }
    var changed = true
    while (changed) {
      changed = false
      var p = start - 1
      while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
      if (p >= 0 && !mask(p) && "+-*/%".indexOf(sql.charAt(p)) >= 0) {
        var q = p - 1
        while (q >= 0 && sql.charAt(q).isWhitespace) q -= 1
        val s2 = operandStart(sql, mask, q)
        val leftOperand =
          if (s2 >= 0 && s2 <= q) Some(sql.substring(s2, q + 1).toLowerCase) else None
        if (leftOperand.contains("end")) {
          // `CASE … END - 5 = ANY (...)`: the sign is BINARY with a CASE
          // expression on its left — extend capture to the matching CASE
          // (treating it as unary would strand `CASE … END` mid-rewrite).
          val cs = matchingCaseStart(sql, mask, q)
          if (cs >= 0) { start = cs; changed = true }
        } else if (leftOperand.exists(op => !exprBoundaryKw.contains(op))) {
          start = s2; changed = true
        } else if (sql.charAt(p) == '-' || sql.charAt(p) == '+') {
          // Chaining halted at a clause boundary (or string/paren start), so
          // this sign is UNARY — fold it into the captured LHS; leaving it
          // outside would apply `-` to the rewritten boolean CASE
          // (`WHERE -5 > ALL (...)` must capture `-5`, not `5`).
          start = p; changed = true
        }
      }
    }
    start
  }

  /** Name of the call whose argument list contains position `p` (which
    * points at `(` or `,`), lowercased; "" when not inside a call. */
  def enclosingCallName(sql: String, mask: Array[Boolean], p: Int): String = {
    var openPos = -1
    if (sql.charAt(p) == '(') openPos = p
    else {
      var depth = 0
      var k = p - 1
      while (k >= 0 && openPos < 0) {
        val ch = sql.charAt(k)
        if (!mask(k)) {
          if (ch == ')' || ch == ']') depth += 1
          else if (ch == '(' || ch == '[') {
            if (depth == 0) openPos = k else depth -= 1
          }
        }
        k -= 1
      }
    }
    if (openPos <= 0) ""
    else {
      var w = openPos - 1
      while (w >= 0 && sql.charAt(w).isWhitespace) w -= 1
      val end = w + 1
      while (w >= 0 && (sql.charAt(w).isLetterOrDigit || sql.charAt(w) == '_')) w -= 1
      sql.substring(w + 1, end).toLowerCase
    }
  }

  /** The lexical token immediately before position `pos` (whitespace
    * skipped) — the explicit operand/operator context every infix-keyword
    * rewrite decides on. */
  sealed trait PrevTok
  object PrevTok {
    /** `pos` is at the start of input. */
    case object Start extends PrevTok
    /** An identifier/keyword word ends before `pos` (lowercased). */
    final case class Word(w: String) extends PrevTok
    /** A non-word character precedes `pos` (e.g. `)`, `,`, `+`, `'`). For a
      * closing quote `c` is `'` — with the mask contract that means a
      * string literal (an operand) ends there. */
    final case class Sym(c: Char) extends PrevTok
  }

  def prevToken(s: String, pos: Int): PrevTok = {
    var p = pos - 1
    while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
    if (p < 0) PrevTok.Start
    else {
      val c = s.charAt(p)
      if (c.isLetterOrDigit || c == '_') {
        var w = p
        while (w >= 0 && (s.charAt(w).isLetterOrDigit || s.charAt(w) == '_')) w -= 1
        PrevTok.Word(s.substring(w + 1, p + 1).toLowerCase)
      } else PrevTok.Sym(c)
    }
  }

  /** True when an OPERAND ends immediately before `pos`: a word that is not
    * in `boundaryKw`, a closing `)`/`]`, or a string literal's closing
    * quote. The infix-vs-call-position test for keyword operators (XOR):
    * `TRUE XOR (x)` is infix, `SELECT xor(1,0)` is a call. */
  def operandEndsBefore(s: String, pos: Int, boundaryKw: Set[String]): Boolean =
    prevToken(s, pos) match {
      case PrevTok.Sym(')') | PrevTok.Sym(']') | PrevTok.Sym('\'') => true
      case PrevTok.Word(w) => !boundaryKw(w)
      case _ => false
    }

  /** True when position `pos` STARTS an expression: nothing precedes it, or
    * the preceding token is an expression-introducing keyword (from
    * `startKw`), an opening `(`, a comma, or a comparison — NOT an operand
    * tail and NOT an arithmetic operator (whose right operand is
    * mid-expression). The INTERVAL-minuend guard: only an
    * expression-LEADING `INTERVAL ... - x` may swap to `x - INTERVAL`. */
  def startsExpression(s: String, pos: Int, startKw: Set[String]): Boolean =
    prevToken(s, pos) match {
      case PrevTok.Start => true
      case PrevTok.Sym(')') | PrevTok.Sym(']') | PrevTok.Sym('\'') => false
      case PrevTok.Sym(c) if "+-*/%".indexOf(c) >= 0 => false
      case PrevTok.Word(w) => startKw(w)
      case PrevTok.Sym(_) => true // '(', ',', comparison ops
    }

  /** Index just past the END matching the CASE whose first char sits at
    * `caseStart`, tracking nesting; -1 if unmatched. Forward dual of
    * [[matchingCaseStart]]. */
  def matchingCaseEnd(sql: String, mask: Array[Boolean], caseStart: Int): Int = {
    var depth = 1
    var i = caseStart + 4 // skip over the "case" word itself
    while (i < sql.length) {
      if (!mask(i) && (sql.charAt(i).isLetter || sql.charAt(i) == '_')) {
        var we = i
        while (we < sql.length && !mask(we) &&
          (sql.charAt(we).isLetterOrDigit || sql.charAt(we) == '_')) we += 1
        val word = sql.substring(i, we).toLowerCase
        if (word == "case") depth += 1
        else if (word == "end") { depth -= 1; if (depth == 0) return we }
        i = we
      } else i += 1
    }
    -1
  }

  /** Operand span for an infix keyword operator at [xs, xe): returns
    * (lhsStart, rhsEnd) where each side extends to the nearest depth-0
    * boundary — a comma, an unbalanced paren/bracket, a `boundaryKw` word,
    * or the string end. A complete CASE…END block is ONE operand unit: the
    * backward scan steps over it when it hits the block's END, the forward
    * scan when it hits its CASE (grammar-fuzz find, r13 — `CASE … END XOR
    * x` must capture the whole CASE, not stop at the END keyword).
    * Used by the XOR splice with its OR-precedence boundary set; reusable
    * by any infix keyword with a boundary set at the operator's precedence
    * level. */
  def infixOperandBounds(
      s: String, mask: Array[Boolean], xs: Int, xe: Int,
      boundaryKw: Set[String]): (Int, Int) = {
    var lhsStart = 0
    var i = xs - 1
    var depth = 0
    var done = false
    while (i >= 0 && !done) {
      val c = s.charAt(i)
      if (mask(i)) i -= 1
      else if (c == ')' || c == ']') { depth += 1; i -= 1 }
      else if (c == '(' || c == '[') {
        if (depth == 0) { lhsStart = i + 1; done = true } else { depth -= 1; i -= 1 }
      } else if ((c == ',' || c == ';') && depth == 0) { lhsStart = i + 1; done = true }
      else if (c.isLetterOrDigit || c == '_') {
        var w = i
        while (w >= 0 && (s.charAt(w).isLetterOrDigit || s.charAt(w) == '_')) w -= 1
        val word = s.substring(w + 1, i + 1).toLowerCase
        if (depth == 0 && word == "end") {
          val cs = matchingCaseStart(s, mask, i)
          if (cs >= 0) i = cs - 1
          else { lhsStart = i + 1; done = true } // unmatched: treat as boundary
        } else if (depth == 0 && boundaryKw(word)) { lhsStart = i + 1; done = true }
        else i = w
      } else i -= 1
    }
    var rhsEnd = s.length
    var j = xe
    depth = 0
    done = false
    while (j < s.length && !done) {
      val c = s.charAt(j)
      if (mask(j)) j += 1
      else if (c == '(' || c == '[') { depth += 1; j += 1 }
      else if (c == ')' || c == ']') {
        if (depth == 0) { rhsEnd = j; done = true } else { depth -= 1; j += 1 }
      } else if ((c == ',' || c == ';') && depth == 0) { rhsEnd = j; done = true }
      else if (c.isLetter || c == '_') {
        var w = j
        while (w < s.length && (s.charAt(w).isLetterOrDigit || s.charAt(w) == '_')) w += 1
        val word = s.substring(j, w).toLowerCase
        if (depth == 0 && word == "case") {
          val ce = matchingCaseEnd(s, mask, j)
          if (ce >= 0) j = ce
          else { rhsEnd = j; done = true } // unmatched: treat as boundary
        } else if (depth == 0 && boundaryKw(word)) { rhsEnd = j; done = true }
        else j = w
      } else j += 1
    }
    (lhsStart, rhsEnd)
  }

  /** Spans `[start, end)` of the statement's top-level set-operation arms:
    * cut at paren-depth-0 UNION/INTERSECT/EXCEPT keywords outside string
    * literals. `EXCEPT (` is ambiguous between the select-list
    * column-exclusion form (`SELECT * EXCEPT (a, b)`) and a parenthesized
    * set-operation arm (`A EXCEPT (SELECT ...)`): disambiguated by peeking
    * at the first word inside the group — SELECT/WITH/VALUES (possibly
    * behind further parens) means set operation, anything else means
    * column exclusion and the match is not a cut. A statement with no set
    * operator yields one span covering the whole string. */
  def topLevelArms(
      s: String, mask: Array[Boolean], depth: Array[Int]): Seq[(Int, Int)] = {
    val delim =
      """(?i)\b(?:UNION(?:\s+ALL|\s+DISTINCT)?|INTERSECT(?:\s+ALL)?|EXCEPT(?:\s+ALL)?)\b""".r
    def exceptIsColumnExclusion(m: scala.util.matching.Regex.Match): Boolean = {
      val up = m.matched.toUpperCase
      if (!up.startsWith("EXCEPT") || up.contains("ALL")) return false
      var i = m.end
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i >= s.length || s.charAt(i) != '(') return false
      // peek past the paren(s) to the first word of the group
      while (i < s.length && (s.charAt(i) == '(' || s.charAt(i).isWhitespace)) i += 1
      var j = i
      while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
      val word = s.substring(i, j).toLowerCase
      !Set("select", "with", "values").contains(word)
    }
    val cuts = delim.findAllMatchIn(s)
      .filter(m => m.start < mask.length && !mask(m.start) && depth(m.start) == 0)
      .filterNot(exceptIsColumnExclusion)
      .map(m => (m.start, m.end)).toList
    val starts = 0 :: cuts.map(_._2)
    val ends = cuts.map(_._1) ::: List(s.length)
    starts.zip(ends)
  }

  /** Keywords that can follow a FROM/JOIN target without being a binding
    * alias, plus set-op/join connectives — never relation names. */
  val relStopWords: Set[String] = Set("where", "on", "group", "order",
    "having", "limit", "union", "intersect", "except", "join", "inner",
    "left", "right", "full", "cross", "natural", "as", "using", "for",
    "qualify")

  /** Table functions that may appear as a bare FROM/JOIN target BEFORE
    * rewriteTableFunctions runs: they produce columns under their OWN
    * aliases, never under a virtual dataset's column names, so they must
    * not count as a competing relation for the bare-alias guard. */
  val tableFnRelNames: Set[String] =
    Set("unnest", "generate_series", "fake", "values", "range")

  /** One FROM-list item or JOIN target found by [[relationRefs]].
    *
    *  - `keyword`      "from" (a FROM-list item) or "join"
    *  - `name`         None for a derived table (the item/target is `(`)
    *                   or a double-quoted relation name
    *  - `alias`        the binding alias directly after the name
    *                   (optional `AS`), absent when the next token is a
    *                   clause keyword from [[relStopWords]]
    *  - `afterKeyword` the target sits DIRECTLY after its FROM/JOIN (the
    *                   first FROM-list item, or any JOIN target); items
    *                   after a depth-local comma carry `false`
    *  - `kwStart`      start of the owning FROM/JOIN keyword
    *  - `refEnd`       just past the name and alias — where a temporal
    *                   `FOR` clause would begin
    *  - `depth`        paren depth of the owning FROM/JOIN keyword
    *  - `quoted`       a double-quoted target directly after the keyword
    *  - `tableFn`      the name is one of [[tableFnRelNames]]
    */
  final case class RelRef(
      keyword: String,
      name: Option[String],
      alias: Option[String],
      afterKeyword: Boolean,
      kwStart: Int,
      nameStart: Int,
      refEnd: Int,
      depth: Int,
      quoted: Boolean,
      tableFn: Boolean)

  private def isWordStart(c: Char): Boolean =
    c.isLetter || c == '_' || c == '$'

  private def wordEnd(s: String, i: Int): Int = {
    var w = i
    while (w < s.length && (s.charAt(w).isLetterOrDigit ||
        s.charAt(w) == '_' || s.charAt(w) == '.' || s.charAt(w) == '$')) w += 1
    w
  }

  /** Binding alias directly after a relation name ending at `from`:
    * optional `AS`, then one word that is not a clause keyword. Returns
    * (alias, position-just-past-what-was-consumed). */
  private def aliasAfter(s: String, from: Int): (Option[String], Int) = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (i >= s.length || !isWordStart(s.charAt(i))) return (None, from)
    var w = wordEnd(s, i)
    var word = s.substring(i, w)
    if (word.equalsIgnoreCase("as")) {
      var j = w
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      if (j >= s.length || !isWordStart(s.charAt(j))) return (None, from)
      w = wordEnd(s, j)
      word = s.substring(j, w)
      if (relStopWords(word.toLowerCase)) (None, from) else (Some(word), w)
    } else if (relStopWords(word.toLowerCase)) (None, from)
    else (Some(word), w)
  }

  /** The statement's relation references — every FROM-list item and JOIN
    * target at EVERY paren depth, literal-masked. This is the ONE scope
    * scan consumed by the virtual-dataset alias guard, its qualified-alias
    * pass, and the temporal `FOR` extractor (each formerly re-derived
    * relation scope through its own regex walk — the recurring-bug class
    * the fuzz tiers police).
    *
    * The FROM-list walk matches the historical contract exactly: items are
    * separated by depth-local commas; an item that STARTS with `(` is a
    * derived table (a `(` after an identifier is a table-function argument
    * list, `FROM range(0, 10)`); an item starting with an identifier
    * contributes a name; the walk stops at the first clause-boundary
    * keyword; a `)` below the local depth ends the list (the enclosing
    * subquery closes). JOIN targets are scanned independently; `JOIN (` and
    * quoted targets surface as name-less refs for the caller's opacity
    * policy. */
  def relationRefs(s: String, mask: Array[Boolean],
      depthArr: Array[Int]): Seq[RelRef] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RelRef]
    """(?i)\bJOIN\b\s*""".r.findAllMatchIn(s)
      .filter(m => m.start < mask.length && !mask(m.start)).foreach { m =>
        val i = m.end
        if (i < s.length) {
          val c = s.charAt(i)
          if (c == '(')
            out += RelRef("join", None, None, afterKeyword = true, m.start,
              i, i + 1, depthArr(m.start), quoted = false, tableFn = false)
          else if (c == '"')
            out += RelRef("join", None, None, afterKeyword = true, m.start,
              i, i + 1, depthArr(m.start), quoted = true, tableFn = false)
          else if (isWordStart(c)) {
            val w = wordEnd(s, i)
            val name = s.substring(i, w)
            if (!relStopWords(name.toLowerCase)) {
              val (alias, e) = aliasAfter(s, w)
              out += RelRef("join", Some(name), alias, afterKeyword = true,
                m.start, i, e, depthArr(m.start), quoted = false,
                tableFnRelNames(name.toLowerCase))
            }
          }
        }
      }
    """(?i)\bFROM\b""".r.findAllMatchIn(s)
      .filter(m => m.start < mask.length && !mask(m.start)).foreach { m =>
        val kwDepth = depthArr(m.start)
        var i = m.end
        var d = 0
        var expectItem = true // at FROM start and after each depth-local comma
        var first = true
        var done = false
        while (i < s.length && !done) {
          val c = s.charAt(i)
          if (mask(i)) i += 1
          else if (c == '(') {
            if (expectItem && d == 0) {
              out += RelRef("from", None, None, afterKeyword = first,
                m.start, i, i + 1, kwDepth, quoted = false, tableFn = false)
              first = false
              expectItem = false
            }
            d += 1; i += 1
          } else if (c == ')') {
            if (d == 0) done = true else { d -= 1; i += 1 }
          } else if (c == ',' && d == 0) { expectItem = true; i += 1 }
          else if (c == '"' && d == 0 && expectItem && first) {
            // a quoted name directly after FROM: opacity-relevant; quoted
            // comma-items are skipped as noise (historical contract)
            out += RelRef("from", None, None, afterKeyword = true, m.start,
              i, i + 1, kwDepth, quoted = true, tableFn = false)
            first = false
            expectItem = false
            i += 1
          } else if (c.isWhitespace) i += 1
          else if (d == 0 && isWordStart(c)) {
            val w = wordEnd(s, i)
            val word = s.substring(i, w)
            val lw = word.toLowerCase
            if (lw != "as" && relStopWords(lw)) done = true
            else {
              if (expectItem) {
                val (alias, e) = aliasAfter(s, w)
                out += RelRef("from", Some(word), alias, afterKeyword = first,
                  m.start, i, e, kwDepth, quoted = false, tableFnRelNames(lw))
              }
              first = false
              expectItem = false
              i = w
            }
          } else { first = false; expectItem = false; i += 1 }
        }
      }
    out.sortBy(_.nameStart).toSeq
  }
}
