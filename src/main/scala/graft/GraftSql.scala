package graft

import java.util.regex.Matcher
import scala.util.matching.Regex

/** Pre-parse SQL dialect shim: rewrites the reference engine's non-ANSI
  * spellings into Spark SQL before parsing — the same strategy the reference
  * itself uses for syntax its parser can't express
  * (reference: opteryx/planner/sql_rewriter.py:37-58).
  *
  * Handled here (SURVEY.md §4 "custom Catalyst work"):
  *  - JSON accessors  `expr -> 'k'`, `expr ->> 'k'`  → get_json_object
  *    (reference: opteryx/managers/expression/binary_operators.py:203-218)
  *  - JSON path-exists `expr @? '$.k'` → get_json_object(...) IS NOT NULL
  *    (reference: opteryx/managers/expression/ops.py:291-365)
  *  - `SELECT DISTINCT ON (cols) ...` → ranked-window subquery
  *    (reference: opteryx/operators/distinct_node.py:178-183)
  *  - temporal `FOR ...` clauses → extracted per-relation date ranges
  *    (reference: opteryx/planner/sql_rewriter.py:51-55, 283-390)
  *  - zero-config path tables `FROM 'path/file.parquet'`
  *
  * These are string-level rewrites over a quote-aware tokenization — the
  * rewriting never touches string literals' contents.
  */
object GraftSql {

  // ALL lexical context (the quote lexer, literal masking, balanced groups,
  // operand capture, operand/operator position tests, arm spans) and the
  // fixpoint driver of every splice-one-occurrence rewrite come from the
  // shared scanner — no rewrite below re-derives quote/paren/operand state
  // ad hoc or runs its own capped loop.
  import SqlScan._

  /** A relation-scoped temporal restriction extracted from `FOR` syntax.
    * The rewritten SQL references `viewName`; the session layer registers it
    * as the base relation filtered to [start, end]. */
  final case class TemporalRange(relation: String, start: String, end: String, viewName: String)

  final case class Rewritten(
      sql: String,
      temporal: Seq[TemporalRange],
      pathTables: Seq[String])

  /** Split a script into top-level statements on `;` outside string
    * literals (reference variations corpus runs `SET @x = ...; SELECT ...`
    * as one script). Comments are stripped first so a `;` inside one can't
    * split. Single statements come back as-is. */
  def splitStatements(sql: String): Seq[String] = {
    val s = stripComments(sql)
    val mask = literalMask(s)
    val cuts = s.indices.filter(i => !mask(i) && s.charAt(i) == ';')
    (-1 +: cuts).zip(cuts :+ s.length)
      .map { case (a, b) => s.substring(a + 1, b).trim }.filter(_.nonEmpty)
  }

  def rewrite(sql: String): Rewritten = rewrite(sql, _ => None)

  /** `schemaOf` resolves a named relation to its lowercased column set
    * (None = unknown): the virtual-dataset bare-alias guard uses it to
    * resolve aliases that are unambiguous in a multi-relation statement
    * because no other relation carries the column. The no-resolver overload
    * keeps the guard purely textual (sole-relation arms only). */
  def rewrite(sql: String, schemaOf: String => Option[Set[String]]): Rewritten = {
    var s = stripComments(sql)
    s = rewriteLiteralPrefixes(s)
    s = rewriteNumericLiterals(s)
    val (afterTemporal, ranges) = extractTemporal(s)
    s = afterTemporal
    val (afterPaths, paths) = extractPathTables(s)
    s = afterPaths
    s = rewriteDialectSpellings(s)
    s = rewriteJsonOps(s)
    s = rewriteQuantified(s)
    s = rewriteDistinctOn(s)
    s = rewriteVariables(s)
    s = rewriteVirtualTables(s, schemaOf)
    s = rewriteTableFunctions(s)
    Rewritten(s.trim, ranges, paths)
  }

  /** `b'...'` / `r'...'` literal prefixes (reference types corpus): BLOB
    * literals are UTF-8 text in this engine (explicit `blob()` remains for
    * true binary), raw strings lose the prefix — close-enough semantics for
    * every corpus use (regex patterns/replacements), exact for comparisons
    * via Spark's implicit string↔binary casts. Runs BEFORE literal-masked
    * rewrites because the masker would see only the quoted tail. */
  private def rewriteLiteralPrefixes(sql: String): String =
    // the prefix letter must sit outside a literal: a b/r INSIDE one
    // (`'a b''c'' d'`) is content
    replaceOutsideLiterals("""(?<![\p{L}\p{Nd}_'])[bBrR](?=')""".r, sql)(_ => "")

  // -- comments ---------------------------------------------------------

  /** Comments become one space each. The lexer's comment mode reads quotes
    * and comment delimiters together: an apostrophe inside a comment
    * (`-- don't`) must not toggle literal state, and `--` inside a string
    * literal is content, not a comment. */
  private def stripComments(sql: String): String = {
    val out = new StringBuilder
    var pos = 0
    lex(sql, comments = true).filter(_.comment).foreach { sp =>
      out.append(sql.substring(pos, sp.start)).append(' ')
      pos = sp.end
    }
    out.append(sql.substring(pos)).toString
  }

  /** DuckDB-style numeric literal spellings the reference's parser accepts
    * but Spark's lexer rejects: `0x1F` hex integers and `1_000_000`
    * underscore group separators. Rewritten to plain decimal outside string
    * literals (identifiers can't start with a digit, so `\b` + leading digit
    * can't touch column names). */
  private val hexLit = """\b0[xX]([0-9a-fA-F]+)\b""".r
  private val underscoreLit = """\b(\d[\d_]*\d)\b""".r

  private def rewriteNumericLiterals(sql: String): String =
    mapOutsideLiterals(sql) { outer =>
      mapOutsideBackticks(outer) { text =>
        val hexed =
          if (text.contains("0x") || text.contains("0X"))
            hexLit.replaceAllIn(text, m =>
              // out-of-range hex stays as written so Spark reports the error
              try java.lang.Long.parseLong(m.group(1), 16).toString
              catch { case _: NumberFormatException => Matcher.quoteReplacement(m.matched) })
          else text
        if (hexed.contains('_'))
          underscoreLit.replaceAllIn(hexed, m =>
            if (m.matched.contains('_')) m.matched.replace("_", "") else m.matched)
        else hexed
      }
    }

  // -- temporal FOR clauses ----------------------------------------------

  // FROM <rel> FOR <spec> where spec ∈ {TODAY, YESTERDAY, '<ts>',
  // DATES BETWEEN a AND b, DATES IN <named range>, DATES SINCE x,
  // LAST n DAYS} (reference: opteryx/planner/sql_rewriter.py:51-55)
  private val forSpec =
    ("""(?is)^\s+FOR\s+""" +
      """(TODAY|YESTERDAY|'[^']*'|DATES\s+BETWEEN\s+('[^']*'|TODAY|YESTERDAY)\s+AND\s+('[^']*'|TODAY|YESTERDAY)|DATES\s+IN\s+(\w+)|DATES\s+SINCE\s+('[^']*'|TODAY|YESTERDAY)|LAST\s+(\d+)\s+DAYS)""" +
      """(\s+AS\s+\w+)?""").r

  private def resolveDate(token: String): String = token.trim.toUpperCase match {
    case "TODAY" => "current_date()"
    case "YESTERDAY" => "date_sub(current_date(), 1)"
    case t => t.replaceAll("(?i)^'(.*)'$", "'$1'") // keep quoted literal as-is
  }

  /** `FOR DATES IN <named range>` (reference parse_range at
    * opteryx/planner/sql_rewriter.py:212-237): THIS_MONTH = first of the
    * month → now; LAST_MONTH/PREVIOUS_MONTH = the whole previous calendar
    * month. Resolved to Spark date expressions, evaluated at query time. */
  private def resolveNamedRange(name: String): (String, String) =
    name.toUpperCase match {
      case "THIS_MONTH" =>
        ("date_trunc('MONTH', current_date())", "current_timestamp()")
      case "LAST_MONTH" | "PREVIOUS_MONTH" =>
        ("add_months(date_trunc('MONTH', current_date()), -1)",
          "date_sub(cast(date_trunc('MONTH', current_date()) as date), 1)")
      case other =>
        throw new IllegalArgumentException(
          s"Unknown temporal range `$other` — expected THIS_MONTH, LAST_MONTH or PREVIOUS_MONTH")
    }

  private def extractTemporal(sql: String): (String, Seq[TemporalRange]) = {
    // anchors come from the shared relation-scope scan (literal-masked, any
    // depth, targets directly after their FROM/JOIN); the FOR-spec grammar
    // is then matched as a prefix of the text after the name + alias
    val mask = literalMask(sql)
    val refs = relationRefs(sql, mask, parenDepthOf(sql, mask))
      .filter(r => r.afterKeyword && r.name.isDefined)
    val ranges = scala.collection.mutable.ArrayBuffer.empty[TemporalRange]
    val out = new StringBuilder
    var pos = 0
    refs.foreach { r =>
      if (r.kwStart >= pos) forSpec.findPrefixMatchOf(sql.substring(r.refEnd)).foreach { m =>
        val rel = r.name.get
        // keep the original name visible as alias so qualified column refs
        // (`events.ts`) keep resolving; the alias may sit before OR after
        // the FOR clause (`$planets FOR TODAY AS today` — reference
        // regression corpus spelling)
        val postAlias = Option(m.group(7))
          .map(_.trim.replaceAll("(?i)^AS\\s+", ""))
        val alias = postAlias.orElse(r.alias)
          .getOrElse(rel.split('.').last.replaceAll("\\W", "_"))
        val spec = m.group(1)
        val specU = spec.toUpperCase
        val (start, end) =
          if (specU.startsWith("DATES BETWEEN")) (resolveDate(m.group(2)), resolveDate(m.group(3)))
          else if (specU.startsWith("DATES IN")) resolveNamedRange(m.group(4))
          else if (specU.startsWith("DATES SINCE")) (resolveDate(m.group(5)), "current_timestamp()")
          else if (specU.startsWith("LAST")) (s"date_sub(current_date(), ${m.group(6)})", "current_timestamp()")
          else (resolveDate(spec), resolveDate(spec))
        val view = rel.replaceAll("\\W", "_") + "__for_" + ranges.size
        ranges += TemporalRange(rel, start, end, view)
        // Slice length derives from the ref's keyword (round-15 ADVICE:
        // the literal 4 hard-coded "every RelRef keyword is FROM/JOIN" —
        // true today, but a new keyword would silently mis-slice).
        val kwText = sql.substring(r.kwStart, r.kwStart + r.keyword.length)
        out.append(sql.substring(pos, r.kwStart))
        out.append(s"$kwText $view $alias ")
        pos = r.refEnd + m.end
      }
    }
    out.append(sql.substring(pos))
    (out.toString, ranges.toSeq)
  }

  // -- zero-config path tables --------------------------------------------

  private val pathTable =
    """(?is)\b(FROM|JOIN)\s+'([^']+\.(?:parquet|csv|tsv|psv|json|jsonl|orc|avro|feather|arrow|ipc|(?:csv|tsv|psv|json|jsonl)\.gz|(?:json|jsonl)\.zst))'""".r

  /** An unquoted dotted identifier chain with a hyphenated segment
    * (`FROM testdata.hyphened-name`) can't be a Spark identifier — the
    * reference resolves such names as disk paths (dataset names ARE paths
    * there), so treat the chain as a path table: dots become directory
    * separators, the leaf is read by extension or as a parquet directory.
    * Requires a hyphen to fire, so ordinary dotted names stay identifiers;
    * spaced arithmetic (`FROM t WHERE a - 1`) never matches the chain. */
  private val hyphenPathTable =
    """(?i)\b(FROM|JOIN)\s+(?=[\w.]*-)([A-Za-z_][\w-]*(?:\.[\w-]+)+)""".r

  /** Turn `FROM 'x/y.parquet'` into `FROM <generated view>`; caller registers
    * each returned path as a temp view named by [[viewNameFor]]. */
  private def extractPathTables(sql: String): (String, Seq[String]) = {
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    var rewritten = pathTable.replaceAllIn(sql, m => {
      paths += m.group(2)
      Matcher.quoteReplacement(s"${m.group(1)} ${viewNameFor(m.group(2))}")
    })
    val mask = literalMask(rewritten)
    rewritten = hyphenPathTable.replaceAllIn(rewritten, m =>
      if (m.start < mask.length && mask(m.start)) m.matched
      else {
        val chain = m.group(2).stripSuffix(".").stripSuffix("-")
        val path = chain.replace('.', '/')
        paths += path
        Matcher.quoteReplacement(s"${m.group(1)} ${viewNameFor(path)}")
      })
    (rewritten, paths.toSeq)
  }

  def viewNameFor(path: String): String =
    "path_" + java.lang.Integer.toHexString(path.hashCode) + "_" +
      path.split('/').last.takeWhile(_ != '.').replaceAll("\\W", "_")

  // -- JSON operators ------------------------------------------------------

  // LHS alternatives: a string literal (JSON text inline) or a dotted
  // identifier / call-chain tail. replaceOutsideLiterals checks the match
  // START, and literalMask excludes the opening quote, so a literal LHS
  // still rewrites while content inside other literals stays untouched.
  private val atQuestion =
    """('[^']*+(?:''[^']*+)*+'|[\w.\)\]]+)\s*@\?\s*(?:'([^']+)'|(\d+))""".r
  private val atArrow = """('[^']*+(?:''[^']*+)*+'|[\w.\)\]]+)\s*@>\s*'(\{[^']*\})'""".r

  /** `col @> '{"k":1,"s":"x"}'` (JSONB containment, reference AtArrow at
    * opteryx/managers/expression/ops.py:291-365): every key/value of the
    * literal must match in the column's JSON. Compiled to one
    * get_json_object conjunct per literal entry. */
  private def rewriteAtArrow(sql: String): String =
    replaceOutsideLiterals(atArrow, sql) { m =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(m.group(2))
      val it = node.fields()
      val conjuncts = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val e = it.next()
        val v = if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString
        conjuncts += s"graft_extract_text(${m.group(1)}, '${e.getKey}') = '${v.replace("'", "''")}'"
      }
      if (conjuncts.isEmpty) "TRUE" else conjuncts.mkString("(", " AND ", ")")
    }

  private def rewriteJsonOps(sql: String): String = {
    var s = sql
    if (s.contains("@>")) s = rewriteAtArrow(s)
    if (s.contains("@?"))
      // graft_exists dispatches on the LHS type (struct field / map key /
      // array bound / JSON path — functions/DialectExpressions.scala); a
      // plain function call also composes with a following IS [NOT] NULL,
      // which the old `... IS NOT NULL` splice could not parse
      s = replaceOutsideLiterals(atQuestion, s)(m =>
        // group 2 = quoted key, group 3 = bare integer subscript
        if (m.group(3) != null) s"graft_exists(${m.group(1)}, ${m.group(3)})"
        else s"graft_exists(${m.group(1)}, '${m.group(2).replace("'", "''")}')")
    if (s.contains("->")) s = rewriteArrowOps(s)
    s
  }

  /** Arrow accessors (`expr -> 'k'`, `expr ->> 'k'`, `expr -> 2`) rewritten
    * by an explicit scanner rather than one regex, because three things share
    * the `->` spelling:
    *   - arrows inside string literals are content (skipped via the mask);
    *   - Spark lambda arrows (`transform(arr, x -> 1)`,
    *     `transform(arr, x -> 'tag')`, `(a, b) -> 1`) must be left alone —
    *     an arrow whose LHS is a lambda parameter list (bare identifier or
    *     parenthesized identifiers) directly following `(` or `,` of a
    *     higher-order-function call is treated as a lambda (an arrow whose
    *     RHS is neither a quoted key nor an integer never matches at all,
    *     so `x -> x + 1` is naturally safe); the enclosing-call check keeps
    *     accessors inside ordinary calls (`upper(j -> 'k')`) rewriting;
    *   - chained accessors (`props -> 'a' ->> 'b'`) need the rewritten
    *     `get_json_object(...)` call as the next LHS, so the LHS parse
    *     balances parens/brackets backwards and the whole rewrite runs to
    *     fixpoint (each step consumes one arrow — guaranteed to terminate). */
  private def rewriteArrowOps(sql: String): String = fixpoint("JSON arrow", sql)(arrowStep)

  /** Rewrite the first applicable arrow accessor, or None when none left. */
  private def arrowStep(sql: String, mask: Array[Boolean]): Option[String] = {
    var i = 0
    while (i < sql.length - 1) {
      if (!mask(i) && sql.charAt(i) == '-' && sql.charAt(i + 1) == '>') {
        val opEnd = if (i + 2 < sql.length && sql.charAt(i + 2) == '>') i + 3 else i + 2
        var r = opEnd
        while (r < sql.length && sql.charAt(r).isWhitespace) r += 1
        val rhsQuoted = r < sql.length && sql.charAt(r) == '\''
        val rhsDigit = r < sql.length && sql.charAt(r).isDigit
        if (rhsQuoted || rhsDigit) {
          // ---- RHS: a quoted key (the whole literal, as written) or an
          // integer subscript
          var rEnd = r + 1
          while (rEnd < sql.length &&
            (if (rhsQuoted) mask(rEnd) else sql.charAt(rEnd).isDigit)) rEnd += 1
          val key = sql.substring(r, rEnd)
          // ---- LHS: string literal, dotted identifier, or a balanced
          // (...)/[...] group with its preceding function name (for chained
          // get_json_object calls)
          var l = i - 1
          while (l >= 0 && sql.charAt(l).isWhitespace) l -= 1
          val lhsEnd = l + 1
          val lhsStart = operandStart(sql, mask, l)
          if (lhsStart >= 0 && lhsStart < lhsEnd) {
            val lhs = sql.substring(lhsStart, lhsEnd)
            var p = lhsStart - 1
            while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
            val afterParenOrComma = p >= 0 && (sql.charAt(p) == '(' || sql.charAt(p) == ',')
            val bareIdent = lhs.nonEmpty && lhs.forall(c => c.isLetterOrDigit || c == '_')
            // `(a, b)` parameter-list LHS of a would-be lambda
            val parenParams = lhs.length >= 2 && lhs.head == '(' && lhs.last == ')' &&
              lhs.substring(1, lhs.length - 1).split(",", -1).forall { s =>
                val t = s.trim
                t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_')
              }
            val isLambda = (bareIdent || parenParams) && afterParenOrComma &&
              hofNames(enclosingCallName(sql, mask, p))
            if (!isLambda) {
              // graft_extract[_text] dispatches on the LHS type at analysis
              // (struct/map/array native access, JSON text via
              // get_json_object — functions/DialectExpressions.scala)
              val fn = if (opEnd - i == 3) "graft_extract_text" else "graft_extract"
              return Some(sql.substring(0, lhsStart) +
                s"$fn($lhs, $key)" + sql.substring(rEnd))
            }
          }
        }
      }
      i += 1
    }
    None
  }

  /** Keywords that bound an infix-XOR operand: everything at or below OR
    * precedence plus clause context. AND/NOT/comparisons bind tighter than
    * XOR (MySQL precedence, which the reference's parser follows), so they
    * stay inside the operand. */
  private val xorBoundaryKw = Set("or", "select", "from", "where", "when",
    "then", "else", "end", "case", "by", "having", "join", "on", "union",
    "intersect", "except", "limit", "offset", "group", "order", "as",
    "asc", "desc", "nulls")

  /** Spark's higher-order functions — the only call contexts in which a
    * `param -> body` arrow is a lambda rather than a JSON accessor. */
  private val hofNames = Set(
    "transform", "filter", "exists", "forall", "aggregate", "reduce",
    "zip_with", "map_filter", "map_zip_with", "transform_keys",
    "transform_values", "array_sort")

  // -- quantified comparisons -------------------------------------------------

  private val quantKw = """(?i)\b(ANY|ALL|SOME)\s*\(""".r
  // lazy .*? so the match starts at the EARLIEST tail — greedy .* backtracks
  // from the end and would bind bare LIKE, never the NOT\s+LIKE alternative
  private val likeTail = """(?is).*?\b(NOT\s+I?LIKE|NOT\s+RLIKE|I?LIKE|RLIKE)$""".r

  /** Quantified comparisons (reference: opteryx/managers/expression/
    * ops.py:254-290 — `x = ANY(arr)`, `x != ALL(arr)`, `x LIKE ANY(arr)`,
    * plus the ANSI subquery forms). A balanced scanner, not a regex: the
    * RHS may be any call chain (`ANY(transform(w, x -> length(x)))`) or a
    * subquery. Array RHS compiles to Spark higher-order `exists`/`forall`
    * lambdas (codegen-friendly); subquery RHS compiles to IN / NOT IN or to
    * `quantified_cmp` over one scalar subquery that aggregates the set
    * (`> ALL (SELECT s)` reads its count, null count and `max(s)`).
    * `ANY(col)` with NO preceding comparison operator is Spark's boolean
    * aggregate and is left untouched. */
  private def rewriteQuantified(sql: String): String =
    fixpoint("quantified comparison", sql)(quantStep)

  /** Rewrite the first applicable quantified comparison, or None. */
  private def quantStep(sql: String, mask: Array[Boolean]): Option[String] = {
    val it = quantKw.findAllMatchIn(sql)
    while (it.hasNext) {
      val m = it.next()
      if (!mask(m.start)) {
        val kw = m.group(1).toUpperCase
        // ---- operator lookbehind (no operator → boolean aggregate, skip)
        var p = m.start - 1
        while (p >= 0 && sql.charAt(p).isWhitespace) p -= 1
        val opEnd = p + 1
        var op: String = null
        var opStart = -1
        for (o <- Seq("<=", ">=", "!=", "<>", "=", "<", ">") if op == null)
          if (opEnd >= o.length && sql.substring(opEnd - o.length, opEnd) == o &&
            !(o == "=" && opEnd >= 2 && "<>!=".contains(sql.charAt(opEnd - 2)))) {
            op = o; opStart = opEnd - o.length
          }
        if (op == null) likeTail.findFirstMatchIn(sql.substring(0, opEnd)).foreach { mm =>
          // normalize internal whitespace for dispatch, but keep the matched
          // tail's real start — `NOT  LIKE` is longer than the normalized op
          op = mm.group(1).toUpperCase.replaceAll("\\s+", " ")
          opStart = mm.start(1)
        }
        if (op != null) {
          // ---- LHS operand before the operator (full arithmetic expression)
          var l = opStart - 1
          while (l >= 0 && sql.charAt(l).isWhitespace) l -= 1
          val lhsStart = exprStart(sql, mask, l)
          // ---- RHS: balanced paren group from the keyword's open paren
          val open = m.end - 1
          val close = closeParen(sql, mask, open)
          if (lhsStart >= 0 && lhsStart <= l && close >= 0) {
            val lhs = sql.substring(lhsStart, l + 1)
            val inner = sql.substring(open + 1, close).trim
            val innerU = inner.toUpperCase
            val isSubquery = innerU.startsWith("SELECT") || innerU.startsWith("WITH")
            val existsQ = kw == "ANY" || kw == "SOME"
            val likeFamily = op.endsWith("LIKE")
            // ANSI three-valued semantics over a subquery: one scalar
            // subquery aggregates the set into count, null count and the
            // witnesses, and `quantified_cmp` (Functions.quantifiedCompare)
            // decides the comparison from them. The subquery text appears
            // once, so nested comparisons grow linearly.
            def aggregated(witnesses: String): String =
              s"quantified_cmp($lhs, (SELECT named_struct('cnt', COUNT(*)," +
                s" 'nulls', COUNT(*) - COUNT(__v), $witnesses) FROM ($inner) AS __q(__v))," +
                s" '${if (op == "!=") "<>" else op}', '${if (existsQ) "ANY" else "ALL"}')"
            val replacement: Option[String] =
              if (!isSubquery) {
                // Spark's native `LIKE ANY ('a%', 'b%')` pattern-list form: a
                // top-level comma in a non-subquery RHS means it's not an
                // array expression — leave it for Spark's parser
                if (likeFamily && topLevelCommas(sql, mask, open, close).nonEmpty) None
                else {
                  val body = op match {
                    case "ILIKE" => s"ilike($lhs, __x)"
                    case "NOT ILIKE" => s"NOT ilike($lhs, __x)"
                    case o => s"$lhs $o __x"
                  }
                  Some(if (existsQ) s"exists($inner, __x -> $body)"
                  else s"forall($inner, __x -> $body)")
                }
              } else (op, existsQ) match {
                case ("=", true) => Some(s"$lhs IN ($inner)")
                case ("!=", false) | ("<>", false) => Some(s"$lhs NOT IN ($inner)")
                case (">", _) | (">=", _) | ("<", _) | ("<=", _) =>
                  // witness extremum: > ANY(S) needs min(S); > ALL(S) max(S)
                  val wantMin = (op.startsWith(">") && existsQ) || (op.startsWith("<") && !existsQ)
                  Some(aggregated(s"'w', ${if (wantMin) "MIN" else "MAX"}(__v)"))
                case ("=", false) | ("!=", true) | ("<>", true) =>
                  Some(aggregated("'min', MIN(__v), 'max', MAX(__v)"))
                case _ =>
                  throw new IllegalArgumentException(
                    s"Unsupported quantified comparison `$op $kw (SELECT ...)` — " +
                      "LIKE-family quantifiers take an array or pattern-list RHS, not a subquery")
              }
            replacement.foreach { rep =>
              return Some(sql.substring(0, lhsStart) + rep + sql.substring(close + 1))
            }
          }
        }
      }
    }
    None
  }

  // -- @variables ------------------------------------------------------------

  /** `@name` references → Spark 4 session variables, qualified as
    * `system.session.name` so they can't collide with column names
    * (reference: SET/SHOW variable nodes, opteryx/operators/set_variable_node.py). */
  private def rewriteVariables(sql: String): String =
    mapOutsideLiterals(sql) {
      _.replaceAll("""@(\w+)""", "system.session.$1")
    }

  // -- virtual datasets + table functions -------------------------------------

  /** Strip balanced outer parens from a set-operation arm: a parenthesized
    * arm (`A EXCEPT (SELECT ...)`) nests its whole SELECT one paren level
    * deep, which would hide its FROM/JOIN targets from the depth-0 scans
    * below. */
  private def stripOuterParens(arm: String): String = {
    val s = arm.trim
    if (s.startsWith("(") && closeParen(s, literalMask(s), 0) == s.length - 1)
      stripOuterParens(s.substring(1, s.length - 1))
    else s
  }

  /** The arm's column-contributing relations OTHER than `view`, for the
    * bare-alias guard of rewriteVirtualTables. `None` means the arm holds a
    * relation the textual scan can't positively identify — a depth-0
    * derived table (`FROM (SELECT...)`, `JOIN (`, a `(`-item in a FROM
    * list), `LATERAL`, or a double-quoted relation name — and the rewrite
    * must be suppressed unconditionally. `Some(empty)` means the view is
    * the arm's sole relation. `Some(names)` lists competing NAMED relations
    * whose schemas the caller may consult to resolve an otherwise-ambiguous
    * bare alias. Matches inside string literals are excluded (a literal
    * `'copied FROM x'` is content, not a relation), and known
    * table-function targets (`JOIN UNNEST(...)`) bind no columns of the
    * view's names so they don't compete. */
  private def armCompetingRelations(rawArm: String, view: String): Option[Set[String]] = {
    val arm = stripOuterParens(rawArm)
    val mask = literalMask(arm)
    val depth = parenDepthOf(arm, mask)
    val refs = relationRefs(arm, mask, depth).filter(_.depth == 0)
    val named = refs.filter(r => r.name.isDefined && !r.tableFn)
      .flatMap(_.name).toSet
    val fromDerived =
      refs.exists(r => r.keyword == "from" && r.name.isEmpty && !r.quoted)
    // A FROM-position derived table only COMPETES with the view when the
    // view itself is a depth-0 relation of the arm (`FROM $view,
    // (SELECT...) t` / `FROM (SELECT...) t JOIN $view`): then the derived
    // table's unknown schema makes bare aliases ambiguous. When the view
    // sits INSIDE the derived table (`FROM (SELECT alias FROM $view) sub`),
    // the subquery is the view's own scope and the rewrite must stay
    // enabled — the reference optimizer corpus leans on exactly that shape.
    val opaque =
      refs.exists(r => r.keyword == "join" && r.name.isEmpty && !r.quoted) ||
        refs.exists(_.quoted) ||
        """(?i)\bLATERAL\b""".r.findAllMatchIn(arm)
          .exists(m => m.start < mask.length && !mask(m.start) && depth(m.start) == 0) ||
        (named.contains(view) && fromDerived)
    if (opaque) None else Some(named - view)
  }

  /** `$planets` etc. → registered view names (Spark unquoted identifiers
    * exclude `$`; reference registry at opteryx/virtual_datasets/__init__.py:13-24).
    * `information_schema.tables/columns` → catalog-backed views (reference
    * routes the prefix as a connector, connectors/__init__.py:97). */
  private def rewriteVirtualTables(
      sql: String, schemaOf: String => Option[Set[String]]): String = {
    val base = mapOutsideLiterals(sql) {
      _.replaceAll("""\$([A-Za-z_]\w*)""", graft.sources.VirtualDatasets.prefix + "$1")
        .replaceAll("""(?i)\binformation_schema\.(tables|columns)\b""",
          "graft_infoschema_$1")
    }
    // per-relation column aliases (reference FlatColumn aliases=[...]):
    // resolved only when the statement references the owning relation, and
    // scoped PER TOP-LEVEL SET-OPERATION ARM for both passes — a FROM/JOIN
    // alias of the view declared in arm 1 must not qualify `p.alias`
    // occurrences in arm 2, where `p` may bind another relation.
    graft.sources.VirtualDatasets.columnAliases.foldLeft(base) {
      case (s, (rel, aliases)) =>
        val view = graft.sources.VirtualDatasets.prefix + rel
        if (!s.contains(view)) s
        else {
          val armsMask = literalMask(s)
          val armsDepth = parenDepthOf(s, armsMask)
          val out = new StringBuilder
          var pos = 0
          topLevelArms(s, armsMask, armsDepth).foreach { case (a, b) =>
            out.append(s.substring(pos, a))
            out.append(rewriteAliasesInArm(s.substring(a, b), view, aliases, schemaOf))
            pos = b
          }
          out.append(s.substring(pos))
          out.toString
        }
    }
  }

  /** One top-level arm's alias resolution for a virtual `view`.
    *
    * A DOTTED occurrence `q.alias` is rewritten only when `q` is the view
    * or a FROM/JOIN alias of it declared in THIS arm — a same-named column
    * on another table in the join (`my_table.planet_id`) stays untouched.
    *
    * An UNQUALIFIED alias rewrites when the view is the arm's sole
    * relation, OR — reference-binder behavior
    * (virtual_datasets/planet_data.py:100-113) — when every competing
    * NAMED relation resolves in the session catalog to a schema WITHOUT
    * the aliased column, so the bare name can only bind to the view.
    * Unresolvable or opaque (derived/LATERAL/quoted) relations suppress
    * the rewrite: the statement then errors on the unresolved column
    * rather than silently retargeting it. Relations that appear only
    * inside subqueries have their own scope and don't shadow the outer
    * relation's columns — armCompetingRelations ignores them via paren
    * depth. */
  private def rewriteAliasesInArm(arm: String, view: String,
      aliases: Seq[(String, String)],
      schemaOf: String => Option[Set[String]]): String = {
    val armMask = literalMask(arm)
    val quals = Set(view) ++
      relationRefs(arm, armMask, parenDepthOf(arm, armMask))
        .filter(r => r.afterKeyword && r.name.contains(view))
        .flatMap(_.alias)
    val competing = armCompetingRelations(arm, view)
    aliases.foldLeft(arm) { case (t, (alias, primary)) =>
      val qualified = replaceOutsideLiterals(
        ("(?i)\\b(\\w+)\\.(" + alias + ")\\b").r, t) { m =>
        if (quals(m.group(1))) m.group(1) + "." + primary else m.matched
      }
      val bareResolvesToView = competing match {
        case None => false
        case Some(others) =>
          others.forall(r =>
            schemaOf(r).exists(cols => !cols.contains(alias.toLowerCase)))
      }
      if (!bareResolvesToView) qualified
      else {
        // unqualified occurrences rewrite EXCEPT as an AS target — that
        // is a user-chosen output name, not a reference to the column
        val unqualRe = ("(?i)(?<![\\w.$])" + alias + "\\b").r
        replaceOutsideLiterals(unqualRe, qualified) { m =>
          val before = m.before.toString
          if (before.matches("(?is).*\\bAS\\s+")) m.matched else primary
        }
      }
    }
  }

  private val fakeFn =
    """(?i)\bFAKE\s*\(\s*(\d+)\s*,\s*(\d+|\([^)]*\))\s*\)""".r

  private val seriesFn = """(?i)\bGENERATE_SERIES\s*\(""".r

  /** Table functions (reference: opteryx/operators/function_dataset_node.py:583-651):
    * FAKE(rows, cols) → range + rand() projection; GENERATE_SERIES / UNNEST →
    * Spark's native sequence()/explode() table-valued functions. */
  private def rewriteTableFunctions(sql: String): String = {
    var s = mapOutsideLiterals(sql) { text =>
      fakeFn.replaceAllIn(text, m => {
        // second arg is a column count OR the reference's type-tuple
        // spelling `FAKE(n, (NAME, INTEGER, VARCHAR))` — either way each
        // column is a deterministic-free rand() (run-only semantics); a
        // type tuple sets the column count from its arity
        val arg = m.group(2)
        val n =
          if (arg.startsWith("(")) arg.drop(1).dropRight(1).split(",").length
          else arg.toInt
        val cols = (0 until n)
          .map(i => s"rand() AS column_$i").mkString(", ")
        Matcher.quoteReplacement(s"(SELECT $cols FROM range(0, ${m.group(1)}))")
      })
    }
    s = rewriteSeries(s)
    s = mapOutsideLiterals(s) { text =>
      text.replaceAll("""(?i)\bUNNEST\s*\(""", "explode(")
    }
    // EXTRACT(EPOCH FROM x) → unix_timestamp(x): only the prefix is
    // spliced, so the original close paren still balances (nested args fine)
    s = mapOutsideLiterals(s) { text =>
      text.replaceAll("""(?i)\bEXTRACT\s*\(\s*EPOCH\s+FROM\b""", "unix_timestamp(")
    }
    // Cast spellings: SAFE_CAST ≡ TRY_CAST (reference:
    // opteryx/functions/__init__.py cast registry); bare VARCHAR (no length)
    // → STRING — Spark's VARCHAR requires a length, the reference's doesn't
    s = mapOutsideLiterals(s) { text =>
      text
        .replaceAll("""(?i)\bSAFE_CAST\s*\(""", "try_cast(")
        .replaceAll("""(?i)\bAS\s+VARCHAR\s*(\)|,)""", "AS STRING$1")
        .replaceAll("""(?i)::\s*VARCHAR\b(?!\s*\()""", "::STRING")
    }
    s
  }

  /** `GENERATE_SERIES(args)` → `explode(sequence(args))`. The extra close
    * paren is placed by a balanced-paren scan from the spliced `sequence(`,
    * so nested calls — GENERATE_SERIES(1, cardinality(arr)) — and multiple
    * occurrences in one statement rewrite correctly (each step consumes one
    * GENERATE_SERIES token; loop to fixpoint). */
  private def rewriteSeries(sql: String): String =
    rewriteCalls("GENERATE_SERIES", seriesFn, sql)(c => Some(s"explode(sequence(${c.args}))"))

  /** A call found by [[rewriteCalls]] in `s`: the match of its name (up to
    * and including the open paren) and the positions of its parens. */
  private final case class Call(
      s: String, mask: Array[Boolean], m: Regex.Match, open: Int, close: Int) {
    def args: String = s.substring(open + 1, close)
  }

  /** Rewrite calls to a fixpoint: each step replaces the first call that
    * `call` matches outside literals, with a balanced argument list, for
    * which `splice` returns a replacement of the whole call `name(...)`. */
  private def rewriteCalls(rewrite: String, call: Regex, sql: String)(
      splice: Call => Option[String]): String =
    fixpoint(rewrite, sql) { (s, mask) =>
      call.findAllMatchIn(s).filter(m => !mask(m.start)).flatMap { m =>
        val open = s.indexOf('(', m.start)
        val close = closeParen(s, mask, open)
        if (close < 0) None
        else splice(Call(s, mask, m, open, close))
          .map(rep => s.substring(0, m.start) + rep + s.substring(close + 1))
      }.nextOption()
    }

  // -- reference dialect spellings --------------------------------------------

  private val typedLiteral =
    ("""(?i)(?<![\w.])(INTEGER|INT|BIGINT|SMALLINT|TINYINT|DOUBLE|FLOAT|REAL|""" +
      """DECIMAL|NUMERIC|BOOLEAN|VARCHAR|BLOB)\s+'([^']*+(?:''[^']*+)*+)'""").r

  private val typedLiteralTarget = Map(
    "INTEGER" -> "INT", "NUMERIC" -> "DECIMAL", "REAL" -> "FLOAT",
    // BLOB is STRING engine-wide (GraftBlob scaladoc): BLOB 'abc', blob(x)
    // and CAST(x AS BLOB) must all land on the same type so they compare
    "VARCHAR" -> "STRING", "BLOB" -> "STRING")

  private val extractComputed =
    ("""(?i)\bEXTRACT\s*\(\s*(CENTURY|DECADE|MILLISECONDS?|NANOSECONDS?|""" +
      """JULIAN|DATE|TIME)\s+FROM\b""").r

  private val extractRename = Map(
    "ISOYEAR" -> "YEAROFWEEK", "DAYOFYEAR" -> "DOY", "ISOWEEK" -> "WEEK",
    "WEEKDAY" -> "DOW")

  /** EXTRACT fields Spark lacks, as expression templates over the operand. */
  private val extractCompute: Map[String, String => String] = Map(
    "CENTURY" -> (e => s"CAST(floor((year($e) - 1) / 100) + 1 AS INT)"),
    "DECADE" -> (e => s"CAST(floor(year($e) / 10) AS INT)"),
    "MILLISECOND" -> (e => s"CAST(floor(extract(SECOND FROM $e) * 1000) AS INT)"),
    "MILLISECONDS" -> (e => s"CAST(floor(extract(SECOND FROM $e) * 1000) AS INT)"),
    "NANOSECOND" -> (e => s"CAST(floor(extract(SECOND FROM $e) * 1000000000) AS BIGINT)"),
    "NANOSECONDS" -> (e => s"CAST(floor(extract(SECOND FROM $e) * 1000000000) AS BIGINT)"),
    "JULIAN" -> (e => s"(CAST(unix_date(CAST($e AS DATE)) AS DOUBLE) + 2440587.5)"),
    "DATE" -> (e => s"CAST($e AS DATE)"),
    "TIME" -> (e => s"date_format($e, 'HH:mm:ss')"))

  private val datediffUnit = Map(
    "DAY" -> "DAY", "DAYS" -> "DAY", "HOUR" -> "HOUR", "HOURS" -> "HOUR",
    "MINUTE" -> "MINUTE", "MINUTES" -> "MINUTE", "SECOND" -> "SECOND",
    "SECONDS" -> "SECOND", "WEEK" -> "WEEK", "WEEKS" -> "WEEK",
    "MONTH" -> "MONTH", "MONTHS" -> "MONTH", "QUARTER" -> "QUARTER",
    "QUARTERS" -> "QUARTER", "YEAR" -> "YEAR", "YEARS" -> "YEAR",
    "MILLISECOND" -> "MILLISECOND", "MILLISECONDS" -> "MILLISECOND",
    "MICROSECOND" -> "MICROSECOND", "MICROSECONDS" -> "MICROSECOND")

  /** Reference spellings with no direct Spark equivalent (reference corpora:
    * tests/integration/sql_battery/test_data/tests — the literal statements
    * ReferenceCorpusSpec runs):
    *   - typed literals `INTEGER '22'` → `CAST('22' AS INT)` (Spark only
    *     supports DATE/TIMESTAMP/INTERVAL/X'…' natively)
    *   - EXTRACT fields CENTURY/DECADE/MILLISECOND/NANOSECOND (computed) and
    *     ISOYEAR/DAYOFYEAR/ISOWEEK (renamed to Spark's spellings)
    *   - `DATEDIFF('unit', a, b)` → `timestampdiff(UNIT, a, b)`
    *   - `ARRAY_AGG(x LIMIT n)` → `slice(array_agg(x), 1, n)`
    *   - `[e1, e2, …]` array literals → `array(e1, e2, …)` (bracket after an
    *     operand is subscripting and stays)
    *   - `UNNEST((a, b))` tuple form → `UNNEST(ARRAY(a, b))`
    *   - `x @> array(...)` / `x @> (v1, v2)` array containment →
    *     `array_contains_all(x, array(...))`
    *   - `VARCHAR`/`BLOB` as type names in generic/cast positions →
    *     STRING/BINARY
    */
  private def rewriteDialectSpellings(sql: String): String = {
    var s = sql
    // typed literals
    s = replaceOutsideLiterals(typedLiteral, s) { m =>
      val t = m.group(1).toUpperCase
      s"CAST('${m.group(2)}' AS ${typedLiteralTarget.getOrElse(t, t)})"
    }
    // EXTRACT renames
    s = mapOutsideLiterals(s) { t =>
      extractRename.foldLeft(t) { case (x, (from, to)) =>
        x.replaceAll(s"(?i)(\\bEXTRACT\\s*\\(\\s*)$from\\b", "$1" + to)
      }
    }
    // EXTRACT computed fields — balanced splice of the operand
    s = rewriteCalls("EXTRACT", extractComputed, s) { c =>
      Some(extractCompute(c.m.group(1).toUpperCase)(c.s.substring(c.m.end, c.close).trim))
    }
    // DATEDIFF with unit
    s = replaceOutsideLiterals("""(?i)\bDATEDIFF\s*\(\s*'(\w+)'\s*,""".r, s) { m =>
      datediffUnit.get(m.group(1).toUpperCase) match {
        case Some(u) => s"timestampdiff($u,"
        case None => m.matched
      }
    }
    // 2-argument REGEXP_EXTRACT[_ALL](s, p) means the whole match (group 0)
    // in the reference dialect; Spark's default is group 1
    s = rewriteCalls("REGEXP_EXTRACT", """(?i)\bREGEXP_EXTRACT(?:_ALL)?\s*\(""".r, s) { c =>
      if (topLevelCommas(c.s, c.mask, c.open, c.close).size != 1) None
      else Some(c.s.substring(c.m.start, c.close) + ", 0)")
    }
    // ARRAY_AGG(... LIMIT n)
    s = rewriteCalls("ARRAY_AGG LIMIT", """(?i)\bARRAY_AGG\s*\(""".r, s) { c =>
      """(?i)\s+LIMIT\s+(\d+)\s*$""".r.findFirstMatchIn(c.args).map(lm =>
        s"slice(array_agg(${c.args.substring(0, lm.start)}), 1, ${lm.group(1)})")
    }
    // bracket array literals and literal-keyed subscripts
    s = fixpoint("bracket array", s)(bracketStep)
    // UNNEST((a, b)) tuple form
    s = mapOutsideLiterals(s) {
      _.replaceAll("""(?i)\bUNNEST\s*\(\s*\(""", "UNNEST(ARRAY(")
    }
    // x @> array(...) / x @> (v1, v2) — array containment
    s = fixpoint("array containment", s)(containsStep)
    // VARCHAR/BLOB as type names: the dialect's BLOB surface is UTF-8
    // STRING engine-wide (DialectExpressions.GraftBlob scaladoc), so the
    // type spelling maps to STRING as well — `CAST(42.0 AS BLOB)` compares
    // equal to `BLOB('42.0')`
    s = mapOutsideLiterals(s) {
      _.replaceAll("""(?i)\bVARCHAR\s*>""", "STRING>")
        .replaceAll("""(?i)\bBLOB\b(?!\s*\()""", "STRING")
    }
    // CASE expressions mixing STRING-literal branches with bare TRUE/FALSE
    // branches: Spark has no common type for STRING and BOOLEAN, but the
    // reference is dynamically typed and renders the boolean as its string
    // form. Wrap the bare booleans in CAST(... AS STRING) — only when the
    // same CASE LEVEL actually mixes the two, so typed CASEs stay
    // untouched. Spans come from SqlScan.matchingCaseEnd, not a lazy
    // CASE…END regex: a nested CASE in the condition (`CASE WHEN CASE …
    // END <= x THEN 'y' ELSE FALSE END`) made the regex close the span at
    // the INNER END and miss the outer mix (grammar-fuzz find, r13), and
    // the per-level check keeps an inner all-boolean CASE boolean even
    // when its outer level mixes.
    s = rewriteMixedCase(s)
    // INTERVAL '<n>' <unit> - <operand>: Spark's type calculus rejects an
    // interval minuend, but the reference's kernel swaps the operands and
    // negates (datatypes/intervals.py:141-150 — signum=-1, INTERVAL left
    // swaps to right), i.e. it computes EXACTLY <operand> - INTERVAL, so
    // this rewrite is value-identical, not an approximation. The swap is
    // only valid when the INTERVAL literal STARTS the expression: in
    // `ts1 - INTERVAL '1' DAY - ts2` the literal is a right operand of the
    // first `-` (parses as `(ts1 - INTERVAL) - ts2`, valid native Spark),
    // and swapping there would flip the interval's sign.
    // SqlScan.startsExpression is that test: skip when the preceding token
    // is an operand tail (word/`)`/`]`/quote that isn't an
    // expression-starting keyword) or an arithmetic operator.
    s = {
      val exprStartKw = Set("select", "where", "when", "then", "else", "and",
        "or", "not", "on", "by", "having", "set", "union", "all", "distinct",
        "as", "case", "between", "in", "values", "from", "limit", "offset",
        "return", "if", "coalesce")
      replaceOutsideLiterals(
        ("""(?i)\bINTERVAL\s+('[^']*')\s*((?:YEAR|MONTH|WEEK|DAY|HOUR|MINUTE|""" +
          """SECOND)S?)?\s*-\s*((?:TIMESTAMP|DATE)\s*'[^']*'""" +
          """|(?!INTERVAL\b)[A-Za-z_][\w.]*(?:\(\s*\))?)""").r, s) { m =>
        if (!startsExpression(m.source.toString, m.start, exprStartKw)) m.matched
        else {
          // INTERVAL - INTERVAL is valid native arithmetic and excluded
          // above; only the timestamp/date/column minuend needs the swap
          val unit = Option(m.group(2)).getOrElse("")
          s"(${m.group(3)} - INTERVAL ${m.group(1)} $unit)"
        }
      }
    }
    // trailing comma before FROM (reference parser tolerates it —
    // results corpus complex_005): never valid ANSI, so dropping is safe
    s = mapOutsideLiterals(s) {
      _.replaceAll("""(?i),\s*(?=FROM\b)""", " ")
    }
    // infix XOR — boolean exclusive-or is != on booleans, but a bare
    // textual `!=` splice binds at comparison precedence (`a > 1 XOR b > 2`
    // would parse as `((a > 1) != b) > 2`), so capture each operand out to
    // its enclosing boolean boundary (OR / clause keyword / comma / paren;
    // AND binds tighter than XOR, so it stays inside the operand) and emit
    // a fully parenthesized `((lhs) != (rhs))`. A chain rewrites
    // right-associatively over passes — XOR is associative, so equivalent.
    // Infix iff an OPERAND ends immediately before the keyword (word, ')',
    // ']' or a literal — SqlScan.operandEndsBefore); otherwise it is the
    // registered xor(a,b) function in call position — `TRUE XOR (x)` is
    // infix even though a '(' follows, `SELECT xor(1,0)` / `a AND
    // xor(1,0)` are calls.
    val xorOperandBoundary = xorBoundaryKw ++ Set("and", "not", "in", "between", "like")
    s = fixpoint("XOR", s) { (out, mask) =>
      """(?i)\bXOR\b""".r.findAllMatchIn(out)
        .find(m => !mask(m.start) && operandEndsBefore(out, m.start, xorOperandBoundary))
        .flatMap { m =>
          val (ls, rs) = infixOperandBounds(out, mask, m.start, m.end, xorBoundaryKw)
          val lhs = out.substring(ls, m.start).trim
          val rhs = out.substring(m.end, rs).trim
          if (lhs.isEmpty || rhs.isEmpty) None
          else Some(out.substring(0, ls) + s"(($lhs) != ($rhs))" + out.substring(rs))
        }
    }
    // CURRENT_TIME keyword (Spark 4 parses it into the unsupported TIME
    // type) → time-of-day string, matching the registered current_time()
    s = mapOutsideLiterals(s) {
      _.replaceAll("""(?i)\bCURRENT_TIME\b(?!\s*\(|STAMP)""",
        "date_format(current_timestamp(), 'HH:mm:ss')")
    }
    // MySQL-style @@session variables (reference power_bi corpus): every
    // variable reads as a NULL string. The `AS name` alias is only legal —
    // and only wanted — when the token is a bare select-list item; inside
    // an expression (`WHERE @@x IS NULL`, `@@a = @@b`) it must stay a
    // plain expression or the splice is a syntax error.
    s = replaceOutsideLiterals("""@@(\w+)""".r, s) { m =>
      val before = m.before.toString.replaceAll("""\s+$""", "")
      val after = m.after.toString.replaceAll("""^\s+""", "")
      val afterListItem = after.isEmpty || after.startsWith(",") ||
        after.matches("(?is)(from|union|limit|order|group)\\b.*")
      val beforeListItem = before.endsWith(",") ||
        before.matches("(?is).*\\bselect(\\s+distinct)?")
      if (beforeListItem && afterListItem)
        s"CAST(NULL AS STRING) AS ${m.group(1)}"
      else "CAST(NULL AS STRING)"
    }
    // GENERATE_SERIES over dates with a duration step: '1y'/'1mo'/'1w'/
    // '1d'/'1h' steps become intervals, bounds become dates
    s = replaceOutsideLiterals(
      ("""(?i)\bGENERATE_SERIES\s*\(\s*'(\d{4}-\d{2}-\d{2})'\s*,""" +
        """\s*'(\d{4}-\d{2}-\d{2})'\s*,\s*'(\d+)\s*(y|mo|w|d|h|m|s)'\s*\)""").r, s) { m =>
      val unit = m.group(4).toLowerCase match {
        case "y" => "YEAR"
        case "mo" => "MONTH"
        case "w" => "WEEK"
        case "d" => "DAY"
        case "h" => "HOUR"
        case "m" => "MINUTE"
        case "s" => "SECOND"
      }
      s"GENERATE_SERIES(DATE'${m.group(1)}', DATE'${m.group(2)}', " +
        s"INTERVAL '${m.group(3)}' $unit)"
    }
    // ORDER BY inside order-insensitive aggregates (reference tolerates it;
    // Spark's parser does not) — drop it, the result is identical
    s = mapOutsideLiterals(s) {
      _.replaceAll(
        """(?i)\b(SUM|AVG|MIN|MAX)\s*\(\s*(DISTINCT\s+)?([^()]*?)\s+ORDER\s+BY\s+[^()]*\)""",
        "$1($2$3)")
    }
    // `'ip' | 'cidr'` IPv4 containment (reference documentation corpus)
    s = replaceOutsideLiterals(
      """('[^']*+(?:''[^']*+)*+'|[\w.]+)\s*\|\s*'([^']+/\d+)'""".r, s) { m =>
      s"ip_in_subnet(${m.group(1)}, '${m.group(2)}')"
    }
    s
  }

  /** Words after which a `[` opens an array literal, not a subscript.
    * XOR/RLIKE included (grammar-fuzz find, r13): an array literal as the
    * right operand of an infix keyword (`a XOR [1, 0] @> (1)`) must not
    * read as a subscript of the keyword word. */
  private val arrayLiteralKw = Set("SELECT", "WHERE", "AND", "OR", "NOT", "THEN",
    "ELSE", "WHEN", "IN", "ON", "BY", "AS", "VALUES", "RETURN", "UNION", "ALL",
    "DISTINCT", "HAVING", "SET", "BETWEEN", "LIKE", "ILIKE", "RLIKE", "XOR", "ARRAY")

  /** Rewrite the first bracket array literal or literal-keyed subscript, or
    * None. A `[` after an operand is subscripting: literal string/int
    * subscripts become graft_extract (type-dispatching — struct field, map
    * key, array index, JSON-text path alike), anything else stays
    * Spark-native. A `[` after a keyword, `(`/`,`, an operator, or the
    * `ARRAY` constructor word is an array literal; nested arrays convert
    * outside-in. */
  private def bracketStep(s: String, mask: Array[Boolean]): Option[String] = {
    var i = 0
    while (i < s.length) {
      if (!mask(i) && s.charAt(i) == '[') {
        var p = i - 1
        while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
        // preceding word (if any): keywords make this a literal
        var w = p
        while (w >= 0 && (s.charAt(w).isLetterOrDigit || s.charAt(w) == '_')) w -= 1
        val word = if (w < p) s.substring(w + 1, p + 1).toUpperCase else ""
        val isArrayWord = word == "ARRAY"
        val subscript = !isArrayWord && !arrayLiteralKw.contains(word) && p >= 0 &&
          (s.charAt(p).isLetterOrDigit || s.charAt(p) == '_' ||
            s.charAt(p) == ')' || s.charAt(p) == ']' || s.charAt(p) == '\'')
        val close = closeGroup(s, mask, i, '[', ']')
        if (close > 0 && !subscript) {
          val start = if (isArrayWord) w + 1 else i
          return Some(s.substring(0, start) + "array(" + s.substring(i + 1, close) +
            ")" + s.substring(close + 1))
        } else if (close > 0) {
          // literal-keyed subscript → graft_extract (a string key on a
          // JSON-text column has no Spark-native bracket form)
          val inner = s.substring(i + 1, close).trim
          if (inner.matches("'[^']*+(?:''[^']*+)*+'") || inner.matches("\\d+")) {
            val lhsStart = operandStart(s, mask, p)
            if (lhsStart >= 0 && lhsStart <= p)
              return Some(s.substring(0, lhsStart) +
                s"graft_extract(${s.substring(lhsStart, p + 1)}, $inner)" + s.substring(close + 1))
          }
        }
      }
      i += 1
    }
    None
  }

  /** Rewrite the first array containment `x @> array(...)` / `x @> (v1, v2)`
    * to `array_contains_all`, or None. */
  private def containsStep(s: String, mask: Array[Boolean]): Option[String] = {
    var i = 0
    while (i < s.length - 1) {
      if (!mask(i) && s.charAt(i) == '@' && s.charAt(i + 1) == '>') {
        var r = i + 2
        while (r < s.length && s.charAt(r).isWhitespace) r += 1
        val isArrayFn = s.regionMatches(true, r, "array(", 0, 6) ||
          s.regionMatches(true, r, "array (", 0, 7)
        val isTuple = r < s.length && s.charAt(r) == '(' &&
          !s.regionMatches(true, r + 1, "select", 0, 6)
        if (isArrayFn || isTuple) {
          val open = s.indexOf('(', r)
          val close = closeParen(s, mask, open)
          var l = i - 1
          while (l >= 0 && s.charAt(l).isWhitespace) l -= 1
          val lhsStart = operandStart(s, mask, l)
          if (close > 0 && lhsStart >= 0 && lhsStart <= l) {
            val rawLhs = s.substring(lhsStart, l + 1)
            // a bare parenthesized tuple on the LHS is the reference's
            // array spelling too: ('a','b') @> [...] — never a struct
            val lhs =
              if (rawLhs.startsWith("(") && rawLhs.endsWith(")")) "array" + rawLhs
              else rawLhs
            val rhs =
              if (isArrayFn) s.substring(r, close + 1)
              else "array" + s.substring(open, close + 1)
            return Some(s.substring(0, lhsStart) +
              s"array_contains_all($lhs, $rhs)" + s.substring(close + 1))
          }
        }
      }
      i += 1
    }
    None
  }

  /** See the call site in [[rewriteDialectSpellings]]: per-CASE-level
    * STRING/BOOLEAN branch mixing, nested-CASE-correct. Processes the first
    * CASE block (inner levels recursively first), then the remainder of the
    * string. */
  private def rewriteMixedCase(s: String): String = {
    val mask = literalMask(s)
    """(?i)\bCASE\b""".r.findAllMatchIn(s).find(m => !mask(m.start)) match {
      case None => s
      case Some(m) =>
        val ce = matchingCaseEnd(s, mask, m.start)
        if (ce < 0) s // unmatched CASE: leave the tail for Spark's parser
        else {
          val innerDone = rewriteMixedCase(s.substring(m.start + 4, ce - 3))
          val block = mixedCaseLevel(
            s.substring(m.start, m.start + 4) + innerDone + s.substring(ce - 3, ce))
          s.substring(0, m.start) + block + rewriteMixedCase(s.substring(ce))
        }
    }
  }

  /** Wrap bare TRUE/FALSE branches of THIS CASE level in CAST(… AS STRING)
    * when the level also has a string-literal branch. Positions inside
    * nested CASE blocks belong to their own level and are excluded. */
  private def mixedCaseLevel(block: String): String = {
    val mask = literalMask(block)
    val nested = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (m <- """(?i)\bCASE\b""".r.findAllMatchIn(block)
         if m.start >= 4 && !mask(m.start)
         if nested.forall(sp => m.start >= sp._2)) {
      val e = matchingCaseEnd(block, mask, m.start)
      if (e >= 0) nested += ((m.start, e))
    }
    def level0(p: Int): Boolean =
      !mask(p) && nested.forall(sp => p < sp._1 || p >= sp._2)
    val boolRe = """(?i)\b(THEN|ELSE)\s+(TRUE|FALSE)\b""".r
    val hasStr = """(?is)\b(?:THEN|ELSE)\s+'""".r
      .findAllMatchIn(block).exists(m => level0(m.start))
    val hasBool = boolRe.findAllMatchIn(block).exists(m => level0(m.start))
    if (!(hasStr && hasBool)) block
    else boolRe.replaceAllIn(block, m =>
      if (level0(m.start)) s"${m.group(1)} CAST(${m.group(2)} AS STRING)"
      else m.matched)
  }

  // -- DISTINCT ON -----------------------------------------------------------

  private val distinctOn =
    """(?is)^\s*SELECT\s+DISTINCT\s+ON\s*\(([^)]+)\)\s+(.*?)\s+FROM\s+(.*?)(\s+ORDER\s+BY\s+(.+?))?(\s+LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?)?\s*;?\s*$""".r

  /** `SELECT DISTINCT ON (k) cols FROM t ORDER BY o [LIMIT n]` →
    * first row per k under o, deterministic (reference picks the first seen
    * row; with ORDER BY the choice is well-defined). An outer ORDER BY/LIMIT
    * stays outside the ranking window. */
  private def rewriteDistinctOn(sql: String): String = sql match {
    case distinctOn(keys, sel, from, _, order, limit) =>
      val ord = Option(order).map(_.trim).filter(_.nonEmpty).getOrElse(keys.trim)
      val tail = Option(order).map(o => s" ORDER BY ${o.trim}").getOrElse("") +
        Option(limit).map(_.trim).map(" " + _).getOrElse("")
      s"""SELECT ${sel.trim} FROM (
         |  SELECT *, row_number() OVER (PARTITION BY ${keys.trim} ORDER BY $ord) AS __g_rn
         |  FROM $from
         |) WHERE __g_rn = 1$tail""".stripMargin
    case other => other
  }
}
