package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, round}

/** MATCH_RECOGNIZE SQL surface (SURVEY.md §2.9 —
  * flink-table/.../physical/stream/StreamExecMatch.scala:68, SQL
  * standard row-pattern recognition): parses the clause text and
  * compiles it onto [[PatternNFA]]'s STRICT row-pattern mode.
  *
  * CONTIGUITY IS STRICT (SQL:2016; the reference's
  * match_recognize.md:349 "a pattern like `(A B)` means that the
  * contiguity is strict", and its planner compiles concatenation to
  * the CEP library's `next()` and every loop to `.consecutive()` —
  * StreamExecMatch.scala:420-449 applyQuantifier): a match is a
  * CONTIGUOUS run of rows in the per-key (ORDER BY, id) sequence;
  * every row between match start and end is bound to some pattern
  * variable. Greedy quantifiers bind as many rows as possible and
  * backtrack by shrinking from the end; reluctant (`+?` `*?`
  * `{..}?`) as few as possible. The relaxed relations (followedBy
  * etc.) remain the CEP API doors' contract — they are the CEP
  * LIBRARY's own semantics, not the clause's.
  *
  * Supported grammar:
  *
  * {{{
  * MATCH_RECOGNIZE (
  *   PARTITION BY key ORDER BY ts
  *   [MEASURES FIRST(A.col) AS x, LAST(B.col) AS y, AVG(B.col) AS z,
  *             ROUND(SUM(B.col), 6) AS w, COUNT(B.col) AS n,
  *             MATCH_NUMBER() AS m, C.col AS last_c, ...]
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *   [AFTER MATCH SKIP TO NEXT ROW | SKIP PAST LAST ROW
  *    | SKIP TO FIRST var | SKIP TO LAST var]
  *   PATTERN (A B+ C? D{2} E{1,3} F{,4} G{2,} H*?)
  *   [WITHIN INTERVAL 'n' HOUR|MINUTE|SECOND]
  *   [DEFINE A AS kind = 'signup', B AS value > 100 AND kind = 'click', ...]
  * )
  * }}}
  *
  * Pattern-shape rules, all the reference's own
  * (StreamExecMatch.scala:179-190, 409, 445; match_recognize.md:
  * 349-363): variables must be unique; a variable without a DEFINE
  * entry gets the default always-true condition; patterns that could
  * produce an EMPTY match are rejected; a greedy variable-extent loop
  * may not end the pattern; the reluctant optional (`A??`) is
  * rejected. A quantified or optional FIRST variable is legal (the
  * reference's `PATTERN (A+ C)` doc examples) — the attempt row is
  * the first row the match binds.
  *
  * MEASURES (ref StreamExecMatch.scala:68; per-variable measure
  * compilation in flink-table-planner-blink/.../codegen/
  * MatchCodeGenerator.scala): FIRST/LAST/AVG/SUM/COUNT/MIN/MAX over
  * `VAR.column` or an arithmetic expression of ONE variable's columns
  * (`SUM(B.price * B.rate)`), UNQUALIFIED aggregates over ALL rows of
  * the match — `COUNT(*)`, `COUNT(price)`, `FIRST(id)` (the
  * reference's MatchRecognizeITCase testAggregates measures) — an
  * optional ROUND(agg, n) wrapper (oracle-stable floats),
  * MATCH_NUMBER(), and bare `VAR.column` (≡ LAST, the SQL final
  * semantics for ONE ROW PER MATCH). Spark-side the measures do
  * NOT run inside the NFA: the scan emits one row per bound event
  * ([[PatternNFA.Bindings]]), joins back to the event
  * table on (key, id), and the measures become a plain distributed
  * groupBy((key, match)).agg(...) — FIRST/LAST via min_by/max_by over
  * the sequence position with a per-variable FILTER clause, all
  * codegen'd built-ins, no UDFs.
  *
  * Output modes: ONE ROW PER MATCH (the default, and the only mode the
  * reference supports — flink docs restrict MATCH_RECOGNIZE to it)
  * emits (key, measures...) per match; ALL ROWS PER MATCH emits one
  * row per MATCHED EVENT — (key, match_no, classifier, event_id,
  * measures...) with FINAL measure semantics, the SQL-standard batch
  * extension one step beyond the reference.
  *
  * DEFINE bodies are ARBITRARY boolean SQL expressions over the event
  * row (compiled with `expr()` onto [[PatternNFA.Pattern]]'s
  * bitmask pre-evaluation), matching the reference's per-variable
  * predicate compilation (flink-table-planner-blink/.../codegen/
  * MatchCodeGenerator.scala, flink-cep/.../pattern/Pattern.java:155
  * `where()`). Variables without a DEFINE entry default to TRUE
  * (match_recognize.md:257) — bounded under strict contiguity, since
  * an always-true variable binds adjacent rows, never a gap.
  *
  * CROSS-VARIABLE DEFINE predicates (the reference's ITERATIVE
  * conditions — flink-cep/.../pattern/conditions/
  * IterativeCondition.java:52, compiled for MATCH_RECOGNIZE in
  * MatchCodeGenerator.scala): a DEFINE body may navigate the partial
  * match — `B AS B.price > LAST(A.price)`, `PREV(price, 2)`,
  * `FIRST(B.value, 1)`, arithmetic over them. The compiler splits each
  * body at top-level ANDs: row-local conjuncts stay in the pre-shuffle
  * bitmask (codegen'd, evaluated once per event); binding-dependent
  * conjuncts compile to [[PatternNFA.CtxCmp]] trees evaluated DURING
  * the NFA scan against the partial-match context. Resolution rules
  * (SQL:2016 running semantics): inside DEFINE B, `B.col` (and a bare
  * `col`) is the current row; `A.col` for an earlier variable A means
  * LAST(A.col); FIRST/LAST take an optional logical offset, PREV a
  * physical one. RUNNING AGGREGATES (the reference's testAggregates
  * family — `SUM(A.price) < 6`, `SUM(B.price * B.rate) < SUM(A.price)`,
  * `AVG(B.price) >= 1`): SUM/AVG/COUNT/MIN/MAX over ONE variable's
  * bound rows (the candidate included while that variable is being
  * matched), argument an arithmetic expression of that variable's
  * qualified columns, SQL null-skipping. Context operands are numeric
  * (they ride the scan as doubles; NULL fails any comparison);
  * forward references are rejected at compile time.
  */
object MatchRecognize {
  import PatternNFA._

  private val patternRe = """(?is)PATTERN\s*\(([^)]*)\)""".r
  private val defineRe =
    """(?is)DEFINE\s+(.*?)(?:\)\s*$|$)""".r
  // one definition: NAME AS <any expression up to the next ", NAME AS"
  // or end of the DEFINE body>
  private val defOneRe =
    """(?is)(\w+)\s+AS\s+(.*?)(?=,\s*\w+\s+AS\s|\s*$)""".r
  private val withinRe =
    """(?i)WITHIN\s+INTERVAL\s*'(\d+)'\s*(HOUR|MINUTE|SECOND)S?""".r
  private val skipPastRe = """(?i)AFTER\s+MATCH\s+SKIP\s+PAST\s+LAST\s+ROW""".r
  // SKIP TO FIRST/LAST <var> (AfterMatchSkipStrategy.java skipToFirst/
  // skipToLast); NEXT never matches the FIRST|LAST alternation, so the
  // SKIP TO NEXT ROW form stays with its own check below
  private val skipToVarRe =
    """(?i)AFTER\s+MATCH\s+SKIP\s+TO\s+(FIRST|LAST)\s+(\w+)""".r
  // quantifier suffix: + +? * *? ? {n} {n,} {n,}? {,m} {lo,hi}
  // {lo,hi}? — a trailing ? on a loop form is the SQL reluctant
  // (non-greedy) marker; ?? (reluctant optional) parses so it can be
  // rejected LOUDLY (the reference rejects it too)
  private val varRe = """(\w+)(\+\??|\*\??|\?\??|\{\d*(?:,\d*)?\}\??)?""".r
  private val rangeQuantRe = """\{(\d*)(?:,(\d*))?\}(\??)""".r
  // SUBSET U = (A, B) [, V = (...)] — union pattern variables
  // (SQL:2016; the reference plans subsets in StreamExecMatch.scala:
  // 117-118 and the vendored SqlMatchRecognize grammar). Clause sits
  // between PATTERN and DEFINE.
  private val subsetRe =
    """(?is)SUBSET\s+(.*?)(?=DEFINE\s|PATTERN\s*\(|WITHIN\s|$)""".r
  private val subsetOneRe = """(\w+)\s*=\s*\(([^)]*)\)""".r
  private val measuresRe =
    """(?is)MEASURES\s+(.*?)\s*(?=ONE\s+ROW\s+PER|ALL\s+ROWS\s+PER|AFTER\s+MATCH|PATTERN\s*\()""".r
  private val allRowsRe = """(?i)ALL\s+ROWS\s+PER\s+MATCH""".r
  private val mnRe = """(?i)^MATCH_NUMBER\s*\(\s*\)\s+AS\s+(\w+)$""".r
  private val mrtRe = """(?i)^MATCH_ROWTIME\s*\(\s*\)\s+AS\s+(\w+)$""".r
  private val mptRe = """(?i)^MATCH_PROCTIME\s*\(\s*\)\s+AS\s+(\w+)$""".r
  private val classifierRe = """(?i)^CLASSIFIER\s*\(\s*\)\s+AS\s+(\w+)$""".r
  private val aggRe =
    """(?i)^(FIRST|LAST|AVG|SUM|COUNT|MIN|MAX)\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val roundAggRe =
    """(?i)^ROUND\s*\(\s*(FIRST|LAST|AVG|SUM|COUNT|MIN|MAX)\s*\((.+)\)\s*,\s*(\d+)\s*\)\s+AS\s+(\w+)$""".r
  private val bareRe = """(?i)^(\w+)\.(\w+)\s+AS\s+(\w+)$""".r

  /** Split a MEASURES body on TOP-LEVEL commas only (ROUND(AVG(B.v), 6)
    * keeps its internal comma). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 => out += sb.toString.trim; sb.clear()
      case c => sb += c
    }
    if (sb.nonEmpty) out += sb.toString.trim
    out.result().filter(_.nonEmpty)
  }

  // RUNNING / FINAL measure keywords (SQL:2016; the reference's
  // MatchCodeGenerator.scala:355 handles FINAL explicitly and RUNNING
  // semantics in ALL ROWS PER MATCH): RUNNING evaluates the measure
  // over the match's rows UP TO the current output row; FINAL over the
  // whole match. This engine's default is FINAL in both row modes
  // (ONE ROW PER MATCH evaluates at the final row, where the two
  // coincide), so the keyword only changes ALL ROWS PER MATCH output.
  private val runFinalRe = """(?is)^(RUNNING|FINAL)\s+(.*)$""".r

  private def parseMeasure(item: String): Measure = item.trim match {
    case runFinalRe(kw, rest) =>
      val m = parseMeasure(rest)
      require(m.func != "MATCH_NUMBER",
        s"$kw does not apply to MATCH_NUMBER()")
      m.copy(running = kw.equalsIgnoreCase("RUNNING"))
    case mnRe(alias) => Measure("MATCH_NUMBER", "", "", None, alias)
    // MATCH_ROWTIME() (FlinkSqlOperatorTable MATCH_ROWTIME — the
    // match's event-time attribute for cascading windows): the rowtime
    // of the match's LAST row under FINAL semantics, the current row's
    // under RUNNING in ALL ROWS PER MATCH
    case mrtRe(alias) => Measure("MATCH_ROWTIME", "", "", None, alias)
    case mptRe(_) => sys.error(
      "MATCH_PROCTIME() has no analog here: proc-time MATCH_RECOGNIZE " +
        "orders by a PROCTIME() attribute (micro-batch time) — read " +
        "that column, or use MATCH_ROWTIME()")
    // CLASSIFIER() (SQL:2016; the reference's MATCH_RECOGNIZE supports
    // it): the pattern variable of the LAST row of the match under
    // FINAL semantics — per-row under RUNNING in ALL ROWS PER MATCH
    case classifierRe(alias) => Measure("CLASSIFIER", "", "", None, alias)
    case roundAggRe(f, arg, n, alias) => mkAgg(f, arg, Some(n.toInt), alias)
    case aggRe(f, arg, alias) => mkAgg(f, arg, None, alias)
    case bareRe(v, c, alias) => // bare VAR.col ≡ LAST (final semantics)
      Measure("LAST", v.toUpperCase, c, None, alias)
    // bare EXPRESSION of one variable's columns (the reference's
    // `UP.price + UP.tax AS end_total` — testLogicalOffsets) ≡ LAST
    // over the expression; functions are rejected (they belong to the
    // agg forms above)
    case bareExprRe(e, alias) if {
      val vars = qualifiers(e)
      vars.size == 1 && !splitQuoted(e).exists { case (seg, lit) =>
        !lit && measFnRe.findFirstIn(seg).isDefined }
    } =>
      val v = qualifiers(e).head
      Measure("LAST", v, stripQualifiers(e), None, alias)
    case other => sys.error(s"unsupported MEASURES item: $other")
  }
  private val bareExprRe = """(?is)^(.*\S)\s+AS\s+(\w+)$""".r
  private val measFnRe =
    """(?i)\b(SUM|AVG|COUNT|MIN|MAX|FIRST|LAST|PREV|CLASSIFIER|MATCH_NUMBER|MATCH_ROWTIME|ROUND)\s*\(""".r

  /** Build an aggregate measure from its raw argument text: `*` (COUNT
    * only), ONE variable's qualified columns — possibly inside an
    * arithmetic expression, `SUM(B.price * B.rate)` — which strips to
    * the bare columns plus a classifier FILTER, or an unqualified
    * argument, which aggregates over ALL rows of the match (the
    * reference's COUNT(*) / COUNT(price) / FIRST(id) measures —
    * MatchRecognizeITCase testAggregates[WithNullInputs]). */
  private val measVarRe = """([A-Za-z_]\w*)\s*\.""".r

  /** (segment, isStringLiteral) decomposition of a measure expression
    * — qualifier detection and stripping must not touch text inside
    * '...' literals ('' = escaped quote; review r11: a literal
    * containing "B." would otherwise be silently corrupted by the
    * prefix strip). */
  private def splitQuoted(s: String): Seq[(String, Boolean)] = {
    val out = Seq.newBuilder[(String, Boolean)]
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    while (i < s.length) {
      val c = s(i)
      if (!inQ && c == '\'') {
        if (sb.nonEmpty) { out += ((sb.toString, false)); sb.clear() }
        sb += c; inQ = true
      } else if (inQ && c == '\'') {
        if (i + 1 < s.length && s(i + 1) == '\'') { sb += c; sb += c; i += 1 }
        else { sb += c; out += ((sb.toString, true)); sb.clear(); inQ = false }
      } else sb += c
      i += 1
    }
    if (sb.nonEmpty) out += ((sb.toString, inQ))
    out.result()
  }
  /** Distinct VAR qualifiers (`VAR.`) OUTSIDE string literals. */
  private def qualifiers(e: String): Seq[String] =
    splitQuoted(e).collect { case (seg, false) => seg }
      .flatMap(seg => measVarRe.findAllMatchIn(seg).map(_.group(1).toUpperCase))
      .distinct
  /** Strip `VAR.` prefixes OUTSIDE string literals. */
  private def stripQualifiers(e: String): String =
    splitQuoted(e).map { case (seg, lit) =>
      if (lit) seg else measVarRe.replaceAllIn(seg, "") }.mkString.trim
  private def mkAgg(f0: String, arg0: String, roundTo: Option[Int],
                    alias: String): Measure = {
    val f = f0.toUpperCase
    var arg = arg0.trim
    // FIRST/LAST take an optional logical offset: FIRST(A.price, 3)
    var off = 0
    if (f == "FIRST" || f == "LAST") {
      val parts = splitTopLevel(arg)
      if (parts.size == 2 && parts(1).matches("""\d+""")) {
        arg = parts.head; off = parts(1).toInt
      } else require(parts.size == 1,
        s"$f takes one argument and an optional integer offset: $arg0")
    }
    if (arg == "*") {
      require(f == "COUNT", s"only COUNT accepts * as its argument, got $f(*)")
      Measure("COUNT", "", "*", roundTo, alias)
    } else {
      val vars = qualifiers(arg)
      require(vars.size <= 1,
        s"a MEASURES aggregate may reference ONE pattern variable: $arg0")
      val stripped = stripQualifiers(arg)
      Measure(f, vars.headOption.getOrElse(""), stripped, roundTo, alias,
        off = off)
    }
  }

  /** One parsed MEASURES item. func ∈ FIRST/LAST/AVG/SUM/COUNT/MIN/
    * MAX/MATCH_NUMBER; `roundTo` is the optional ROUND(…, n) wrapper;
    * `running` = the RUNNING keyword (per-row prefix semantics in ALL
    * ROWS PER MATCH; equal to FINAL in ONE ROW PER MATCH); `off` is
    * FIRST/LAST's logical offset (`FIRST(A.price, 3)` — the 4th bound
    * row; out of range is NULL, the reference's
    * testLogicalOffsetOutsideOfRangeInMeasures). */
  final case class Measure(func: String, varName: String, colName: String,
                           roundTo: Option[Int], alias: String,
                           running: Boolean = false, off: Int = 0)

  /** steps reference `defines` entries by variable name; `defines`
    * keeps clause order, body = the ROW-LOCAL residue of the DEFINE
    * (context conjuncts split out into `ctx`; `true` if nothing
    * row-local remains). `navCols` are the event columns the context
    * predicates' column indices resolve to. */
  final case class Compiled(steps: Seq[Step], defines: Seq[(String, String)],
                            withinMicros: Long, afterMatch: AfterMatch,
                            measures: Seq[Measure] = Seq.empty,
                            allRows: Boolean = false,
                            navCols: Seq[String] = Seq.empty,
                            ctx: Map[String, Seq[CtxCmp]] = Map.empty,
                            subsets: Map[String, Seq[String]] = Map.empty) {
    /** A measure/navigation variable's member variables: subset →
      * members, plain variable → itself. */
    def membersOf(v: String): Seq[String] = subsets.getOrElse(v, Seq(v))
    /** The clause as the engine's pattern: DEFINE bodies as row
      * predicates, strict row-pattern mode. */
    def pattern: PatternNFA.Pattern = PatternNFA.Pattern(steps, withinMicros,
      afterMatch, defines.map { case (n, body) => n -> expr(body) },
      navCols, ctx, strict = true)
  }

  /** Split a DEFINE body on a TOP-LEVEL keyword (paren- and
    * string-literal aware) — each conjunct is independently classified
    * as row-local or context-dependent. */
  private def splitTopLevelKw(s: String, kw: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    var quote = false
    var i = 0
    val n = kw.length
    def boundary(j: Int): Boolean =
      j < 0 || j >= s.length || (!s(j).isLetterOrDigit && s(j) != '_')
    while (i < s.length) {
      val c = s(i)
      if (quote) { sb += c; if (c == '\'') quote = false; i += 1 }
      else if (c == '\'') { quote = true; sb += c; i += 1 }
      else if (c == '(') { depth += 1; sb += c; i += 1 }
      else if (c == ')') { depth -= 1; sb += c; i += 1 }
      else if (depth == 0 && i + n <= s.length &&
          s.substring(i, i + n).equalsIgnoreCase(kw) &&
          boundary(i - 1) && boundary(i + n)) {
        out += sb.toString.trim; sb.clear(); i += n
      } else { sb += c; i += 1 }
    }
    out += sb.toString.trim
    out.result().filter(_.nonEmpty)
  }
  private def splitTopLevelAnd(s: String): Seq[String] =
    splitTopLevelKw(s, "AND")

  private val navFnRe = """(?i)\b(PREV|FIRST|LAST)\s*\(""".r
  private val varDotRe = """(?i)\b(\w+)\s*\.""".r
  /** DEFINE-body classification, string-literal aware (review r12 —
    * the MEASURES fix via splitQuoted is reused here: a literal like
    * 'B.x' must neither count as a variable reference nor be touched
    * by the self-prefix strip). Literal segments are replaced by a
    * space so regex scans cannot bridge across them. */
  private def defineNonLiteral(e: String): String =
    splitQuoted(e).map { case (seg, lit) => if (lit) " " else seg }.mkString
  private def defineHasFn(e: String): Boolean = {
    val nl = defineNonLiteral(e)
    navFnRe.findFirstIn(nl).isDefined || aggFnRe.findFirstIn(nl).isDefined
  }
  private def defineVarRefs(e: String): Set[String] =
    splitQuoted(e).collect { case (seg, false) => seg }
      .flatMap(seg => varDotRe.findAllMatchIn(seg).map(_.group(1).toUpperCase))
      .toSet
  /** Strip `NAME.` prefixes outside string literals. */
  private def stripSelfQualifier(e: String, name: String): String = {
    val re = s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\s*\\.\\s*"
    splitQuoted(e).map { case (seg, lit) =>
      if (lit) seg else seg.replaceAll(re, "") }.mkString
  }
  /** Running aggregates a DEFINE conjunct may use — their presence
    * forces the conjunct onto the context path even when it only
    * references the current variable (a running SUM over the partial
    * match cannot be pre-evaluated row-locally). */
  private val CtxAggFns = Set("SUM", "AVG", "COUNT", "MIN", "MAX")
  private val aggFnRe = """(?i)\b(SUM|AVG|COUNT|MIN|MAX)\s*\(""".r

  /** Recursive-descent parser for one context conjunct:
    * `sum cmpop sum` over literals, bare/VAR-qualified columns,
    * FIRST/LAST/PREV navigation, + - * / and parens. */
  private final class CtxParser(toks: Array[String], curVar: String,
                                vars: Set[String], colIdx: String => Int,
                                subsets: Map[String, Seq[String]]) {
    private def expand(v: String): Seq[String] =
      subsets.getOrElse(v, Seq(v))
    private var p = 0
    // aggregate-argument parse mode: V.col refs become per-row Cur
    // columns and the qualifying variable is collected (exactly one
    // per aggregate); navigation/nested aggregates are rejected
    private var inAgg = 0
    private var aggVars = Set.empty[String]
    private def peek: String = if (p < toks.length) toks(p) else ""
    private def next(): String = { val t = peek; p += 1; t }
    private def expect(t: String): Unit = {
      val g = next()
      if (g != t) sys.error(s"context predicate: expected '$t', got '$g'")
    }

    /** Entry: a disjunction of comparisons — `cmp (OR cmp)*` (the
      * reference's down-run idiom `price < LAST(price, 1) OR
      * LAST(price, 1) IS NULL`), chained into [[CtxCmp.orElse]]
      * left-to-right. */
    def cmp(): CtxCmp = {
      val alts = Seq.newBuilder[CtxCmp]
      alts += cmpOne()
      while (peek.equalsIgnoreCase("OR")) { next(); alts += cmpOne() }
      if (p != toks.length)
        sys.error(s"context predicate: trailing tokens after comparison: " +
          toks.drop(p).mkString(" "))
      val all = alts.result()
      all.init.foldRight(all.last)((c, rest) => c.copy(orElse = Some(rest)))
    }
    private def cmpOne(): CtxCmp = {
      val l = sum()
      if (peek.equalsIgnoreCase("IS")) {
        next()
        val not = peek.equalsIgnoreCase("NOT")
        if (not) next()
        val t = next()
        if (!t.equalsIgnoreCase("NULL"))
          sys.error(s"context predicate: expected NULL after IS, got '$t'")
        CtxCmp(if (not) "IS NOT NULL" else "IS NULL", l, NavExpr.Lit(0d))
      } else {
        val op = next() match {
          case "!=" => "<>"
          case o if Set(">", ">=", "<", "<=", "=", "<>")(o) => o
          case o => sys.error(s"context predicate: expected a comparison " +
            s"operator or IS [NOT] NULL, got '$o' (context conjuncts are " +
            "comparisons joined by top-level AND, each optionally an OR " +
            "of comparisons)")
        }
        CtxCmp(op, l, sum())
      }
    }
    private def sum(): NavExpr = {
      var l = term()
      while (peek == "+" || peek == "-") {
        val o = next(); l = NavExpr.Bin(o.head, l, term())
      }
      l
    }
    private def term(): NavExpr = {
      var l = atom()
      while (peek == "*" || peek == "/") {
        val o = next(); l = NavExpr.Bin(o.head, l, atom())
      }
      l
    }
    private def atom(): NavExpr = peek match {
      case "(" => next(); val e = sum(); expect(")"); e
      case "-" => next(); NavExpr.Bin('-', NavExpr.Lit(0d), atom())
      case t if t.nonEmpty && t.head.isDigit => next(); NavExpr.Lit(t.toDouble)
      case t if t.nonEmpty && t.head == '\'' =>
        // string literal ('' = escaped quote) — typed navigation operand
        next()
        NavExpr.LitS(t.substring(1, t.length - 1).replace("''", "'"))
      case t if t.equalsIgnoreCase("PREV") && lookahead1 == "(" =>
        if (inAgg > 0) sys.error("PREV is not allowed inside a DEFINE aggregate")
        next(); next()
        val (_, c) = ref()          // an optional classifier prefix is
        val n = optOffset(1)        // ignored: PREV is PHYSICAL (SQL:2016)
        expect(")")
        NavExpr.Prev(colIdx(c), n)
      case t if (t.equalsIgnoreCase("FIRST") || t.equalsIgnoreCase("LAST")) &&
          lookahead1 == "(" =>
        if (inAgg > 0)
          sys.error("FIRST/LAST navigation is not allowed inside a DEFINE aggregate")
        val first = next().equalsIgnoreCase("FIRST"); next()
        val (v, c) = ref()
        val off = optOffset(0)
        expect(")")
        // unqualified FIRST/LAST = the DEFAULT pattern variable (all
        // rows of the match so far — match_recognize.md:589,812)
        NavExpr.VarNav(if (v.isEmpty) Seq.empty else expand(v),
          colIdx(c), first, off)
      case t if CtxAggFns(t.toUpperCase) && lookahead1 == "(" =>
        // running aggregate over one variable's bound rows:
        // SUM(B.price * B.rate), AVG(A.value), COUNT(A.id) ...
        if (inAgg > 0) sys.error("nested DEFINE aggregates are not supported")
        val fn = next().toUpperCase; next()
        val saved = aggVars
        aggVars = Set.empty
        inAgg += 1
        val arg = sum()
        inAgg -= 1
        expect(")")
        val qual = aggVars
        aggVars = saved
        if (qual.size != 1)
          sys.error(s"a DEFINE aggregate must reference exactly one pattern " +
            s"variable's columns (qualify them, e.g. $fn(B.col)): got " +
            (if (qual.isEmpty) "none" else qual.mkString(", ")))
        NavExpr.VarAgg(fn, expand(qual.head), arg)
      case _ =>
        val (v, c) = ref()
        if (inAgg > 0) {
          if (v.isEmpty)
            sys.error(s"columns inside a DEFINE aggregate must be qualified " +
              s"by the pattern variable (got bare '$c')")
          aggVars += v
          NavExpr.Cur(colIdx(c)) // per-row evaluation inside the aggregate
        }
        else if (v.isEmpty || v == curVar) NavExpr.Cur(colIdx(c))
        // a bare earlier-variable reference means its latest binding —
        // SQL running semantics: A.price ≡ LAST(A.price); a subset
        // reference expands to its members' merged bindings
        else NavExpr.VarNav(expand(v), colIdx(c), first = false, off = 0)
    }
    private def lookahead1: String = if (p + 1 < toks.length) toks(p + 1) else ""
    private def optOffset(default: Int): Int =
      if (peek == ",") { next(); next().toDouble.toInt } else default
    private def ref(): (String, String) = {
      val a = next()
      if (!a.matches("""\w+"""))
        sys.error(s"context predicate: expected identifier, got '$a'")
      if (peek == ".") {
        next(); val b = next()
        if (!vars(a.toUpperCase))
          sys.error(s"context predicate references unknown pattern variable $a")
        (a.toUpperCase, b)
      } else ("", a)
    }
  }

  private def parseCtx(body: String, curVar: String, vars: Set[String],
                       colIdx: String => Int,
                       subsets: Map[String, Seq[String]]): CtxCmp = {
    val toks = """'(?:[^']|'')*'|>=|<=|<>|!=|[-+*/()=<>.,]|\d+(?:\.\d+)?|\w+""".r
      .findAllIn(body).toArray
    new CtxParser(toks, curVar, vars, colIdx, subsets).cmp()
  }

  def compile(clause: String): Compiled = {
    val patternText = patternRe.findFirstMatchIn(clause)
      .map(_.group(1)).getOrElse(sys.error("missing PATTERN (...)"))
    // pattern variable NAMES first: a variable without a DEFINE entry
    // gets the default always-true condition (the reference:
    // match_recognize.md:257 "a default condition will be used which
    // evaluates to true for every row" — safe here because clause
    // patterns match with STRICT contiguity, so an always-true
    // variable binds the single adjacent row, not an unbounded gap)
    val patternVars = varRe.findAllMatchIn(patternText.trim)
      .filter(_.group(1).nonEmpty).map(_.group(1).toUpperCase).toSeq
    require(patternVars.nonEmpty, "PATTERN ( ) names no variables")
    require(patternVars.distinct.size == patternVars.size,
      "pattern variables must be unique (the reference throws " +
        "\"Pattern variables must be unique\" — StreamExecMatch.scala:409)")
    val explicitDefines: Seq[(String, String)] =
      defineRe.findFirstMatchIn(clause)
        .map(m => defOneRe.findAllMatchIn(m.group(1))
          .map(d => d.group(1).toUpperCase -> d.group(2).trim).toSeq)
        .getOrElse(Seq.empty)
    // default-TRUE entries for undefined pattern variables, in
    // pattern order after the explicit ones
    val explicitNames = explicitDefines.map(_._1).toSet
    val rawDefines: Seq[(String, String)] = explicitDefines ++
      patternVars.filterNot(explicitNames).map(_ -> "true")
    val defined = rawDefines.map(_._1).toSet
    // SUBSET union variables: usable wherever a pattern variable is
    // navigable (MEASURES aggregates/navigation, DEFINE navigation) —
    // NOT in PATTERN or as a DEFINE name.
    val subsets: Map[String, Seq[String]] =
      subsetRe.findFirstMatchIn(clause).map { m =>
        subsetOneRe.findAllMatchIn(m.group(1)).map { sm =>
          val sname = sm.group(1).toUpperCase
          val members = sm.group(2).split(",").map(_.trim.toUpperCase)
            .filter(_.nonEmpty).toSeq
          require(members.nonEmpty, s"SUBSET $sname has no members")
          require(!defined(sname),
            s"SUBSET $sname collides with a DEFINE pattern variable")
          members.foreach(v => require(defined(v),
            s"SUBSET $sname references undefined pattern variable $v"))
          sname -> members
        }.toMap
      }.getOrElse(Map.empty)
    val navigable = defined ++ subsets.keySet

    // Split each DEFINE body: row-local conjuncts → bitmask residue;
    // navigation conjuncts → CtxCmp trees. A conjunct referencing ONLY
    // the current variable with no FIRST/LAST/PREV is row-local after
    // stripping the self-prefix (B.price > 100 inside DEFINE B ≡
    // price > 100 — running semantics make B.price the current row).
    val navColsOrder = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def colIdx(c: String): Int = navColsOrder.getOrElseUpdate(c, navColsOrder.size)
    val ctxB = scala.collection.mutable.Map.empty[String, Seq[CtxCmp]]
    val defines: Seq[(String, String)] = rawDefines.map { case (name, body) =>
      val locals = Seq.newBuilder[String]
      val ctxs = Seq.newBuilder[CtxCmp]
      // SQL precedence: AND binds tighter than OR, so a body with BOTH
      // at top level (X AND Y OR Z) must NOT be split at its ANDs —
      // that would regroup it as X AND (Y OR Z). A fully row-local
      // body evaluates WHOLE through expr() (native precedence); one
      // that needs the navigation compiler is rejected loudly (its
      // conjunct grammar is a conjunction of [OR-chains of]
      // comparisons — parenthesize to disambiguate). Review r11.
      val mixedTopLevel = splitTopLevelKw(body, "OR").size > 1 &&
        splitTopLevelAnd(body).size > 1
      if (mixedTopLevel) {
        val hasNavFn = defineHasFn(body)
        val varRefs = defineVarRefs(body).filter(navigable)
        if (!hasNavFn && varRefs.isEmpty) locals += s"($body)"
        else if (!hasNavFn && varRefs == Set(name))
          locals += "(" + stripSelfQualifier(body, name) + ")"
        else sys.error(s"DEFINE $name mixes top-level AND and OR around " +
          "navigation/aggregates — parenthesize (AND binds tighter than " +
          "OR; the navigation compiler takes a conjunction of comparisons, " +
          "each optionally an OR of comparisons)")
      } else splitTopLevelAnd(body).foreach { conj =>
        val hasNavFn = defineHasFn(conj)
        val varRefs = defineVarRefs(conj).filter(navigable)
        if (!hasNavFn && varRefs.isEmpty) locals += conj
        else if (!hasNavFn && varRefs == Set(name))
          locals += stripSelfQualifier(conj, name)
        else ctxs += parseCtx(conj, name, navigable, colIdx, subsets)
      }
      val cs = ctxs.result()
      if (cs.nonEmpty) ctxB(name) = cs
      val lc = locals.result()
      name -> (if (lc.isEmpty) "true" else lc.mkString(" AND "))
    }
    val steps = varRe.findAllMatchIn(patternText.trim).filter(_.group(1).nonEmpty)
      .map { m =>
        val name = m.group(1)
        val quant = Option(m.group(2)).getOrElse("") match {
          case ""   => One
          case "+"  => OneOrMore()
          case "+?" => OneOrMore(reluctant = true)
          case "*"  => ZeroOrMore()
          case "*?" => ZeroOrMore(reluctant = true)
          case "?"  => Optional
          case "??" => sys.error(s"reluctant optional ($name??) is not " +
            "supported (the reference rejects it: StreamExecMatch.scala:445 " +
            "\"Reluctant optional variables are not supported yet\")")
          case rangeQuantRe("", null, _) =>
            sys.error(s"empty quantifier {} on $name")
          // {,m} ≡ {0,m} (match_recognize.md:357 — between 0 and m
          // rows, m > 0); {,1}? is the reluctant optional under
          // another spelling — rejected like ?? and {0,1}?
          case rangeQuantRe("", hi, r) =>
            require(hi.nonEmpty && hi.toInt > 0, s"{,m} requires m > 0")
            if (hi.toInt == 1 && r == "?") sys.error(
              s"reluctant optional ($name{,1}?) is not supported (the " +
                "reference rejects it: StreamExecMatch.scala:445)")
            TimesRange(0, hi.toInt, reluctant = r == "?")
          case rangeQuantRe(n, null, _) => // {n}? ≡ {n}
            require(n.toInt > 0, s"{n} requires n > 0 " +
              "(match_recognize.md:355)")
            Times(n.toInt)
          // {0,} ≡ * (TimesOrMore requires n >= 1 — its first-n-bind
          // run would be empty): map to the ZeroOrMore loop directly
          case rangeQuantRe("0", "", r) => ZeroOrMore(reluctant = r == "?")
          case rangeQuantRe("0", "1", "?") => sys.error(
            s"reluctant optional ($name{0,1}?) is not supported (the " +
              "reference rejects it: StreamExecMatch.scala:445)")
          case rangeQuantRe(n, "", r)   => TimesOrMore(n.toInt, r == "?")
          case rangeQuantRe(lo, hi, r)  =>
            require(lo.toInt <= hi.toInt && hi.toInt > 0,
              s"quantifier {$lo,$hi} out of range (0 <= n <= m, m > 0)")
            TimesRange(lo.toInt, hi.toInt, reluctant = r == "?")
          case other => sys.error(s"unsupported quantifier: $other")
        }
        // Normalize the step NAME (not just the kind) to the uppercase
        // variable identity: BindingRow.var_name / the ALL ROWS
        // classifier carry Step.name, and MEASURES compares against the
        // uppercased Measure.varName — with a lowercase PATTERN variable
        // the un-normalized name would make every FILTER match nothing
        // and the measures silently return null/0.
        Step(name.toUpperCase, name.toUpperCase, quant)
      }.toSeq
    // the reference's two pattern-shape rejections
    // (StreamExecMatch.scala:179-190): a pattern where EVERY variable
    // can bind zero rows could produce an empty match; a GREEDY
    // variable-extent loop may not end the pattern (finish with a
    // simple variable or a reluctant quantifier)
    if (steps.forall(s => PatternNFA.canBindEmpty(s.quant)))
      sys.error("pattern can produce an empty match — at least one " +
        "variable must be non-optional (the reference rejects this: " +
        "StreamExecMatch.scala:181, match_recognize.md:360)")
    steps.last.quant match {
      case OneOrMore(_, false, _) | ZeroOrMore(_, false, _) |
           TimesOrMore(_, false, _, _) =>
        sys.error("a greedy quantifier may not end the pattern — finish " +
          "with a simple variable or a reluctant quantifier (the " +
          "reference rejects this: StreamExecMatch.scala:188)")
      case TimesRange(lo, hi, false, _, _) if lo != hi =>
        sys.error("a greedy quantifier may not end the pattern — finish " +
          "with a simple variable or a reluctant quantifier (the " +
          "reference rejects this: StreamExecMatch.scala:188)")
      case _ =>
    }
    // SUBSET members must be PATTERN variables — a DEFINE-only name
    // has no step to read bindings from (the streaming measures fold
    // would otherwise index bindings(-1))
    val stepKinds = steps.map(_.kind).toSet
    subsets.foreach { case (n, mems) =>
      mems.foreach(v => require(stepKinds(v),
        s"SUBSET $n member $v does not appear in PATTERN"))
    }
    val withinMicros = withinRe.findFirstMatchIn(clause).map { m =>
      val unit = m.group(2).toUpperCase match {
        case "HOUR" => 3600000000L
        case "MINUTE" => 60000000L
        case _ => 1000000L
      }
      m.group(1).toLong * unit
    }.getOrElse(sys.error("WITHIN is required (unbounded patterns retain state forever)"))
    val afterMatch =
      if (skipPastRe.findFirstIn(clause).isDefined) SkipPastLastEvent
      else skipToVarRe.findFirstMatchIn(clause).map { m =>
        val v = m.group(2).toUpperCase
        if (!defined(v))
          sys.error(s"AFTER MATCH SKIP TO ${m.group(1).toUpperCase} $v: " +
            "no such pattern variable in DEFINE")
        // SQL MATCH_RECOGNIZE uses the reference's throwing mode
        // (throwExceptionOnMiss — a degenerate skip would be an
        // infinite loop in the standing operator)
        if (m.group(1).equalsIgnoreCase("FIRST")) SkipToFirst(v, throwOnMiss = true)
        else SkipToLast(v, throwOnMiss = true)
      }.getOrElse(SkipToNextRow)
    val measures = measuresRe.findFirstMatchIn(clause)
      .map(m => splitTopLevel(m.group(1)).map(parseMeasure))
      .getOrElse(Seq.empty)
    measures.filter(m => m.func != "MATCH_NUMBER" && m.varName.nonEmpty)
      .foreach { m =>
        if (!navigable(m.varName))
          sys.error(s"MEASURES references undefined pattern variable ${m.varName}")
      }
    require(measures.map(_.alias).distinct.size == measures.size,
      "duplicate MEASURES alias")
    val allRows = allRowsRe.findFirstIn(clause).isDefined
    if (allRows && measures.isEmpty)
      sys.error("ALL ROWS PER MATCH requires a MEASURES clause here")
    Compiled(steps, defines, withinMicros, afterMatch, measures, allRows,
      navColsOrder.keys.toSeq, ctxB.toMap, subsets)
  }

  /** Run the clause over (key, tsMicros, id, kind, ...) events — extra
    * columns are visible to DEFINE predicates and MEASURES. Without a
    * MEASURES clause the output is the legacy match-row shape (key,
    * anchor_id, end_id, chain, counts); with one, the output follows
    * the clause's row-per-match mode (see object doc). */
  def run(spark: SparkSession, events: DataFrame, clause: String): DataFrame = {
    val c = compile(clause)
    if (c.measures.isEmpty) PatternNFA.run(spark, events, c.pattern)
    else {
      // Exploded bindings → equi-join back to the event rows → the
      // measures are one distributed groupBy over (key, match_no).
      // Joining back (instead of dragging every event column through
      // the NFA's typed scan) keeps the scan narrow AND the measure
      // aggregation codegen'd.
      // Rename the binding frame's (key, event_id) to internal names
      // BEFORE the join so the joined frame's `key`/`id`/`event_id`
      // are unambiguously the EVENTS frame's columns: `id` is the
      // canonical sequence id, and `event_id` (when the canonical
      // statement frame carries the copy) is the USER's id column —
      // which differs from the sequence id when the clause declared
      // secondary ORDER BY columns (canonical id = row_number there),
      // so MEASURES like FIRST(A.event_id) keep reading the user's
      // ids. Relying on join-dedup to disambiguate same-name columns
      // is what this replaces.
      val b = PatternNFA.run(spark, events, c.pattern, PatternNFA.Bindings)
        .withColumnRenamed("key", "_bkey")
        .withColumnRenamed("event_id", "_beid")
      val joined0 = b.join(events,
          b("_bkey") === events("key") && b("_beid") === events("id"))
        .drop("_bkey")
      // a facade frame without the statement door's `event_id` copy
      // still supports measures over event_id: materialize it from the
      // binding's canonical id (≡ the old behavior) as a REAL column —
      // an alias in the final select would be an unsupported lateral
      // alias inside the ALL-ROWS window measures
      val joined = if (events.columns.contains("event_id")) joined0
        else joined0.withColumn("event_id", col("_beid"))
      def aggFor(m: Measure): Column = {
        // an unqualified measure aggregates over ALL rows of the match
        // — no classifier FILTER (COUNT(*) / COUNT(price) / FIRST(id));
        // a SUBSET variable filters over its members' classifiers
        val filt = if (m.varName.isEmpty) ""
          else {
            val mems = c.membersOf(m.varName)
            if (mems.size == 1) s" FILTER (WHERE var_name = '${mems.head}')"
            else mems.map(v => s"'$v'")
              .mkString(" FILTER (WHERE var_name IN (", ", ", "))")
          }
        val base = m.func match {
          case "MATCH_NUMBER" => expr("any_value(match_no)")
          case "MATCH_ROWTIME" => expr("timestamp_micros(max(tsMicros))")
          case "CLASSIFIER" => expr("max_by(var_name, pos)")
          case "FIRST" if m.off == 0 => expr(s"min_by(${m.colName}, pos)$filt")
          case "LAST" if m.off == 0 => expr(s"max_by(${m.colName}, pos)$filt")
          // logical offset: the (off+1)-th bound row from the start /
          // end — get() is NULL out of range (the reference's
          // testLogicalOffsetOutsideOfRangeInMeasures semantics)
          case "FIRST" => expr(s"get(sort_array(collect_list(" +
            s"named_struct('p', pos, 'v', ${m.colName}))$filt), ${m.off}).v")
          case "LAST" => expr(s"get(reverse(sort_array(collect_list(" +
            s"named_struct('p', pos, 'v', ${m.colName}))$filt)), ${m.off}).v")
          case "COUNT" if m.colName == "*" => expr(s"count(1)$filt")
          case f => expr(s"$f(${m.colName})$filt")
        }
        m.roundTo.map(n => round(base, n)).getOrElse(base).as(m.alias)
      }
      if (!c.allRows) {
        val aggs = c.measures.map(aggFor)
        // group on an internally-named match column so a measure aliased
        // `match_no` (MATCH_NUMBER() is usually aliased exactly that)
        // can't collide with the grouping column.
        joined.groupBy(col("key"), col("match_no").as("_mno"))
          .agg(aggs.head, aggs.tail: _*)
          .drop("_mno")
      } else {
        // ALL ROWS PER MATCH with RUNNING/FINAL semantics
        // (MatchCodeGenerator.scala:355): every measure is a window
        // aggregate over the match's rows in sequence order — RUNNING
        // frames to the current row, FINAL spans the match. Both
        // frames share one (key, match_no) shuffle + pos sort; all
        // aggregates are codegen'd built-ins (min_by/max_by keep the
        // FIRST/LAST boundary-null semantics of the ONE-ROW path).
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{avg, count, lit, max, max_by, min, min_by, sum, when}
        val wBase = Window.partitionBy(col("key"), col("match_no"))
          .orderBy(col("pos"))
        val wRun = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = wBase.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        def perRow(m: Measure): Column = {
          require(m.off == 0, "FIRST/LAST logical offsets are " +
            "ONE ROW PER MATCH only here")
          val w = if (m.running) wRun else wAll
          val cond: Column =
            if (m.varName.isEmpty) lit(true)
            else {
              val mems = c.membersOf(m.varName)
              if (mems.size == 1) col("var_name") === lit(mems.head)
              else col("var_name").isin(mems: _*)
            }
          val argC = if (m.colName == "*") lit(1) else expr(m.colName)
          val base = m.func match {
            case "MATCH_NUMBER" => col("match_no")
            case "MATCH_ROWTIME" =>
              org.apache.spark.sql.functions.timestamp_micros(
                max(col("tsMicros")).over(w))
            case "CLASSIFIER" => max_by(col("var_name"), col("pos")).over(w)
            case "COUNT" => count(when(cond, argC)).over(w)
            case "FIRST" => min_by(when(cond, argC), when(cond, col("pos"))).over(w)
            case "LAST" => max_by(when(cond, argC), when(cond, col("pos"))).over(w)
            case "SUM" => sum(when(cond, argC)).over(w)
            case "AVG" => avg(when(cond, argC)).over(w)
            case "MIN" => min(when(cond, argC)).over(w)
            case "MAX" => max(when(cond, argC)).over(w)
          }
          m.roundTo.map(n => round(base, n)).getOrElse(base).as(m.alias)
        }
        joined.select(Seq(col("key"), col("match_no"),
          col("var_name").as("classifier"), col("event_id")) ++
          c.measures.map(perRow): _*)
      }
    }
  }
}
