package graft.kql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{KqlFunctions, SeriesFunctions}
import graft.kql.Kql._

/** KQL text front-end: parses a KQL query string into a Spark DataFrame plan built
  * from the Kql combinators.
  *
  * The reference's loudest declaration is "We plan to use KQL (Kusto Query Language)
  * as the main query language" (`/root/reference/README.md:33-34`) — no parser exists
  * in its code, so the grammar here follows public KQL documentation for the tabular
  * core: `where / project / project-away / project-keep / project-rename / extend /
  * summarize / sort / top / take / distinct / count / join / lookup / union /
  * mv-expand`, with scalar expressions (comparison, boolean, arithmetic, string
  * predicates incl. `has` / `contains` / `startswith` / `matches regex`, `in`,
  * `between (a .. b)`, function calls, datetime/timespan literals).
  *
  * Everything compiles to the same declarative combinators the Scala API uses — the
  * parse layer adds zero execution machinery, so Catalyst sees the identical plans
  * (pushdown, pruning, broadcast) as the typed surface.
  */
object KqlParser {

  /** Parse a KQL program. `allowAdmin = false` (the default) refuses the
    * MUTATING index-administration plugins (`ann_maintain`, `ann_rebuild`)
    * — upstream Kusto deliberately separates control commands from
    * queries, and these plugins execute their side effects at plan time,
    * so an ordinary query principal must not reach them; read-only
    * `index_stats` and the serve plugins (`ann_search`, `maxsim_search`)
    * stay available to plain queries. Admin tooling opts in explicitly. */
  def parse(kql: String, tables: String => DataFrame,
      allowAdmin: Boolean = false): DataFrame =
    new Parser(Lexer.tokenize(kql), tables,
      allowAdmin = allowAdmin).parseProgram()

  // ------------------------------------------------------------------
  // Lexer
  // ------------------------------------------------------------------

  sealed trait Tok
  final case class Ident(s: String) extends Tok
  final case class Num(s: String) extends Tok
  final case class Str(s: String) extends Tok
  final case class Punct(s: String) extends Tok

  private object Lexer {
    private val puncts = Seq(
      // longest-first within each '!'-family so "!hasprefix" never lexes as "!has"
      "!hasprefix", "!hassuffix", "!has", "!contains", "!startswith", "!endswith",
      "!between", "!in", "!~", "!=",
      "==", "<=", ">=", "=~", "..", "|", "(", ")",
      // graph pattern arrows before the single-char '-' they would shadow
      "-->", "-[", "]->",
      ",", "=", "<", ">", "+", "-", "*", "/", "%", ".", "[", "]", ";", ":", "{", "}", "~")

    def tokenize(s: String): Vector[Tok] = {
      val out = Vector.newBuilder[Tok]
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c.isWhitespace) i += 1
        else if (c == '/' && i + 1 < s.length && s(i + 1) == '/') {
          // KQL line comment: skip to end of line
          while (i < s.length && s(i) != '\n') i += 1
        }
        else if (c == '\'' || c == '"') {
          val quote = c
          val sb = new StringBuilder
          i += 1
          while (i < s.length && s(i) != quote) {
            if (s(i) == '\\' && i + 1 < s.length) { sb.append(s(i + 1)); i += 2 }
            else { sb.append(s(i)); i += 1 }
          }
          require(i < s.length, s"unterminated string literal in KQL: $s")
          i += 1
          out += Str(sb.toString)
        } else if (c.isDigit) {
          val start = i
          while (i < s.length && (s(i).isDigit || s(i) == '.') &&
            !(s(i) == '.' && i + 1 < s.length && s(i + 1) == '.')) i += 1
          // scientific notation: 1e5 / 2.5E-4 / 1e+9
          if (i < s.length && (s(i) == 'e' || s(i) == 'E') && {
            val j = if (i + 1 < s.length && (s(i + 1) == '+' || s(i + 1) == '-')) i + 2 else i + 1
            j < s.length && s(j).isDigit
          }) {
            i += 1
            if (s(i) == '+' || s(i) == '-') i += 1
            while (i < s.length && s(i).isDigit) i += 1
          }
          // timespan suffix: 1h / 30m / 10s / 7d / 100ms
          if (i < s.length && (s(i) == 'h' || s(i) == 'm' || s(i) == 's' || s(i) == 'd')) {
            val sufStart = i
            while (i < s.length && s(i).isLetter) i += 1
            out += Ident(s.substring(start, i)) // timespan literal token, e.g. "1h"
            val _ = sufStart
          } else out += Num(s.substring(start, i))
        } else if (c.isLetter || c == '_' || c == '$') {
          val start = i
          while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_' || s(i) == '$')) i += 1
          var word = s.substring(start, i)
          // hyphenated operators: project-away, project-rename, project-keep, mv-expand
          while (i < s.length && s(i) == '-' && i + 1 < s.length && s(i + 1).isLetter) {
            val start2 = i + 1
            var j = start2
            while (j < s.length && s(j).isLetter) j += 1
            word = word + "-" + s.substring(start2, j)
            i = j
          }
          out += Ident(word)
          // Kusto UNQUOTED datetime literal — `datetime(2024-01-05 12:30:00)`
          // would otherwise lex as subtraction. Capture the raw text to the
          // closing paren as a string literal when it starts with a digit;
          // quoted forms and column arguments lex normally.
          if (word == "datetime" && i < s.length && s(i) == '(') {
            val close = s.indexOf(')', i)
            val inner = if (close > 0) s.substring(i + 1, close).trim else ""
            if (close > 0 && inner.nonEmpty && inner.head.isDigit) {
              out += Punct("("); out += Str(inner); out += Punct(")")
              i = close + 1
            }
          }
        } else {
          puncts.find(p => s.startsWith(p, i)) match {
            case Some(p) => out += Punct(p); i += p.length
            case None => throw new IllegalArgumentException(
              s"unexpected character '$c' at $i in KQL: $s")
          }
        }
      }
      out.result()
    }
  }

  // ------------------------------------------------------------------
  // Parser (recursive descent; Pratt-style precedence for expressions)
  // ------------------------------------------------------------------

  private final class Parser(toks: Vector[Tok], tables: String => DataFrame,
                             scalarBindings: Map[String, Column] = Map.empty,
                             partitionKey: Option[String] = None,
                             allowAdmin: Boolean = false,
                             watermarkSec: Option[Long] = None) {
    private var pos = 0

    // `sort by` remembers its keys; a following `serialize` freezes them as the
    // serialized order for row functions (row_number/prev/next/row_cumsum/
    // row_rank_dense/row_window_session) in later extends. Row functions parse to
    // PLACEHOLDER columns collected in `rowFnBuffer`; the enclosing `extend`
    // materializes them via Kql.serializedRowFns — the distributed
    // (range-partition + offset) evaluation, never a single-partition window.
    // State is scoped per parseQuery invocation (saved/restored), so a sort
    // inside a let binding or subquery cannot leak into the outer pipeline.
    private var lastSortKeys: Seq[Column] = Nil

    // `make-graph` binds the edge table (df, srcCol, dstCol) consumed by a
    // following `graph-match` in the same pipeline
    private var graphEdges: Option[(DataFrame, String, String)] = None
    // `make-graph ... with Nodes on id` node table (table, id column)
    private var graphNodes: Option[(DataFrame, String)] = None
    // `graph-mark-components` binds the labeled node table consumed by a
    // following `graph-to-table nodes`
    private var graphMarked: Option[DataFrame] = None
    private var serializedOrder: Option[Seq[Column]] = None
    private val rowFnBuffer = scala.collection.mutable.ArrayBuffer[RowFn]()
    private var rowFnCounter = 0

    /** Refuse a MUTATING admin plugin under an ordinary (non-admin) parse —
      * the Kusto control-command/query separation: side effects must never
      * be reachable from a plain query principal. */
    private def requireAdmin(plugin: String): Unit =
      require(allowAdmin,
        s"evaluate $plugin: mutating index administration requires the " +
          "admin surface — call KqlParser.parse(..., allowAdmin = true); " +
          "read-only index_stats and the serve plugins need no opt-in")

    private def rowFnPlaceholder(mk: String => RowFn): Column = {
      require(serializedOrder.nonEmpty, "row functions (row_number/prev/next/" +
        "row_cumsum/row_rank_dense/row_window_session) require `| sort by ... | serialize`")
      val name = s"__rowfn_$rowFnCounter"; rowFnCounter += 1
      rowFnBuffer += mk(name)
      col(name)
    }

    // Literal values by Column identity: Spark 4's unified Column API doesn't expose
    // the underlying Literal expression, so functions needing a compile-time value
    // (regex patterns, in-lists, round scale) record it here when the literal parses.
    private val litValues = new java.util.IdentityHashMap[Column, Any]()
    private def litCol(v: Any, c: Column): Column = { litValues.put(c, v); c }

    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def atIdent(s: String): Boolean = peek.contains(Ident(s))
    private def atPunct(s: String): Boolean = peek.contains(Punct(s))
    private def eat(t: Tok): Unit =
      require(peek.contains(t), s"expected $t at token $pos, got $peek")
    private def eatPunct(s: String): Unit = { eat(Punct(s)); pos += 1 }
    private def eatIdent(s: String): Unit = { eat(Ident(s)); pos += 1 }
    /** Lookahead (no consumption) for the tuple-assign shape
      * `( ident [, ident]* ) =` — anything else (e.g. a legal parenthesized
      * extend expression `extend (x + 1)`) must fall through to the normal
      * named-expression list. */
    private def tupleAssignAhead: Boolean = {
      var i = pos + 1 // past '('
      def at(t: Tok) = i < toks.length && toks(i) == t
      def isIdent = i < toks.length && toks(i).isInstanceOf[Ident]
      if (!isIdent) return false
      i += 1
      while (at(Punct(","))) {
        i += 1
        if (!isIdent) return false
        i += 1
      }
      at(Punct(")")) && { i += 1; at(Punct("=")) }
    }
    private def ident(): String = next() match {
      case Ident(s) => s
      case other => throw new IllegalArgumentException(s"expected identifier, got $other")
    }

    // `let name = <query>;` bindings (KQL tabular lets); consulted before tables.
    private val bindings = scala.collection.mutable.Map[String, DataFrame]()
    // `let name = <scalar-expr>;` bindings (KQL scalar lets, e.g. `let lo = 250;`);
    // consulted by parsePrimary before the ctor-provided scalar scope.
    private val letScalars = scala.collection.mutable.Map[String, Column]()
    private def resolveTable(name: String): DataFrame =
      bindings.getOrElse(name, tables(name))

    // `let eg = entity_group [database("d1"), database("d2")];` bindings for
    // `macro-expand` (the entity-group iteration operator).
    private val entityGroups = scala.collection.mutable.Map[String, Seq[String]]()
    // alias → database name while parsing a macro-expand body: `X.Table`
    // resolves as `db::Table` for the iteration's current entity
    private var entityScope: Map[String, String] = Map.empty

    // `let f = (param[:type]) { body };` tabular functions for `T | invoke f()`.
    // The body is kept as TOKENS and parsed at invoke time with the piped table
    // bound to the parameter name — KQL's user-defined tabular function surface.
    private val tabularFns =
      scala.collection.mutable.Map[String, (Vector[String], Vector[Tok])]()

    /** Skip tokens up to (not including) the next `close` at nesting depth 0. */
    private def skipBalancedUntil(open: String, close: String): Int = {
      var depth = 0
      var done = false
      while (!done) peek match {
        case Some(Punct(`open`)) => depth += 1; pos += 1
        case Some(Punct(`close`)) if depth == 0 => done = true
        case Some(Punct(`close`)) => depth -= 1; pos += 1
        case Some(_) => pos += 1
        case None => throw new IllegalArgumentException(
          s"unbalanced $open$close in KQL function definition")
      }
      pos
    }

    /** Skip a parameter's type spec: tokens up to the next ',' or ')' at paren
      * depth 0 (type specs like `(*)` or `(a:long, b:string)` nest parens). */
    private def skipTypeSpec(): Unit = {
      var depth = 0
      var done = false
      while (!done) peek match {
        case Some(Punct("(")) => depth += 1; pos += 1
        case Some(Punct(")")) if depth == 0 => done = true
        case Some(Punct(")")) => depth -= 1; pos += 1
        case Some(Punct(",")) if depth == 0 => done = true
        case Some(_) => pos += 1
        case None => throw new IllegalArgumentException(
          "unbalanced () in KQL function parameter list")
      }
    }

    private def parseLetFunction(name: String): Unit = {
      eatPunct("(")
      // first parameter is the tabular one (bound to the piped table at invoke
      // time); any further parameters are SCALAR and bound to the invoke args
      val params = Vector.newBuilder[String]
      params += ident()
      if (atPunct(":")) { pos += 1; skipTypeSpec() }
      while (atPunct(",")) {
        pos += 1
        params += ident()
        if (atPunct(":")) { pos += 1; skipTypeSpec() }
      }
      eatPunct(")")
      eatPunct("{")
      val start = pos
      val end = skipBalancedUntil("{", "}")
      pos += 1 // consume the closing }
      tabularFns(name) = (params.result(), toks.slice(start, end))
    }

    // ---- program := ('set' ...;)* ('let' ident '=' (scalar | query | lambda) ';')* query ----
    def parseProgram(): DataFrame = {
      // `set option [= value];` request properties (notruncation,
      // truncationmaxsize, query_take_max_records, ...) — accepted and
      // ignored: Spark has no result-truncation layer to configure, and
      // honoring the statement form lets real-world exported queries run.
      // ONE property is honored: `set streaming_watermark = <timespan>;`
      // — the event-time lateness bound a streaming windowed summarize
      // applies (Spark withWatermark), the engine-level knob Kusto has no
      // analogue for (its ingestion is the lateness bound); harmless on
      // batch pipelines (documented deviation)
      while (atIdent("set")) {
        pos += 1
        val opt = ident()
        var value: Option[Tok] = None
        if (atPunct("=")) { pos += 1; value = Some(next()) }
        if (opt == "streaming_watermark") value match {
          case Some(Ident(ts)) if isTimespanLit(ts) =>
            streamingWatermarkSec = Some(timespanSeconds(ts))
          case other => throw new IllegalArgumentException(
            "set streaming_watermark: expected a timespan literal " +
              s"(e.g. 10m), got $other")
        }
        eatPunct(";")
      }
      while (atIdent("let")) {
        pos += 1
        val name = ident()
        eatPunct("=")
        if (atPunct("(")) parseLetFunction(name)
        else if (atIdent("entity_group")) {
          pos += 1; entityGroups(name) = parseEntityGroupList()
        }
        else if (atIdent("materialize") && toks.lift(pos + 1).contains(Punct("("))) {
          // `let x = materialize(T | ...);` — evaluate the bound pipeline
          // once and reuse: Caching.materialize (the bounded-registry
          // persist) is the barrier (also defeats CollapseProject
          // re-inlining) and cannot accumulate one CacheManager entry per
          // parse (ContextCleaner never reaps Dataset caches — r13 ADVICE).
          pos += 2
          // spread decision is PLAN-GATED (materializeAuto): a thin
          // scan-rooted binding (single-split source) otherwise leaves ONE
          // cached partition and every consumer runs single-task — the
          // q_kql_spatial_join 3M-pair haversine stage measured 0.65 s on
          // one core with 31 idle — while an aggregate-bounded (model-sized)
          // binding must NOT pay the extra exchange (q_kql_materialize
          // 0.19 → 0.23 s under the r18 unconditional spread)
          bindings(name) =
            graft.functions.Caching.materializeAuto(parseQuery())
          eatPunct(")")
        }
        else if (!parseLetScalar(name)) bindings(name) = parseQuery()
        eatPunct(";")
      }
      parseQuery()
    }

    /** Try `let name = <scalar-expr>;` (KQL's most common let form). Succeeds
      * when the tokens up to `;` parse as one scalar expression — EXCEPT a bare
      * identifier, which KQL treats as a table/tabular-let alias unless it is
      * itself a known scalar let. On failure the position is restored and the
      * caller falls back to the tabular-query parse. */
    private def parseLetScalar(name: String): Boolean = {
      val save = pos
      try {
        val e = parseExpr()
        val bareIdent = pos == save + 1 &&
          (toks(save) match {
            // a lone timespan literal (12h) lexes as an Ident but IS a scalar
            case Ident(n) => !letScalars.contains(n) && !isTimespanLit(n)
            case _ => false
          })
        if (atPunct(";") && !bareIdent) {
          letScalars(name) = e
          // `let query_bin_auto_size = <literal>;` arms bin_auto() — the
          // let-bound literal replaces Kusto's `set query_bin_auto_size`
          // query property (documented deviation)
          if (name == "query_bin_auto_size") autoBinSize = toks(save) match {
            case Ident(s) if isTimespanLit(s) => Some((timespanSeconds(s), true))
            case Num(s) if !s.contains('.') => Some((s.toLong, false))
            case _ => None
          }
          true
        }
        else { pos = save; false }
      } catch { case _: Exception => pos = save; false }
    }

    // name of the current pipeline's source table (for `union withsource=`)
    private var sourceName: String = "source"

    // ---- query := source ('|' op)*;
    //      source := print | datatable | range | tableRef ----
    def parseQuery(): DataFrame = {
      // scope sort/serialize state to THIS query: a `sort by` inside a let
      // binding or parenthesized subquery must not enable row functions outside
      val savedSort = lastSortKeys; val savedSer = serializedOrder
      val savedSrc = sourceName
      lastSortKeys = Nil; serializedOrder = None
      try {
        var df =
          if (atIdent("print")) { pos += 1; sourceName = "print"; parsePrint() }
          else if (atIdent("datatable")) { pos += 1; sourceName = "datatable"; parseDatatable() }
          else if (atIdent("externaldata")) { pos += 1; sourceName = "externaldata"; parseExternalData() }
          else if (atIdent("range") && pos + 1 < toks.length &&
            toks(pos + 1).isInstanceOf[Ident] && toks.lift(pos + 2).contains(Ident("from"))) {
            pos += 1; parseRangeSource()
          }
          else if (atIdent("search") && (toks.lift(pos + 1) match {
            case Some(Ident("in")) | Some(Ident("kind")) => true
            case Some(Str(_)) => true
            case _ => false
          })) { pos += 1; sourceName = "search"; parseSearchSource() }
          else if (atIdent("find") && (toks.lift(pos + 1) match {
            case Some(Ident("in")) | Some(Ident("where")) => true
            case _ => false
          })) { pos += 1; sourceName = "find"; parseFindSource() }
          else if ((atIdent("database") || atIdent("cluster")) &&
            toks.lift(pos + 1).contains(Punct("("))) {
            val (qn, t) = parseQualifiedTable()
            sourceName = qn; t
          }
          else if (atIdent("union")) {
            // program-initial `union [modifiers] T1[, T2, ...] | ...`
            pos += 1; sourceName = "union"; parseUnionOp(None)
          }
          else if (atIdent("macro-expand")) {
            pos += 1; sourceName = "macro-expand"; parseMacroExpand()
          }
          else if (atIdent("table") && toks.lift(pos + 1).contains(Punct("("))) {
            // `table('name')` — the dynamic table reference; the name must be
            // a literal (a data-dependent table name has no static plan)
            pos += 1; eatPunct("(")
            val n = strLitS(); eatPunct(")")
            sourceName = n; resolveTable(n)
          }
          else {
            val n = ident()
            if (entityScope.contains(n) && atPunct(".")) {
              // macro-expand alias: `X.Table` → the current entity's database
              pos += 1; val t = ident()
              sourceName = t; resolveTable(s"${entityScope(n)}::$t")
            } else if (entityScope.contains(n))
              // a bare alias would silently fall through to ordinary table
              // resolution, masking a typo like `X | where` for `X.T | where`
              throw new IllegalArgumentException(
                s"macro-expand: entity-group alias '$n' must be used as " +
                  s"'$n.Table' (a bare alias is not a table)")
            else { sourceName = n; resolveTable(n) }
          }
        while (atPunct("|")) {
          eatPunct("|"); df = parseOp(df)
          require(rowFnBuffer.isEmpty, "row functions (row_number/prev/next/row_cumsum/" +
            "row_rank_dense/row_rank_min/row_window_session) are only supported in " +
            "`extend`, `project`, and `where`")
        }
        require(peek.isEmpty || atPunct(")") || atPunct(";"), s"trailing tokens at $pos: $peek")
        df
      } finally {
        lastSortKeys = savedSort; serializedOrder = savedSer; sourceName = savedSrc
      }
    }

    /** `[kind=default|case_sensitive]` after `search` → true when the probe
      * must be case-sensitive. */
    private def parseSearchKind(): Boolean =
      if (atIdent("kind")) {
        pos += 1; eatPunct("=")
        ident() match {
          case "case_sensitive" => true
          case "default" => false
          case other =>
            throw new IllegalArgumentException(s"search: unsupported kind=$other")
        }
      } else false

    /** `search X` ≡ `where * has X`: term-match ORed over every string column. */
    private def searchFilter(df: DataFrame, term: String, cs: Boolean): DataFrame = {
      val strCols = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.StringType)
        .map(f => col(f.name))
      require(strCols.nonEmpty, "search: source has no string columns")
      df.where_(strCols.map(c =>
        if (cs) KqlFunctions.hasCs(c, term) else KqlFunctions.has(c, term))
        .reduce(_ || _))
    }

    /** Program-initial `search [kind=...] in (T1, ..., Tn) 'term'` — the
      * cross-table search form: each table is probed over ITS OWN string
      * columns (the filter stays per-leg, under the union, so column pruning
      * and pushdown apply per table), labeled with its source name, and the
      * legs union by name with null-fill — the same align+label machinery as
      * `union withsource=`. Deviation: the label column is `source_` (Kusto
      * uses `$table`, which our identifier grammar cannot reference), and the
      * table list is mandatory (we have no global table registry to default
      * to). */
    private def parseSearchSource(): DataFrame = {
      val cs = parseSearchKind()
      require(atIdent("in"),
        "search as a query source requires an explicit table list: search in (T1, T2, ...) 'term'")
      val tables = parseTableNameList()
      val term = strLitS()
      tables.map { n =>
        searchFilter(resolveTable(n), term, cs).extend("source_" -> lit(n))
      }.reduce(_ unionKql _)
    }

    /** `union [kind=outer|inner] [withsource=Col] T1[, T2, ...]` — operands
      * align by name; kind=outer (default) null-fills missing columns,
      * kind=inner keeps only columns common to ALL operands. Serves both the
      * tabular operator (`first` = the piped input) and the program-initial
      * source form `union T1, T2 | ...` (`first` = None). An operand is a
      * subquery, a table name, or a WILDCARD table pattern (`union ev*` /
      * `union *ion` — Kusto's multi-table union form); patterns expand
      * against the engine catalog (Tables.tableNames, the single-store
      * namespace) plus any let-bound tables, sorted for a deterministic
      * operand order, and an unmatched pattern fails loudly. */
    private def parseUnionOp(first: Option[(String, DataFrame)]): DataFrame = {
      var srcCol: Option[String] = None
      var ukind = "outer"
      var uDone = false
      while (!uDone) {
        if (atIdent("withsource")) { pos += 1; eatPunct("="); srcCol = Some(ident()) }
        else if (atIdent("kind")) { pos += 1; eatPunct("="); ukind = ident() }
        else if (atIdent("isfuzzy")) {
          // accepted-and-ignored: every named operand must resolve here
          // (no cluster-remote tables to be fuzzy about)
          pos += 1; eatPunct("="); ident()
        }
        else uDone = true
      }
      def operand(i: Int): Seq[(String, DataFrame)] =
        if (atPunct("(")) (s"$sourceName$i", parseSubQuery()) :: Nil
        else if (toks.lift(pos).exists {
          case Ident(n) => entityScope.contains(n)
          case _ => false
        }) {
          // macro-expand alias in a union operand list: `union X.T1, X.T2`.
          // A BARE alias here gets the same scoped error as table-source
          // position — falling through would resolve a table named like the
          // alias and silently union wrong data.
          val a = ident()
          if (!atPunct("."))
            throw new IllegalArgumentException(
              s"macro-expand: entity-group alias '$a' must be used as " +
                s"'$a.Table' (a bare alias is not a table)")
          eatPunct("."); val t = ident()
          Seq((t, resolveTable(s"${entityScope(a)}::$t")))
        }
        else {
          var pat = if (atPunct("*")) "" else ident()
          var wild = false
          while (atPunct("*")) {
            pos += 1; wild = true; pat += "*"
            if (pos < toks.length && toks(pos).isInstanceOf[Ident]) pat += ident()
          }
          if (!wild) Seq((pat, resolveTable(pat)))
          else {
            val re = pat.split("\\*", -1).map(java.util.regex.Pattern.quote)
              .mkString(".*")
            val catalog =
              (graft.sources.Tables.tableNames ++ bindings.keys).distinct.sorted
            val hits = catalog.filter(_.matches(re))
            require(hits.nonEmpty, s"union: pattern '$pat' matches no table " +
              s"(catalog: ${catalog.mkString(", ")})")
            hits.map(n => (n, resolveTable(n)))
          }
        }
      val others = Seq.newBuilder[(String, DataFrame)]
      others ++= operand(1)
      var i = 2
      while (atPunct(",")) { pos += 1; others ++= operand(i); i += 1 }
      val operands = first.toSeq ++ others.result()
      val pruned =
        if (ukind != "inner") operands
        else {
          val common = operands.map(_._2.columns.toSet).reduce(_ intersect _)
          val order = operands.head._2.columns.filter(common)
          operands.map { case (n, o) => (n, o.select(order.map(col).toIndexedSeq: _*)) }
        }
      srcCol match {
        case None => pruned.map(_._2).reduceLeft(_ unionKql _)
        case Some(c) =>
          pruned.map { case (n, o) => o.extend(c -> lit(n)) }.reduceLeft(_ unionKql _)
      }
    }

    /** Program-initial `find in (T1, ..., Tn) where <pred> [project c1, ...]`:
      * rows from any listed table satisfying the predicate. The tables are
      * aligned by name with null-fill FIRST (a column absent from a table is
      * null there — Kusto's documented missing-column semantics), labeled with
      * `source_`, then filtered; Catalyst pushes the filter back under the
      * union into each leg. */
    private def parseFindSource(): DataFrame = {
      require(atIdent("in"),
        "find requires an explicit table list: find in (T1, T2, ...) where ...")
      val tables = parseTableNameList()
      val aligned = tables.map { n =>
        resolveTable(n).extend("source_" -> lit(n))
      }.reduce(_ unionKql _)
      eatIdent("where")
      val filtered = aligned.where_(parseExpr())
      if (atIdent("project")) {
        pos += 1
        val cols = parseIdentList()
        filtered.project((cols :+ "source_").distinct.map(col): _*)
      } else filtered
    }

    private def parseTableNameList(): Seq[String] = {
      pos += 1 // consume `in`
      eatPunct("(")
      val ns = Seq.newBuilder[String]
      ns += ident()
      while (atPunct(",")) { pos += 1; ns += ident() }
      eatPunct(")")
      val out = ns.result()
      require(out.nonEmpty, "expected at least one table name")
      out
    }

    /** `range name from lo to hi step s` — stepped sequence source (KQL range is
      * INCLUSIVE of `hi`; spark.range excludes its end, hence the +1). */
    private def parseRangeSource(): DataFrame = {
      val name = ident()
      sourceName = name
      eatIdent("from"); val lo = parseLong()
      eatIdent("to"); val hi = parseLong()
      eatIdent("step"); val st = parseLong()
      require(st > 0, s"range step must be positive, got $st")
      rangeTable(org.apache.spark.sql.SparkSession.active, lo, hi + 1, st)
        .withColumnRenamed("value", name)
    }

    /** `externaldata (c1:type, ...) ['path'] with (format='csv'|'json'|'parquet'
      * [, ignoreFirstRecord=true])` — external file source with an explicit
      * schema. Local/mounted paths only (no egress in this environment; on a
      * cluster the same API takes any Hadoop-visible URI). */
    private def parseExternalData(): DataFrame = {
      eatPunct("(")
      val schema = Seq.newBuilder[(String, String)]
      def oneCol(): Unit = { val n = ident(); eatPunct(":"); schema += n -> kqlType(ident()) }
      oneCol()
      while (atPunct(",")) { pos += 1; oneCol() }
      eatPunct(")")
      eatPunct("[")
      val path = strLitS()
      eatPunct("]")
      var format = "csv"
      var header = false
      if (atIdent("with")) {
        pos += 1; eatPunct("(")
        def opt(): Unit = ident() match {
          case "format" => eatPunct("="); format = strLitS()
          case "ignoreFirstRecord" => eatPunct("=")
            header = next() == Ident("true")
          case _ => eatPunct("="); val _ = next()
        }
        opt()
        while (atPunct(",")) { pos += 1; opt() }
        eatPunct(")")
      }
      val ddl = schema.result().map { case (n, t) => s"`$n` $t" }.mkString(", ")
      val reader = org.apache.spark.sql.SparkSession.active.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      format match {
        case "csv" => reader.option("header", header).csv(path)
        case "json" | "multijson" => reader.json(path)
        case "parquet" => reader.parquet(path)
        case other => throw new IllegalArgumentException(s"unsupported externaldata format: $other")
      }
    }

    /** `print name = expr, ...` — single-row expression evaluation. */
    private def parsePrint(): DataFrame = {
      val cols = parseNamedExprList().map { case (n, c) => c.as(n) }
      org.apache.spark.sql.SparkSession.active.range(1).select(cols: _*)
    }

    /** Spark type → Kusto scalar-type name (getschema vocabulary). */
    private def kqlTypeName(dt: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      dt match {
        case StringType => "string"
        case LongType => "long"
        case IntegerType | ShortType | ByteType => "int"
        case DoubleType | FloatType => "real"
        case BooleanType => "bool"
        case TimestampType | TimestampNTZType | DateType => "datetime"
        case _: DecimalType => "decimal"
        case DayTimeIntervalType(_, _) => "timespan"
        case _ => "dynamic" // arrays, maps, structs, variant
      }
    }

    /** Kusto getschema's DataType column: the .NET type name backing each
      * scalar type (bool is System.SByte in Kusto's model). */
    private def kqlDataTypeName(dt: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      dt match {
        case StringType => "System.String"
        case LongType => "System.Int64"
        case IntegerType | ShortType | ByteType => "System.Int32"
        case DoubleType | FloatType => "System.Double"
        case BooleanType => "System.SByte"
        case TimestampType | TimestampNTZType | DateType => "System.DateTime"
        case _: DecimalType => "System.Data.SqlTypes.SqlDecimal"
        case DayTimeIntervalType(_, _) => "System.TimeSpan"
        case _ => "System.Object"
      }
    }

    private def kqlType(t: String): String = t match {
      case "string" => "string"
      case "long" => "long"
      case "int" => "int"
      case "real" | "double" => "double"
      case "bool" | "boolean" => "boolean"
      case "datetime" => "timestamp"
      case "decimal" => "decimal(38,18)"
      case other => throw new IllegalArgumentException(s"unsupported datatable type: $other")
    }

    /** `datatable(c1:type, c2:type) [v, v, v, v, ...]` — inline literal table
      * (values listed row-major, like KQL). */
    private def parseDatatable(): DataFrame = {
      eatPunct("(")
      val schema = Seq.newBuilder[(String, String)]
      def oneCol(): Unit = { val n = ident(); eatPunct(":"); schema += n -> kqlType(ident()) }
      oneCol()
      while (atPunct(",")) { pos += 1; oneCol() }
      eatPunct(")")
      eatPunct("[")
      val vals = Seq.newBuilder[Column]
      def oneVal(): Unit = peek match {
        case Some(Ident("datetime")) =>
          pos += 1; eatPunct("("); vals += lit(strLitS()); eatPunct(")")
        case Some(Punct("-")) => pos += 1; vals += (next() match {
          case Num(s) => if (s.contains('.')) lit(-s.toDouble) else lit(-s.toLong)
          case other => throw new IllegalArgumentException(s"expected number after -, got $other")
        })
        case Some(Num(s)) => pos += 1; vals += (if (s.contains('.')) lit(s.toDouble) else lit(s.toLong))
        case Some(Str(s)) => pos += 1; vals += lit(s)
        case Some(Ident("true")) => pos += 1; vals += lit(true)
        case Some(Ident("false")) => pos += 1; vals += lit(false)
        case other => throw new IllegalArgumentException(s"unsupported datatable literal: $other")
      }
      if (!atPunct("]")) { oneVal(); while (atPunct(",")) { pos += 1; oneVal() } }
      eatPunct("]")
      val fields = schema.result()
      val flat = vals.result()
      require(flat.size % fields.size == 0,
        s"datatable values (${flat.size}) not a multiple of column count (${fields.size})")
      val rows = flat.grouped(fields.size).map { row =>
        struct(row.zip(fields).map { case (v, (n, t)) => v.cast(t).as(n) }: _*)
      }.toSeq
      org.apache.spark.sql.SparkSession.active.range(1)
        .select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
    }

    /** `parse kind=regex`: rewrite user CAPTURING groups `(` to non-capturing
      * `(?:` so capture indices stay aligned with the Name segments. A small
      * scanner tracking escape and character-class state — a lookaround
      * replace would also rewrite `(` inside classes (`[(]` → `[(?:]`, which
      * changes the class) and miss groups after an escaped backslash `\\(`. */
    private def nonCapturing(s: String): String = {
      val out = new StringBuilder
      var i = 0
      var inClass = false
      var classStart = -1 // position after `[` / `[^` where `]` is literal
      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '\\' if i + 1 < s.length => // escaped char: copy verbatim
            out += c += s.charAt(i + 1); i += 1
          case '[' if !inClass =>
            inClass = true
            classStart = i + (if (i + 1 < s.length && s.charAt(i + 1) == '^') 2 else 1)
            out += c
          case ']' if inClass && i > classStart => inClass = false; out += c
          case '(' if !inClass &&
            !(i + 1 < s.length && s.charAt(i + 1) == '?') => out ++= "(?:"
          case _ => out += c
        }
        i += 1
      }
      out.toString
    }

    private def parseSubQuery(): DataFrame = {
      eatPunct("(")
      val df = parseQuery()
      eatPunct(")")
      df
    }

    /** `database("db").Table` / `cluster("c").database("db").Table` — meerkat
      * tables live in named databases (ref: segment metadata carries
      * `database_name`, `/root/reference/src/store/segment_metadata.proto:73-82`;
      * README.md:13). Resolution delegates to the table resolver under the
      * conventional qualified name `db::Table` (see Tables.resolver). The
      * cluster qualifier is accepted and ignored — single engine, documented
      * like render/hints. */
    private def parseQualifiedTable(): (String, DataFrame) = {
      if (atIdent("cluster")) {
        pos += 1; eatPunct("("); strLitS(); eatPunct(")"); eatPunct(".")
        require(atIdent("database"),
          "cluster(...) must be followed by .database(...).Table")
      }
      eatIdent("database"); eatPunct("(")
      val db = strLitS(); eatPunct(")"); eatPunct(".")
      val t = ident()
      (s"$db::$t", resolveTable(s"$db::$t"))
    }

    /** `entity_group [database("d1"), cluster("c").database("d2"), ...]` —
      * a list of database scopes (the cluster qualifier is accepted and
      * ignored, the parseQualifiedTable convention). */
    private def parseEntityGroupList(): Seq[String] = {
      eatPunct("[")
      def entry(): String = {
        if (atIdent("cluster")) {
          pos += 1; eatPunct("("); strLitS(); eatPunct(")"); eatPunct(".")
          require(atIdent("database"),
            "entity_group: cluster(...) must be followed by .database(...)")
        }
        eatIdent("database"); eatPunct("(")
        val db = strLitS(); eatPunct(")")
        db
      }
      // nonempty by construction: the first entry() parses before the comma
      // loop (an empty [] fails inside entry() on the missing `database`)
      val dbs = Seq.newBuilder[String]
      dbs += entry()
      while (atPunct(",")) { pos += 1; dbs += entry() }
      eatPunct("]")
      dbs.result()
    }

    /** `macro-expand entity_group [...] as X ( body )` (or a let-bound
      * group): evaluate `body` once per entity with `X.Table` resolving in
      * that entity's database, then union the legs by name with null-fill —
      * Kusto's entity-group iteration operator. The body tokens are re-parsed
      * per entity (the `invoke`/tabular-function machinery's convention), so
      * each leg is an independent plan: per-leg filters and projections push
      * into each database's own scan, and the union is the only shared node.
      * Scope: the alias resolves in table-source position (`X.T | ...`,
      * subqueries included) and in `union` operand lists (`union X.T1,
      * X.T2`); cross-entity set arithmetic inside one body leg is out of
      * scope, as in Kusto. The entity list is deduplicated (a repeated
      * database would silently double its rows) and bounded at 64 legs
      * (each leg re-parses the body); a bare alias without `.Table` is a
      * scoped error, not a fall-through to ordinary table resolution. */
    private def parseMacroExpand(): DataFrame = {
      val dbs: Seq[String] =
        if (atIdent("entity_group")) { pos += 1; parseEntityGroupList() }
        else {
          val n = ident()
          entityGroups.getOrElse(n, throw new IllegalArgumentException(
            s"macro-expand: '$n' is not a bound entity_group " +
              s"(bound: ${entityGroups.keys.toSeq.sorted.mkString(", ")})"))
        }
      // one leg per DISTINCT entity (a duplicated database entry would
      // silently double its rows in the union), order-preserving; bounded —
      // each leg is a full re-parse of the body
      val distinctDbs = dbs.distinct
      require(distinctDbs.size <= 64,
        s"macro-expand: entity list too large (${distinctDbs.size} > 64)")
      eatIdent("as")
      val alias = ident()
      eatPunct("(")
      val bodyStart = pos
      val legs = distinctDbs.map { db =>
        pos = bodyStart
        val saved = entityScope
        entityScope = entityScope + (alias -> db)
        try parseQuery() finally entityScope = saved
      }
      eatPunct(")")
      legs.reduceLeft(_ unionKql _)
    }

    /** Materialize any row-function placeholders parsed by `body`, then apply
      * `use` over them and drop the placeholder columns that survive. */
    private def withRowFns(df: DataFrame)(body: => DataFrame => DataFrame): DataFrame = {
      val f = body // parses; may fill rowFnBuffer
      if (rowFnBuffer.isEmpty) f(df)
      else {
        val fns = rowFnBuffer.toSeq
        rowFnBuffer.clear()
        val materialized = serializedRowFns(df, serializedOrder.get, fns)
        val outDf = f(materialized)
        outDf.drop(fns.map(_.name).filter(outDf.columns.contains): _*)
      }
    }

    /** Operators that act row-by-row (or only reorder rows): inside a
      * `partition hint.strategy=shuffle` body they commute with the per-key
      * split and run unchanged on the whole table. */
    private val rowLocalOps = Set("where", "filter", "extend", "project",
      "project-away", "project-keep", "project-rename", "parse", "parse-kv",
      "search", "sort", "order")

    private def parseOp(df: DataFrame): DataFrame = {
      val op = ident()
      partitionKey match {
        case Some(k) if !rowLocalOps(op) => parseShufflePartitionOp(df, op, k)
        case _ => parseStdOp(df, op)
      }
    }

    /** Per-key rewrite for `partition hint.strategy=shuffle by key ( ... )` —
      * the 100 TB path: instead of one plan per key value (legacy strategy,
      * capped at 64), the sub-pipeline is rewritten into ONE distributed plan
      * where the key rides the shuffle. `summarize` groups by (key ∪ by) —
      * Kusto drops the key from the subtable output unless the by-list names
      * it, and so does this; `top` becomes a per-key window row_number cut
      * (one hash exchange on the key, per-partition heaps, no driver
      * involvement). Row-local operators pass through unchanged. */
    private def parseShufflePartitionOp(df: DataFrame, op: String, key: String): DataFrame = {
      // same input-column context as parseStdOp — column_ifexists()/
      // pack_all() inside a leg's by-list must resolve against the leg's
      // input, not a stale/empty set
      curCols = df.columns.toSet
      curColsSeq = df.columns.toSeq
      op match {
        case "summarize" =>
          // hint.* accepted-and-ignored, same as the main-path summarize —
          // a hinted summarize must not parse differently inside a leg
          while (atIdent("hint")) {
            pos += 1; eatPunct("."); ident(); eatPunct("="); val _ = next()
          }
          if (atIdent("by")) {
            // bare `summarize by k1, k2` (distinct over keys) — same form
            // the main path supports; the partition key joins the key set
            // (Kusto drops it from the output unless the by-list names it)
            pos += 1
            val (keys, keyBins) = (parseProjList(), lastProjBins)
            val keyInBy = keys.exists(_.toString == key)
            val groups = if (keyInBy) keys else col(key) +: keys
            val outD =
              if (df.isStreaming) distinctViaStreamingSummarize(df, groups,
                if (keyInBy) keyBins else shiftBins(keyBins))
              else df.select(groups: _*).distinct()
            if (keyInBy) outD else outD.projectAway(key)
          } else {
            val aggs = parseAggListFor(df)
            val meta = lastAggListMeta
            val (by, byBins) = parseByWithBins()
            val keyInBy = by.exists(_.toString == key)
            val groups = if (keyInBy) by else col(key) +: by
            // a STREAMING leg routes through the same windowed lowering as
            // the main summarize (bin → event-time window, watermark
            // honored or loudly refused) — the shuffle-hint path must not
            // be the one backdoor where an explicit watermark silently
            // drops; bin indexes shift by the prepended partition key
            val out = expandArgStar(
              if (df.isStreaming)
                streamingSummarize(df, groups,
                  if (keyInBy) byBins else shiftBins(byBins), aggs, meta)
              else df.summarize(groups, aggs: _*), aggs)
            if (keyInBy) out else out.projectAway(key)
          }
        case "top" =>
          val n = parseInt()
          eatIdent("by")
          val keys = parseSortList()
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(key)).orderBy(keys: _*)
          df.extend("__pt_rn" -> row_number().over(w))
            .where_(col("__pt_rn") <= n).projectAway("__pt_rn")
        case "count" =>
          df.summarize(Seq(col(key)), count(lit(1)).as("Count")).projectAway(key)
        case other => throw new IllegalArgumentException(
          s"operator '$other' is not supported inside partition " +
            "hint.strategy=shuffle (supported: row-local operators, summarize, top, count)")
      }
    }

    /** Parse an optional `by <proj-list>` and snapshot its bin captures —
      * the ONLY sanctioned reader of [[lastProjBins]] besides the two
      * bare-by branches (which read immediately after their own
      * parseProjList): binding the snapshot to the parse that produced it
      * is what prevents a stale capture from an EARLIER operator (a binned
      * project upstream) being consumed by a by-less summarize. */
    private def parseByWithBins()
        : (Seq[Column], Map[Int, (Option[String], Column, Long)]) =
      if (atIdent("by")) { pos += 1; (parseProjList(), lastProjBins) }
      else (Nil, Map.empty)

    /** Shift bin-capture indexes by one for the prepended partition key. */
    private def shiftBins(bins: Map[Int, (Option[String], Column, Long)])
        : Map[Int, (Option[String], Column, Long)] =
      bins.map { case (i, v) => (i + 1, v) }

    /** The bare-`summarize by` (distinct over keys) form on a STREAM —
      * a grouped aggregation with no aggregates, routed through
      * [[streamingSummarize]] via a dropped count so bins lower to
      * event-time windows and the watermark applies; shared by the main
      * and shuffle-leg paths so the two cannot drift. */
    private def distinctViaStreamingSummarize(df: DataFrame,
        groups: Seq[Column],
        bins: Map[Int, (Option[String], Column, Long)]): DataFrame =
      streamingSummarize(df, groups, bins,
        Seq(count(lit(1)).as("__distinct_cnt")),
        Seq(("__distinct_cnt", None))).drop("__distinct_cnt")

    // input columns of the operator currently being parsed — consulted by
    // column_ifexists(), which resolves at parse time against the operator
    // input (Kusto semantics)
    private var curCols: Set[String] = Set.empty
    // same, in schema order — consulted by pack_all() (bag keys keep the
    // operator input's column order, like Kusto)
    private var curColsSeq: Seq[String] = Nil

    private def parseStdOp(df: DataFrame, op: String): DataFrame = {
      curCols = df.columns.toSet
      curColsSeq = df.columns.toSeq
      parseStdOpBody(df, op)
    }

    private def parseStdOpBody(df: DataFrame, op: String): DataFrame = op match {
      case "where" | "filter" =>
        withRowFns(df) { val p = parseExpr(); _.where_(p) }
      case "facet" =>
        // `T | facet by c1, c2, ...` — Kusto emits one value-frequency table
        // per facet column; the single-result driver contract folds them into
        // one (facet_column, value, count_) table — the same adaptation
        // `union withsource=` uses for multi-source output. Each facet is one
        // partial+final hash aggregate; the union is by name.
        eatIdent("by")
        val fcols = Seq.newBuilder[String]
        fcols += ident()
        while (atPunct(",")) { pos += 1; fcols += ident() }
        fcols.result().map { c =>
          df.summarize(Seq(col(c)), count(lit(1)).as("count_"))
            .project(lit(c).as("facet_column"), col(c).cast("string").as("value"),
              col("count_"))
        }.reduce(_ unionKql _)
      case "partition" =>
        // `T | partition [hint.strategy=...] by key ( sub-pipeline )` — the
        // sub-pipeline runs once per distinct key value, results unioned.
        //
        //   - hint.strategy=shuffle (THE 100 TB PATH): no key enumeration at
        //     all — the body is rewritten into one distributed plan where the
        //     key rides the shuffle (summarize gains the key as a grouping
        //     column, top becomes a per-key window cut). Unbounded key
        //     cardinality, one exchange, no driver involvement.
        //   - legacy/native (default, matching Kusto): one subquery per key,
        //     capped at 64 partitions — enforced here, which bounds the
        //     driver-side key collect() (a bounded model, like the IVF
        //     centroid pull); each per-key subquery is a fully distributed
        //     plan, and arbitrary operators are allowed in the body.
        var strategy = "legacy"
        while (atIdent("hint")) {
          pos += 1; eatPunct(".")
          ident() match {
            case "strategy" => eatPunct("="); strategy = ident()
            case other => // hint.shufflekey= / hint.materialized= etc.: accept and ignore
              eatPunct("="); val _ = (other, next())
          }
        }
        eatIdent("by")
        val pkey = ident()
        eatPunct("(")
        val bstart = pos
        val bend = skipBalancedUntil("(", ")")
        pos += 1 // consume the closing )
        val body = toks.slice(bstart, bend)
        if (strategy == "shuffle")
          new Parser(Vector(Ident("__p"), Punct("|")) ++ body,
            n => if (n == "__p") df else resolveTable(n),
            partitionKey = Some(pkey), allowAdmin = allowAdmin,
            watermarkSec = streamingWatermarkSec).parseProgram()
        else {
          val keys = df.select(col(pkey)).distinct().limit(65).collect().map(_.get(0))
          require(keys.length <= 64,
            s"partition by $pkey: over 64 distinct values (Kusto native-strategy cap)")
          if (keys.isEmpty) df.limit(0)
          else keys.toSeq.map { v =>
            val part = df.where_(col(pkey) <=> lit(v))
            new Parser(Vector(Ident("__p"), Punct("|")) ++ body,
              n => if (n == "__p") part else resolveTable(n),
              allowAdmin = allowAdmin,
              watermarkSec = streamingWatermarkSec).parseProgram()
          }.reduce(_ unionKql _)
        }
      case "fork" =>
        // `T | fork [name=](sub1) [name=](sub2) ...` — Kusto runs every
        // sub-pipeline over the SAME input rows and emits one table per leg;
        // the single-result driver contract folds the legs into one table with
        // a `fork_leg` label column, aligned by name with null-fill (the same
        // adaptation `union withsource=` and `facet` use). Each leg is an
        // independent distributed plan; Spark's shared-scan reuse applies when
        // legs read the same source columns. Unnamed legs get Kusto's
        // Result_N auto-names.
        val legs = Seq.newBuilder[(String, DataFrame)]
        var li = 0
        def atNamedLeg: Boolean = (pos + 1 < toks.length) && (toks(pos) match {
          case Ident(_) => toks(pos + 1) == Punct("="); case _ => false
        })
        while (atPunct("(") || atNamedLeg) {
          li += 1
          val name = if (atNamedLeg) { val n = ident(); eatPunct("="); n }
                     else s"Result_$li"
          eatPunct("(")
          val bstart = pos
          val bend = skipBalancedUntil("(", ")")
          pos += 1 // consume the closing )
          val body = toks.slice(bstart, bend)
          legs += name -> new Parser(Vector(Ident("__f"), Punct("|")) ++ body,
            n => if (n == "__f") df else resolveTable(n),
            allowAdmin = allowAdmin,
            watermarkSec = streamingWatermarkSec).parseProgram()
        }
        val built = legs.result()
        require(built.nonEmpty, "fork: expected at least one (sub-pipeline) leg")
        built.map { case (n, leg) => leg.extend("fork_leg" -> lit(n)) }
          .reduce(_ unionKql _)
      case "search" =>
        // `T | search [kind=...] 'term'` — Kusto's `search X` ≡ `where * has X`:
        // a term match across every string column of the source. Public
        // stand-in for the reference's reserved full-text index slot
        // (`/root/reference/src/store/segment_metadata.proto:38-43`): a posting
        // list / bloom probe would accelerate this same predicate unchanged.
        // `kind=case_sensitive` switches the probe to has_cs; the default (and
        // `kind=default`) keeps `has`'s case-insensitive term match.
        val cs = parseSearchKind()
        searchFilter(df, strLitS(), cs)
      case "project" =>
        withRowFns(df) { val cols = parseProjList(); _.project(cols: _*) }
      case "consume" =>
        // `T | consume [decodeblocks = true]` — run the pipeline, discard
        // the output (Kusto's warm-up/measure operator). The optional
        // argument is accepted and ignored; the result is the empty table
        // with the input schema.
        if (atIdent("decodeblocks")) { pos += 1; eatPunct("="); ident() }
        df.limit(0)
      case "project-away" => df.projectAway(parseIdentList(): _*)
      case "project-keep" => df.projectKeep(parseIdentList(): _*)
      case "project-reorder" =>
        // named columns first (in the given order), the rest keep their order
        val front = parseIdentList()
        val rest = df.columns.filterNot(front.contains)
        df.select((front ++ rest).map(col).toIndexedSeq: _*)
      case "project-rename" => df.projectRename(parseRenameList(): _*)
      case "extend" if atPunct("(") && tupleAssignAhead =>
        // tuple-assign: `extend (a, b) = <struct-expr>` — Kusto's multi-value
        // function form (series_fft and friends). Field i of the resolved
        // struct binds to the i-th name; resolution uses the analyzed schema
        // so ANY struct-valued expression works.
        pos += 1
        val tNames = Seq.newBuilder[String]
        tNames += ident()
        while (atPunct(",")) { pos += 1; tNames += ident() }
        eatPunct(")")
        eatPunct("=")
        val tExpr = parseExpr()
        val ns = tNames.result()
        val tmp = df.withColumn("__tuple", tExpr)
        val fields = tmp.schema("__tuple").dataType match {
          case st: org.apache.spark.sql.types.StructType => st.fieldNames.toSeq
          case other => throw new IllegalArgumentException(
            s"tuple extend needs a struct-valued expression, got $other")
        }
        require(ns.size <= fields.size,
          s"tuple extend: ${ns.size} names but the value has ${fields.size} fields")
        ns.zip(fields).foldLeft(tmp) { case (d, (n, fld)) =>
          d.withColumn(n, col(s"__tuple.`$fld`"))
        }.drop("__tuple")
      case "extend" =>
        // row-function placeholders materialize distributively underneath
        withRowFns(df) { val exprs = parseNamedExprList(); _.extend(exprs: _*) }
      case "summarize" =>
        // hint.shufflekey= / hint.strategy= / hint.num_partitions=: physical
        // hints with no Spark analogue needed (Catalyst/AQE pick the shuffle);
        // accepted and ignored so real-world queries parse
        while (atIdent("hint")) {
          pos += 1; eatPunct("."); ident(); eatPunct("="); val _ = next()
        }
        // bare `summarize by a, b` — group keys only (distinct over the keys)
        if (atIdent("by")) {
          pos += 1
          val (keys, keyBins) = (parseProjList(), lastProjBins)
          // the distinct-over-keys form is a grouped aggregation with no
          // aggregates: on a stream it routes through the SAME lowering as
          // the agg form (bin → event-time window, watermark honored or
          // loudly refused) instead of an unbounded derived-column
          // distinct that silently drops an explicit watermark
          if (df.isStreaming) distinctViaStreamingSummarize(df, keys, keyBins)
          else df.select(keys: _*).distinct()
        } else {
          val aggs = parseAggListFor(df)
          val meta = lastAggListMeta
          // bins only from THIS summarize's by-list (parseByWithBins — a
          // stale capture from an earlier op must not be consumed)
          val (by, byBins) = parseByWithBins()
          if (df.isStreaming)
            expandArgStar(
              streamingSummarize(df, by, byBins, aggs, meta), aggs)
          else expandArgStar(leanOrPlainSummarize(df, by, aggs, meta), aggs)
        }
      case "sort" | "order" =>
        eatIdent("by")
        val keys = parseSortList()
        lastSortKeys = keys
        df.sortBy(keys: _*)
      case "serialize" =>
        require(lastSortKeys.nonEmpty,
          "`serialize` requires a preceding `sort by` to define the row order")
        serializedOrder = Some(lastSortKeys)
        df
      case "as" =>
        // `T | as name` — bind the pipeline-so-far to a name usable later in
        // the same query (join/union/invoke operands), KQL's mid-pipeline alias
        var bound = df
        if (atIdent("hint")) { // hint.materialized=true → materialize the binding
          pos += 1; eatPunct(".")
          val h = ident(); eatPunct("=")
          val v = next()
          if (h == "materialized" && v == Ident("true"))
            bound = graft.functions.Caching.materialize(df)
        }
        bindings(ident()) = bound
        bound
      case "scan" =>
        // `T | scan [with_match_id=m] with (step s1: pred; step s2: pred; ...)`
        // — ONE global state machine over the serialized order (Kusto scan
        // without `declare`: sequences are not keyed to an entity). Distributed
        // via per-partition transition tables over the finite state space
        // (Scan.scanSerialized). `declare (...)` state variables unsupported.
        require(lastSortKeys.nonEmpty,
          "`scan` requires a preceding `sort by` to define the row order")
        var matchId: Option[String] = None
        if (atIdent("with_match_id")) { pos += 1; eatPunct("="); matchId = Some(ident()) }
        eatIdent("with")
        eatPunct("(")
        val steps = Vector.newBuilder[(String, Column)]
        while (!atPunct(")")) {
          eatIdent("step")
          val name = ident()
          eatPunct(":")
          steps += name -> parseExpr()
          if (atPunct(";")) eatPunct(";")
        }
        eatPunct(")")
        val scanned = Scan.scanSerialized(df, lastSortKeys, steps.result())
        matchId match {
          case Some(m) => scanned.drop("match_step").withColumnRenamed("match_id", m)
          case None => scanned.drop("match_step", "match_id")
        }
      case "top" =>
        val n = parseInt()
        eatIdent("by")
        df.top(n, parseSortList(): _*)
      case "take" | "limit" => df.take_(parseInt())
      case "sample" => df.sample_(parseNum())
      case "top-hitters" =>
        // `top-hitters [hint.strategy=sketch] N of Col [by SumCol]` — Kusto's
        // approximate heavy hitters. Default form is EXACT (partial+final
        // hash agg, then a TakeOrdered top-N) and stays the oracle;
        // hint.strategy=sketch switches the count form to the SpaceSaving
        // candidates + exact-verify path (FrequentItems.topHittersApprox) —
        // bounded state per partition, for columns whose distinct cardinality
        // makes the exact agg's shuffle the bottleneck. Output column names
        // match Kusto's approximate_count_/approximate_sum_ vocabulary.
        var sketchy = false
        while (atIdent("hint")) {
          pos += 1; eatPunct(".")
          ident() match {
            case "strategy" => eatPunct("="); sketchy = ident() == "sketch"
            case _ => eatPunct("="); val _ = next()
          }
        }
        val n = parseInt()
        eatIdent("of")
        val c = ident()
        val (aggC, aggName) =
          if (atIdent("by")) {
            pos += 1; val s = ident()
            (sum(col(s)), s"approximate_sum_$s")
          } else (count(lit(1)), s"approximate_count_$c")
        if (sketchy && aggName.startsWith("approximate_count_"))
          graft.functions.FrequentItems.topHittersApprox(df, c, n)
        else df.summarize(Seq(col(c)), aggC.as(aggName)).top(n, col(aggName).desc)
      case "sample-distinct" =>
        // `sample-distinct N of Col` — Kusto returns N arbitrary distinct
        // values; this engine makes the choice DETERMINISTIC (portable
        // md5-prefix order, reproducible in any oracle) the same way `sample`
        // documents its seeded determinism deviation.
        val n = parseInt()
        eatIdent("of")
        val c = ident()
        df.distinctOf(col(c))
          .sortBy(conv(substring(md5(col(c).cast("string").cast("binary")), 1, 15), 16, 10)
            .cast("long"))
          .take_(n)
      case "distinct" =>
        if (atPunct("*")) { pos += 1; df.distinct() }
        else df.distinctOf(parseProjList(): _*)
      case "count" => df.summarize(Nil, count(lit(1)).as("Count"))
      case "mv-expand" =>
        // forms: `mv-expand [with_itemindex=idx] c | name = expr | expr`,
        // each optionally followed by `to typeof(<kql-type>)` (typed
        // expansion: the exploded element is try_cast per Kusto's relaxed
        // conversion — a non-convertible element becomes null, not an error)
        val itemIdx: Option[String] =
          if (atIdent("with_itemindex")) {
            pos += 1; eatPunct("="); Some(ident())
          } else None
        def typedCast(out: DataFrame, n: String, t: String): DataFrame = {
          // a bag (map) column expands to <n>_key/<n>_value — the typed
          // clause casts the VALUE (Kusto's typed bag expansion)
          val target =
            if (out.columns.contains(n)) n
            else if (out.columns.contains(s"${n}_value")) s"${n}_value"
            else throw new IllegalArgumentException(
              s"mv-expand to typeof: no expanded column '$n' to cast")
          // elements exploded from a dynamic column surface as variant:
          // go through string for the cast variant→T that Spark lacks
          out.withColumn(target,
            (if (out.schema(target).dataType.typeName == "variant")
               col(target).cast("string") else col(target)).try_cast(t))
        }
        def oneItem(): (String, Column, Option[String]) = {
          val (n, e) =
            if (pos + 1 < toks.length && toks(pos).isInstanceOf[Ident] &&
              toks(pos + 1) == Punct("=") && toks.lift(pos + 2) != Some(Punct("="))) {
              val n = ident(); eatPunct("="); (n, parseExpr())
            } else {
              val mark = pos
              val e = parseExpr()
              val name = toks(mark) match {
                case Ident(n) if pos == mark + 1 => n // bare column keeps its name
                case _ => "value" // KQL names un-aliased results `value`
              }
              (name, e)
            }
          val t = if (atIdent("to")) {
            pos += 1; eatIdent("typeof"); eatPunct("(")
            val tt = kqlType(ident()); eatPunct(")"); Some(tt)
          } else None
          (n, e, t)
        }
        val mvItems = Seq.newBuilder[(String, Column, Option[String])]
        mvItems += oneItem()
        while (atPunct(",")) { pos += 1; mvItems += oneItem() }
        val itemsR = mvItems.result()
        if (itemsR.size == 1) {
          val (n, e, t) = itemsR.head
          val out = itemIdx match {
            case Some(ix) => df.mvExpandIndexed(e, n, ix)
            case None => df.mvExpand(e, n)
          }
          t.fold(out)(typedCast(out, n, _))
        } else {
          // multi-column form: PARALLEL zip expansion to the longest array,
          // shorter arrays null-padded (Kql.mvExpandZip)
          val out = df.mvExpandZip(itemsR.map(i => (i._1, i._2)), itemIdx)
          itemsR.foldLeft(out) {
            case (d, (n, _, Some(t))) => typedCast(d, n, t)
            case (d, _) => d
          }
        }
      case "mv-apply" =>
        // `mv-apply elem = arrayCol on (op | op | ...)` — explode the array, run the
        // parenthesized sub-pipeline over the element rows (one row per surviving
        // element; KQL leaves mv-apply output exploded).
        val elemName = ident()
        val arrCol = if (atPunct("=")) { pos += 1; ident() } else elemName
        eatIdent("on")
        eatPunct("(")
        var sub = df.mvExpandPos(col(arrCol), "__mv_pos", elemName)
        sub = parseOp(sub)
        while (atPunct("|")) { eatPunct("|"); sub = parseOp(sub) }
        eatPunct(")")
        if (sub.columns.contains("__mv_pos")) sub.drop("__mv_pos") else sub
      case "evaluate" =>
        // `evaluate [hint.distribution = per_node | per_shard] plugin(...)`
        // — distribution hints are physical placement advice with no Spark
        // analogue needed (Catalyst places the plugin's plan); accepted and
        // ignored so exported real-world queries parse (the summarize-hint
        // convention)
        while (atIdent("hint")) {
          pos += 1; eatPunct("."); ident(); eatPunct("="); val _ = next()
        }
        val fn = ident()
        eatPunct("(")
        fn match {
          case "bag_unpack" =>
            // `evaluate bag_unpack(col [, 'prefix']) [: (a: long, ...)]` —
            // Kusto's column-name prefix and OutputSchema forms; a declared
            // schema skips the inference scan entirely
            val arg = ident()
            val prefix = if (atPunct(",")) { pos += 1; strLitS() } else ""
            eatPunct(")")
            if (atPunct(":")) {
              pos += 1; eatPunct("(")
              val fs = Seq.newBuilder[(String, String)]
              def oneF(): Unit = {
                val n = ident(); eatPunct(":"); fs += ((n, kqlType(ident())))
              }
              oneF()
              while (atPunct(",")) { pos += 1; oneF() }
              eatPunct(")")
              df.bagUnpackTyped(arg, fs.result(), prefix)
            } else df.bagUnpack(arg, prefix = prefix)
          case "preview" =>
            // `evaluate preview(N)` — the first N rows. Deviation
            // (documented): Kusto's plugin emits a second total-count table;
            // the single-table form is the usable Spark shape.
            val n = parseInt()
            eatPunct(")")
            df.limit(n)
          case "infer_storage_schema" =>
            // `T | project raw | evaluate infer_storage_schema()` — infer a
            // Kusto schema from a sample of JSON documents (the ingestion
            // helper; Kusto samples external blobs, this samples the piped
            // string column — documented deviation, as is the output shape:
            // (column, kql_type) ROWS sorted by name instead of one schema
            // string, the oracle-checkable form). The sample is a bounded
            // driver-side read (≤100 rows — the toscalar limit(1) class),
            // then Spark's JSON inference maps to Kusto type names.
            eatPunct(")")
            require(df.columns.length == 1 &&
              df.schema.head.dataType == org.apache.spark.sql.types.StringType,
              "evaluate infer_storage_schema(): pipe exactly one string column")
            val spark = df.sparkSession
            import spark.implicits._
            // null rows would NPE Spark's JSON inference (the Jackson parser
            // is built from the raw UTF8String) — drop them before sampling
            val sample = df.na.drop().limit(100)
              .as[String](org.apache.spark.sql.Encoders.STRING)
            val inferred = spark.read.json(sample).schema
            def kqlType(t: org.apache.spark.sql.types.DataType): String = t match {
              case org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.IntegerType => "long"
              case org.apache.spark.sql.types.DoubleType => "real"
              case org.apache.spark.sql.types.BooleanType => "bool"
              case org.apache.spark.sql.types.StringType => "string"
              case org.apache.spark.sql.types.TimestampType => "datetime"
              case _ => "dynamic" // structs, arrays, nulls
            }
            inferred.fields.map(f => (f.name, kqlType(f.dataType))).sortBy(_._1)
              .toSeq.toDF("column", "kql_type")
          case "narrow" =>
            // evaluate narrow(): (Row, Column, Value-as-string) triples. Row
            // ordinals come from the distributed serialized row numbering, so
            // a preceding `sort by ... | serialize` is required (Kusto's
            // narrow over an unordered table has undefined Row values).
            eatPunct(")")
            require(serializedOrder.nonEmpty,
              "`evaluate narrow()` requires `| sort by ... | serialize` for stable Row ordinals")
            val srcCols = df.columns
            val numbered = serializedRowFns(df, serializedOrder.get,
              Seq(RowNumber("Row")))
            numbered.select(col("Row"),
              explode(array(srcCols.map(c =>
                struct(lit(c).as("Column"), col(c).cast("string").as("Value"))
              ).toIndexedSeq: _*)).as("__nrw"))
              .select(col("Row"), col("__nrw.Column"), col("__nrw.Value"))
          case "rows_near" =>
            // `evaluate rows_near(cond, numRows[, rowsAfter])` — context rows
            // around condition matches over the serialized order (see
            // Kql.rowsNear: distributed row numbering + bucketed hash semi
            // equi-join, no broadcast, no nested loop).
            require(serializedOrder.nonEmpty,
              "`evaluate rows_near(...)` requires `| sort by ... | serialize`")
            val cond = parseExpr()
            eatPunct(",")
            val n = parseNum().toInt
            val after = if (atPunct(",")) { pos += 1; parseNum().toInt } else n
            eatPunct(")")
            df.rowsNear(serializedOrder.get, cond, n, after)
          case "pivot" =>
            // `evaluate pivot(pivotCol [, agg(col)])` — unique pivot-column
            // values become columns; remaining columns (minus the aggregate
            // input) group. Maps to Spark's native groupBy().pivot(): the
            // distinct pivot values are collected once (sorted, bounded by
            // spark.sql.pivotMaxValues) and the aggregate is a single
            // partial+final pass — the same two-phase shape Kusto's plugin
            // uses.
            val pc = ident()
            var aggFn = "count"; var aggArg: Option[String] = None
            if (atPunct(",")) {
              pos += 1; aggFn = ident(); eatPunct("(")
              if (!atPunct(")")) aggArg = Some(ident())
              eatPunct(")")
            }
            // optional trailing columns restrict the GROUP set (Kusto's
            // pivot(pc, agg(x), col1, col2, …) form)
            val pivotGroups = Seq.newBuilder[String]
            while (atPunct(",")) { pos += 1; pivotGroups += ident() }
            eatPunct(")")
            val aggC = (aggFn, aggArg) match {
              case ("count", None) => count(lit(1))
              case ("sum", Some(a)) => sum(col(a))
              case ("avg", Some(a)) => avg(col(a))
              case ("min", Some(a)) => min(col(a))
              case ("max", Some(a)) => max(col(a))
              case ("dcount", Some(a)) => countDistinct(col(a))
              case other => throw new IllegalArgumentException(
                s"unsupported pivot aggregate: $other")
            }
            val explicitGroups = pivotGroups.result()
            val groups =
              if (explicitGroups.nonEmpty) explicitGroups
              else df.columns.filterNot(c => c == pc || aggArg.contains(c)).toSeq
            df.groupBy(groups.map(col): _*).pivot(pc).agg(aggC)
          case "basket" | "autocluster" =>
            // `evaluate basket(threshold, c1, ..., ck)` / `evaluate
            // autocluster(c1, ..., ck)` — frequent attribute combinations
            // (see Kql.basket for semantics + deviations). autocluster takes
            // Kusto's default 0.05 support.
            val threshold =
              if (fn == "basket") { val t = parseNum(); eatPunct(","); t }
              else 0.05
            val cs = Seq.newBuilder[String]
            cs += ident()
            while (atPunct(",")) { pos += 1; cs += ident() }
            eatPunct(")")
            df.basket(cs.result(), threshold)
          case "diffpatterns" =>
            // `evaluate diffpatterns(split, 'a', 'b', c1, ..., ck)` —
            // attribute combinations whose frequency differs between the two
            // row splits (see Kql.diffPatterns for semantics + deviations).
            val split = ident()
            eatPunct(",")
            val valA = strLitS()
            eatPunct(",")
            val valB = strLitS()
            val cs = Seq.newBuilder[String]
            while (atPunct(",")) { pos += 1; cs += ident() }
            eatPunct(")")
            df.diffPatterns(split, valA, valB, cs.result())
          case "diffpatterns_text" =>
            // `evaluate diffpatterns_text(textCol, split, 'a', 'b'[, t])` —
            // per-token presence contrast between two row splits (see
            // Kql.diffPatternsText for semantics + deviations).
            val textC = ident()
            eatPunct(",")
            val split = ident()
            eatPunct(",")
            val valA = strLitS()
            eatPunct(",")
            val valB = strLitS()
            val threshold = if (atPunct(",")) { pos += 1; parseNum() } else 0.05
            eatPunct(")")
            df.diffPatternsText(textC, split, valA, valB, threshold)
          case "welch_test" =>
            // `evaluate welch_test(m1, v1, c1, m2, v2, c2)`: Welch's unequal-
            // variance t-test over per-row summary statistics (the Kusto
            // plugin contract — the table already carries each group's mean/
            // variance/count, typically from a preceding summarize). Appends
            // `pvalue`. Pure per-row scalar arithmetic + the native t-CDF
            // kernel (StatExpressions.tCdf via Welch–Satterthwaite df) — no
            // extra pass, no shuffle.
            val cs = (0 until 6).map { i =>
              if (i > 0) eatPunct(","); col(ident()).cast("double")
            }
            eatPunct(")")
            val Seq(m1, v1, c1, m2, v2, c2) = cs
            val se1 = v1 / c1
            val se2 = v2 / c2
            val tStat = (m1 - m2) / sqrt(se1 + se2)
            val dfW = org.apache.spark.sql.functions.pow(se1 + se2, 2) /
              (org.apache.spark.sql.functions.pow(se1, 2) / (c1 - 1) +
                org.apache.spark.sql.functions.pow(se2, 2) / (c2 - 1))
            df.withColumn("pvalue",
              lit(2.0) * (lit(1.0) - call_function("graft_t_cdf", abs(tStat), dfW, dfW)))
          case "dcount_intersect" =>
            // `evaluate dcount_intersect(h1, h2[, h3])` over hll_sketch()
            // columns: s0 = |A|, s1 = |A∩B|, s2 = |A∩B∩C| by inclusion-
            // exclusion over sketch UNIONS (the only operation HLL supports
            // exactly) — per-row scalar work on already-aggregated rows, no
            // extra pass over the corpus. Estimates are clamped at 0 (an
            // intersection cannot be negative; union estimates can
            // overshoot at scale).
            val cs = Seq.newBuilder[String]
            cs += ident()
            while (atPunct(",")) { pos += 1; cs += ident() }
            eatPunct(")")
            val hs = cs.result()
            require(hs.size >= 2 && hs.size <= 3,
              "dcount_intersect supports 2 or 3 hll_sketch columns")
            def est(c: Column) = hll_sketch_estimate(c)
            val u2 = est(hll_union(col(hs(0)), col(hs(1))))
            val s0 = est(col(hs(0)))
            val s1 = greatest(lit(0L), est(col(hs(0))) + est(col(hs(1))) - u2)
            val withS = df.withColumn("s0", s0).withColumn("s1", s1)
            val out =
              if (hs.size == 2) withS
              else {
                val a = col(hs(0)); val b = col(hs(1)); val c = col(hs(2))
                val s2 = greatest(lit(0L),
                  est(a) + est(b) + est(c) -
                    est(hll_union(a, b)) - est(hll_union(a, c)) - est(hll_union(b, c)) +
                    est(hll_union(hll_union(a, b), c)))
                withS.withColumn("s2", s2)
              }
            out.drop(hs: _*)
          case "activity_counts_metrics" =>
            // `evaluate activity_counts_metrics(id, ts, start, end, step)` —
            // per-bin count / dcount / new_dcount / aggregated_dcount (see
            // Kql.activityCountsMetrics for semantics + deviations).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr(); eatPunct(",")
            val step = litLong(parseExpr())
            eatPunct(")")
            df.activityCountsMetrics(id, tsN, start, end, step)
          case "sliding_window_counts" =>
            // `evaluate sliding_window_counts(id, ts, lookback, step, start,
            // end)` — count/dcount in a lookback window ending at each bin.
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val lookback = litLong(parseExpr()); eatPunct(",")
            val step = litLong(parseExpr()); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr()
            eatPunct(")")
            df.slidingWindowCounts(id, tsN, lookback, step, start, end)
          case "activity_engagement" =>
            // `evaluate activity_engagement(id, ts, inner, outer)` — inner-
            // vs outer-window distinct-actor ratio (DAU/WAU style).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val innerW = litLong(parseExpr()); eatPunct(",")
            val outerW = litLong(parseExpr())
            eatPunct(")")
            df.activityEngagement(id, tsN, innerW, outerW)
          case "activity_metrics" =>
            // `evaluate activity_metrics(id, ts, start, end, window)` — the
            // canonical activity plugin (see Kql.activityMetrics).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr(); eatPunct(",")
            val win = litLong(parseExpr())
            eatPunct(")")
            df.activityMetrics(id, tsN, start, end, win)
          case "new_activity_metrics" =>
            // `evaluate new_activity_metrics(id, ts, start, end, window)` —
            // period-over-period retention (see Kql.newActivityMetrics).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr(); eatPunct(",")
            val win = litLong(parseExpr())
            eatPunct(")")
            df.newActivityMetrics(id, tsN, start, end, win)
          case "active_users_count" =>
            // `evaluate active_users_count(id, ts, lookback, step,
            // minPeriods, start, end)` — actors active in ≥ minPeriods
            // distinct periods of the lookback window ending at each bin.
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val lookback = litLong(parseExpr()); eatPunct(",")
            val step = litLong(parseExpr()); eatPunct(",")
            val minP = litLong(parseExpr()).toInt; eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr()
            eatPunct(")")
            df.activeUsersCount(id, tsN, lookback, step, minP, start, end)
          case "session_count" =>
            // `evaluate session_count(id, ts, start, end, bin, lookback)` —
            // idle-gap session starts per bin (see Kql.sessionCount).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr(); eatPunct(",")
            val binW = litLong(parseExpr()); eatPunct(",")
            val lookback = litLong(parseExpr())
            eatPunct(")")
            df.sessionCount(id, tsN, start, end, binW, lookback)
          case "rolling_percentile" =>
            // `evaluate rolling_percentile(value, p, ts, step, bins)` —
            // exact p-th percentile over the trailing `bins` step-bins.
            val v = ident(); eatPunct(",")
            val p = litDouble(parseExpr()); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val step = litLong(parseExpr()); eatPunct(",")
            val bins = litLong(parseExpr()).toInt
            eatPunct(")")
            df.rollingPercentile(v, p, tsN, step, bins)
          case "sequence_detect" =>
            // `evaluate sequence_detect(ts, stepWindow, spanWindow, s1, …,
            // sk, id)` — ordered per-actor sequence chains (see
            // Kql.sequenceDetect). The trailing ident is the actor id.
            val tsN = ident(); eatPunct(",")
            val stepW = litLong(parseExpr()); eatPunct(",")
            val spanW = litLong(parseExpr())
            val names = Seq.newBuilder[String]
            while (atPunct(",")) { pos += 1; names += ident() }
            eatPunct(")")
            val all = names.result()
            require(all.size >= 3,
              "sequence_detect needs at least two step columns and the id column")
            df.sequenceDetect(tsN, all.last, all.dropRight(1), stepW, spanW)
          case "ipv4_lookup" =>
            // `evaluate ipv4_lookup(RangeTable, ipCol, networkCol
            // [, return_unmatched [= true|false]])` — longest-prefix CIDR
            // enrichment (see Kql.ipv4Lookup).
            val ranges = resolveTable(ident()); eatPunct(",")
            val ipCol = ident(); eatPunct(",")
            val netCol = ident()
            val unmatched = if (atPunct(",")) {
              pos += 1
              val flag = ident() match {
                case "return_unmatched" =>
                  if (atPunct("=")) { pos += 1; ident() } else "true"
                case "true" => "true"
                case "false" => "false"
                case other => throw new IllegalArgumentException(
                  s"ipv4_lookup: unexpected argument $other")
              }
              flag == "true"
            } else false
            eatPunct(")")
            df.ipv4Lookup(ranges, ipCol, netCol, unmatched)
          case "ipv6_lookup" =>
            // `evaluate ipv6_lookup(RangeTable, ipCol, networkCol
            // [, return_unmatched [= true|false]])` — longest-prefix CIDR
            // enrichment over canonical 128-bit addresses (see Kql.ipv6Lookup).
            val ranges = resolveTable(ident()); eatPunct(",")
            val ipCol = ident(); eatPunct(",")
            val netCol = ident()
            val unmatched = if (atPunct(",")) {
              pos += 1
              val flag = ident() match {
                case "return_unmatched" =>
                  if (atPunct("=")) { pos += 1; ident() } else "true"
                case "true" => "true"
                case "false" => "false"
                case other => throw new IllegalArgumentException(
                  s"ipv6_lookup: unexpected argument $other")
              }
              flag == "true"
            } else false
            eatPunct(")")
            df.ipv6Lookup(ranges, ipCol, netCol, unmatched)
          case "geo_polygon_lookup" =>
            // `evaluate geo_polygon_lookup(PolygonTable, polygonCol, lngCol,
            // latCol [, radius] [, return_unmatched] [, lookup_area_radius]
            // [, return_lookup_key])` — geofencing enrichment (see
            // Kql.geoPolygonLookup). Kusto's full option surface: the first
            // numeric is the matching radius (polygons within that distance
            // of the point also match), the second — lookup_area_radius — a
            // covering-size tuning hint, accepted and ignored (the adaptive
            // level self-tunes); booleans positionally return_unmatched then
            // return_lookup_key (named `x = v` forms accepted); the lookup
            // key (polygon) column is omitted unless return_lookup_key, the
            // Kusto default.
            val polys = resolveTable(ident()); eatPunct(",")
            val polyCol = ident(); eatPunct(",")
            val lngCol = ident(); eatPunct(",")
            val latCol = ident()
            val o = parseGeoLookupOpts("geo_polygon_lookup")
            eatPunct(")")
            df.geoPolygonLookup(polys, polyCol, lngCol, latCol,
              o.unmatched, o.radius, o.returnKey)
          case "geo_line_lookup" =>
            // `evaluate geo_line_lookup(LineTable, lineCol, lngCol, latCol,
            // radius_m [, return_unmatched] [, lookup_area_radius]
            // [, return_lookup_key])` — route proximity enrichment (see
            // Kql.geoLineLookup); same option surface as geo_polygon_lookup.
            val lines = resolveTable(ident()); eatPunct(",")
            val lineCol = ident(); eatPunct(",")
            val lngCol = ident(); eatPunct(",")
            val latCol = ident(); eatPunct(",")
            val radius = litDouble(parseExpr())
            val o = parseGeoLookupOpts("geo_line_lookup")
            eatPunct(")")
            df.geoLineLookup(lines, lineCol, lngCol, latCol, radius,
              o.unmatched, o.returnKey)
          case "funnel_sequence_completion" =>
            // `evaluate funnel_sequence_completion(id, ts, start, end, state,
            // dynamic(['s1',…]), dynamic([w1,…]))` — per-window prefix
            // completion funnel (see Kql.funnelSequenceCompletion).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr(); eatPunct(",")
            val stateCol = ident(); eatPunct(",")
            eatIdent("dynamic"); eatPunct("("); eatPunct("[")
            val states = Seq.newBuilder[String]
            states += litString(parseExpr())
            while (atPunct(",")) { pos += 1; states += litString(parseExpr()) }
            eatPunct("]"); eatPunct(")"); eatPunct(",")
            eatIdent("dynamic"); eatPunct("("); eatPunct("[")
            val wins = Seq.newBuilder[Long]
            wins += litLong(parseExpr())
            while (atPunct(",")) { pos += 1; wins += litLong(parseExpr()) }
            eatPunct("]"); eatPunct(")")
            eatPunct(")")
            df.funnelSequenceCompletion(id, tsN, stateCol, start, end,
              states.result(), wins.result())
          case "funnel_sequence" =>
            // `evaluate funnel_sequence(id, ts, start, end, stepWindow,
            // state, dynamic(['a','b','c']))` — prev/next state distribution
            // around completed state chains (see Kql.funnelSequence).
            val id = ident(); eatPunct(",")
            val tsN = ident(); eatPunct(",")
            val start = parseExpr(); eatPunct(",")
            val end = parseExpr(); eatPunct(",")
            val stepW = litLong(parseExpr()); eatPunct(",")
            val stateCol = ident(); eatPunct(",")
            eatIdent("dynamic"); eatPunct("("); eatPunct("[")
            val states = Seq.newBuilder[String]
            states += litString(parseExpr())
            while (atPunct(",")) { pos += 1; states += litString(parseExpr()) }
            eatPunct("]"); eatPunct(")")
            eatPunct(")")
            df.funnelSequence(id, tsN, stateCol, start, end, stepW, states.result())
          case "ann_search" =>
            // `evaluate ann_search(CorpusTable, corpusIdCol, queryIdCol,
            // vecCol, 'indexDir', k [, nProbe [, shortlist]])` — serve
            // top-k per piped query row from the STORED ANN index at
            // indexDir (Similarity.indexTopKDistributed: DPP-pruned lists
            // scan, ADC shortlist, exact re-rank against CorpusTable). The
            // vector dimensionality comes from the index's OWN manifest
            // (self-describing — a wrong-index dir fails loudly there, not
            // as a shape error mid-scan). Output: (queryIdCol, corpusIdCol,
            // cosine, rank) rows, k per query.
            val corpusTbl = resolveTable(ident()); eatPunct(",")
            val corpusIdCol = ident(); eatPunct(",")
            val queryIdCol = ident(); eatPunct(",")
            val annVecCol = ident(); eatPunct(",")
            val idxDir = litString(parseExpr()); eatPunct(",")
            val annK = litLong(parseExpr()).toInt
            val annProbe =
              if (atPunct(",")) { pos += 1; litLong(parseExpr()).toInt } else 4
            val annShort =
              if (atPunct(",")) { pos += 1; litLong(parseExpr()).toInt } else 32
            eatPunct(")")
            val dim = graft.functions.Similarity
              .readIndexManifest(df.sparkSession, idxDir).dim
            // KQL dynamic arrays surface as array<double> (series_add etc.);
            // the engine's vector type is array<float> (the embedding
            // columns' type and what the native kernels type-check), so the
            // plugin casts at the boundary — queries built from float
            // columns pass through unchanged (identity cast elided)
            val qcast = df.withColumn(annVecCol,
              org.apache.spark.sql.functions.col(annVecCol)
                .cast("array<float>"))
            // CorpusTable IS the allowed payload set: candidates pre-filter
            // against its ids BEFORE the shortlist (filter = lit(true) →
            // the semi-join against the table as given), so FILTERED vector
            // search is just `let allowed = T | where pred; ... evaluate
            // ann_search(allowed, ...)` — k results per query at any
            // selectivity. With the full table the semi-join is an identity
            // (every indexed id is in the payload).
            graft.functions.Similarity.indexTopKDistributed(df.sparkSession,
              idxDir, qcast, corpusTbl, annK, dim, annProbe, annShort,
              queryIdCol, corpusIdCol, annVecCol,
              filter = Some(org.apache.spark.sql.functions.lit(true)))
          case "maxsim_search" =>
            // `evaluate maxsim_search(CorpusTokens, corpusIdCol, queryIdCol,
            // tokenIdCol, vecCol, k [, 'indexDir' [, nProbe]])` —
            // LATE-INTERACTION retrieval from the query language: the piped
            // rows are the query TOKEN bag (queryIdCol groups tokens into
            // queries), CorpusTokens is the multi-vector document table
            // (corpusIdCol groups its tokens), and score(q, d) = Σ over q's
            // tokens of max over d's tokens of cosine. Without 'indexDir'
            // this is the EXACT form (Similarity.maxSimTopK — the
            // |Qtok|·|Ctok| baseline); WITH it, the SCALABLE first stage
            // serves from the STORED token index at indexDir
            // (Similarity.maxSimTopKIndexed: DPP-pruned lists scan,
            // ownership from the index tree when stored with ownerCol,
            // exact re-score of candidates only — geometry from the
            // index's own manifest, ann_search's posture). FILTERED late
            // interaction is plain composition: pass a let-bound filtered
            // view as CorpusTokens — it supplies both candidate ownership
            // and the scoring side, so excluded docs are pruned BEFORE any
            // scoring (the pre-filter contract). Output: (queryIdCol,
            // corpusIdCol, maxsim, rank), k rows per query.
            val msTbl = resolveTable(ident()); eatPunct(",")
            val msCorpusId = ident(); eatPunct(",")
            val msQueryId = ident(); eatPunct(",")
            val msTokenId = ident(); eatPunct(",")
            val msVec = ident(); eatPunct(",")
            val msK = litLong(parseExpr()).toInt
            val msIdx =
              if (atPunct(",")) { pos += 1; Some(litString(parseExpr())) }
              else None
            val msProbe =
              if (atPunct(",")) { pos += 1; litLong(parseExpr()).toInt } else 4
            eatPunct(")")
            // the same dynamic-array boundary cast as ann_search: KQL
            // series ops surface array<double>, the vector kernels take
            // array<float>; identity casts elide
            val msQ = df.withColumn(msVec,
              org.apache.spark.sql.functions.col(msVec).cast("array<float>"))
            msIdx match {
              case Some(msDir) =>
                graft.functions.Similarity.maxSimTopKIndexed(
                  msQ.sparkSession, msDir, msQ, msTbl, msK, nProbe = msProbe,
                  queryId = msQueryId, tokenId = msTokenId,
                  corpusId = msCorpusId, corpusTokenId = msTokenId,
                  vecCol = msVec)
              case None =>
                graft.functions.Similarity.maxSimTopK(msQ, msTbl, msK,
                  queryId = msQueryId, tokenId = msTokenId,
                  corpusId = msCorpusId, vecCol = msVec)
            }
          case "index_stats" =>
            // `evaluate index_stats('indexDir')` — READ-ONLY index
            // administration from the query surface (Kusto's own idiom is
            // control commands; folded into an evaluate plugin so the
            // declared query language can INSPECT the flagship index —
            // README.md:33-34): per-list (__cid, rows, files) from
            // Similarity.indexStats, one scan projecting only the partition
            // column + input_file_name (codes never read). rows-per-list
            // skew is the splitList signal; files-per-list is what append
            // growth degrades and compaction resets. The piped input is
            // ignored (source-less plugin, the Kusto show-command shape).
            val statsDir = litString(parseExpr())
            eatPunct(")")
            graft.functions.Similarity.indexStats(df.sparkSession, statsDir)
          case "ann_maintain" =>
            // `evaluate ann_maintain('indexDir', 'compact' | 'recover' |
            // 'split' [, cid] | 'delete', IdsTable [, idCol] |
            // 'merge', 'srcIndexDir')` — index MAINTENANCE from the
            // query surface, returning the
            // post-operation index_stats so the operator sees the effect
            // (files-per-list reset by compact, the split list's two
            // children, the delete's row-count drop) in the same round
            // trip. Same entry points as the typed API — the full writer
            // contract (marker, leases, crash recovery) applies; a refused
            // operation surfaces its loud error through the parser.
            // MUTATING: requires the parse-level admin opt-in (see
            // KqlParser.parse) — ordinary query principals are refused.
            requireAdmin("ann_maintain")
            val mDir = litString(parseExpr()); eatPunct(",")
            val mOp = litString(parseExpr())
            val mSpark = df.sparkSession
            mOp match {
              case "compact" =>
                eatPunct(")")
                graft.functions.Similarity.compactIndex(mSpark, mDir)
              case "recover" =>
                eatPunct(")")
                graft.functions.Similarity.recoverIndex(mSpark, mDir)
              case "split" =>
                // cid omitted ⇒ the hottest list (max rows, ties to the
                // smaller cid) — the signal an operator would read off
                // index_stats anyway, folded into the command
                val mCid =
                  if (atPunct(",")) { pos += 1; Some(litLong(parseExpr()).toInt) }
                  else None
                eatPunct(")")
                graft.functions.Similarity.splitList(mSpark, mDir,
                  mCid.getOrElse(
                    graft.functions.Similarity.hottestList(mSpark, mDir)))
              case "delete" =>
                // the GDPR/retention op: IdsTable's idCol (default: its
                // first column) is the ids-to-forget frame; only hit lists
                // rewrite (Similarity.deleteFromIndex), deleted ids can no
                // longer reach any shortlist of a subsequent ann_search
                eatPunct(",")
                val delTbl = resolveTable(ident())
                val delCol =
                  if (atPunct(",")) { pos += 1; ident() }
                  else delTbl.columns.head
                eatPunct(")")
                graft.functions.Similarity.deleteFromIndex(mSpark, mDir,
                  delTbl.select(org.apache.spark.sql.functions.col(delCol)),
                  delCol)
              case "merge" =>
                // fold shard-built indexes (same frozen models) into this
                // one — file moves only, source trees consumed. A comma
                // list INSIDE the string ('shard1,shard2,...') is the
                // n-ary fold: all shards validate under ONE destination
                // marker cycle, then one parallel move loop. Caveat: a
                // source PATH containing a literal ',' is therefore not
                // expressible from KQL (it would split) — such paths go
                // through the typed mergeIndexAll; a wrong split fails
                // loudly at the manifest read, never folds the wrong tree
                eatPunct(",")
                val mergeSrcs = litString(parseExpr())
                  .split(',').map(_.trim).filter(_.nonEmpty).toSeq
                eatPunct(")")
                graft.functions.Similarity.mergeIndexAll(mSpark, mDir,
                  mergeSrcs)
              case other => throw new IllegalArgumentException(
                s"ann_maintain: unsupported op '$other' " +
                  "(compact|recover|split|delete|merge)")
            }
            graft.functions.Similarity.indexStats(mSpark, mDir)
          case "ann_rebuild" =>
            // `evaluate ann_rebuild(CorpusTable, idCol, vecCol, 'indexDir'
            // [, nCentroids] [, ownerCol])` — the full-retrain escape
            // hatch from the query surface, completing the KQL admin suite
            // (stats/compact/split/recover/delete/rebuild + search):
            // retrain on CorpusTable as it is NOW and swap the whole tree
            // in non-stop (Similarity.rebuildIndex: sibling staging,
            // lease-refusing marker-first commit gate). Geometry defaults
            // come from the index's OWN manifest (same dim/m/ksub/seed;
            // nCentroids overridable — the one knob a drifted corpus
            // usually needs); an owner-carrying TOKEN index re-supplies
            // its ownership column explicitly (rebuildIndex refuses silent
            // loss). Returns the post-rebuild index_stats. MUTATING:
            // requires the parse-level admin opt-in.
            requireAdmin("ann_rebuild")
            val rbTbl = resolveTable(ident()); eatPunct(",")
            val rbId = ident(); eatPunct(",")
            val rbVec = ident(); eatPunct(",")
            val rbDir = litString(parseExpr())
            var rbK: Option[Int] = None
            var rbOwner = ""
            while (atPunct(",")) {
              pos += 1
              require(pos < toks.length, "ann_rebuild: dangling ','")
              // dispatch on the token CLASS and refuse everything else
              // loudly — a bound scalar or parenthesized expression here
              // would otherwise be silently consumed as an ownerCol name
              // (nCentroids must be a literal, the plugin litLong contract)
              toks(pos) match {
                case Num(_) =>
                  require(rbK.isEmpty, "ann_rebuild: nCentroids given twice")
                  rbK = Some(litLong(parseExpr()).toInt)
                case Ident(_) =>
                  require(rbOwner.isEmpty, "ann_rebuild: ownerCol given twice")
                  rbOwner = ident()
                case other => throw new IllegalArgumentException(
                  "ann_rebuild: expected a literal nCentroids or an " +
                    s"ownerCol identifier, got '$other'")
              }
            }
            eatPunct(")")
            val rbSpark = df.sparkSession
            val rbMf = graft.functions.Similarity
              .readIndexManifest(rbSpark, rbDir)
            graft.functions.Similarity.rebuildIndex(rbSpark, rbDir, rbTbl,
              rbId, rbVec, rbMf.dim,
              nCentroids = rbK.getOrElse(rbMf.nCentroids),
              m = rbMf.m, ksub = rbMf.ksub, seed = rbMf.seed,
              corpusSnapshot = rbMf.corpusSnapshot, ownerCol = rbOwner)
            graft.functions.Similarity.indexStats(rbSpark, rbDir)
          case other => throw new IllegalArgumentException(s"unsupported evaluate plugin: $other")
        }
      case "reduce" =>
        // `T | reduce by Expr [with threshold=x]` — group strings into
        // generalized patterns: Pattern / Count / Representative. One hash
        // agg (partial+final) on the derived pattern key. Deviation
        // (documented): Kusto's reduce is a fuzzy similarity clustering; this
        // engine generalizes deterministically (digit runs → `*`), so equal
        // inputs always land in the same pattern and the output is
        // oracle-reproducible. The threshold is accepted and ignored.
        eatIdent("by")
        val e = parseExpr()
        if (atIdent("with")) {
          pos += 1; eatIdent("threshold"); eatPunct("="); parseNum()
        }
        df.select(regexp_replace(e.cast("string"), "[0-9]+", "*").as("Pattern"),
            e.cast("string").as("__v"))
          .groupBy("Pattern")
          .agg(count(lit(1)).as("Count"), min(col("__v")).as("Representative"))
      case "parse" | "parse-where" =>
        // `parse [kind=simple|relaxed|regex [flags=…]] Col with ['*']
        // ('lit' Name[:type])...` — literals anchor, names capture lazily
        // between them (last capture runs to end of string). kind=regex
        // treats literal segments as RAW regex (parenthesize alternations);
        // kind=relaxed equals simple here because typed captures already
        // try_cast (Kusto's relaxed semantics). parse-where additionally
        // DROPS rows the pattern does not match (plain parse keeps them with
        // empty/null captures, like Kusto).
        var pkind = "simple"
        var pflags = ""
        if (atIdent("kind")) {
          pos += 1; eatPunct("="); pkind = ident()
          require(Set("simple", "relaxed", "regex")(pkind),
            s"parse: unsupported kind=$pkind")
          if (atIdent("flags")) {
            pos += 1; eatPunct("=")
            // Kusto regex flags change match semantics — map the supported
            // ones to an inline group, REJECT the rest (silently ignoring a
            // flag would return wrong captures with no error)
            val raw = next() match {
              case Ident(s) => s
              case Str(s) => s
              case t => throw new IllegalArgumentException(s"parse: bad flags token $t")
            }
            raw.foreach { f =>
              require("ismx".contains(f), s"parse: unsupported regex flag '$f' " +
                "(supported: i=case-insensitive, s=dotall, m=multiline, x=comments)")
            }
            pflags = raw
          }
        }
        val src = col(ident())
        eatIdent("with")
        val leadingStar = if (atPunct("*")) { pos += 1; true } else false
        val segs = Seq.newBuilder[Either[String, (String, String)]] // Left=literal
        var done = false
        while (!done) peek match {
          case Some(Str(s)) => pos += 1; segs += Left(s)
          case Some(Ident(n)) if !Set("and", "or").contains(n) =>
            pos += 1
            val t = if (atPunct(":")) { pos += 1; kqlType(ident()) } else "string"
            segs += Right((n, t))
          case _ => done = true
        }
        val parts = segs.result()
        require(parts.exists(_.isRight), "parse needs at least one capture name")
        val names = parts.collect { case Right(nt) => nt }
        val regex = new StringBuilder(
          (if (pflags.nonEmpty) s"(?$pflags)" else "") +
            (if (leadingStar) "^.*?" else "^"))
        parts.zipWithIndex.foreach {
          case (Left(s), _) =>
            // kind=regex: user groups become non-capturing so the capture
            // indices stay aligned with the Name segments
            regex ++= (if (pkind == "regex") nonCapturing(s)
            else java.util.regex.Pattern.quote(s))
          case (Right(_), i) =>
            regex ++= (if (i == parts.size - 1) "(.*)" else "(.*?)")
        }
        // try_cast: a non-matching row extracts "" — Kusto leaves the typed
        // capture null there, while an ANSI cast would throw
        val extracted = names.zipWithIndex.foldLeft(df) { case (acc, ((n, t), gi)) =>
          acc.extend(n -> regexp_extract(src, regex.toString, gi + 1).try_cast(t))
        }
        if (op == "parse-where") extracted.where_(src.rlike(regex.toString))
        else extracted
      case "make-graph" =>
        // `T | make-graph SrcCol --> DstCol [with Nodes on idCol]` — bind T
        // as the edge table of a directed graph (remaining columns are edge
        // attributes) for a following `graph-match`; the optional node table
        // makes each matched node variable a STRUCT of its node-row
        // properties (`a.label` access, Kusto's node-property surface).
        // Deviation (documented): the graph lives only inside this pipeline.
        val srcC = ident()
        eatPunct("-->")
        val dstC = ident()
        require(df.columns.contains(srcC) && df.columns.contains(dstC),
          s"make-graph: source/target columns $srcC/$dstC must exist")
        graphNodes =
          if (atIdent("with")) {
            pos += 1
            val nt = resolveTable(ident())
            eatIdent("on")
            val nid = ident()
            require(nt.columns.contains(nid),
              s"make-graph: node id column $nid must exist in the node table")
            Some((nt, nid))
          } else None
        // materialize: every hop of a following graph-match re-scans the
        // edge table (a var-length pattern scans it lo+..+hi times);
        // Caching.materialize computes the derivation once, registry-bounded
        // — the same contract as `materialize()` above
        val matEdges = graft.functions.Caching.materialize(df)
        graphEdges = Some((matEdges, srcC, dstC))
        matEdges
      case "graph-match" =>
        // `| graph-match (a)-[e1]->(b)-[e2]->(c) [where pred] [project ...]`
        // — fixed-length path patterns over the bound edge table. Each hop is
        // the edge table re-aliased (src→nodeᵢ, dst→nodeᵢ₊₁, attributes
        // packed into the edge variable as a struct, so `e1.attr` works), and
        // hops chain with equi-joins on the shared node variables — the
        // standard relational lowering of fixed-length graph patterns: ONE
        // shuffle per hop on the node key at scale, no iteration. A repeated
        // node variable closes a cycle (extra equality filter). Node
        // variables are bare ids unless make-graph bound a node table (then
        // each becomes its node-row struct after the pattern expands).
        val (edges, srcC, dstC) = graphEdges.getOrElse(throw new IllegalArgumentException(
          "graph-match requires a preceding make-graph in the same pipeline"))
        val attrCols = edges.columns.filterNot(c => c == srcC || c == dstC).toSeq
        eatPunct("(")
        val nodeVars = Seq.newBuilder[String]
        // per edge: (variable name, lo, hi) — lo==hi==1 for a plain edge;
        // `-[e*1..3]->` is a bounded variable-length edge
        val edgeSpecs = Seq.newBuilder[(String, Int, Int, Boolean)]
        nodeVars += ident(); eatPunct(")")
        while (atPunct("-[")) {
          pos += 1
          val ev = ident()
          val (lo, hi, varLen) =
            if (atPunct("*")) {
              pos += 1
              val l = parseLong().toInt; eatPunct(".."); val h = parseLong().toInt
              require(l >= 1 && h >= l && h <= 8,
                s"graph-match: variable-length bounds must satisfy 1 <= lo <= hi <= 8, got $l..$h")
              (l, h, true)
            } else (1, 1, false)
          edgeSpecs += ((ev, lo, hi, varLen))
          eatPunct("]->"); eatPunct("(")
          nodeVars += ident(); eatPunct(")")
        }
        val ns = nodeVars.result()
        val es = edgeSpecs.result()
        require(es.nonEmpty, "graph-match: pattern needs at least one edge")
        require(es.map(_._1).distinct.size == es.size,
          "graph-match: edge variables must be distinct")
        def attrStruct: Column =
          if (attrCols.isEmpty) lit(null) else struct(attrCols.map(col): _*)
        // one fixed-length expansion of the pattern: a variable-length edge of
        // chosen length L contributes L physical hops through anonymous
        // intermediate nodes; its edge variable binds the ARRAY of traversed
        // edge structs (so e.g. array_length(e) is the path length)
        def expand(lengths: Seq[Int]): DataFrame = {
          val seen = scala.collection.mutable.Set(ns.head)
          var g: DataFrame = null
          var left = ns.head
          es.indices.foreach { i =>
            val (ev, _, _, varLen) = es(i)
            val l = lengths(i)
            val segEdges = Seq.newBuilder[String]
            (0 until l).foreach { k =>
              val isLast = k == l - 1
              val target = if (isLast) ns(i + 1) else s"__gm_v${i}_$k"
              val dn = if (isLast && !seen.add(target)) s"__gm_cycle_${i + 1}" else target
              val eName = if (l == 1) ev else s"__gm_e${i}_$k"
              segEdges += eName
              val h = edges.select(col(srcC).as(left), col(dstC).as(dn),
                attrStruct.as(eName))
              var joined = if (g == null) h else g.join(h, left)
              if (dn != target) // cycle closure on a repeated node variable
                joined = joined.filter(col(dn) === col(target)).drop(dn)
              g = joined
              left = target
            }
            if (varLen) { // variable-length edge binds the ARRAY of edges
              val names = segEdges.result()
              if (l > 1)
                g = g.withColumn(ev, array(names.map(col): _*)).drop(names: _*)
              else g = g.withColumn(ev, array(col(ev)))
            } // plain edge: the scalar struct stays as-is (e.attr access)
          }
          g
        }
        // cartesian product of the per-edge length choices (bounded: each
        // range is ≤8 wide and patterns are short); fixed-length patterns
        // expand to exactly one term, variable-length ones union their terms
        // by name — each term is an independent join chain, so the union is
        // just more partitions, not more shuffle rounds
        val lengthChoices = es.map { case (_, lo, hi, _) => lo to hi }
          .foldLeft(Seq(Seq.empty[Int])) { (acc, r) =>
            acc.flatMap(prefix => r.map(prefix :+ _))
          }
        var g = lengthChoices.map(expand).reduce(_ unionKql _)
        // node-table enrichment: each node variable becomes the struct of
        // its node row (broadcast dimension join per variable — node tables
        // are the small side; unmatched ids keep a null-field struct)
        graphNodes.foreach { case (nt, nid) =>
          val props = nt.columns.toSeq
          ns.distinct.foreach { v =>
            val keyed = nt.select(struct(props.map(col): _*).as(s"__np_$v"),
              col(nid).as(s"__nk_$v"))
            g = g.join(broadcast(keyed), col(v) === col(s"__nk_$v"), "left")
              .drop(s"__nk_$v")
              .withColumn(v, col(s"__np_$v")).drop(s"__np_$v")
          }
        }
        if (atIdent("where")) { pos += 1; g = g.where_(parseExpr()) }
        if (atIdent("project")) {
          pos += 1
          val cols = parseProjList()
          g = g.project(cols: _*)
        }
        g
      case "graph-shortest-paths" =>
        // `| graph-shortest-paths (a)-[p*1..H]->(b) [where pred] [project …]`
        // — per reachable (a,b) pair with a ≠ b, the MINIMUM-hop path within
        // H hops over the bound edge table. Level-synchronous BFS: each level
        // is ONE equi-join of the frontier against the edge table on the
        // frontier's endpoint, an anti-join against the reached set (a pair
        // found at level h is never re-expanded), and a per-pair min — so the
        // work per level is frontier-size-bound, never all-paths enumeration;
        // each level's frontier is materialized (Caching.materialize — the
        // bounded-registry persist). The path variable binds the NODE-ID array
        // of the lexicographically-smallest shortest path (deterministic:
        // the per-level min over extensions of lex-min prefixes is the
        // global lex-min — shortest paths have shortest prefixes).
        // Deviations (documented): `p` is the node array, not edge structs
        // (array_length(p) − 1 = hops); self-pairs a == b are excluded;
        // endpoint predicates apply after the search.
        val (spEdges, spSrc, spDst) = graphEdges.getOrElse(throw new IllegalArgumentException(
          "graph-shortest-paths requires a preceding make-graph in the same pipeline"))
        eatPunct("(")
        val spA = ident(); eatPunct(")")
        eatPunct("-[")
        val spP = ident()
        eatPunct("*")
        val spLo = parseLong().toInt; eatPunct(".."); val spHi = parseLong().toInt
        require(spLo == 1 && spHi >= 1 && spHi <= 8,
          s"graph-shortest-paths: bounds must satisfy 1 = lo <= hi <= 8, got $spLo..$spHi")
        eatPunct("]->"); eatPunct("(")
        val spB = ident(); eatPunct(")")
        val e1 = spEdges.select(col(spSrc).as(spA), col(spDst).as(spB),
            array(col(spSrc), col(spDst)).as("__path"))
          .filter(col(spA) =!= col(spB))
        var reached = e1.groupBy(spA, spB).agg(min(col("__path")).as("__path"))
        var frontier = reached
        (2 to spHi).foreach { _ =>
          val stepped = frontier.join(
              spEdges.select(col(spSrc).as("__hop_s"), col(spDst).as("__hop_d")),
              col(spB) === col("__hop_s"))
            .filter(col("__hop_d") =!= col(spA))
            .select(col(spA), col("__hop_d").as(spB),
              concat(col("__path"), array(col("__hop_d"))).as("__path"))
          val fresh = graft.functions.Caching.materialize(stepped
            .join(reached.select(spA, spB), Seq(spA, spB), "left_anti")
            .groupBy(spA, spB).agg(min(col("__path")).as("__path")))
          reached = reached.unionByName(fresh)
          frontier = fresh
        }
        var gsp = reached.withColumnRenamed("__path", spP)
        if (atIdent("where")) { pos += 1; gsp = gsp.where_(parseExpr()) }
        if (atIdent("project")) {
          pos += 1
          val cols = parseProjList()
          gsp = gsp.project(cols: _*)
        }
        gsp
      case "graph-mark-components" =>
        // `| graph-mark-components [kind=weak] [with_component_id=Cid]` —
        // label every node of the bound graph with its WEAK component.
        // Lowered onto the dedup clustering machinery
        // (Dedup.connectedComponents): per round one equi-join on the edge
        // list + one min-agg, O(component diameter) rounds, labels never
        // leave the cluster. Deviations (documented): kind=strong is
        // rejected (distributed SCC is out of scope); the component id is
        // the component's MINIMUM node id — deterministic and oracle-
        // replayable, unlike an opaque hash.
        val (gmEdges, gmSrc, gmDst) = graphEdges.getOrElse(
          throw new IllegalArgumentException(
            "graph-mark-components requires a preceding make-graph in the same pipeline"))
        var cid = "ComponentId"
        while (atIdent("kind") || atIdent("with_component_id")) {
          if (atIdent("kind")) {
            pos += 1; eatPunct("="); val k = ident()
            require(k == "weak",
              s"graph-mark-components: only kind=weak is supported, got kind=$k")
          } else { pos += 1; eatPunct("="); cid = ident() }
        }
        val gmNodes = gmEdges.select(col(gmSrc).as("__n"))
          .union(gmEdges.select(col(gmDst).as("__n")))
        val gmLabels = graft.functions.Dedup.connectedComponents(
            gmEdges.select(col(gmSrc), col(gmDst)), gmSrc, gmDst, gmNodes, "__n")
          .select(col("id").as("node"), col("cluster").as(cid))
        graphMarked = Some(gmLabels)
        gmLabels
      case "graph-to-table" =>
        // `| graph-to-table nodes|edges` — materialize the bound graph:
        // nodes = distinct endpoints (with component labels when a
        // graph-mark-components ran), edges = the bound edge table.
        ident() match {
          case "nodes" => graphMarked.getOrElse {
            val (gtE, gtS, gtD) = graphEdges.getOrElse(
              throw new IllegalArgumentException(
                "graph-to-table requires a preceding make-graph in the same pipeline"))
            gtE.select(col(gtS).as("node"))
              .union(gtE.select(col(gtD).as("node"))).distinct()
          }
          case "edges" =>
            val (gtE, _, _) = graphEdges.getOrElse(
              throw new IllegalArgumentException(
                "graph-to-table requires a preceding make-graph in the same pipeline"))
            gtE
          case other => throw new IllegalArgumentException(
            s"graph-to-table: expected nodes or edges, got $other")
        }
      case "union" => parseUnionOp(Some((sourceName, df)))
      case "join" =>
        var kind = "innerunique" // the KQL default
        var strategy = ""
        var done = false
        while (!done) {
          if (atIdent("kind")) { pos += 1; eatPunct("="); kind = ident() }
          else if (atIdent("hint")) {
            // hint.strategy=broadcast|shuffle — physical hints, semantics
            // unchanged. broadcast marks the RIGHT side (the KQL idiom: small
            // side piped in); shuffle adds an explicit repartition on the keys
            // (Kusto's hint.shufflekey analogue). Unknown hints are ignored.
            pos += 1; eatPunct(".")
            ident() match {
              case "strategy" => eatPunct("="); strategy = ident()
              case _ => eatPunct("="); val _ = next()
            }
          } else done = true
        }
        val right = parseSubQuery()
        eatIdent("on")
        // `on k1, k2` (shared names) and/or `$left.a == $right.b` terms
        val keys = Seq.newBuilder[String]
        val pairs = Seq.newBuilder[(String, String)]
        def onTerm(): Unit =
          if (atIdent("$left")) {
            pos += 1; eatPunct(".")
            val l = ident()
            eatPunct("==")
            eatIdent("$right"); eatPunct(".")
            pairs += l -> ident()
          } else keys += ident()
        onTerm()
        while (atPunct(",")) { pos += 1; onTerm() }
        val allPairs = keys.result().map(k => k -> k) ++ pairs.result()
        val thetaForm = pairs.result().nonEmpty
        val r2 = if (strategy == "broadcast") broadcast(right) else right
        if (thetaForm) df.joinKqlOn(r2, allPairs, kind)
        else strategy match {
          case "shuffle" =>
            df.repartition(keys.result().map(col): _*)
              .joinKql(right.repartition(keys.result().map(col): _*), keys.result(), kind)
          case _ => df.joinKql(r2, keys.result(), kind)
        }
      case "lookup" =>
        // `lookup [kind=leftouter|inner] (dim) on keys` — broadcast enrichment
        var lkind = "leftouter"
        if (atIdent("kind")) { pos += 1; eatPunct("="); lkind = ident() }
        val dim = parseSubQuery()
        eatIdent("on")
        val lkeys = parseIdentList()
        lkind match {
          case "leftouter" => df.lookup(dim, lkeys)
          case "inner" => df.join(broadcast(dim), lkeys, "inner")
          case other => throw new IllegalArgumentException(s"unsupported lookup kind: $other")
        }
      case "parse-kv" =>
        // `parse-kv Col as (k1:type, k2:type) with (pair_delimiter=',',
        // kv_delimiter='=')` — extract typed values from a key=value string
        val src = col(ident())
        eatIdent("as")
        eatPunct("(")
        val fields = Seq.newBuilder[(String, String)]
        def oneField(): Unit = {
          val n = ident()
          val t = if (atPunct(":")) { pos += 1; kqlType(ident()) } else "string"
          fields += n -> t
        }
        oneField()
        while (atPunct(",")) { pos += 1; oneField() }
        eatPunct(")")
        var pairDelim = ","; var kvDelim = "="
        if (atIdent("with")) {
          pos += 1; eatPunct("(")
          def oneOpt(): Unit = ident() match {
            case "pair_delimiter" => eatPunct("="); pairDelim = strLitS()
            case "kv_delimiter" => eatPunct("="); kvDelim = strLitS()
            case o => throw new IllegalArgumentException(s"unsupported parse-kv option: $o")
          }
          oneOpt()
          while (atPunct(",")) { pos += 1; oneOpt() }
          eatPunct(")")
        }
        val q = java.util.regex.Pattern.quote _
        val kvMap = str_to_map(src, lit(q(pairDelim)), lit(q(kvDelim)))
        fields.result().foldLeft(df) { case (acc, (n, t)) =>
          acc.extend(n -> element_at(kvMap, n).cast(t))
        }
      case "getschema" =>
        // `T | getschema` — the table's effective schema as rows, with types
        // reported in Kusto's scalar-type vocabulary
        val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
          struct(lit(f.name).as("ColumnName"), lit(i).as("ColumnOrdinal"),
            lit(kqlDataTypeName(f.dataType)).as("DataType"),
            lit(kqlTypeName(f.dataType)).as("ColumnType"))
        }.toIndexedSeq
        org.apache.spark.sql.SparkSession.active.range(1)
          .select(explode(array(rows: _*)).as("__s")).select(col("__s.*"))
      case "invoke" =>
        // `T | invoke f(args...)` — apply a let-bound tabular function with T
        // bound to the FIRST (tabular) parameter and the invoke arguments bound
        // to the remaining SCALAR parameters. The body parses in a child parser
        // whose table resolver binds the tabular parameter to the piped
        // DataFrame (outer lets stay visible) and whose expression scope
        // substitutes the scalar parameters.
        val fname = ident()
        eatPunct("(")
        val invokeArgs = if (atPunct(")")) Nil else {
          val out = Seq.newBuilder[Column]
          out += parseExpr()
          while (atPunct(",")) { pos += 1; out += parseExpr() }
          out.result()
        }
        eatPunct(")")
        val (params, body) = tabularFns.getOrElse(fname, throw new
            IllegalArgumentException(s"unknown tabular function: $fname"))
        if (invokeArgs.length != params.length - 1)
          throw new IllegalArgumentException(
            s"$fname expects ${params.length - 1} scalar argument(s) after the " +
              s"piped table, got ${invokeArgs.length}")
        new Parser(body, n => if (n == params.head) df else resolveTable(n),
          params.tail.zip(invokeArgs).toMap,
          allowAdmin = allowAdmin,
          watermarkSec = streamingWatermarkSec).parseProgram()
      case "make-series" =>
        // `make-series [name =] agg(...) [default = lit], ... on ts step Δ [by keys]`
        // Emits the regular grid as ROWS (one per key × bin), like the typed
        // makeSeries combinator; KQL's packed-array form is the rows pivoted.
        // STREAMS refused at parse time with the alternative named: the
        // regular-grid fill joins the bin spine AFTER the aggregation,
        // which Structured Streaming disallows — the streaming idiom is
        // the watermarked windowed summarize (gaps filled batch-side),
        // loud here instead of an opaque mid-plan Spark error
        require(!df.isStreaming,
          "make-series over a stream: the regular-grid fill joins after " +
            "the aggregation, which Structured Streaming disallows — use " +
            "`summarize ... by bin(ts, Δ)` with `set streaming_watermark` " +
            "and fill the grid batch-side")
        val aggs = Seq.newBuilder[Column]
        val fills = Seq.newBuilder[Column]
        def oneSeries(): Unit = {
          val named =
            if (pos + 1 < toks.length && toks(pos).isInstanceOf[Ident] &&
              toks(pos + 1) == Punct("=")) {
              val n = ident(); eatPunct("="); parseAgg(ident()).as(n)
            } else { val f = ident(); parseAgg(f).as(defaultAggName(f)) }
          aggs += named
          // KQL's default fill is 0 when `default =` is omitted
          fills += (if (atIdent("default")) { pos += 1; eatPunct("="); parseExpr() }
            else lit(0))
        }
        oneSeries()
        while (atPunct(",")) { pos += 1; oneSeries() }
        eatIdent("on")
        val tsName = ident()
        val msFromTo = if (atIdent("from")) {
          pos += 1
          val f = parseExpr(); eatIdent("to"); val t = parseExpr()
          Some((f, t))
        } else None
        eatIdent("step")
        val stepSecs = litLong(parseExpr())
        val keys = if (atIdent("by")) { pos += 1; parseProjList() } else Nil
        df.makeSeries(keys, col(tsName), stepSecs, aggs.result(), fills.result(), msFromTo)
          .projectRename(tsName -> "__bin")
      case "top-nested" =>
        // `top-nested N1 of k1 by [name =] agg1, top-nested N2 of k2 by agg2, ...
        //  [with others = 'label']` — others supported on the FINAL level: one
        // extra row per surviving prefix aggregating the non-top keys
        val levels = Seq.newBuilder[(Int, String, Column, String, Boolean)]
        var others: Option[String] = None
        def oneLevel(): Unit = {
          val n = parseInt()
          eatIdent("of")
          val key = ident()
          eatIdent("by")
          val (agg, aggName) =
            if (pos + 1 < toks.length && toks(pos).isInstanceOf[Ident] &&
              toks(pos + 1) == Punct("=")) {
              val an = ident(); eatPunct("="); (parseAgg(ident()), an)
            } else { val f = ident(); (parseAgg(f), s"aggregated_$key") }
          // optional rank direction (Kusto: asc selects the BOTTOM keys)
          val asc = if (atIdent("asc")) { pos += 1; true }
            else if (atIdent("desc")) { pos += 1; false }
            else false
          levels += ((n, key, agg, aggName, asc))
          if (atIdent("with")) {
            pos += 1; eatIdent("others"); eatPunct("=")
            others = Some(strLitS())
          }
        }
        oneLevel()
        while (atPunct(",")) {
          require(others.isEmpty, "`with others` is supported on the final top-nested level only")
          pos += 1; eatIdent("top-nested"); oneLevel()
        }
        df.topNestedMulti(levels.result(), others)
      case "render" =>
        // `| render timechart [with (...)]` — a visualization DIRECTIVE, not a
        // transformation: accept and ignore (tables render upstream), skipping
        // the chart kind and any with(...) options
        ident()
        if (atIdent("with")) { pos += 1; eatPunct("("); skipBalancedUntil("(", ")"); pos += 1 }
        df
      case other => throw new IllegalArgumentException(s"unsupported KQL operator: $other")
    }

    // ---- operator argument lists ----
    private def parseInt(): Int = next() match {
      case Num(s) => s.toInt
      case other => throw new IllegalArgumentException(s"expected integer, got $other")
    }
    private def parseNum(): Double = next() match {
      case Num(s) => s.toDouble
      case other => throw new IllegalArgumentException(s"expected number, got $other")
    }
    private def parseLong(): Long = peek match {
      case Some(Punct("-")) => pos += 1; -parseLong()
      case _ => next() match {
        case Num(s) => s.toLong
        case other => throw new IllegalArgumentException(s"expected integer, got $other")
      }
    }

    private def parseIdentList(): Seq[String] = {
      val out = Seq.newBuilder[String]
      out += ident()
      while (atPunct(",")) { pos += 1; out += ident() }
      out.result()
    }

    /** `new = old, ...` */
    private def parseRenameList(): Seq[(String, String)] = {
      def one(): (String, String) = { val n = ident(); eatPunct("="); (n, ident()) }
      val out = Seq.newBuilder[(String, String)]
      out += one()
      while (atPunct(",")) { pos += 1; out += one() }
      out.result()
    }

    /** `name = expr, ...` (extend); a bare expression (no `name =`) gets a
      * Kusto-style auto name `Column<N>`. */
    private def parseNamedExprList(): Seq[(String, Column)] = {
      var auto = 0
      def one(): (String, Column) =
        if (pos + 1 < toks.length && toks(pos).isInstanceOf[Ident] &&
            toks(pos + 1) == Punct("=") &&
            (pos + 2 >= toks.length || toks(pos + 2) != Punct("="))) {
          val n = ident(); eatPunct("="); (n, parseExpr())
        } else { auto += 1; (s"Column$auto", parseExpr()) }
      val out = Seq.newBuilder[(String, Column)]
      out += one()
      while (atPunct(",")) { pos += 1; out += one() }
      out.result()
    }

    /** project list: `expr` or `name = expr` */
    private def parseProjList(): Seq[Column] = {
      // harvest whole-element bin(ts, Δ) captures by INDEX (reference
      // equality against parseBin's result — a bin nested in a larger
      // expression deliberately does not capture); consumed by the
      // streaming summarize lowering, inert everywhere else
      val bins = Map.newBuilder[Int, (Option[String], Column, Long)]
      var idx = 0
      def one(): Column = {
        lastBin = None
        val c =
          if (pos + 1 < toks.length && toks(pos).isInstanceOf[Ident] && toks(pos + 1) == Punct("=")
            && (pos + 2 >= toks.length || toks(pos + 2) != Punct("="))) {
            val n = ident(); eatPunct("="); val e = parseExpr()
            lastBin.foreach { case (r, vn, v, s) =>
              if (r eq e) bins += idx -> (vn, v, s) }
            e.as(n)
          } else {
            val e = parseExpr()
            lastBin.foreach { case (r, vn, v, s) =>
              if (r eq e) bins += idx -> (vn, v, s) }
            e
          }
        idx += 1
        c
      }
      val out = Seq.newBuilder[Column]
      out += one()
      while (atPunct(",")) { pos += 1; out += one() }
      lastProjBins = bins.result()
      out.result()
    }

    /** summarize agg list: `agg(...)` or `name = agg(...)` with KQL default names. */
    private def parseNamedAggList(): Seq[Column] = {
      val metaOut = Seq.newBuilder[(String, Option[Column])]
      def one(): Column = {
        lastAggExpands = false
        lastAggDistinctKey = None
        val (c, n) =
          if (pos + 1 < toks.length && toks(pos).isInstanceOf[Ident] && toks(pos + 1) == Punct("=")) {
            val n = ident(); eatPunct("="); (parseAgg(ident()), n)
          } else {
            val fname = ident()
            (parseAgg(fname), defaultAggName(fname))
          }
        if (lastAggExpands) expandAggs += n
        metaOut += ((n, lastAggDistinctKey))
        c.as(n)
      }
      val out = Seq.newBuilder[Column]
      out += one()
      while (atPunct(",")) { pos += 1; out += one() }
      lastAggListMeta = metaOut.result()
      out.result()
    }

    // per-aggregate metadata harvested by the lean multi-distinct rewrite:
    // (output name, Some(distinct key expr) for exact-distinct aggregates)
    private var lastAggDistinctKey: Option[Column] = None
    private var lastAggListMeta: Seq[(String, Option[Column])] = Nil

    // true while parsing a STREAMING summarize's aggregate list: the
    // dcount family then maps to the approximate sketch (Kusto's own
    // semantics — its dcount is HLL-based; the exact countDistinct mapping
    // is the batch oracle-friendly deviation) because Spark cannot stream
    // an exact distinct aggregation at all
    private var streamingAggs: Boolean = false

    /** The approximate-dcount kernel of `hll_if` and the STREAMING dcount
      * family: DataSketches HLL at lgK 14 — the same 2^14-register
      * geometry as the former approx_count_distinct(rsd 0.01), but with a
      * REAL sparse mode (exact until ~thousands of distincts, where HLL++
      * is dense-only and already off-by-one at 64 values below p=14) and
      * an update/merge kernel measured ~4-8x cheaper (HllProbe: 1.2-1.4 s
      * vs 0.16 s on a 7.5k-row shape — HLL++'s fixed 22 KiB aggregation
      * buffers dominate every stage they ride through). Estimates at
      * sparse cardinalities are IDENTICAL (exact) to the former mapping.
      * Typed surface (documented deviation): DataSketches accepts
      * int/long/string/binary and refuses other types with a loud
      * AnalysisException, where HLL++ hashed anything. */
    private def sketchDcount(c: Column): Column =
      hll_sketch_estimate(hll_sketch_agg(c, lit(14)))

    /** Parse a summarize aggregate list with the streaming flag scoped to
      * exactly this parse — one place owns the set/reset, so no summarize
      * call site can leak the flag (or forget it and silently produce an
      * exact countDistinct that dies mid-plan on a stream). */
    private def parseAggListFor(df: DataFrame): Seq[Column] = {
      streamingAggs = df.isStreaming
      try parseNamedAggList() finally { streamingAggs = false }
    }

    /** Streaming `summarize` — KQL text over a Structured Stream gains the
      * event-store's central idiom, `summarize agg() by bin(_ts, Δ)`: a
      * whole-group-expression `bin(ts, Δ)` lowers to a Spark event-time
      * `window(ts, Δ)` grouping, which is what lets Structured Streaming
      * treat the bucket as EVENT-TIME state (watermark eviction, append-
      * mode finalization) instead of an opaque derived column whose state
      * lives forever. `set streaming_watermark = <timespan>;` bounds
      * lateness (withWatermark on bin's source column — which must then be
      * a plain column reference); without it the aggregation still runs
      * under complete/update output modes with unbounded bucket state (the
      * bounded-replay correctness harness, not the 100 TB posture).
      * `window(ts, Δ).start` equals `bin(ts, Δ)` value-for-value — both
      * floor to the epoch-aligned Δ grid — so the bin column keeps its KQL
      * name and the batch oracle replays identical SQL, with ONE
      * documented divergence: rows whose event time is NULL are DROPPED by
      * the window lowering (Spark's event-time contract inserts an
      * IsNotNull filter — a null instant has no window), where the batch
      * bin buckets them under a NULL key; filter or coalesce null
      * timestamps upstream if they are meaningful. Non-binned streaming
      * summarize passes through unchanged (complete-mode regime) unless a
      * watermark was explicitly set (refused loudly — it would be silently
      * unbounded); the lean multi-distinct rewrite never applies on
      * streams (its join-back after aggregation is unsupported there). */
    private def streamingSummarize(df: DataFrame, by: Seq[Column],
        bins: Map[Int, (Option[String], Column, Long)], aggs: Seq[Column],
        meta: Seq[(String, Option[Column])]): DataFrame = {
      if (by.isEmpty || bins.isEmpty) {
        // an EXPLICIT watermark with nothing to attach to must not be
        // silently dropped — the user asked for bounded state and a
        // non-windowed streaming aggregation cannot provide it
        require(streamingWatermarkSec.isEmpty,
          "set streaming_watermark: this streaming summarize has no " +
            "whole-group bin(ts, <timespan>) time axis for the watermark " +
            "to attach to — add one, or remove the set statement " +
            "(complete-mode aggregation with unbounded bucket state)")
        return df.summarize(by, aggs: _*)
      }
      require(bins.size == 1,
        "summarize over a stream: at most one bin(...) time axis per " +
          "summarize (got " + bins.size + ")")
      val (binIdx, (tsName, tsExpr, secs)) = bins.head
      require(streamingWatermarkSec.isEmpty || tsName.isDefined,
        "set streaming_watermark: bin's first argument must be a " +
          "plain event-time column for the watermark to attach to")
      val names = df.select(by: _*).columns.toSeq
      val wmDf = streamingWatermarkSec match {
        case Some(lateSec) => df.withWatermark(tsName.get, s"$lateSec seconds")
        case None => df
      }
      val gcols = by.zipWithIndex.map { case (c, i) =>
        if (i == binIdx) window(tsExpr, s"$secs seconds") else c }
      // output order of groupBy(...).agg(...) is groups then aggs: rename
      // positionally (the window struct gets a placeholder), then project
      // the window's START under the bin element's KQL name
      val agged = wmDf.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
        .toDF(names.updated(binIdx, "__w") ++ meta.map(_._1): _*)
      agged.select(names.zipWithIndex.map { case (n, i) =>
        if (i == binIdx) col("__w").getField("start").as(n) else col(n) } ++
        meta.map(m => col(m._1)): _*)
    }

    /** Default summarize planning. When EXACT distinct aggregates mix with
      * other aggregates (or ≥2 distincts appear), Catalyst's plans carry
      * every plain partial buffer through a (group, value)-grained shuffle —
      * or an Expand that multiplies shuffle volume per distinct. The lean
      * form (proven by q_kql_agg_stats_lean, ~5× at sf0.1) computes each
      * distinct count as its own pre-distinct sub-aggregation — the
      * (group, value) pairs collapse map-side — and null-safe-joins the tiny
      * per-group results back onto the plain-aggregate base. Sketch
      * aggregates (hll/hll_if) stay in the base untouched: the user chose
      * approximate, the rewrite must not silently upgrade the cost. */
    private def leanOrPlainSummarize(df: DataFrame, by: Seq[Column],
        aggs: Seq[Column], meta: Seq[(String, Option[Column])]): DataFrame = {
      val dks = meta.collect { case (n, Some(k)) => (n, k) }
      val byNames = if (by.isEmpty) Nil else df.select(by: _*).columns.toSeq
      // the rewrite joins sub-aggregations back by NAME, so every output
      // name (group keys AND aggregates) must be unambiguous and safe to
      // quote; otherwise fall back to the plain Catalyst plan
      val allNames = byNames ++ meta.map(_._1)
      val namesSafe = allNames.distinct.size == allNames.size &&
        allNames.forall(n => !n.contains(".") && !n.contains("`"))
      val applicable = by.nonEmpty && dks.nonEmpty &&
        (meta.size > dks.size || dks.size >= 2) &&
        namesSafe && meta.size == aggs.size
      if (!applicable) return df.summarize(by, aggs: _*)
      val plainAggs = aggs.zip(meta).collect { case (a, (_, None)) => a }
      val base =
        if (plainAggs.nonEmpty) df.groupBy(by: _*).agg(plainAggs.head, plainAggs.tail: _*)
        else df.select(by: _*).distinct()
      val joined = dks.foldLeft(base) { case (acc, (n, key)) =>
        val sub = df.select(by :+ key.as("__graft_dk"): _*)
          .where(col("__graft_dk").isNotNull).distinct()
          .groupBy(byNames.map(col): _*).agg(count(lit(1)).as(n))
        val l = acc.alias("__l"); val r = sub.alias("__r")
        val cond = byNames.map(c => col(s"__l.`$c`") <=> col(s"__r.`$c`"))
          .reduce(_ && _)
        l.join(r, cond, "left_outer")
          .select(acc.columns.map(c => col(s"__l.`$c`")).toIndexedSeq :+
            coalesce(col(s"__r.`$n`"), lit(0L)).as(n): _*)
      }
      // contract column order: group keys, then aggregates in written order
      joined.select(byNames.map(c => col(s"`$c`")) ++
        meta.map { case (n, _) => col(s"`$n`") }: _*)
    }

    /** Expand any arg_max/arg_min(x, *) struct columns produced by this
      * summarize: the winning row's fields replace the struct, minus fields
      * that duplicate a group-key output column. */
    private def expandArgStar(out: DataFrame, aggs: Seq[Column]): DataFrame = {
      val starNames = out.columns.filter(expandAggs.contains)
      if (starNames.isEmpty) return out
      expandAggs --= starNames
      starNames.foldLeft(out) { (d, n) =>
        val others = d.columns.filterNot(_ == n)
        val fields = d.schema(n).dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
          .filterNot(others.contains)
        d.select(others.map(col).toIndexedSeq ++
          fields.map(f => col(s"$n.$f").as(f)): _*)
      }
    }

    private def defaultAggName(f: String): String = f match {
      case "count" => "count_"
      case other => other + "_"
    }

    // bin_auto() width armed by `let query_bin_auto_size = <literal>;`
    // (value, isTimespan) — see parseLetScalar
    private var autoBinSize: Option[(Long, Boolean)] = None

    // `set streaming_watermark = <timespan>;` — lateness bound applied by a
    // streaming windowed summarize (withWatermark on bin's source column);
    // seeded from the enclosing parser for sub-pipelines (partition/fork/
    // invoke legs), so a windowed streaming summarize inside a leg keeps
    // the program's explicit watermark instead of silently dropping it
    private var streamingWatermarkSec: Option[Long] = watermarkSec

    // set by parseBin's TIMESPAN form: (result column, source column name
    // when the first arg is a plain column, source expr, width seconds) —
    // harvested by parseProjList so a streaming summarize can recognize a
    // whole-group-expression bin and lower it to an event-time window()
    private var lastBin: Option[(Column, Option[String], Column, Long)] = None

    // per-element bin captures of the MOST RECENT parseProjList:
    // index-in-list → (ts column name, ts expr, width seconds)
    private var lastProjBins: Map[Int, (Option[String], Column, Long)] =
      Map.empty

    // arg_max(x, *) / arg_min(x, *): the agg evaluates to the whole winning row
    // as a struct; the enclosing summarize expands it (minus group keys). The
    // flag is set by parseAgg and harvested by parseNamedAggList.
    private var lastAggExpands = false
    private val expandAggs = scala.collection.mutable.Set[String]()

    private def parseAgg(fname: String): Column = {
      eatPunct("(")
      // take_any(*): any whole row — deterministic min-by-row (Kusto leaves
      // the winner unspecified; picking the struct-minimum row makes the
      // result replayable, the innerunique/make_bag determinism convention)
      if (fname == "take_any" && atPunct("*")) {
        pos += 1; eatPunct(")")
        lastAggExpands = true
        return min(struct(col("*")))
      }
      if ((fname == "arg_max" || fname == "arg_min") && {
        // lookahead: first arg, then ", *"
        val save = pos
        val probe = try { val _ = parseExpr(); atPunct(",") &&
          toks.lift(pos + 1).contains(Punct("*")) } catch { case _: Throwable => false }
        pos = save
        probe
      }) {
        val order = parseExpr()
        eatPunct(","); eatPunct("*")
        eatPunct(")")
        lastAggExpands = true
        lastAggDistinctKey = None // the order expr may have nested a sub-parse
        return if (fname == "arg_max") max_by(struct(col("*")), order)
               else min_by(struct(col("*")), order)
      }
      val args = if (atPunct(")")) Nil else {
        val out = Seq.newBuilder[Column]
        out += parseExpr()
        while (atPunct(",")) { pos += 1; out += parseExpr() }
        out.result()
      }
      eatPunct(")")
      // argument sub-parses (toscalar/invoke sub-queries) may have passed
      // through a NESTED distinct aggregate and left its key here — only
      // THIS aggregate's own case below may classify it as distinct
      lastAggDistinctKey = None
      fname match {
        case "count" => count(lit(1))
        case "countif" => sum(when(args.head, 1L).otherwise(0L))
        case "sum" => sum(args.head)
        case "sumif" => sum(when(args(1), args.head))
        case "avg" => avg(args.head)
        case "avgif" => avg(when(args(1), args.head))
        case "min" => min(args.head)
        case "minif" => min(when(args(1), args.head))
        case "max" => max(args.head)
        case "maxif" => max(when(args(1), args.head))
        // Kusto's dcount IS approximate (HLL-based; the exact countDistinct
        // mapping is this engine's batch oracle-friendly deviation). On a
        // STREAM the exact form is also UNSUPPORTED by Spark (distinct
        // aggregations cannot stream), so the streaming summarize maps the
        // family to the approximate sketch (lgK 14 — the hll_if
        // convention) — closer to Kusto AND the only form that runs
        case "dcount" =>
          lastAggDistinctKey = Some(args.head)
          if (streamingAggs) sketchDcount(args.head)
          else countDistinct(args.head)
        case "dcountif" =>
          val k = when(args(1), args.head)
          lastAggDistinctKey = Some(k)
          if (streamingAggs) sketchDcount(k)
          else countDistinct(k)
        case "hll" => approx_count_distinct(args.head)
        // mergeable DataSketches sketch (binary) — feeds hll_merge columns
        // and `evaluate dcount_intersect`; `hll` above keeps its historical
        // direct-estimate mapping (documented deviation)
        case "hll_sketch" => hll_sketch_agg(args.head)
        // merge stored sketches (two-level rollup: sketch per fine group,
        // union per coarse group — the merge touches GROUPS, never rows)
        case "hll_merge" => hll_union_agg(args.head)
        // KQL percentile takes 0-100; Spark's takes a [0,1] fraction
        case "percentile" => percentile(args.head, lit(litDouble(args(1)) / 100.0))
        case "percentiles" =>
          // multi-output: expands to percentile_<col>_<p> columns (Kusto names)
          val base = args.head
          val baseName = base.toString.replaceAll("[^A-Za-z0-9_]", "")
          val ps = args.tail.map(litDouble)
          lastAggExpands = true
          struct(ps.map { p =>
            val suffix = if (p == p.floor) p.toLong.toString else p.toString.replace('.', '_')
            percentile(base, lit(p / 100.0)).as(s"percentile_${baseName}_$suffix")
          }: _*)
        case "percentiles_array" =>
          // single dynamic column of the requested percentiles, in order
          array(args.tail.map(p =>
            percentile(args.head, lit(litDouble(p) / 100.0))): _*)
        case "percentilesw_array" =>
          weightedPercentiles(args.head, args(1),
            args.drop(2).map(p => litDouble(p) / 100.0))
        case "percentilew" =>
          element_at(weightedPercentiles(args.head, args(1),
            Seq(litDouble(args(2)) / 100.0)), 1)
        case "percentilesw" =>
          // percentilesw(x, w, p1, p2, ...): multi-output weighted form —
          // expands to percentilew_<col>_<p> columns like percentiles.
          // ONE aggregate call serves every requested percentile (the
          // element_at projections all reference the same agg expression,
          // so the group's pairs are buffered and sorted once)
          val base = args.head
          val baseName = base.toString.replaceAll("[^A-Za-z0-9_]", "")
          lastAggExpands = true
          val pcts = args.drop(2).map(litDouble)
          val agg = weightedPercentiles(base, args(1), pcts.map(_ / 100.0))
          struct(pcts.zipWithIndex.map { case (p, i) =>
            val suffix = if (p == p.floor) p.toLong.toString else p.toString.replace('.', '_')
            element_at(agg, i + 1).as(s"percentilew_${baseName}_$suffix")
          }: _*)
        case "make_bag" | "make_bag_if" =>
          // merge dynamic bags (map<string,string>, the pack_all convention).
          // Kusto leaves the collision winner unspecified; folding the SORTED
          // entry list first-wins makes the result deterministic and the
          // oracle replayable (documented deviation)
          val m = if (fname == "make_bag_if") when(args(1), args.head) else args.head
          // collect_SET, not list: first-wins over the sorted entries only
          // ever reads each DISTINCT (key, value) pair's minimum, and
          // duplicate occurrences never change a min — so set semantics is
          // exactly sufficient, the dedup happens MAP-SIDE in the partial
          // aggregate (state and shuffle bounded by distinct pairs, not
          // rows), and the interpreted first-wins fold below runs over
          // dozens of entries instead of the group's row count (measured:
          // the fold dominated q_kql_agg_misc at ~0.9 s for 60 groups ×
          // 1.6k rows)
          val entries = sort_array(flatten(collect_set(map_entries(m))))
          aggregate(entries, map().cast("map<string,string>"), (acc, e) =>
            when(map_contains_key(acc, e.getField("key")), acc)
              .otherwise(map_concat(acc, map(e.getField("key"), e.getField("value")))))
        case "covariance" | "covariancep" | "covarianceif" | "covariancepif" =>
          // exact-sums form like variancep: Σxy, Σx, Σy aggregate partially
          // map-side and are order-insensitive for integral-valued doubles,
          // so the oracle chain hash-matches. Rows with EITHER side null are
          // skipped (pair gating), matching Kusto and the SQL-standard covar.
          val (xc, yc) =
            if (fname.endsWith("if")) (when(args(2), args.head), when(args(2), args(1)))
            else (args.head, args(1))
          val both = xc.isNotNull && yc.isNotNull
          val x = when(both, xc).cast("double"); val y = when(both, yc).cast("double")
          val n = count(x).cast("double")
          val cov = sum(x * y) - sum(x) * sum(y) / n
          if (fname == "covariancep" || fname == "covariancepif") cov / n
          else cov / (n - 1)
        case "stdev" => stddev_samp(args.head)
        case "variance" => var_samp(args.head)
        case "make_set" => sort_array(collect_set(args.head))
        case "make_list" => collect_list(args.head)
        // *_if forms: collect_* skip nulls, so when(pred, x) filters exactly
        case "make_set_if" => sort_array(collect_set(when(args(1), args.head)))
        case "make_list_if" => collect_list(when(args(1), args.head))
        // collect_list drops nulls; boxing each value in a struct preserves
        // them (structs are never null here), then unbox — the Kusto
        // with-nulls contract
        case "make_list_with_nulls" =>
          transform(collect_list(struct(args.head.as("v"))), s => s.getField("v"))
        case "arg_max" => max_by(args(1), args.head)
        case "arg_min" => min_by(args(1), args.head)
        case "take_any" => first(args.head)
        case "take_anyif" | "anyif" => // anyif = the deprecated Kusto alias
          first(when(args(1), args.head), ignoreNulls = true)
        case "binary_all_and" => bit_and(args.head)
        case "binary_all_or" => bit_or(args.head)
        case "binary_all_xor" => bit_xor(args.head)
        case "count_distinctif" =>
          val k = when(args(1), args.head)
          lastAggDistinctKey = Some(k)
          // count_distinct is Kusto's EXACT variant: on a stream it cannot
          // run (Spark limitation) — refuse toward dcount rather than
          // silently approximating an operator whose whole contract is
          // exactness
          require(!streamingAggs, "count_distinctif over a stream: exact " +
            "distinct aggregation cannot stream — use dcountif " +
            "(approximate, the Kusto semantics)")
          countDistinct(k)
        case "count_distinct" =>
          lastAggDistinctKey = Some(args.head)
          require(!streamingAggs, "count_distinct over a stream: exact " +
            "distinct aggregation cannot stream — use dcount " +
            "(approximate, the Kusto semantics)")
          countDistinct(args.head)
        case "hll_if" => sketchDcount(when(args(1), args.head))
        // population / filtered variance family — composed from exact sums
        // (n, Σx, Σx²) instead of Spark's builtin stddev_pop: the builtin's
        // incremental M2 merge is partition-order-sensitive in float, so it
        // can't hash-match a DuckDB oracle; sums of integral-valued doubles
        // are exact in any order and still aggregate partially map-side
        case "variancep" | "stdevp" =>
          val xd = args.head.cast("double")
          val n = count(xd).cast("double")
          val v = (sum(xd * xd) - sum(xd) * sum(xd) / n) / n
          if (fname == "stdevp") sqrt(v) else v
        case "varianceif" | "stdevif" =>
          val xd = when(args(1), args.head).cast("double")
          val n = count(xd).cast("double")
          val v = (sum(xd * xd) - sum(xd) * sum(xd) / n) / (n - 1)
          if (fname == "stdevif") sqrt(v) else v
        // tdigest(x, lo, hi, nbins): deterministic histogram sketch (explicit
        // binning instead of Kusto's adaptive centroids — QuantileSketch doc)
        case "tdigest" =>
          graft.functions.QuantileSketch.tdigest(args.head,
            litLong(args(1)), litLong(args(2)), litLong(args(3)).toInt)
        case "tdigest_merge" | "merge_tdigest" =>
          graft.functions.QuantileSketch.tdigestMerge(args.head)
        case "tdigest_if" =>
          // tdigest_if(x, lo, hi, nbins, pred) — the filtered sketch form
          // (pred LAST, after the engine's explicit-binning args)
          graft.functions.QuantileSketch.tdigest(when(args(4), args.head),
            litLong(args(1)), litLong(args(2)), litLong(args(3)).toInt)
        case other => throw new IllegalArgumentException(s"unsupported aggregate: $other")
      }
    }

    /** percentilew/percentilesw body — EXACT weighted percentile: the
      * smallest x whose cumulative weight, in x-ascending order, reaches p
      * of the group's total weight (same definition and IEEE arithmetic as
      * the previous HOF formulation — results bit-identical). One typed
      * primitive-array buffer serves every requested percentile; see
      * QuantileSketch.WeightedPercentilesAgg for the cost model and the
      * collect-per-group bound. */
    private def weightedPercentiles(xc: Column, wc: Column, ps: Seq[Double]): Column =
      graft.functions.QuantileSketch.weightedPercentiles(xc, wc, ps)

    private def parseSortList(): Seq[Column] = {
      def one(): Column = {
        val e = parseExpr()
        // Kusto's default sort direction is DESCENDING (`sort by x` ≡
        // `sort by x desc`); Spark's defaults (asc = nulls first, desc =
        // nulls last) match Kusto's null placement, and an explicit
        // `nulls first|last` overrides it
        val dir = if (atIdent("desc")) { pos += 1; "desc" }
          else if (atIdent("asc")) { pos += 1; "asc" }
          else "desc"
        val nullsPos = if (atIdent("nulls")) {
          pos += 1
          ident() match {
            case "first" => Some(true)
            case "last" => Some(false)
            case o => throw new IllegalArgumentException(
              s"sort: expected nulls first|last, got nulls $o")
          }
        } else None
        (dir, nullsPos) match {
          case ("asc", Some(true)) => e.asc_nulls_first
          case ("asc", Some(false)) => e.asc_nulls_last
          case ("asc", None) => e.asc
          case (_, Some(true)) => e.desc_nulls_first
          case (_, Some(false)) => e.desc_nulls_last
          case _ => e.desc
        }
      }
      val out = Seq.newBuilder[Column]
      out += one()
      while (atPunct(",")) { pos += 1; out += one() }
      out.result()
    }

    // ---- expressions (precedence climbing) ----
    private def parseExpr(): Column = parseOr()

    private def parseOr(): Column = {
      var l = parseAnd()
      while (atIdent("or")) { pos += 1; l = l || parseAnd() }
      l
    }

    private def parseAnd(): Column = {
      var l = parseNot()
      while (atIdent("and")) { pos += 1; l = l && parseNot() }
      l
    }

    private def parseNot(): Column =
      if (atIdent("not")) { pos += 1; eatPunct("("); val e = parseExpr(); eatPunct(")"); !e }
      else parseCmp()

    private def parseCmp(): Column = {
      val l = parseAdd()
      peek match {
        case Some(Punct("==")) => pos += 1; l === parseAdd()
        case Some(Punct("=~")) => pos += 1; lower(l) === lower(parseAdd())
        case Some(Punct("!=")) => pos += 1; l =!= parseAdd()
        case Some(Punct("<")) => pos += 1; l < parseAdd()
        case Some(Punct("<=")) => pos += 1; l <= parseAdd()
        case Some(Punct(">")) => pos += 1; l > parseAdd()
        case Some(Punct(">=")) => pos += 1; l >= parseAdd()
        case Some(Ident("in")) =>
          pos += 1
          if (atPunct("~")) { // `in~`: case-insensitive membership
            pos += 1
            val lits = parseLitList()
            // case folding applies to string operands only; Kusto treats
            // in~ over non-strings as plain `in` (lower(cast) of a numeric
            // column renders "42.0" and would never match the literal "42")
            if (lits.forall(_.isInstanceOf[String]))
              lower(l).isin(lits.map(v => termString(v).toLowerCase): _*)
            else l.isin(lits: _*)
          } else l.isin(parseLitList(): _*)
        case Some(Punct("!in")) =>
          pos += 1
          if (atPunct("~")) {
            pos += 1
            val lits = parseLitList()
            if (lits.forall(_.isInstanceOf[String]))
              !lower(l).isin(lits.map(v => termString(v).toLowerCase): _*)
            else !l.isin(lits: _*)
          } else !l.isin(parseLitList(): _*)
        case Some(Punct("!~")) => pos += 1; lower(l) =!= lower(parseAdd())
        case Some(Ident("between")) =>
          pos += 1; eatPunct("(")
          val lo = parseAdd(); eatPunct(".."); val hi = parseAdd()
          eatPunct(")")
          l.between(lo, hi)
        // KQL's bare contains/startswith/endswith are CASE-INSENSITIVE (like =~
        // and has); the _cs suffix is the case-sensitive form
        case Some(Ident("contains")) => pos += 1; lower(l).contains(lower(parseAdd()))
        case Some(Ident("contains_cs")) => pos += 1; l.contains(parseAdd())
        case Some(Ident("startswith")) => pos += 1; lower(l).startsWith(lower(strLit()))
        case Some(Ident("startswith_cs")) => pos += 1; l.startsWith(strLit())
        case Some(Ident("endswith")) => pos += 1; lower(l).endsWith(lower(strLit()))
        case Some(Ident("endswith_cs")) => pos += 1; l.endsWith(strLit())
        case Some(Ident("has")) => pos += 1; KqlFunctions.has(l, strLitS())
        case Some(Ident("has_cs")) => pos += 1; KqlFunctions.hasCs(l, strLitS())
        case Some(Ident("hasprefix")) => pos += 1; KqlFunctions.hasPrefix(l, strLitS())
        case Some(Ident("hassuffix")) => pos += 1; KqlFunctions.hasSuffix(l, strLitS())
        case Some(Ident("hasprefix_cs")) =>
          pos += 1
          val q = java.util.regex.Pattern.quote(strLitS())
          l.rlike(s"(^|[^a-zA-Z0-9])$q")
        case Some(Ident("hassuffix_cs")) =>
          pos += 1
          val q = java.util.regex.Pattern.quote(strLitS())
          l.rlike(s"$q($$|[^a-zA-Z0-9])")
        case Some(Ident("has_any")) =>
          pos += 1; parseLitList().map(v => KqlFunctions.has(l, termString(v))).reduce(_ || _)
        case Some(Ident("has_all")) =>
          pos += 1; parseLitList().map(v => KqlFunctions.has(l, termString(v))).reduce(_ && _)
        case Some(Ident("has_any_prefix")) =>
          pos += 1
          parseLitList().map(v => KqlFunctions.hasPrefix(l, termString(v))).reduce(_ || _)
        case Some(Ident("has_all_prefix")) =>
          pos += 1
          parseLitList().map(v => KqlFunctions.hasPrefix(l, termString(v))).reduce(_ && _)
        case Some(Ident("matches")) => pos += 1; eatIdent("regex"); l.rlike(strLitS())
        // negated predicate forms (lexed as single '!'-prefixed idents)
        case Some(Punct("!has")) => pos += 1; !KqlFunctions.has(l, strLitS())
        case Some(Punct("!hasprefix")) => pos += 1; !KqlFunctions.hasPrefix(l, strLitS())
        case Some(Punct("!hassuffix")) => pos += 1; !KqlFunctions.hasSuffix(l, strLitS())
        case Some(Punct("!contains")) => pos += 1; !lower(l).contains(lower(parseAdd()))
        case Some(Punct("!startswith")) => pos += 1; !lower(l).startsWith(lower(strLit()))
        case Some(Punct("!endswith")) => pos += 1; !lower(l).endsWith(lower(strLit()))
        case Some(Punct("!between")) =>
          pos += 1; eatPunct("(")
          val lo = parseAdd(); eatPunct(".."); val hi = parseAdd()
          eatPunct(")")
          !l.between(lo, hi)
        case _ => l
      }
    }

    /** Literal → text term for `has_any`/`has_all`: an integral Double renders
      * without the trailing `.0` (Double.toString would yield "42.0", a term
      * that never matches the token "42" in text). */
    private def termString(v: Any): String = v match {
      case d: Double if d.isWhole && math.abs(d) < 1e15 => d.toLong.toString
      case other => other.toString
    }

    private def parseLitList(): Seq[Any] = {
      def scalar(): Any = next() match {
        case Num(s) => if (s.contains('.')) s.toDouble else s.toLong
        case Str(s) => s
        case Ident("true") => true
        case Ident("false") => false
        case other => throw new IllegalArgumentException(s"expected literal in in-list, got $other")
      }
      // an item is a scalar literal or a dynamic([...]) literal array whose
      // elements SPLICE into the list (Kusto's `x in (dynamic([...]))` /
      // `has_any (dynamic([...]))` forms)
      def one(): Seq[Any] =
        if (atIdent("dynamic") && toks.lift(pos + 1).contains(Punct("("))) {
          pos += 1; eatPunct("("); eatPunct("[")
          val vs = Seq.newBuilder[Any]
          if (!atPunct("]")) {
            vs += scalar()
            while (atPunct(",")) { pos += 1; vs += scalar() }
          }
          eatPunct("]"); eatPunct(")")
          vs.result()
        } else Seq(scalar())
      eatPunct("(")
      val out = Seq.newBuilder[Any]
      out ++= one()
      while (atPunct(",")) { pos += 1; out ++= one() }
      eatPunct(")")
      out.result()
    }

    private def strLitS(): String = next() match {
      case Str(s) => s
      case other => throw new IllegalArgumentException(s"expected string literal, got $other")
    }
    private def strLit(): Column = lit(strLitS())

    private def parseAdd(): Column = {
      var l = parseMul()
      var done = false
      while (!done) peek match {
        case Some(Punct("+")) => pos += 1; l = l + parseMul()
        case Some(Punct("-")) => pos += 1; l = l - parseMul()
        case _ => done = true
      }
      l
    }

    private def parseMul(): Column = {
      var l = parseUnary()
      var done = false
      while (!done) peek match {
        case Some(Punct("*")) => pos += 1; l = l * parseUnary()
        case Some(Punct("/")) => pos += 1; l = l / parseUnary()
        case Some(Punct("%")) => pos += 1; l = l % parseUnary()
        case _ => done = true
      }
      l
    }

    private def parseUnary(): Column =
      if (atPunct("-")) { pos += 1; -parsePostfix(parsePrimary()) }
      else parsePostfix(parsePrimary())

    /** Postfix access on dynamic/struct/array values: `x.field` (bag/struct
      * member) and `x[i]` (KQL 0-based array index / bag key — Spark's getItem
      * is 0-based for arrays too, so indices map verbatim). */
    private def parsePostfix(c0: Column): Column = {
      var c = c0
      var done = false
      while (!done) peek match {
        case Some(Punct(".")) if pos + 1 < toks.length &&
            toks(pos + 1).isInstanceOf[Ident] =>
          pos += 1; c = c.getField(ident())
        case Some(Punct("[")) =>
          pos += 1
          val i = parseExpr()
          eatPunct("]")
          c = if (litValues.containsKey(i)) c.getItem(litValues.get(i))
              else element_at(c, i + 1)
        case _ => done = true
      }
      c
    }

    private def parsePrimary(): Column = next() match {
      case Num(s) =>
        val v: Any = if (s.contains('.')) s.toDouble else s.toLong
        litCol(v, lit(v))
      case Str(s) => litCol(s, lit(s))
      case Punct("(") => val e = parseExpr(); eatPunct(")"); e
      case Ident("true") => lit(true)
      case Ident("false") => lit(false)
      // bare null literal (covers Kusto's typed nulls via long(null) etc.,
      // which cast it on the way out)
      case Ident("null") => lit(null)
      case Ident(ts) if isTimespanLit(ts) =>
        val secs = timespanSeconds(ts)
        litCol(secs, lit(secs))
      case Ident("bin") if atPunct("(") => parseBin()
      case Ident("bin_auto") if atPunct("(") =>
        // bin_auto(x): bin at the let-bound query_bin_auto_size (timespan →
        // time binning, integer → numeric binning); default 1h unset
        eatPunct("("); val v = parseExpr(); eatPunct(")")
        autoBinSize match {
          case Some((w, false)) => (floor(v / w) * w).cast("long")
          case Some((w, true))  => Bin.ts(v, w)
          case None             => Bin.ts(v, 3600L)
        }
      case Ident("toscalar") if atPunct("(") =>
        // toscalar(T | ...): first column of the first row as a literal —
        // a bounded driver-side collect of exactly ONE value (like Kusto,
        // which materializes the subquery result at plan time)
        val sub = parseSubQuery()
        val row = sub.limit(1).collect()
        val v: Any = if (row.isEmpty || row.head.isNullAt(0)) null else row.head.get(0)
        litCol(v, lit(v))
      case Ident("dynamic") if atPunct("(") => parseDynamic()
      case Ident("series_fir") if atPunct("(") => parseSeriesFir()
      case Ident("series_iir") if atPunct("(") => parseSeriesIir()
      case Ident("column_ifexists") if atPunct("(") =>
        // column_ifexists('name', default) — the column when the operator
        // input has it, else the default expression (resolved at parse time)
        pos += 1
        val name = peek match {
          case Some(Str(s)) => pos += 1; s
          case _ => ident()
        }
        eatPunct(",")
        val dflt = parseExpr()
        eatPunct(")")
        if (curCols(name)) col(name) else dflt
      case Ident(f) if atPunct("(") => parseScalarCall(f)
      case Ident(name) =>
        letScalars.getOrElse(name, scalarBindings.getOrElse(name, col(name)))
      case other => throw new IllegalArgumentException(s"unexpected token in expression: $other")
    }

    private def isTimespanLit(s: String): Boolean =
      s.length > 1 && s.init.forall(_.isDigit) &&
        (s.last == 'h' || s.last == 'm' || s.last == 's' || s.last == 'd')

    /** Timespan literal → whole seconds (bin() widths etc.). */
    private def timespanSeconds(s: String): Long = {
      val n = s.init.toLong
      s.last match {
        case 's' => n
        case 'm' => n * 60
        case 'h' => n * 3600
        case 'd' => n * 86400
      }
    }

    private def parseScalarCall(f: String): Column = {
      if (f == "bag_pack_columns") {
        // bag_pack_columns(c1, c2, ...) — a bag keyed by the column NAMES,
        // so the args must be parsed as identifiers, not value expressions.
        // Values stringify (map<string,string>) — the pack_all convention
        // (documented deviation: Kusto keeps typed values).
        eatPunct("(")
        val names = Seq.newBuilder[String]
        names += ident()
        while (atPunct(",")) { pos += 1; names += ident() }
        eatPunct(")")
        return map(names.result()
          .flatMap(n => Seq(lit(n), col(n).cast("string"))): _*)
      }
      if (f == "extract") {
        // extract(regex, captureGroup, text [, typeof(type)]) — the 4th
        // argument is a TYPE LITERAL, not an expression, so it is read as
        // raw tokens (the mv-expand `to typeof(...)` convention); the typed
        // form converts with try semantics (unconvertible capture → null,
        // Kusto's contract — a plain cast would raise under ANSI)
        eatPunct("(")
        val re = parseExpr(); eatPunct(",")
        val grp = parseExpr(); eatPunct(",")
        val src = parseExpr()
        val ty = if (atPunct(",")) {
          pos += 1; eatIdent("typeof"); eatPunct("(")
          val t = kqlType(ident()); eatPunct(")"); Some(t)
        } else None
        eatPunct(")")
        val base = regexp_extract(src, litString(re), litLong(grp).toInt)
        // Typed semantics: no-match → null (regexp_extract's "" try_casts to
        // null for every non-string type; typeof(string) distinguishes a
        // matched-but-empty capture — kept as "" — from no-match — null —
        // via an explicit match test). The UNTYPED form keeps Spark's
        // empty-string-on-no-match (documented deviation).
        return ty.fold(base) {
          case "string" => when(regexp_like(src, lit(litString(re))), base)
          case t => base.try_cast(t)
        }
      }
      eatPunct("(")
      val args = if (atPunct(")")) Nil else {
        val out = Seq.newBuilder[Column]
        out += parseExpr()
        while (atPunct(",")) { pos += 1; out += parseExpr() }
        out.result()
      }
      eatPunct(")")
      f match {
        // serialized-order row functions (require `| sort by ... | serialize`;
        // placeholders materialized distributively by the enclosing extend)
        case "row_number" if args.isEmpty => rowFnPlaceholder(RowNumber(_))
        case "row_number" =>
          // row_number(startingIndex [, restart]): the restart form reuses the
          // distributed restart-cumsum machinery (rank = running count of rows
          // since the last restart, which resets BEFORE counting itself)
          val start = args.head.cast("long")
          val base =
            if (args.length > 1) rowFnPlaceholder(CumSumOf(_, lit(1L), Some(args(1))))
            else rowFnPlaceholder(RowNumber(_))
          base + start - lit(1L)
        case "prev" => rowFnPlaceholder(PrevOf(_, args.head,
          if (args.length > 1) litLong(args(1)).toInt else 1, args.lift(2)))
        case "next" => rowFnPlaceholder(NextOf(_, args.head,
          if (args.length > 1) litLong(args(1)).toInt else 1, args.lift(2)))
        case "row_cumsum" => rowFnPlaceholder(CumSumOf(_, args.head, args.lift(1)))
        case "row_rank_dense" => rowFnPlaceholder(RankDense(_, args.head))
        case "row_rank_min" => rowFnPlaceholder(RankMin(_, args.head))
        case "row_window_session" =>
          // row_window_session(ts, maxDuration, idleTimeout): idle-gap sessions,
          // split further at maxDuration rollovers (see WindowSession)
          rowFnPlaceholder(WindowSession(_, args.head, litLong(args(2)),
            Some(litLong(args(1)))))
        case "strlen" => length(args.head)
        case "tolower" => lower(args.head)
        case "toupper" => upper(args.head)
        // KQL substring is 0-based; Spark's is 1-based
        case "substring" =>
          if (args.length == 3) args.head.substr(args(1) + 1, args(2))
          else args.head.substr(args(1) + 1, length(args.head))
        case "strcat" => concat_ws("", args: _*)
        case "split" =>
          // split(s, delim [, index]): Kusto returns a dynamic ARRAY in the
          // indexed form too — one element, or empty when the index is OOB
          val parts = split(args.head, java.util.regex.Pattern.quote(litString(args(1))))
          if (args.length > 2) {
            val e = try_element_at(parts, args(2).cast("int") + 1)
            when(e.isNull, array().cast("array<string>")).otherwise(array(e))
          } else parts
        case "replace_string" => replace(args.head, args(1), args(2))
        case "replace_strings" =>
          // replace_strings(text, lookups, rewrites): fold the zipped pairs
          // IN ORDER over the text (later pairs see earlier rewrites, the
          // Kusto contract); array args are ordinary columns, not parse-time
          // literals, so the fold stays fully distributed
          aggregate(
            zip_with(args(1), args(2), (f, t) => struct(f.as("f"), t.as("t"))),
            args.head.cast("string"),
            (acc, p) => replace(acc, p.getField("f"), p.getField("t")))
        case "regex_quote" =>
          // escape each regex metacharacter with a backslash (RE2/Java agree
          // on this escape set, so the oracle's regexp_replace replays it)
          regexp_replace(args.head, "([.*+?^$(){}\\[\\]|\\\\/])", "\\\\$1")
        case "estimate_data_size" =>
          // engine-neutral estimate (documented deviation from Kusto's
          // type-table): Σ per non-null column of octet_length(tostring(v))+1
          args.map(a =>
            when(a.isNotNull, octet_length(a.cast("string")) + 1).otherwise(0))
            .reduce(_ + _)
        case "replace_regex" =>
          // Kusto rewrite syntax uses \1 capture refs; Java's Matcher uses $1
          // (and treats bare $ as special) — translate at plan time
          val rewrite = litString(args(2))
            .replace("$", "\\$")
            .replaceAll("""\\(\d)""", """\$$1""")
          regexp_replace(args.head, litString(args(1)), rewrite)
        case "trim" =>
          // KQL trim(regex, source) strips leading+trailing matches; the
          // 1-arg whitespace form is kept as a convenience
          if (args.length == 2) {
            val re = litString(args.head)
            regexp_replace(args(1), s"^(?:$re)+|(?:$re)+$$", "")
          } else trim(args.head)
        case "trim_start" =>
          regexp_replace(args(1), s"^(?:${litString(args.head)})+", "")
        case "trim_end" =>
          regexp_replace(args(1), s"(?:${litString(args.head)})+$$", "")
        case "iff" | "iif" => when(args.head, args(1)).otherwise(args(2))
        case "coalesce" => coalesce(args: _*)
        case "make_string" =>
          // Unicode codepoints → string (native kernel: Spark chr() is
          // ASCII-only); invalid codepoints → null
          call_function("graft_make_string", args.head.cast("array<int>"))
        case "to_utf8" =>
          // string → UTF-8 byte values; make_string∘decode inverts it for
          // well-formed input
          call_function("graft_to_utf8", args.head.cast("string"))
        case "base64_encode_fromarray" =>
          // inverse of base64_decode_toarray: byte-value array → base64.
          // Pure codegen chain: int → 2-hex-digit → unhex → base64.
          base64(unhex(array_join(transform(args.head.cast("array<int>"),
            x => lpad(conv(x.cast("string"), 10, 16), 2, "0")), "")))
        case "extent_tags" =>
          // extent tags are an ingest-time management concept; the fixture
          // store tracks none — constant empty array (the extent_id
          // convention: surface real, data deviation documented)
          array().cast("array<string>")
        case "ai_chat_completion" | "ai_chat_completion_prompt" =>
          // Kusto's chat-completion plugin surface with the model STUBBED
          // (no model/egress in this container — the ai_embed_text
          // convention, documented): a DETERMINISTIC md5-derived completion
          // string, so the Spark-side plumbing of the real data-engineering
          // use — distillation/labeling pipelines that fan prompts out and
          // aggregate the responses — is testable and oracle-replayable.
          // Swapping in a real model endpoint is this one expression.
          concat(lit("stub-completion:"),
            substring(md5(args.head.cast("string")), 1, 8))
        case "ai_embed_text" =>
          // Kusto's text-embedding plugin surface with the ai model STUBBED
          // (this container has no model/egress — the multimodal convention):
          // a DETERMINISTIC fake embedding derived from md5 of the text, so
          // the Spark-side plumbing (schema array<double>, codegen scalar
          // chain, downstream ANN joins) is real and oracle-replayable. Each
          // of the 8 dims reads 4 md5 hex digits → [−0.5, 0.5).
          val th = md5(args.head.cast("string"))
          array((0 until 8).map { i =>
            conv(substring(th, i * 4 + 1, 4), 16, 10).cast("double") / 65536.0 - 0.5
          }: _*)
        case "array_sum" =>
          // nulls skipped (Kusto); double accumulator, the array-fn convention
          aggregate(filter(args.head, x => x.isNotNull), lit(0.0),
            (a, x) => a + x.cast("double"))
        case "array_avg" =>
          val nn = filter(args.head, x => x.isNotNull)
          when(size(nn) > 0,
            aggregate(nn, lit(0.0), (a, x) => a + x.cast("double")) / size(nn))
        case "base64_encode_fromguid" =>
          // inverse of base64_decode_toguid: un-dash, restore the .NET
          // mixed-endian byte order (groups 1-3 byte-reversed), hex → base64
          val gh = lower(regexp_replace(args.head.cast("string"), lit("-"), lit("")))
          def gbytes(idx: Int*): Column =
            concat(idx.map(i => substring(gh, i * 2 + 1, 2)): _*)
          when(length(gh) === 32, base64(unhex(concat(
            gbytes(3, 2, 1, 0), gbytes(5, 4), gbytes(7, 6), substring(gh, 17, 16)))))
        case "rand" =>
          // deviation (documented): DETERMINISTIC stream (xxhash64 of the
          // partition-monotonic row id, normalized) instead of Kusto's
          // random — the new_guid replayability convention
          val r01 = pmod(xxhash64(monotonically_increasing_id()), lit(1000000000L))
            .cast("double") / lit(1.0e9)
          if (args.isEmpty) r01 else floor(r01 * args.head.cast("double")).cast("long")
        case "repeat" =>
          // repeat(value, count) → array (negative count → empty, Kusto)
          array_repeat(args.head, greatest(args(1).cast("int"), lit(0)))
        case "dynamic_to_json" =>
          // canonical JSON text of a dynamic (map/array/struct)
          to_json(args.head)
        case "parse_ipv6_mask" =>
          // canonical form with bits past the literal prefix zeroed — the
          // ipv6_lookup hex-digit masking, re-coloned
          val pfxM = litLong(args(1)).toInt
          require(pfxM >= 0 && pfxM <= 128, s"parse_ipv6_mask: prefix 0..128, got $pfxM")
          val hx = translate(graft.functions.KqlFunctions.parseIpv6(args.head), ":", "")
          val fullM = pfxM / 4; val remM = pfxM % 4
          val masked =
            if (remM == 0) rpad(substring(hx, 1, fullM), 32, "0")
            else {
              val dg = conv(substring(hx, fullM + 1, 1), 16, 10).cast("int")
              val mm = dg.bitwiseAND(lit(~((1 << (4 - remM)) - 1) & 0xF))
              rpad(concat(substring(hx, 1, fullM),
                lower(conv(mm.cast("string"), 10, 16))), 32, "0")
            }
          when(hx.isNotNull, concat_ws(":",
            (0 until 8).map(i => substring(masked, i * 4 + 1, 4)): _*))
        case "assert" =>
          // assert(cond, message) — true or fails the query (Kusto semantics)
          when(args.head, lit(true)).otherwise(
            call_function("raise_error", if (args.length > 1) args(1) else lit("assert failed"))
              .cast("boolean"))
        case "current_principal" =>
          // no auth subsystem (documented): a fixed engine principal
          lit("graftuser@graft")
        case "cursor_current" => lit("0")
        case "ingestion_time" =>
          // the ingest contract's mandatory _ts column (Tables.scala); the
          // fixture tables carry it as `ts`
          col(if (curColsSeq.contains("_ts")) "_ts" else "ts")
        case "extent_id" =>
          // Spark's extent analogue is the input file; GUID-formatted md5 of
          // its path (documented mapping)
          val fh = md5(call_function("input_file_name"))
          concat_ws("-", substring(fh, 1, 8), substring(fh, 9, 4),
            substring(fh, 13, 4), substring(fh, 17, 4), substring(fh, 21, 12))
        case "parse_user_agent" =>
          // compact mainstream-family detection (KqlFunctions.parseUserAgent;
          // deviation from the uap-core data corpus documented there).
          // Accepts 'browser' / 'os' / a dynamic list of both.
          val want: Seq[String] = args.drop(1).flatMap { a =>
            require(litValues.containsKey(a),
              "parse_user_agent: selectors must be literal ('browser'/'os' or a dynamic list of them)")
            litValues.get(a) match {
              case s: String => Seq(s)
              case cols: Seq[_] => cols.collect { // spliced dynamic([...]) list
                case c: Column if litValues.containsKey(c) => litValues.get(c).toString
              }
              case other => Seq(other.toString)
            }
          }
          val wantSet = if (want.isEmpty) Set("browser") else want.map(_.toLowerCase).toSet
          val unknown = wantSet -- Set("browser", "os")
          require(unknown.isEmpty,
            s"parse_user_agent: unsupported selector(s) ${unknown.mkString(", ")} (browser/os)")
          graft.functions.KqlFunctions.parseUserAgent(args.head,
            wantSet.contains("browser"), wantSet.contains("os"))
        case "isutf8" =>
          // valid iff the UTF-8 decode→re-encode round-trips the bytes;
          // string inputs cast to their UTF-8 bytes (valid by construction),
          // binary inputs are genuinely validated; null → false
          val ub = args.head.cast("binary")
          ub.isNotNull &&
            call_function("encode", call_function("decode", ub, lit("UTF-8")),
              lit("UTF-8")) === ub
        case "new_guid" =>
          // deviation (documented): a DETERMINISTIC per-row GUID (md5 of the
          // partition-monotonic row id) instead of Kusto's random v4 — the
          // engine-wide replayability convention; note the stream depends on
          // the partition layout, so persist it at ingest if stability across
          // re-partitioning matters
          val gh = md5(monotonically_increasing_id().cast("string"))
          concat_ws("-", substring(gh, 1, 8), substring(gh, 9, 4),
            substring(gh, 13, 4), substring(gh, 17, 4), substring(gh, 21, 12))
        case "isnull" => args.head.isNull
        case "isnotnull" => args.head.isNotNull
        case "isempty" => args.head.isNull || args.head === ""
        case "isnotempty" => args.head.isNotNull && args.head =!= ""
        case "abs" => abs(args.head)
        case "floor" => floor(args.head)
        case "ceiling" => ceil(args.head)
        case "round" => if (args.length == 2) round(args.head, litLong(args(1)).toInt) else round(args.head)
        case "sqrt" => sqrt(args.head)
        case "log" => log(args.head)
        case "log10" => log10(args.head)
        case "log2" => log2(args.head)
        case "exp2" => pow(lit(2.0), args.head)
        case "exp10" => pow(lit(10.0), args.head)
        case "exp" => exp(args.head)
        case "pow" => pow(args.head, args(1))
        case "sign" => signum(args.head)
        case "tostring" => args.head.cast("string")
        case "toint" | "int" => args.head.cast("int")
        case "tolong" | "long" => args.head.cast("long")
        case "todouble" | "toreal" | "real" | "double" => args.head.cast("double")
        case "tobool" => args.head.cast("boolean")
        case "todecimal" => args.head.cast("decimal(38,18)")
        case "todatetime" => args.head.cast("timestamp")
        case "datetime" => args.head.cast("timestamp")
        case "startofday" | "startofweek" | "startofmonth" | "startofquarter"
           | "startofyear" | "endofweek" | "endofmonth" | "endofquarter"
           | "endofyear" =>
          // unified startof*/endof* with Kusto's optional OFFSET argument:
          // startofX(t, n) = start of the period n periods after t's period;
          // endofX(t, n) = last µs of that period. KQL weeks start on SUNDAY
          // (Spark's date_trunc('week') is Monday-based, hence the day form).
          val isEnd = f.startsWith("endof")
          val unit = f.stripPrefix("startof").stripPrefix("endof")
          val start0 = unit match {
            case "week" =>
              date_trunc("day", date_sub(args.head, dayofweek(args.head) - 1))
            case u => date_trunc(u, args.head)
          }
          val off = if (args.length > 1) args(1).cast("int") else lit(0)
          def shift(extra: Int): Column = unit match {
            case "week" => timestamp_add("DAY", off * 7 + lit(extra * 7), start0)
            case "day" => timestamp_add("DAY", off + lit(extra), start0)
            case u => timestamp_add(u.toUpperCase, off + lit(extra), start0)
          }
          if (!isEnd) shift(0)
          else timestamp_micros(unix_micros(shift(1)) - 1)
        case "parse_ipv4" => KqlFunctions.parseIpv4(args.head)
        case "format_ipv4" => KqlFunctions.formatIpv4(args.head)
        case "ipv4_is_private" => KqlFunctions.ipv4IsPrivate(args.head)
        case "ipv4_is_in_range" => KqlFunctions.ipv4IsInRange(args.head, args(1))
        case "ipv6_is_in_range" => KqlFunctions.ipv6IsInRange(args.head, args(1))
        case "parse_ipv4_mask" =>
          // parse_ipv4_mask(ip, prefix) — the ip's long with host bits zeroed
          KqlFunctions.ipMask(KqlFunctions.parseIpv4(args.head),
            args(1).cast("int"))
        case "ipv4_compare" => KqlFunctions.ipv4Compare(args.head, args(1),
          if (args.length > 2) args(2) else lit(32))
        case "ipv4_is_match" => KqlFunctions.ipv4IsMatch(args.head, args(1),
          if (args.length > 2) args(2) else lit(32))
        case "format_ipv4_mask" =>
          // format_ipv4_mask(ip, prefix) → "a.b.c.d/prefix" with host bits zeroed
          val bits = args(1).cast("int")
          concat(KqlFunctions.formatIpv4(
              KqlFunctions.ipMask(KqlFunctions.parseIpv4(args.head), bits)),
            lit("/"), bits.cast("string"))
        case "ipv4_netmask_suffix" =>
          // the /prefix of a range string, 32 when absent
          val halves = split(args.head.cast("string"), "/")
          when(size(halves) > 1, element_at(halves, 2).cast("int"))
            .otherwise(lit(32)).cast("long")
        case "has_ipv4" =>
          KqlFunctions.hasIpv4(args.head.cast("string"), args(1).cast("string"))
        case "has_ipv4_prefix" =>
          KqlFunctions.hasIpv4Prefix(args.head.cast("string"), args(1).cast("string"))
        case "has_any_ipv4" | "has_any_ipv4_prefix" =>
          // accepts both variadic scalars and Kusto's dynamic(['a','b'])
          // array form (elements recovered from the literal registry)
          val ipFn: (Column, Column) => Column =
            if (f == "has_any_ipv4") KqlFunctions.hasIpv4
            else KqlFunctions.hasIpv4Prefix
          val ipTerms = args.tail.flatMap { a =>
            litValues.get(a) match {
              case s: Seq[_] => s.asInstanceOf[Seq[Column]]
              case _ => Seq(a)
            }
          }
          ipTerms.map(ip => ipFn(args.head.cast("string"), ip.cast("string")))
            .reduce(_ || _)
        case "ipv4_is_in_any_range" =>
          // ip ∈ any of the listed CIDR ranges (2+ range args, each a
          // string — the security-staple form). Standard 3-valued OR: true
          // dominates, else null if anything was unparsable. When every
          // range is a LITERAL (the overwhelmingly common call shape), the
          // bounds are computed at PLAN time and the whole check is one
          // parse + a between-chain — not one parse tree per range.
          require(args.size >= 2, "ipv4_is_in_any_range(ip, range, ...)")
          val litBounds = args.tail.map(a =>
            if (litValues.containsKey(a)) cidrBounds(litValues.get(a).toString)
            else None)
          if (litBounds.forall(_.isDefined)) {
            val v = KqlFunctions.parseIpv4(args.head)
            litBounds.flatten
              .map { case (lo, hi) => v.between(lit(lo), lit(hi)) }
              .reduce(_ || _)
          } else args.tail.map(r => KqlFunctions.ipv4IsInRange(args.head, r))
            .reduce(_ || _)
        case "ipv6_is_in_any_range" =>
          // the 128-bit analogue over the canonical-hex prefix kernel;
          // ranges are per-arg (data-driven prefix lengths allowed)
          require(args.size >= 2, "ipv6_is_in_any_range(ip, range, ...)")
          args.tail.map(r => KqlFunctions.ipv6IsInRange(args.head, r))
            .reduce(_ || _)
        case "ipv4_range_to_cidr_list" =>
          KqlFunctions.ipv4RangeToCidrList(args.head.cast("string"), args(1).cast("string"))
        case "geo_info_from_ip_address" =>
          // IP geolocation surface. DEVIATION (documented): Kusto resolves
          // against the MaxMind GeoLite2 database — external licensed data
          // that cannot ship here. The MECHANISM is real (CIDR containment,
          // most-specific-first, private/unroutable → null fields) over an
          // embedded fixture of documentation/TEST-NET and well-known
          // anycast ranges; swapping in real MMDB data means replacing this
          // literal list with an ipv4_lookup against the loaded range table
          // (the ipv4Lookup plugin is that path at scale). Output struct
          // matches Kusto's field names: country/state/city/latitude/
          // longitude.
          val geoFixture: Seq[(String, String, String, String, Double, Double)] = Seq(
            ("192.0.2.0/24", "United States", "California", "Los Angeles", 34.0522, -118.2437),
            ("198.51.100.0/24", "United Kingdom", "England", "London", 51.5074, -0.1278),
            ("203.0.113.0/24", "Australia", "New South Wales", "Sydney", -33.8688, 151.2093),
            ("8.8.8.0/24", "United States", "California", "Mountain View", 37.386, -122.0838),
            ("1.1.1.0/24", "Australia", "Queensland", "South Brisbane", -27.4766, 153.0166),
            ("9.9.9.0/24", "United States", "California", "Berkeley", 37.8715, -122.2730))
          val nullInfo = struct(
            lit(null).cast("string").as("country"),
            lit(null).cast("string").as("state"),
            lit(null).cast("string").as("city"),
            lit(null).cast("double").as("latitude"),
            lit(null).cast("double").as("longitude"))
          // ONE parse + a bounds when-chain (the fixture CIDRs resolve to
          // [lo, hi] at plan time) — not one parse tree per fixture row
          val ipv = KqlFunctions.parseIpv4(args.head)
          geoFixture.foldLeft(nullInfo) {
            case (acc, (cidr, country, state, city, la, lo)) =>
              val (blo, bhi) = cidrBounds(cidr).get
              when(ipv.between(lit(blo), lit(bhi)),
                struct(lit(country).as("country"), lit(state).as("state"),
                  lit(city).as("city"), lit(la).as("latitude"),
                  lit(lo).as("longitude"))).otherwise(acc)
          }
        case "parse_ipv6" => KqlFunctions.parseIpv6(args.head)
        case "ipv6_compare" =>
          // canonical zero-padded hex compares lexicographically = numerically
          val a = KqlFunctions.parseIpv6(args.head)
          val b = KqlFunctions.parseIpv6(args(1))
          when(a.isNull || b.isNull, lit(null).cast("long"))
            .otherwise(when(a < b, -1L).when(a > b, 1L).otherwise(0L))
        case "ipv6_is_match" =>
          // ipv6_is_match(a, b, prefixBits) — literal prefix; compares the
          // leading prefixBits of the canonical forms (whole nibbles plus a
          // masked partial nibble)
          val pfx = if (args.size > 2) litLong(args(2)).toInt else 128
          require(pfx >= 0 && pfx <= 128, s"ipv6_is_match: prefix 0..128, got $pfx")
          val na = translate(KqlFunctions.parseIpv6(args.head), ":", "")
          val nb = translate(KqlFunctions.parseIpv6(args(1)), ":", "")
          val fullN = pfx / 4
          val rem = pfx % 4
          val wholeEq = na.substr(1, fullN) === nb.substr(1, fullN)
          val partEq = if (rem == 0) lit(true) else {
            def nib(c: Column) = shiftright(
              conv(c.substr(fullN + 1, 1), 16, 10).cast("int"), 4 - rem)
            nib(na) === nib(nb)
          }
          when(na.isNull || nb.isNull, lit(null).cast("boolean"))
            .otherwise(wholeEq && partEq)
        case "now" | "current_utcdatetime" => current_timestamp()
        case "ago" => // ago(5m) — timespan literal arg arrives as whole seconds
          timestamp_micros(unix_micros(current_timestamp()) -
            args.head.cast("long") * 1000000L)
        case "datetime_add" =>
          val unit = litString(args.head) match {
            case "year" => "YEAR"; case "quarter" => "QUARTER"
            case "month" => "MONTH"; case "week" => "WEEK"; case "day" => "DAY"
            case "hour" => "HOUR"; case "minute" => "MINUTE"; case "second" => "SECOND"
            case u => throw new IllegalArgumentException(s"unsupported datetime_add unit: $u")
          }
          timestamp_add(unit, args(1), args(2))
        case "format_datetime" =>
          // KQL .NET-style pattern → JVM pattern (the shared subset is
          // literal-identical: yyyy MM dd HH mm ss); KQL 'tt' (AM/PM) → 'a'
          date_format(args.head, litString(args(1)).replace("tt", "a"))
        case "getyear" => year(args.head)
        case "getmonth" | "monthofyear" => month(args.head)
        case "dayofmonth" => dayofmonth(args.head)
        case "dayofyear" => dayofyear(args.head)
        case "week_of_year" | "weekofyear" => weekofyear(args.head) // ISO 8601, like Kusto
        case "hourofday" => hour(args.head)
        case "unixtime_seconds_todatetime" =>
          timestamp_seconds(args.head.cast("long"))
        case "unixtime_milliseconds_todatetime" =>
          timestamp_millis(args.head.cast("long"))
        case "unixtime_microseconds_todatetime" =>
          timestamp_micros(args.head.cast("long"))
        case "unixtime_nanoseconds_todatetime" =>
          timestamp_micros((args.head.cast("long") / 1000L).cast("long"))
        case "todynamic" | "parse_json" => KqlFunctions.todynamic(args.head)
        // string
        case "indexof" =>
          // indexof(s, sub [, start]) — 0-based, -1 absent; start is a
          // literal offset (the common Kusto form)
          if (args.length == 2) instr(args.head, litString(args(1))) - 1
          else {
            val st0 = litLong(args(2)).toInt
            require(st0 >= 0, s"indexof: start must be non-negative, got $st0")
            val found = locate(litString(args(1)), args.head, st0 + 1)
            when(found > 0, (found - 1).cast("long")).otherwise(lit(-1L))
          }
        case "countof" =>
          // countof(s, term [, 'normal'|'regex'])
          if (args.length > 2 && litString(args(2)) == "regex")
            size(regexp_extract_all(args.head, lit(litString(args(1))), lit(0))).cast("long")
          else KqlFunctions.countof(args.head, litString(args(1)))
        case "extractjson" | "extract_json" =>
          // extractjson(jsonPath, doc): KQL path order (path first)
          get_json_object(args(1), litString(args.head))
        case "parse_url" =>
          // dynamic bag with the Kusto property names (string values)
          map(
            lit("Scheme"), call_function("parse_url", args.head, lit("PROTOCOL")),
            lit("Host"), call_function("parse_url", args.head, lit("HOST")),
            lit("Port"), coalesce(call_function("parse_url", args.head, lit("PORT")), lit("")),
            lit("Path"), call_function("parse_url", args.head, lit("PATH")),
            lit("Query String"), coalesce(call_function("parse_url", args.head, lit("QUERY")), lit("")))
        case "strcat_delim" => concat_ws(litString(args.head), args.tail: _*)
        case "strrep" => repeat(args.head, litLong(args(1)).toInt)
        case "reverse" => reverse(args.head)
        case "tohex" => lower(hex(args.head))
        case "strcmp" =>
          when(args.head < args(1), -1).when(args.head > args(1), 1).otherwise(0)
        case "percentile_tdigest" =>
          graft.functions.QuantileSketch.percentileTdigest(args.head, litLong(args(1)))
        case "percentiles_array_tdigest" | "percentile_array_tdigest" =>
          // percentiles_array_tdigest(td, p1, p2, ...) — one sketch walk per
          // literal percentile, packed as a dynamic array (the singular
          // spelling is accepted as an alias; Kusto documents the plural)
          array(args.tail.map(p =>
            graft.functions.QuantileSketch.percentileTdigest(args.head,
              litLong(p))): _*)
        case "string_size" => octet_length(args.head).cast("long") // UTF-8 bytes
        case "unicode_codepoints_from_string" =>
          // per-char codepoints; BMP contract (same as Bpe): UTF-16 code units
          transform(filter(split(args.head, ""), c => c =!= ""),
            c => ascii(c).cast("long"))
        case "unicode_codepoints_to_string" =>
          concat_ws("", transform(args.head, c => call_function("char", c.cast("long"))))
        case "set_has_element" => array_contains(args.head, args(1))
        case "has_any_index" =>
          // 0-based index of the first term the source `has` (token match,
          // alphanumeric terms — the tokenizing fast path of `has`), -1 none
          val hits = transform(args(1), t =>
            array_contains(split(lower(args.head), "[^a-z0-9]+"), lower(t)))
          coalesce(array_position(hits, lit(true)) - 1, lit(-1L))
        case "indexof_regex" =>
          // 0-based offset of the first regex match; regexp_instr is 1-based
          // with 0 = no match, so a plain shift gives KQL's -1 sentinel
          call_function("regexp_instr", args.head, args(1)).cast("long") - 1
        case "parse_csv" =>
          // RFC-4180-ish single-record split: quoted cells may hold commas
          // and doubled quotes; one linear regex pass, no UDF
          val matches = regexp_extract_all(args.head,
            lit("(?:^|,)(\"(?:[^\"]|\"\")*\"|[^,]*)"), lit(1))
          transform(matches, f =>
            when(f.startsWith("\"") && f.endsWith("\"") && length(f) >= 2,
              regexp_replace(f.substr(lit(2), length(f) - 2), "\"\"", "\""))
              .otherwise(f))
        case "parse_command_line" =>
          // parse_command_line(cmd, "windows"): argv split — tokens are runs
          // of non-space chars where "..." segments may hold spaces (quotes
          // removed), the CommandLineToArgvW core. Documented deviation:
          // backslash-quote escape runs are not interpreted.
          val toks = regexp_extract_all(args.head.cast("string"),
            lit("(?:[^\\s\"]|\"[^\"]*\")+"), lit(0))
          transform(toks, t => regexp_replace(t, "\"", ""))
        case "datetime_part" =>
          // Kusto part names are a superset of Spark's date_part fields;
          // normalize the common ones (WeekOfYear → WEEK)
          val part = litString(args.head).toUpperCase match {
            case "WEEKOFYEAR" | "WEEK_OF_YEAR" => "WEEK"
            case "DAYOFYEAR" => "DOY"
            case p => p
          }
          call_function("date_part", lit(part), args(1)).cast("long")
        case "translate" =>
          // KQL translate(from, to, source); Spark translate(src, from, to)
          translate(args(2), litString(args.head), litString(args(1)))
        case "extract_all" if args.length == 3 =>
          // extract_all(regex, dynamic([g1, g2, ...]), text) — each match
          // emits its selected capture groups as an array (array of arrays).
          // The group list is a dynamic LITERAL (recovered from the literal
          // registry, the has_any_ipv4 convention); per-group extraction
          // columns zip positionally — every group of one match aligns by
          // match index.
          val pat = litString(args.head)
          val groups = litValues.get(args(1)) match {
            case s: Seq[_] => s.asInstanceOf[Seq[Column]].map(c => litLong(c).toInt)
            case _ => throw new IllegalArgumentException(
              "extract_all: capture groups must be a dynamic literal array")
          }
          require(groups.nonEmpty, "extract_all: at least one capture group")
          val per = groups.map(g => regexp_extract_all(args(2), lit(pat), lit(g)))
          // Kusto: exactly ONE listed group yields a FLAT array (same as the
          // 2-arg form for that group); several yield an array per match
          if (groups.size == 1) per.head
          else when(size(per.head) === 0,
            array().cast("array<array<string>>"))
            .otherwise(transform(sequence(lit(1), size(per.head)), i =>
              array(per.map(p => element_at(p, i)): _*)))
        case "extract_all" =>
          // KQL extract_all(regex, source) — all matches (of group 1 if the
          // pattern has a group, else the whole match)
          val pat = litString(args.head)
          val grp = if (java.util.regex.Pattern.compile(pat).matcher("").groupCount() > 0) 1 else 0
          regexp_extract_all(args(1), lit(pat), lit(grp))
        case "base64_encode_tostring" => base64(args.head.cast("binary"))
        case "base64_decode_tostring" => unbase64(args.head).cast("string")
        case "base64_decode_toguid" =>
          // 16 decoded bytes → canonical lowercase 8-4-4-4-12; else null.
          // .NET/Kusto Guid layout: the first three groups are little-endian
          // (bytes 0-3, 4-5 and 6-7 reversed), the last two are big-endian.
          val gb = unbase64(args.head)
          val ghx = lower(hex(gb))
          def bytes(idx: Int*): Column =
            concat(idx.map(i => substring(ghx, i * 2 + 1, 2)): _*)
          when(length(gb) === 16, concat_ws("-",
            bytes(3, 2, 1, 0), bytes(5, 4), bytes(7, 6),
            substring(ghx, 17, 4), substring(ghx, 21, 12)))
        case "make_datetime" =>
          // make_datetime(y, mo, d [, h, mi, s]) — s may be fractional
          require(args.length == 3 || args.length == 6,
            "make_datetime takes (y, mo, d) or (y, mo, d, h, mi, s)")
          val a6 = if (args.length == 6) args
            else args ++ Seq(lit(0), lit(0), lit(0))
          make_timestamp(a6(0), a6(1), a6(2), a6(3), a6(4), a6(5).cast("double"))
        case "make_timespan" =>
          // make_timespan(h, m) | (h, m, s) | (d, h, m, s) → seconds (the
          // engine-wide timespan convention)
          val secs = args.length match {
            case 2 => args(0) * 3600 + args(1) * 60
            case 3 => args(0) * 3600 + args(1) * 60 + args(2)
            case 4 => args(0) * 86400 + args(1) * 3600 + args(2) * 60 + args(3)
            case n => throw new IllegalArgumentException(
              s"make_timespan takes 2-4 arguments, got $n")
          }
          secs.cast("long")
        case "current_database" => lit("default") // single-store engine
        case "current_cluster_endpoint" => lit("local")
        case "datetime_utc_to_local" =>
          // IANA-zone wall-clock of a UTC instant (JVM tzdata — same rule
          // source as the oracle's; zones must be literal for a static plan)
          from_utc_timestamp(args.head, litString(args(1)))
        case "datetime_local_to_utc" =>
          to_utc_timestamp(args.head, litString(args(1)))
        case "base64_decode_toarray" =>
          // bytes as a long array via the hex round-trip (both engines print
          // uppercase hex, so the digit arithmetic is replayable)
          val h = hex(unbase64(args.head.cast("string")))
          transform(sequence(lit(1), (length(h) / 2).cast("int")),
            i => conv(h.substr(i * 2 - 1, lit(2)), 16, 10).cast("long"))
        case "parse_path" =>
          // Kusto parse_path subset (no Scheme/RootPath/ADS, documented):
          // DirectoryPath / DirectoryName / Filename / Extension as a string
          // bag; separators / and \ both recognized
          val p0 = args.head.cast("string")
          map(
            lit("DirectoryPath"), regexp_extract(p0, "^(.*)[/\\\\][^/\\\\]*$", 1),
            lit("DirectoryName"), regexp_extract(p0, "([^/\\\\]+)[/\\\\][^/\\\\]*$", 1),
            lit("Filename"), regexp_extract(p0, "([^/\\\\]*)$", 1),
            lit("Extension"), regexp_extract(p0, "\\.([^./\\\\]*)$", 1))
        case "parse_urlquery" =>
          // query-parameter bag; accepts a bare query string or a full URL
          // (everything through '?' is stripped). Kusto nests this under
          // "Query Parameters" — flattened here (documented deviation).
          val q0 = regexp_replace(args.head.cast("string"), "^[^?]*\\?", "")
          str_to_map(q0, lit("&"), lit("="))
        case "zlib_compress_to_base64_string" | "zlib_decompress_from_base64_string"
           | "gzip_compress_to_base64_string" | "gzip_decompress_from_base64_string"
           | "punycode_from_string" | "punycode_to_string"
           | "punycode_domain_from_string" | "punycode_domain_to_string"
           | "text_normalize_nfc" | "text_normalize_nfkc" =>
          // native codec expressions (CodecExpressions.scala), registered by
          // GraftExtensions — per-row java.util.zip / RFC 3492 work,
          // codegen-friendly
          call_function(graft.plans.CodecExpressions.names(f), args.head.cast("string"))
        case "parse_xml" =>
          // XML → dynamic: the native codec expression produces the canonical
          // JSON mapping (CodecExpressions.xmlToJson — Kusto's element/
          // attribute/#text contract), then try_parse_json lifts it to a
          // variant; malformed XML → empty string → null (Kusto's contract)
          try_parse_json(call_function(
            graft.plans.CodecExpressions.names(f), args.head.cast("string")))
        case "url_encode" | "url_encode_component" =>
          call_function("url_encode", args.head)
        case "url_decode" => call_function("url_decode", args.head)
        // crawl-pipeline URL canonicalization (not Kusto; TextAnalysis.scala)
        case "url_normalize" => graft.functions.TextAnalysis.urlNormalize(args.head)
        case "isascii" => !args.head.rlike("[^\\x00-\\x7F]") && args.head.isNotNull
        // distinct-count readout of a stored/merged hll sketch
        case "dcount_hll" => hll_sketch_estimate(args.head)
        case "toguid" =>
          // canonical 8-4-4-4-12 hex form, lowercased; anything else → null
          when(args.head.rlike(
            "^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$"),
            lower(args.head))
        case "parse_version" =>
          // canonical comparable form: up to 4 dot-parts, each scaled 1e8
          val parts = split(args.head, "\\.")
          aggregate(sequence(lit(0), lit(3)), lit(0).cast("decimal(38,0)"),
            (acc, i) => acc * 100000000L +
              coalesce(try_element_at(parts, i + 1).cast("decimal(38,0)"), lit(0)))
        case "hash" => // engine-portable content hash (md5-based 60-bit; the
          // same portable trick as Dedup.contentHash — NOT xxhash64, whose
          // values are engine-specific)
          val h = conv(substring(md5(args.head.cast("string")), 1, 15), 16, 10).cast("long")
          if (args.length > 1) pmod(h, args(1)) else h
        case "hash_xxhash64" =>
          // the explicitly-xxhash64 form: here the ALGORITHM is the contract
          // (Spark's builtin xxhash64 seed 42), unlike `hash` whose contract
          // is portability
          val hx = xxhash64(args.head)
          if (args.length > 1) pmod(hx, args(1)) else hx
        case "hash_many" | "hash_combine" =>
          // hash_many: one hash over all the values; hash_combine: combiner
          // over already-computed hash values. Both use the same portable
          // md5-60-bit definition as `hash` (deviation documented: Kusto's
          // exact combiner is engine-internal; ours is replayable anywhere).
          // Terms are LENGTH-PREFIXED before joining so distinct tuples can
          // never collide via separator characters inside a value
          // (hash_many('a|b','c') ≠ hash_many('a','b|c')).
          val encoded = args.map { a =>
            val s = a.cast("string")
            concat(length(s).cast("string"), lit(":"), s)
          }
          conv(substring(md5(concat_ws("|", encoded: _*)), 1, 15),
            16, 10).cast("long")
        case "binary_and" => args.head.bitwiseAND(args(1))
        case "binary_or" => args.head.bitwiseOR(args(1))
        case "binary_xor" => args.head.bitwiseXOR(args(1))
        case "binary_shift_left" => shiftleft(args.head, litLong(args(1)).toInt)
        case "binary_shift_right" => shiftright(args.head, litLong(args(1)).toInt)
        case "binary_not" => bitwise_not(args.head)
        case "gettype" => typeof(args.head)
        case "isfinite" => !isnan(args.head) && args.head =!= Double.PositiveInfinity &&
          args.head =!= Double.NegativeInfinity
        case "isinf" => args.head === Double.PositiveInfinity ||
          args.head === Double.NegativeInfinity
        case "pi" => lit(math.Pi)
        case "sin" => sin(args.head)
        case "geo_distance_2points" =>
          // haversine on the mean-radius sphere (R = 6371 km). Deviation
          // (documented): Kusto computes the WGS84 geodesic; the spherical
          // approximation is within 0.5% and keeps the expression a pure
          // codegen'd arithmetic chain.
          geoDistance(args(0), args(1), args(2), args(3))
        case "geo_point_in_circle" =>
          // geo_point_in_circle(lon, lat, centerLon, centerLat, radius_m)
          geoDistance(args(0), args(1), args(2), args(3)) <= args(4).cast("double")
        case "geo_point_to_geohash" =>
          val p = if (args.length > 2) litLong(args(2)).toInt else 5
          require(p >= 1 && p <= 10,
            s"geo_point_to_geohash precision must be 1..10, got $p")
          geoHashEncode(args(0), args(1), p)
        case "geo_geohash_to_central_point" => geoHashDecode(args.head)
        case "geo_geohash_neighbors" =>
          // native index-space ±1 offsets, bit-compatible with the encode
          // chain (GeoHashExpressions.scala) — the spatial-join key expander
          call_function("graft_geohash_neighbors", args.head.cast("string"))
        case "geo_point_to_s2cell" =>
          // real S2 (public spec: quadratic face projection + Hilbert cell
          // ids, S2Expressions.scala). Level must be a literal, like the
          // geohash precision; Kusto's default level is 11.
          val lvl = if (args.length > 2) litLong(args(2)).toInt else 11
          require(lvl >= 0 && lvl <= 30,
            s"geo_point_to_s2cell level must be 0..30, got $lvl")
          call_function("graft_s2_cell",
            args(0).cast("double"), args(1).cast("double"), lit(lvl))
        case "geo_s2cell_to_central_point" =>
          // deviation (documented): returns [lng, lat] (the ring/point array
          // convention used across the geo family) instead of GeoJSON;
          // single expression = ONE token decode per row
          call_function("graft_s2_center_point", args.head.cast("string"))
        case "geo_polygon_to_s2cells" =>
          // COMPLETE covering (S2Expressions.coverRing): region-grow over
          // same-level neighbors keeping padded-box-intersecting cells —
          // the bucketed points×polygons join key (deviation, documented:
          // takes a bare vertex ring like the rest of the geo family, and
          // emits a fixed-level covering, not Kusto's multi-level one —
          // fixed-level is what an equi-join needs)
          val coverLvl = if (args.length > 1) args(1).cast("int") else lit(11)
          call_function("graft_s2_cover",
            args.head.cast("array<array<double>>"), coverLvl)
        case "geo_line_to_s2cells" =>
          // line analogue of the polygon covering (S2Expressions
          // .coverPolyline): the bucket-key producer for route×points joins
          val lineLvl = if (args.length > 1) args(1).cast("int") else lit(11)
          call_function("graft_s2_cover_line",
            args.head.cast("array<array<double>>"), lineLvl)
        case "geo_s2cell_to_polygon" =>
          // cell boundary as the repo's bare vertex ring (deviation from
          // Kusto's GeoJSON dynamic, documented at S2Expressions.cellPolygon)
          call_function("graft_s2_cell_polygon", args.head.cast("string"))
        case "geo_geohash_to_polygon" =>
          call_function("graft_geohash_polygon", args.head.cast("string"))
        case "geo_h3cell_to_polygon" =>
          // Voronoi-dual hexagon boundary (H3Expressions.cellPolygon)
          call_function("graft_h3_cell_polygon", args.head.cast("string"))
        case "geo_s2cell_neighbors" =>
          // same-level neighbors via the published AppendAllNeighbors +
          // cross-face FromFaceIJWrap (S2Expressions.scala)
          call_function("graft_s2_neighbors", args.head.cast("string"))
        case "geo_point_to_h3cell" =>
          // H3-style aperture-7 hex cells (H3Expressions.scala — published
          // framework; base-cell enumeration is a DOCUMENTED deviation from
          // libh3, see the object doc). Resolution literal like the geohash
          // precision; Kusto's default resolution is 9.
          val h3res = if (args.length > 2) litLong(args(2)).toInt else 9
          require(h3res >= 0 && h3res <= 15,
            s"geo_point_to_h3cell resolution must be 0..15, got $h3res")
          call_function("graft_h3_cell",
            args(0).cast("double"), args(1).cast("double"), lit(h3res))
        case "geo_h3cell_to_central_point" =>
          // deviation (documented): [lng, lat] array like the geo family
          call_function("graft_h3_center_point", args.head.cast("string"))
        case "geo_h3cell_neighbors" =>
          call_function("graft_h3_neighbors", args.head.cast("string"))
        case "geo_h3cell_level" =>
          // res field of the index: hex token → bits 55-52
          shiftright(conv(args.head.cast("string"), 16, 10).cast("long"), 52)
            .bitwiseAND(lit(0xFL)).cast("int")
        case "geo_h3cell_parent" =>
          // default: one level coarser (the Kusto contract)
          val pres =
            if (args.length > 1) args(1).cast("int")
            else (shiftright(conv(args.head.cast("string"), 16, 10).cast("long"), 52)
              .bitwiseAND(lit(0xFL)).cast("int") - 1)
          call_function("graft_h3_parent", args.head.cast("string"), pres)
        case "geo_h3cell_children" =>
          call_function("graft_h3_children", args.head.cast("string"))
        case "geo_h3cell_rings" =>
          call_function("graft_h3_rings", args.head.cast("string"), args(1).cast("int"))
        case "geo_intersection_2polygons" | "geo_union_2polygons" =>
          // Greiner–Hormann clipping (PolygonClipExpressions.scala) over the
          // geo family's bare vertex rings; deviations documented there
          call_function(
            if (f == "geo_intersection_2polygons") "graft_polygon_intersection"
            else "graft_polygon_union",
            args(0).cast("array<array<double>>"), args(1).cast("array<array<double>>"))
        case "geo_line_simplify" =>
          // Ramer–Douglas–Peucker, meters tolerance (default 10 m like Kusto)
          val tol = if (args.length > 1) args(1).cast("double") else lit(10.0)
          call_function("graft_line_simplify",
            args.head.cast("array<array<double>>"), tol)
        case "geo_intersects_2polygons" =>
          // boolean form of the clipper: a non-null intersection ring
          call_function("graft_polygon_intersection",
            args(0).cast("array<array<double>>"),
            args(1).cast("array<array<double>>")).isNotNull
        case "geo_intersects_line_with_polygon" =>
          call_function("graft_geo_line_in_poly",
            args(0).cast("array<array<double>>"), args(1).cast("array<array<double>>"))
        case "geo_line_densify" | "geo_polygon_densify" =>
          // planar linear interpolation (documented; Kusto densifies along
          // the geodesic) to a meters spacing, default 100 m
          val dtol = if (args.length > 1) args(1).cast("double") else lit(100.0)
          call_function(
            if (f == "geo_line_densify") "graft_geo_densify_line"
            else "graft_geo_densify_ring",
            args.head.cast("array<array<double>>"), dtol)
        case "geo_simplify_polygons_array" =>
          val stol = if (args.length > 1) args(1).cast("double") else lit(10.0)
          call_function("graft_geo_simplify_rings",
            args.head.cast("array<array<array<double>>>"), stol)
        case "geo_polygon_simplify" =>
          // single-ring form of geo_simplify_polygons_array (same anchored
          // RDP kernel over a one-ring array)
          val ptol = if (args.length > 1) args(1).cast("double") else lit(10.0)
          element_at(call_function("graft_geo_simplify_rings",
            array(args.head.cast("array<array<double>>")), ptol), 1)
        case "geo_union_lines_array" =>
          // collection union: the valid (≥2-vertex) input lines as ONE
          // multiline array, null when none survive. Documented deviation:
          // no geometric noding/merging of overlapping segments (Kusto
          // unions to a GeoJSON MultiLineString; the geo family here is
          // bare vertex arrays throughout).
          val ulines = filter(args.head.cast("array<array<array<double>>>"),
            l => size(l) >= 2)
          when(args.head.isNull || size(ulines) === 0,
            lit(null).cast("array<array<array<double>>>")).otherwise(ulines)
        case "geo_union_polygons_array" =>
          // left fold of the pairwise Greiner–Hormann union; null once a
          // step disconnects (documented largest-ring/null deviations)
          call_function("graft_geo_union_rings",
            args.head.cast("array<array<array<double>>>"), lit(0.0))
        case "geo_intersection_line_with_polygon" =>
          // the inside parts of the polyline as a multiline (array of lines)
          call_function("graft_geo_clip_line",
            args(0).cast("array<array<double>>"), args(1).cast("array<array<double>>"))
        case "geo_point_in_polygon" =>
          geoPointInPolygon(args(0), args(1), args(2))
        case "geo_line_length" => geoLineLength(args.head)
        case "geo_distance_point_to_line" =>
          geoPointToLine(args(0), args(1), args(2))
        case "geo_closest_point_on_line" =>
          geoClosestPointOnLine(args(0), args(1), args(2).cast("array<array<double>>"))
        case "geo_distance_point_to_polygon" =>
          geoPointToPolygon(args(0), args(1), args(2).cast("array<array<double>>"))
        case "geo_closest_point_on_polygon" =>
          geoClosestPointOnPolygon(args(0), args(1),
            args(2).cast("array<array<double>>"))
        case "geo_azimuth" =>
          geoAzimuth(args(0), args(1), args(2), args(3))
        case "geo_angle" =>
          // clockwise angle in [0, 2π) between two FORWARD azimuths: 8
          // scalars = lines [p1,p2] and [p3,p4]; 6 scalars = the convenience
          // chain [p1,p2] and [p2,p3] (≡ the 8-arg form with p3 = p2 — the
          // turn/deflection angle at p2, ONE consistent convention for both
          // arities). The difference of the two published forward azimuths —
          // no extra spherical machinery needed.
          if (args.length == 6)
            pmod(geoAzimuth(args(2), args(3), args(4), args(5)) -
              geoAzimuth(args(0), args(1), args(2), args(3)), lit(2 * math.Pi))
          else
            pmod(geoAzimuth(args(4), args(5), args(6), args(7)) -
              geoAzimuth(args(0), args(1), args(2), args(3)), lit(2 * math.Pi))
        case "geo_line_centroid" =>
          // length-weighted planar centroid (PolygonClip.lineCentroid;
          // deviation documented: equirect segment frame, bare [lng, lat])
          call_function("graft_geo_line_centroid",
            args.head.cast("array<array<double>>"), lit(0.0))
        case "geo_intersects_2lines" =>
          // any segment pair meets (touching/collinear count)
          call_function("graft_geo_lines_intersect",
            args(0).cast("array<array<double>>"), args(1).cast("array<array<double>>"))
        case "geo_intersection_2lines" =>
          // proper crossing points, scan order, deduped; bare point array
          // (deviation from GeoJSON MultiPoint, documented)
          call_function("graft_geo_lines_intersection",
            args(0).cast("array<array<double>>"), args(1).cast("array<array<double>>"))
        case "geo_line_buffer" =>
          // radius-neighborhood polygon of a polyline (PolygonClip
          // .bufferLine — G-H union of segment rects + vertex 16-gons).
          // Kusto's optional 3rd argument (tolerance, meters) tunes the
          // join-arc vertex density; accepted and ignored — the fixed
          // 16-gon joins are the documented deviation.
          call_function("graft_geo_buffer_line",
            args.head.cast("array<array<double>>"), args(1).cast("double"))
        case "geo_polygon_buffer" =>
          call_function("graft_geo_buffer_ring",
            args.head.cast("array<array<double>>"), args(1).cast("double"))
        case "geo_point_buffer" =>
          // circle-around-point polygon (geofence construction). Deviation
          // (documented): a fixed 24-gon in the local equirectangular
          // projection on the mean-radius sphere, emitted as the repo's bare
          // CCW vertex ring (Kusto: tolerance-adaptive vertex count on the
          // WGS84 geodesic, GeoJSON output). Composes directly with
          // geo_point_in_polygon / geo_polygon_lookup.
          val lngc = args(0).cast("double"); val latc = args(1).cast("double")
          val rDeg = args(2).cast("double") / lit(6371000.0) * lit(180.0 / math.Pi)
          val cosl = cos(radians(latc))
          transform(sequence(lit(0), lit(23)), i => {
            val th = i.cast("double") * lit(2 * math.Pi / 24)
            array(lngc + rDeg * cos(th) / cosl, latc + rDeg * sin(th))
          })
        case "series_fft" | "series_ifft" =>
          // struct(re, im) result — bind with `extend (fr, fi) = series_fft(x)`
          val imArg = if (args.length > 1) args(1).cast("array<double>")
            else array().cast("array<double>")
          call_function(if (f == "series_fft") "graft_series_fft"
            else "graft_series_ifft", args.head.cast("array<double>"), imArg)
        case "geo_polygon_area" => geoPolygonArea(args.head)
        // perimeter of a closed ring = Σ haversine over consecutive vertices
        case "geo_polygon_perimeter" => geoLineLength(args.head)
        case "geo_polygon_centroid" => geoPolygonCentroid(args.head)
        case "cos" => cos(args.head)
        case "tan" => tan(args.head)
        case "acos" => acos(args.head)
        case "asin" => asin(args.head)
        case "atan" => atan(args.head)
        case "cot" => lit(1.0) / tan(args.head)
        case "atan2" => atan2(args.head, args(1))
        case "degrees" => degrees(args.head)
        case "radians" => radians(args.head)
        case "not" => !args.head.cast("boolean")
        case "gamma" => graft.functions.Units.gamma(args.head)
        case "loggamma" => graft.functions.Units.loggamma(args.head)
        // statistical special functions — native codegen'd kernels
        // (StatExpressions.scala: Lanczos lgamma, Lentz continued fractions)
        case "erf" | "erfc" =>
          call_function(graft.plans.StatExpressions.names(f), args.head.cast("double"))
        case "beta_cdf" | "beta_pdf" | "beta_inv" =>
          call_function(graft.plans.StatExpressions.names(f),
            args(0).cast("double"), args(1).cast("double"), args(2).cast("double"))
        // unit conversions: value * factor(from) / factor(to), factors
        // resolved at plan time from the literal unit names (Units.scala)
        case "convert_length" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.length, "length")
        case "convert_mass" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.mass, "mass")
        case "convert_angle" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.angle, "angle")
        case "convert_speed" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.speed, "speed")
        case "convert_energy" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.energy, "energy")
        case "convert_force" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.force, "force")
        case "convert_volume" =>
          graft.functions.Units.convert(args.head, litString(args(1)),
            litString(args(2)), graft.functions.Units.volume, "volume")
        case "convert_temperature" =>
          graft.functions.Units.convertTemperature(args.head,
            litString(args(1)), litString(args(2)))
        case "rank_tdigest" =>
          graft.functions.QuantileSketch.rankTdigest(args.head, args(1))
        case "percentrank_tdigest" =>
          graft.functions.QuantileSketch.percentrankTdigest(args.head, args(1))
        // scalar comparison / conditional
        case "around" =>
          // around(value, center, delta) — |v − c| ≤ δ over numerics (the
          // Kusto doc surface; datetime callers compare unix micros)
          abs(args.head.cast("double") - args(1).cast("double")) <=
            args(2).cast("double")
        case "max_of" => greatest(args: _*)
        case "min_of" => least(args: _*)
        case "case" =>
          // case(p1, v1, p2, v2, ..., default)
          require(args.length >= 3 && args.length % 2 == 1,
            "case() needs predicate/value pairs plus a default")
          KqlFunctions.caseOf(args.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq,
            args.last)
        case "isnan" => isnan(args.head)
        // numeric binning anchored at a fixed point
        case "bin_at" =>
          floor((args.head - args(2)) / args(1)) * args(1) + args(2)
        // datetime
        case "dayofweek" =>
          // KQL: days since Sunday (timespan); emitted as whole days 0-6
          (dayofweek(args.head) - 1).cast("long")
        case "endofday" =>
          // last representable µs of the day (the fixture's tick is µs);
          // optional offset shifts by whole days first
          val eodOff = if (args.length > 1) args(1).cast("int") else lit(0)
          timestamp_micros(unix_micros(timestamp_add("DAY", eodOff,
            date_trunc("day", args.head))) + 86399999999L)
        case "datetime_diff" =>
          // KQL: datetime_diff(part, later, earlier) counts PERIOD-BOUNDARY
          // crossings, not whole elapsed units (Jan-2 00:00:01 minus
          // Jan-1 23:59:59 is 1 day): diff the boundary-truncated operands.
          val part = litString(args.head)
          val later = args(1); val earlier = args(2)
          def truncDiff(unitSec: Long): Column =
            ((unix_micros(date_trunc(part, later)) -
              unix_micros(date_trunc(part, earlier))) / lit(unitSec * 1000000L))
              .cast("long")
          part match {
            case "second" => truncDiff(1L)
            case "minute" => truncDiff(60L)
            case "hour"   => truncDiff(3600L)
            case "day"    => truncDiff(86400L)
            case "week" =>
              // Kusto weeks roll at Sunday 00:00; epoch day 0 (1970-01-01) is
              // a Thursday, so day d falls in week floor((d + 4) / 7)
              def wk(c: Column) =
                floor((floor(unix_micros(c) / 86400000000.0) + 4) / 7.0).cast("long")
              wk(later) - wk(earlier)
            case "month" =>
              ((year(later) * 12 + month(later)) -
                (year(earlier) * 12 + month(earlier))).cast("long")
            case "quarter" =>
              ((year(later) * 4 + quarter(later)) -
                (year(earlier) * 4 + quarter(earlier))).cast("long")
            case "year" => (year(later) - year(earlier)).cast("long")
            case u => throw new IllegalArgumentException(s"unsupported datetime_diff unit: $u")
          }
        // dynamic/array
        case "array_length" => size(args.head).cast("long")
        case "pack_array" => array(args: _*)
        case "repeat" => array_repeat(args.head, args(1).cast("int"))
        case "range" =>
          // scalar range(start, stop, step) → inclusive stepped array (the
          // tabular `range x from a to b step s` source parses separately)
          sequence(args.head, args(1), if (args.length > 2) args(2) else lit(1))
        case "array_shift_left" | "array_shift_right" =>
          // shift left by n (negative → right; array_shift_right negates),
          // vacated slots take the optional fill (default null) — Kusto
          // semantics. The If guard keeps ANSI element_at off out-of-range
          // indices.
          val nIn = args(1).cast("int")
          val n = if (f == "array_shift_right") -nIn else nIn
          val fill = if (args.length > 2) args(2) else lit(null)
          val arr = args.head
          transform(arr, (_, i) =>
            when(i + n >= 0 && i + n < size(arr), element_at(arr, i + n + 1))
              .otherwise(fill))
        case "array_iff" =>
          // element-wise conditional over three same-length arrays; length
          // mismatches yield null elements (try_element_at), like Kusto
          transform(args.head, (c, i) =>
            when(c, try_element_at(args(1), i + 1))
              .otherwise(try_element_at(args(2), i + 1)))
        case "series_add" | "series_subtract" | "series_multiply" | "series_divide" =>
          zip_with(args.head, args(1), (x, y) => {
            val (a, b) = (x.cast("double"), y.cast("double"))
            f match {
              case "series_add" => a + b
              case "series_subtract" => a - b
              case "series_multiply" => a * b
              case _ =>
                // Kusto dynamic division is IEEE (±Infinity / NaN on zero
                // divisors); ANSI Spark raises instead, so spell it out
                when(b === 0.0,
                  when(a > 0, lit(Double.PositiveInfinity))
                    .when(a < 0, lit(Double.NegativeInfinity))
                    .otherwise(lit(Double.NaN)))
                  .otherwise(a / b)
            }
          })
        case "series_abs" => transform(args.head, v => abs(v.cast("double")))
        case "series_sign" => transform(args.head, v => signum(v.cast("double")))
        // floor/ceil return long in Spark; Kusto dynamic numbers stay real
        case "series_floor" =>
          transform(args.head, v => floor(v.cast("double")).cast("double"))
        case "series_ceiling" =>
          transform(args.head, v => ceil(v.cast("double")).cast("double"))
        case "series_round" =>
          transform(args.head, v => round(v.cast("double")).cast("double"))
        case "series_exp" => transform(args.head, v => exp(v.cast("double")))
        case "series_log" => transform(args.head, v => log(v.cast("double")))
        case "series_sin" => transform(args.head, v => sin(v.cast("double")))
        case "series_cos" => transform(args.head, v => cos(v.cast("double")))
        case "series_tan" => transform(args.head, v => tan(v.cast("double")))
        case "series_pow" => // scalar exponents via repeat(x, array_length(s))
          zip_with(args.head, args(1),
            (x, y) => pow(x.cast("double"), y.cast("double")))
        case "series_asin" => transform(args.head, v => asin(v.cast("double")))
        case "series_acos" => transform(args.head, v => acos(v.cast("double")))
        case "series_atan" => transform(args.head, v => atan(v.cast("double")))
        case "series_atan2" => // element-wise atan2(y, x) over two series
          zip_with(args.head, args(1),
            (y, x) => atan2(y.cast("double"), x.cast("double")))
        case "series_seasonal" =>
          SeriesFunctions.seriesSeasonal(args.head, litLong(args(1)).toInt)
        case "series_greater" | "series_less" | "series_greater_equals" |
             "series_less_equals" | "series_equals" | "series_not_equals" =>
          zip_with(args.head, args(1), (x, y) => f match {
            case "series_greater" => x > y
            case "series_less" => x < y
            case "series_greater_equals" => x >= y
            case "series_less_equals" => x <= y
            case "series_equals" => x === y
            case _ => x =!= y
          })
        case "array_concat" => concat(args: _*)
        case "array_slice" =>
          // KQL array_slice(arr, start, end): 0-based inclusive bounds
          slice(args.head, args(1).cast("int") + 1,
            (args(2) - args(1) + 1).cast("int"))
        case "array_index_of" =>
          // array_index_of(arr, v [, start]) — 0-based, -1 absent. A negative
          // start is an offset from the END of the array (Kusto semantics:
          // start=-3 searches the last three elements), clamped at 0
          if (args.length == 2)
            (array_position(args.head, args(1)) - 1).cast("long")
          else {
            val s0 = args(2).cast("int")
            val st = greatest(lit(0),
              when(s0 < 0, size(args.head) + s0).otherwise(s0))
            val sub = slice(args.head, st + 1,
              greatest(size(args.head) - st, lit(0)))
            val p = array_position(sub, args(1))
            when(p > 0, (p - 1 + st).cast("long")).otherwise(lit(-1L))
          }
        case "jaccard_index" =>
          // |a ∩ b| / |a ∪ b| over the distinct element sets
          (size(array_intersect(args.head, args(1))).cast("double") /
            greatest(size(array_union(args.head, args(1))), lit(1)).cast("double"))
        case "array_split" =>
          // array_split(arr, i) / array_split(arr, dynamic([i1, i2, …])) —
          // split before each 0-based index (negative = from the end, like
          // Kusto); indices must be literals (they shape the output)
          val arr = args.head
          val n = size(arr)
          def clamp(i: Column): Column =
            greatest(lit(0), least(n, when(i < 0, n + i).otherwise(i)))
          // a scalar split index arrives as a tracked numeric literal; a
          // dynamic([...]) literal array does not register in litValues
          val splitAtArray = !(litValues.containsKey(args(1)) &&
            litValues.get(args(1)).isInstanceOf[Number])
          if (!splitAtArray) {
            val c = clamp(args(1).cast("int"))
            array(slice(arr, lit(1), c), slice(arr, c + 1, n - c))
          } else {
            // bounds = 0 ++ clamped indices ++ n; segment k = [b(k), b(k+1))
            val bounds = concat(array(lit(0)),
              transform(args(1), i => clamp(i.cast("int"))), array(n))
            transform(sequence(lit(1), size(bounds) - 1), k =>
              slice(arr, element_at(bounds, k) + 1,
                greatest(element_at(bounds, k + 1) - element_at(bounds, k), lit(0))))
          }
        case "set_union" => array_sort(args.reduceLeft(array_union))
        case "set_intersect" => array_sort(args.reduceLeft(array_intersect))
        case "set_difference" => array_sort(args.reduceLeft(array_except))
        case "zip" => arrays_zip(args: _*)
        case "array_reverse" => reverse(args.head)
        case "array_sort_asc" | "array_sort_desc" =>
          // multi-array form: companion arrays reorder by the FIRST array's
          // sort order (ties keep original position — the (key, index) struct
          // sorts lexicographically, like Kusto). Descending sorts use an
          // explicit comparator rather than reverse(asc): reversing would
          // also reverse ties (breaking the original-position contract) and
          // put null keys first, while Kusto keeps nulls LAST by default for
          // both directions. Single-array asc keeps the plain codegen'd
          // array_sort (nulls last already).
          def descCmp(kv: Column => Column, ki: Column => Column)
              (a: Column, b: Column): Column = {
            val (av, bv) = (kv(a), kv(b))
            when(av.isNull && bv.isNull, ki(a) - ki(b))
              .when(av.isNull, lit(1)).when(bv.isNull, lit(-1)) // nulls last
              .when(av > bv, lit(-1)).when(av < bv, lit(1))
              .otherwise(ki(a) - ki(b)).cast("int") // stable: index asc
          }
          if (args.length == 1) {
            if (f == "array_sort_asc") array_sort(args.head)
            else {
              val z = zip_with(args.head, sequence(lit(0), size(args.head) - 1),
                (v, i) => struct(v.as("k"), i.as("i")))
              // ≤1 element: already sorted (and sequence(0, n-1) needs n ≥ 1)
              when(size(args.head) <= 1, args.head).otherwise(
                transform(array_sort(z,
                  descCmp(_.getField("k"), _.getField("i"))), _.getField("k")))
            }
          } else {
            val zipped = zip_with(args.head,
              sequence(lit(0), size(args.head) - 1), (v, i) => struct(
                (struct(v.as("k"), i.as("i")).as("k") +: args.tail.zipWithIndex.map {
                  case (a, j) => element_at(a, i + 1).as(s"c$j")
                }): _*))
            val sorted =
              if (f == "array_sort_asc") array_sort(zipped)
              else array_sort(zipped, descCmp(_.getField("k").getField("k"),
                _.getField("k").getField("i")))
            // returns an array-of-arrays bag: [sorted key, companions…]
            // stringify via element access; Kusto returns a dynamic of arrays
            array((transform(sorted, s => s.getField("k").getField("k")) +:
              args.tail.indices.map(j =>
                transform(sorted, s => s.getField(s"c$j")))): _*)
          }
        case "array_rotate_left" =>
          // pmod: negative counts rotate the other way (Kusto semantics);
          // the size==0 guard avoids ANSI divide-by-zero on empty arrays
          val n = size(args.head)
          val k = pmod(args(1).cast("int"), n)
          when(n === 0, args.head).otherwise(
            concat(slice(args.head, k + 1, n - k), slice(args.head, lit(1), k)))
        case "array_rotate_right" =>
          val n = size(args.head)
          val k = pmod(args(1).cast("int"), n)
          when(n === 0, args.head).otherwise(
            concat(slice(args.head, n - k + 1, k), slice(args.head, lit(1), n - k)))
        case "bag_pack" | "pack" | "pack_dictionary" => // legacy Kusto aliases
          // bag_pack(k1, v1, k2, v2, ...) → dynamic property bag (map)
          map(args: _*)
        case "pack_all" =>
          // pack_all() → bag of ALL input columns (inverse of bag_unpack).
          // Values stringify (map<string,string>) — the same heterogeneous-
          // bag convention as dynamic({...}) literals; Kusto keeps typed
          // values (documented deviation).
          map(curColsSeq.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*)
        case "totimespan" =>
          // timespan = whole seconds (engine convention, timespanSeconds).
          // Accepts [d.]hh:mm:ss strings at runtime, timespan literals
          // (already seconds), and numeric seconds; malformed → null (the
          // same try-semantics as Kusto's totimespan).
          val s0 = args.head.cast("string")
          val re = "^(?:(\\d+)\\.)?(\\d{1,2}):(\\d{1,2}):(\\d{1,2})$"
          when(s0.rlike(re),
            coalesce(regexp_extract(s0, re, 1).try_cast("long"), lit(0L)) * 86400 +
              regexp_extract(s0, re, 2).cast("long") * 3600 +
              regexp_extract(s0, re, 3).cast("long") * 60 +
              regexp_extract(s0, re, 4).cast("long"))
            .otherwise(s0.try_cast("long"))
        case "bag_keys" => array_sort(map_keys(args.head))
        case "bag_merge" =>
          // Kusto keeps the FIRST bag's value on key collisions; Spark's
          // map_concat errors on duplicates, so collisions are filtered out
          // of the later bags explicitly
          args.reduceLeft { (acc, nxt) =>
            map_concat(acc, map_filter(nxt, (k, _) => !map_contains_key(acc, k)))
          }
        case "bag_remove_keys" =>
          map_filter(args.head, (k, _) => !array_contains(args(1), k))
        case "bag_has_key" => map_contains_key(args.head, args(1))
        case "bag_set_key" =>
          // replace-or-insert: drop any existing entry for the key, then
          // concat the new single-entry map (value cast to the bag's string
          // value type)
          map_concat(
            map_filter(args.head, (k, _) => k =!= args(1).cast("string")),
            map_from_arrays(array(args(1).cast("string")),
              array(args(2).cast("string"))))
        case "bag_zip" =>
          // bag_zip(keys, values) → bag pairing keys[i] with values[i].
          // Kusto contract: extra values beyond the keys are dropped, keys
          // beyond the values pair with null, null keys are skipped, and a
          // duplicate key keeps its FIRST occurrence (the bag_merge
          // collision convention). Values stringify into the engine's
          // map<string,string> bag (the pack_all deviation); non-string
          // keys stringify rather than being ignored (same deviation).
          val ks = args.head.cast("array<string>")
          val vs = args(1).cast("array<string>")
          // entries carry their ordinal so first-occurrence dedup is exact;
          // `get` (0-based) is null past the end of values, never an error
          val entries = filter(
            transform(sequence(lit(1), size(ks)), i =>
              struct(element_at(ks, i).as("key"), get(vs, i - 1).as("value"),
                i.as("i"))),
            e => e.getField("key").isNotNull)
          // first-win: array_position returns the FIRST 1-based index of the
          // key in the RAW keys array — exactly this entry's ordinal iff it
          // is the first occurrence (one O(n) scan per element; a nested
          // filter-over-entries would re-embed the whole transform tree)
          val dedup = filter(entries, e =>
            array_position(ks, e.getField("key")) === e.getField("i"))
          when(ks.isNull || vs.isNull || size(ks) === 0,
            when(ks.isNotNull && vs.isNotNull,
              typedlit(Map.empty[String, String])))
            .otherwise(map_from_entries(transform(dedup,
              e => struct(e.getField("key"), e.getField("value")))))
        case "treepath" =>
          // enumerate the bag's paths in Kusto's ['key'] form. Bags here are
          // depth-1 string maps (the parse-kv / bag_pack convention), so the
          // path set is the sorted key list (deviation documented: no nested
          // recursion — nested JSON stays a variant, not a bag)
          transform(array_sort(map_keys(args.head)),
            k => concat(lit("['"), k, lit("']")))
        case "strcat_array" =>
          array_join(transform(args.head, _.cast("string")), litString(args(1)))
        // series functions (series_fir parses separately: literal filter taps)
        case "series_stats_dynamic" => SeriesFunctions.seriesStats(args.head)
        // multi-value form: bind with tuple extend `(mn, mni, ...) = series_stats(x)`
        case "series_stats" => SeriesFunctions.seriesStats(args.head)
        case "series_moving_avg" =>
          SeriesFunctions.seriesMovingAvg(args.head, litLong(args(1)).toInt)
        case "series_moving_sum" =>
          SeriesFunctions.seriesMovingSum(args.head, litLong(args(1)).toInt)
        case "series_outliers" => SeriesFunctions.seriesOutliers(args.head)
        case "series_fit_line" => SeriesFunctions.seriesFitLine(args.head)
        case "series_fit_2lines" => SeriesFunctions.seriesFit2Lines(args.head)
        // *_dynamic forms: same struct payload (struct-as-bag, the engine's
        // dynamic convention); field access via postfix `.slope` etc
        case "series_fit_line_dynamic" => SeriesFunctions.seriesFitLine(args.head)
        case "series_fit_2lines_dynamic" => SeriesFunctions.seriesFit2Lines(args.head)
        case "series_fit_poly" =>
          SeriesFunctions.seriesFitPoly(args.head,
            if (args.length > 1) litLong(args(1)).toInt else 1)
        case "series_fill_const" =>
          SeriesFunctions.seriesFillConst(args.head, args(1))
        case "series_fill_forward" => SeriesFunctions.seriesFillForward(args.head)
        case "series_fill_backward" => SeriesFunctions.seriesFillBackward(args.head)
        case "series_fill_linear" => SeriesFunctions.seriesFillLinear(args.head)
        case "series_pearson_correlation" =>
          SeriesFunctions.seriesPearson(args.head, args(1))
        case "series_decompose" => // 1-arg / period=-1 → Kusto auto-period
          SeriesFunctions.seriesDecompose(args.head,
            if (args.length > 1) litLong(args(1)).toInt else -1)
        case "series_decompose_anomalies" =>
          SeriesFunctions.seriesDecomposeAnomalies(args.head,
            if (args.length > 1) litLong(args(1)).toInt else -1)
        case "series_decompose_forecast" => // (x, points[, period=-1])
          SeriesFunctions.seriesDecomposeForecast(args.head,
            litLong(args(1)).toInt,
            if (args.length > 2) litLong(args(2)).toInt else -1)
        case "series_periods_detect" =>
          SeriesFunctions.seriesPeriodsDetect(args.head, litLong(args(1)).toInt,
            litLong(args(2)).toInt, litLong(args(3)).toInt)
        case "series_periods_validate" =>
          SeriesFunctions.seriesPeriodsValidate(args.head,
            args.tail.map(litLong(_).toInt))
        case "series_sum" => SeriesFunctions.seriesSum(args.head)
        case "series_product" => SeriesFunctions.seriesProduct(args.head)
        case "series_dot_product" =>
          SeriesFunctions.seriesDotProduct(args.head, args(1))
        case "series_magnitude" => SeriesFunctions.seriesMagnitude(args.head)
        case "series_cosine_similarity" =>
          SeriesFunctions.seriesCosine(args.head, args(1))
        case "bitset_count_ones" => bit_count(args.head.cast("long")).cast("long")
        case "totitle" => initcap(args.head.cast("string"))
        case "hash_md5" => md5(args.head.cast("string").cast("binary"))
        case "hash_sha1" => sha1(args.head.cast("string").cast("binary"))
        case "hash_sha256" => sha2(args.head.cast("string").cast("binary"), 256)
        case "format_bytes" =>
          // format_bytes(size [, precision]) — binary units, largest power of
          // 1024 with value ≥ 1 (Kusto's unit ladder), threshold CASEs instead
          // of log() so the unit choice is exact integer arithmetic
          val v = args.head.cast("double")
          val prec = if (args.size > 1) litLong(args(1)).toInt else 0
          // fold smallest→largest so the LARGEST matching unit is the
          // outermost when() and wins
          val ladder = Seq("KB" -> 1, "MB" -> 2, "GB" -> 3, "TB" -> 4,
            "PB" -> 5, "EB" -> 6)
          val base = concat(format_string(s"%.${prec}f", v), lit(" Bytes"))
          ladder.foldLeft(base) { case (acc, (unit, pow)) =>
            val scale = math.pow(1024.0, pow)
            when(abs(v) >= scale,
              concat(format_string(s"%.${prec}f", v / scale), lit(" " + unit)))
              .otherwise(acc)
          }
        case "format_timespan" =>
          // format_timespan(t) — canonical [d.]hh:mm:ss over whole-second
          // timespans (engine convention); negative timespans keep the sign
          val t = args.head.cast("long")
          val a = abs(t)
          val hms = format_string("%02d:%02d:%02d",
            (pmod(a, lit(86400L)) / 3600).cast("long"),
            (pmod(a, lit(3600L)) / 60).cast("long"), pmod(a, lit(60L)))
          val withDays = when(a >= 86400L,
            concat((a / 86400L).cast("long").cast("string"), lit("."), hms)).otherwise(hms)
          when(t < 0, concat(lit("-"), withDays)).otherwise(withDays)
        case other => throw new IllegalArgumentException(s"unsupported scalar function: $other")
      }
    }

    /** `dynamic([v1, v2, ...])` array literal or `dynamic({'k': v, ...})`
      * property-bag literal (→ map; access via `.k` / `['k']` postfix). */
    private def parseDynamic(): Column = {
      eatPunct("(")
      if (atIdent("null")) { // `dynamic(null)` — the typed null literal
        pos += 1; eatPunct(")")
        return lit(null).cast("array<string>")
      }
      val out = if (atPunct("{")) {
        pos += 1
        val kvs = Seq.newBuilder[Column]
        def pair(): Unit = {
          val k = next() match {
            case Str(s) => s
            case Ident(s) => s
            case other => throw new IllegalArgumentException(s"expected bag key, got $other")
          }
          eatPunct(":")
          kvs += lit(k)
          // values stringify (map<string,string>): heterogeneous KQL bags have
          // no single Spark value type — typed bags go through parse_json
          kvs += parseExpr().cast("string")
        }
        if (!atPunct("}")) { pair(); while (atPunct(",")) { pos += 1; pair() } }
        eatPunct("}")
        map(kvs.result(): _*)
      } else {
        eatPunct("[")
        val vals = Seq.newBuilder[Column]
        if (!atPunct("]")) {
          vals += parseExpr()
          while (atPunct(",")) { pos += 1; vals += parseExpr() }
        }
        eatPunct("]")
        // register the element list so variadic dispatch sites (has_any_ipv4
        // family) can accept Kusto's dynamic-array argument form
        val elems = vals.result()
        litCol(elems, array(elems: _*))
      }
      eatPunct(")")
      out
    }

    /** `series_fir(arr, dynamic([c0, c1, ...]) [, normalize])` — the filter taps
      * must be numeric literals (they parameterize the generated convolution). */
    private def parseSeriesFir(): Column = {
      eatPunct("(")
      val arr = parseExpr()
      eatPunct(",")
      eatIdent("dynamic"); eatPunct("("); eatPunct("[")
      val coefs = Seq.newBuilder[Double]
      def num(): Double = { val c = parseExpr(); litDouble(c) }
      coefs += num()
      while (atPunct(",")) { pos += 1; coefs += num() }
      eatPunct("]"); eatPunct(")")
      val normalize = if (atPunct(",")) {
        pos += 1
        next() match {
          case Ident("true") => true
          case Ident("false") => false
          case other => throw new IllegalArgumentException(
            s"series_fir normalize flag must be true/false, got $other")
        }
      } else false
      eatPunct(")")
      graft.functions.SeriesFunctions.seriesFir(arr, coefs.result(), normalize)
    }

    /** `series_iir(arr, dynamic([b…]), dynamic([a…]))` — literal filter taps
      * (they parameterize the generated recursion; a[0] must be non-zero). */
    private def parseSeriesIir(): Column = {
      eatPunct("(")
      val arr = parseExpr()
      def tap(): Double = {
        // parseExpr folds `-0.5` into a non-literal Column; read the sign here
        val neg = atPunct("-"); if (neg) pos += 1
        val v = litDouble(parseExpr())
        if (neg) -v else v
      }
      def taps(): Seq[Double] = {
        eatPunct(","); eatIdent("dynamic"); eatPunct("("); eatPunct("[")
        val out = Seq.newBuilder[Double]
        out += tap()
        while (atPunct(",")) { pos += 1; out += tap() }
        eatPunct("]"); eatPunct(")")
        out.result()
      }
      val b = taps()
      val a = taps()
      eatPunct(")")
      graft.functions.SeriesFunctions.seriesIir(arr, b, a)
    }

    /** `bin(value, width)` — width may be a timespan literal (`1h`) → timestamp
      * binning, or a number → numeric binning (integral width keeps an integral
      * result, like KQL). Dispatch is decided at parse time from the width token. */
    private def parseBin(): Column = {
      eatPunct("(")
      val argStart = pos
      val v = parseExpr()
      // a single-Ident first arg is a plain column reference — the only
      // shape a streaming watermark can attach to (purely syntactic, no
      // Catalyst introspection needed)
      val vName =
        if (pos == argStart + 1) toks(argStart) match {
          case Ident(n) if !letScalars.contains(n) => Some(n)
          case _ => None
        } else None
      eatPunct(",")
      val widthIsTimespan = peek match {
        case Some(Ident(s)) if isTimespanLit(s) => true
        case _ => false
      }
      val widthIsIntegral = peek match {
        case Some(Num(s)) if !s.contains('.') => true
        case _ => false
      }
      val w = parseExpr()
      eatPunct(")")
      if (widthIsTimespan) {
        val secs = litLong(w)
        val r = Bin.ts(v, secs)
        lastBin = Some((r, vName, v, secs))
        r
      }
      else if (widthIsIntegral) (floor(v / w) * w).cast("long")
      else floor(v / w) * w
    }

    /** Spherical haversine distance in meters; the asin argument is clamped
      * at 1 (antipodal rounding can push sqrt(a) a ulp past 1 → NaN). */
    private def geoDistance(lon1c: Column, lat1c: Column, lon2c: Column,
        lat2c: Column): Column = {
      val lon1 = lon1c.cast("double"); val lat1 = lat1c.cast("double")
      val lon2 = lon2c.cast("double"); val lat2 = lat2c.cast("double")
      val sdlat = sin(radians(lat2 - lat1) / 2)
      val sdlon = sin(radians(lon2 - lon1) / 2)
      val a = sdlat * sdlat + cos(radians(lat1)) * cos(radians(lat2)) * sdlon * sdlon
      lit(12742000.0) * asin(least(lit(1.0), sqrt(a)))
    }

    /** Σ haversine over consecutive vertices of a [[lng,lat],…] line. */
    private def geoLineLength(line: Column): Column =
      aggregate(sequence(lit(0), size(line) - 2), lit(0.0), (acc, i) => {
        val a = element_at(line, i + 1); val b = element_at(line, i + 2)
        acc + geoDistance(element_at(a, 1), element_at(a, 2),
          element_at(b, 1), element_at(b, 2))
      })

    /** Spherical-excess polygon area (m²) over a closed [[lng,lat],…] ring —
      * the standard edge-sum form Σ Δλ·(2 + sin φ₁ + sin φ₂)·R²/2 on the
      * mean-radius sphere. Deviation (documented): Kusto computes the WGS84
      * ellipsoid area; the spherical form is within ~0.5% and stays a pure
      * replayable IEEE chain. Holes are not supported (ring only). */
    private def geoPolygonArea(ring: Column): Column = {
      val e = aggregate(sequence(lit(0), size(ring) - 2), lit(0.0), (acc, i) => {
        val a = element_at(ring, i + 1); val b = element_at(ring, i + 2)
        acc + radians(element_at(b, 1).cast("double") -
            element_at(a, 1).cast("double")) *
          (lit(2.0) + sin(radians(element_at(a, 2).cast("double"))) +
            sin(radians(element_at(b, 2).cast("double"))))
      })
      abs(e) * lit(6371000.0 * 6371000.0 / 2.0)
    }

    /** Planar shoelace centroid of a closed [[lng,lat],…] ring as
      * [lng, lat]. Deviation (documented): Kusto computes the spherical
      * centroid; the planar form is exact in lng/lat space and agrees to
      * ~1e-5 deg at sub-degree extents — and being pure +,*,/ arithmetic it
      * replays bit-for-bit in any IEEE engine. */
    private def geoPolygonCentroid(ring: Column): Column =
      aggregate(sequence(lit(0), size(ring) - 2),
        struct(lit(0.0).as("a"), lit(0.0).as("cx"), lit(0.0).as("cy")),
        (acc, i) => {
          val p = element_at(ring, i + 1); val q = element_at(ring, i + 2)
          val x1 = element_at(p, 1).cast("double")
          val y1 = element_at(p, 2).cast("double")
          val x2 = element_at(q, 1).cast("double")
          val y2 = element_at(q, 2).cast("double")
          val cr = x1 * y2 - x2 * y1
          struct((acc.getField("a") + cr).as("a"),
            (acc.getField("cx") + (x1 + x2) * cr).as("cx"),
            (acc.getField("cy") + (y1 + y2) * cr).as("cy"))
        },
        // Cx = Σ(x1+x2)·cr / (6·A) with A = Σcr/2 → Σ(x1+x2)·cr / (3·Σcr)
        acc => array(acc.getField("cx") / (lit(3.0) * acc.getField("a")),
          acc.getField("cy") / (lit(3.0) * acc.getField("a"))))

    /** Min distance from a point to a [[lng,lat],…] polyline, meters.
      * Deviation (documented): Kusto computes the geodesic; this uses the
      * equirectangular projection centered at the query point (x scaled by
      * cos(lat)), exact planar point-segment distance, then the mean-radius
      * arc conversion — within ~0.5% at sub-degree extents, a fixed IEEE
      * chain the oracle can replay. */
    private def geoPointToLine(lngC: Column, latC: Column, line: Column): Column =
      KqlFunctions.pointToLineMeters(lngC, latC, line)

    /** `geo_closest_point_on_line(lng, lat, line)` — the [lng, lat] of the
      * nearest point on the polyline: the same per-segment equirectangular
      * projection as geo_distance_point_to_line, but argmin — the aggregate
      * carries (best dist, best x, best y) as a struct accumulator. One
      * codegen'd HOF chain, no UDF. */
    private case class GeoLookupOpts(radius: Option[Double],
      unmatched: Boolean, returnKey: Boolean)

    /** The trailing optional arguments of the geo lookup plugins: numerics
      * are (radius, lookup_area_radius-ignored) in order, booleans are
      * (return_unmatched, return_lookup_key) in order, with the named
      * `return_unmatched = v` / `return_lookup_key = v` forms accepted. */
    private def parseGeoLookupOpts(fn: String): GeoLookupOpts = {
      var radius: Option[Double] = None
      var numCount = 0
      var unmatched = false
      var returnKey = false
      var boolCount = 0
      while (atPunct(",")) {
        pos += 1
        if (atIdent("return_unmatched")) {
          pos += 1
          unmatched = if (atPunct("=")) { pos += 1; ident() == "true" } else true
        } else if (atIdent("return_lookup_key")) {
          pos += 1
          returnKey = if (atPunct("=")) { pos += 1; ident() == "true" } else true
        } else if (atIdent("true") || atIdent("false")) {
          val v = ident() == "true"
          if (boolCount == 0) unmatched = v else returnKey = v
          boolCount += 1
        } else {
          val v = litDouble(parseExpr())
          if (numCount == 0) radius = Some(v) // 2nd numeric: lookup_area_radius, ignored
          numCount += 1
          require(numCount <= 2, s"$fn: too many numeric arguments")
        }
      }
      GeoLookupOpts(radius, unmatched, returnKey)
    }

    /** Native codegen'd argmin loop (GeoKernelExpressions). Lines with <2
      * vertices OR no non-null vertex pair → null (the kernel returns null
      * when no segment was examined, so it cannot echo the query point). */
    private def geoClosestPointOnLine(lngC: Column, latC: Column,
        line: Column): Column =
      when(size(line) >= 2,
        call_function(graft.plans.GeoKernelExpressions.closestName,
          lngC.cast("double"), latC.cast("double"), line))

    /** `geo_distance_point_to_polygon(lng, lat, ring)` — 0 when the point is
      * inside (ray cast), else the distance to the CLOSED boundary (the
      * open-line kernel over ring + first vertex appended). */
    private def geoPointToPolygon(lngC: Column, latC: Column,
        ring: Column): Column = {
      val closed = concat(ring, slice(ring, 1, 1))
      when(geoPointInPolygon(lngC, latC, ring), lit(0.0))
        .otherwise(geoPointToLine(lngC, latC, closed))
    }

    /** `geo_closest_point_on_polygon(lng, lat, ring)` — the point itself
      * when inside (ray cast, same chain as containment), else the closest
      * point on the CLOSED boundary (the open-line argmin kernel over
      * ring + first vertex appended — geoClosestPointOnLine). */
    private def geoClosestPointOnPolygon(lngC: Column, latC: Column,
        ring: Column): Column = {
      val closed = concat(ring, slice(ring, 1, 1))
      when(geoPointInPolygon(lngC, latC, ring),
        array(lngC.cast("double"), latC.cast("double")))
        .otherwise(geoClosestPointOnLine(lngC, latC, closed))
    }

    /** `geo_azimuth(lng1, lat1, lng2, lat2)` — initial great-circle bearing
      * from point 1 to point 2, radians clockwise from true north in
      * [0, 2π): atan2(sin Δλ·cos φ₂, cos φ₁·sin φ₂ − sin φ₁·cos φ₂·cos Δλ),
      * the published forward-azimuth formula on the sphere. */
    private def geoAzimuth(lng1: Column, lat1: Column, lng2: Column,
        lat2: Column): Column = {
      val p1 = radians(lat1.cast("double")); val p2 = radians(lat2.cast("double"))
      val dl = radians(lng2.cast("double") - lng1.cast("double"))
      val theta = atan2(sin(dl) * cos(p2),
        cos(p1) * sin(p2) - sin(p1) * cos(p2) * cos(dl))
      pmod(theta, lit(2 * math.Pi))
    }

    private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

    /** Base-32 geohash (lon bit first, the public geohash contract) from
      * exact bit interleaving. Precision is a LITERAL 1..10 (≤50 bits), so
      * every intermediate integer is exactly representable in a double and
      * the whole chain — scale, floor, power-of-two divides — is
      * bit-replayable by an integer-arithmetic SQL oracle. Geohash-prefix
      * equality is the bucketed spatial join at scale: equi-join on a short
      * string key, the same pattern as the LSH band keys. */
    private def geoHashEncode(lngC: Column, latC: Column, p: Int): Column = {
      val totalBits = 5 * p
      val lonBits = (totalBits + 1) / 2
      val latBits = totalBits / 2
      def idx(v: Column, offset: Double, span: Double, bits: Int): Column = {
        val scaled = floor((v.cast("double") + offset) / span * math.pow(2, bits))
        least(greatest(scaled, lit(0.0)), lit(math.pow(2, bits) - 1)).cast("long")
      }
      val lo = idx(lngC, 180.0, 360.0, lonBits)
      val la = idx(latC, 90.0, 180.0, latBits)
      // global bit i (MSB-first): even → lon bit i/2, odd → lat bit (i−1)/2;
      // bit extraction via exact double scaling (values < 2^25)
      def bit(i: Int): Column = {
        val (src, bits, j) = if (i % 2 == 0) (lo, lonBits, i / 2) else (la, latBits, (i - 1) / 2)
        pmod(floor(src.cast("double") / lit(math.pow(2, bits - 1 - j))).cast("long"), lit(2L))
      }
      val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
      val chars = (0 until p).map { k =>
        val v = (0 until 5).map(m => bit(5 * k + m) * lit(1L << (4 - m)))
          .reduce(_ + _)
        element_at(alpha, v.cast("int") + 1)
      }
      concat(chars: _*)
    }

    /** `geo_geohash_to_central_point(gh)` → struct(lng, lat) of the cell
      * center, any precision (per-character arithmetic keeps every integer
      * far below 2^53). The scale factors are built by exact doubling, not
      * libm pow, so both engines agree bit-for-bit. */
    private def geoHashDecode(gh: Column): Column =
      // native deinterleave loop (GeohashCenterExpr)
      call_function("graft_geohash_center", gh.cast("string"))

    /** `geo_point_in_polygon(lng, lat, ring)` — ray cast over the closed
      * ring (array of [lng, lat] vertices, last edge wraps to the first):
      * inside ⇔ odd crossing parity. Pure +−×/ IEEE arithmetic in a fixed
      * order — no libm — so the oracle's identical chain is bit-equal and
      * the comparison can never flip across engines. Horizontal edges make
      * the guard false before the ±Inf division is used. Deviation
      * (documented): takes a bare vertex ring, not Kusto's GeoJSON bag. */
    private def geoPointInPolygon(x0: Column, y0: Column, ring: Column): Column =
      KqlFunctions.pointInPolygon(x0, y0, ring)

    /** Plan-time CIDR "a.b.c.d[/bits]" → inclusive [lo, hi] long bounds;
      * None when unparsable (callers fall back to the runtime column form). */
    private def cidrBounds(s: String): Option[(Long, Long)] = {
      val halves = s.split("/")
      if (halves.isEmpty) return None
      val bits = if (halves.length > 1) halves(1).toIntOption.getOrElse(-1) else 32
      if (bits < 0 || bits > 32) return None
      val octs = halves(0).split("\\.")
      if (octs.length != 4) return None
      val vals = octs.map(_.toLongOption)
      if (vals.exists(v => v.isEmpty || v.get < 0 || v.get > 255)) return None
      val raw = vals.map(_.get).foldLeft(0L)((a, o) => a * 256 + o)
      val sz = 1L << (32 - bits)
      val lo = raw - raw % sz
      Some((lo, lo + sz - 1))
    }

    private def litString(c: Column): String = {
      require(litValues.containsKey(c), "a literal string argument is required here")
      litValues.get(c).toString
    }
    private def litLong(c: Column): Long = {
      require(litValues.containsKey(c), "a literal numeric argument is required here")
      litValues.get(c).asInstanceOf[Number].longValue()
    }
    private def litDouble(c: Column): Double = {
      require(litValues.containsKey(c), "a literal numeric argument is required here")
      litValues.get(c).asInstanceOf[Number].doubleValue()
    }
  }
}
