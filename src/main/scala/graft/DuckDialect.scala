package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DuckDB-dialect acceptance shim for the A6 surface (VERDICT r7 item 2).
  *
  * The reference's `query()` accepts ANY DuckDB SQL
  * (delta-unity-duckdb.js:330-339); this port's A6 runs Spark SQL. The two
  * dialects share the ANSI core, but a reference user pasting their
  * existing queries will hit the ~dozen divergent surface names
  * (`list_*`, `string_agg`, `//`, `quantile_cont`, double-quoted
  * identifiers, backslashes in string literals). This shim is a
  * PRE-PARSE TEXT REWRITE of exactly those divergences:
  *
  *   - function renames at call sites (`list_contains`→`array_contains`,
  *     `quantile_cont`→`percentile`, `arg_max`→`max_by`, …) — only names
  *     whose Spark twin has the SAME semantics for the shared arg forms;
  *   - `//` (DuckDB integer floor division) → Spark's `div` operator;
  *   - `"ident"` — double quotes are ALWAYS identifiers in DuckDB (its
  *     strings are single-quoted only) → Spark backtick identifiers
  *     (Spark's default parses double quotes as string literals);
  *   - backslashes inside single-quoted literals are doubled: DuckDB
  *     literals are escape-free (`'\s'` is backslash-s, `'\n'` is TWO
  *     chars), while Spark's default literals process C escapes — so a
  *     faithful translation escapes every backslash.
  *
  * [[DeltaScanner.query]] applies it ONLY on Spark parse/analysis failure
  * (valid Spark SQL is never touched), retries once, and if the rewritten
  * form still fails raises an error carrying [[guidance]] — the divergence
  * table — instead of a bare unresolved-function message.
  *
  * Conditionally translated (the common shapes bridge, the rest fall to
  * [[guidance]]): `SELECT * EXCLUDE` → Spark's `* EXCEPT`;
  * `strftime`/`strptime` with a LITERAL format whose `%` codes all have
  * JDK-pattern twins → `date_format`/`to_timestamp`; `list_slice` with
  * integer-literal bounds (both ≥0 or both <0 — DuckDB's inclusive end
  * becomes Spark `slice`'s length; both-negative bounds emit a runtime
  * start-clamp because DuckDB clamps a start past the list head where
  * Spark's `slice` returns []); `struct_pack(k := v, …)` →
  * `named_struct('k', v, …)`;
  * `epoch(ts)` → `unix_micros(ts)/1e6` (fractional seconds preserved).
  *
  * `SELECT * REPLACE (expr AS col, …)` bridges to `* EXCEPT (col, …)`
  * plus appended aliases (replaced columns move to the END of the
  * projection — Spark has no in-place star modifier; values and names
  * are identical). Non-literal `strftime`/`strptime` formats resolve
  * through the [[graft.functions.DuckCompat]] registered expressions
  * (DuckDialect.sql installs them), not this text rewrite.
  *
  * Deliberately NOT translated by THIS text rewrite (arg shapes or
  * semantics differ): non-literal `list_slice`/`string_split` forms,
  * `list_*` on STRINGS, `date_sub` (month-end clamping) — all resolve
  * as [[graft.functions.DuckCompat]] REGISTERED functions on the first
  * parse instead (r10/r11); what neither layer covers lands in
  * [[guidance]].
  */
object DuckDialect {

  /** DuckDB name → Spark name, applied at call sites only. Every pair is
    * semantics-preserving for the argument forms both engines accept. */
  val renames: Map[String, String] = Map(
    // list_* family → Spark array functions
    "list_contains" -> "array_contains",
    "list_has" -> "array_contains",
    "list_transform" -> "transform",
    "list_apply" -> "transform",
    "list_filter" -> "filter",
    // list_distinct gets the ARG-AWARE path below (DuckDB's drops NULL
    // elements; Spark's array_distinct keeps one) — this entry is the
    // fallback for an unparseable call span only
    "list_distinct" -> "array_distinct",
    // array_sort, NOT sort_array: Spark's array_sort places NULLs LAST
    // ascending, matching DuckDB's list_sort; sort_array puts them first
    "list_sort" -> "array_sort",
    "list_value" -> "array",
    "list_pack" -> "array",
    "list_append" -> "array_append",
    // list_prepend is NOT mapped: DuckDB's is (element, list) while
    // Spark's array_prepend is (array, element) — a rename would
    // silently swap the arguments (it's in the guidance list instead)
    "list_position" -> "array_position",
    "list_indexof" -> "array_position",
    // reverse works on arrays AND strings in both engines — safe rename
    "list_reverse" -> "reverse",
    "list_concat" -> "concat",
    "list_cat" -> "concat",
    "list_has_any" -> "arrays_overlap",
    "list_max" -> "array_max",
    "list_min" -> "array_min",
    // try_element_at, NOT element_at: DuckDB's list_extract returns NULL
    // out of range where Spark's element_at throws under ANSI; both are
    // 1-based with negative-from-end. (DuckDB also allows these on
    // STRINGS — that form fails into guidance; use substring.)
    "list_extract" -> "try_element_at",
    "array_extract" -> "try_element_at",
    // array_to_string is NOT renamed to array_join: the registered
    // DuckCompat native resolves it on BOTH paths and mirrors DuckDB's
    // edges (implicit element cast, EMPTY list → NULL where array_join
    // returns '') — a rename here would bypass those on the rewrite path
    "string_split_regex" -> "split",
    "str_split_regex" -> "split",
    "regexp_split_to_array" -> "split",
    // aggregates
    "quantile_cont" -> "percentile",
    "arg_max" -> "max_by",
    "argmax" -> "max_by",
    "arg_min" -> "min_by",
    "argmin" -> "min_by",
    // string_agg/group_concat get the ARG-AWARE path below (DuckDB's
    // one-arg form defaults the separator to ',' where Spark's listagg
    // concatenates bare) — fallback-only entries here
    "string_agg" -> "listagg",
    "group_concat" -> "listagg",
    // scalars
    "strlen" -> "octet_length",
    "epoch_ms" -> "unix_millis",
    "epoch_us" -> "unix_micros",
    "strpos" -> "instr",
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    "regexp_matches" -> "regexp_like",
    // unnest(list) behaves as Spark's explode generator in BOTH DuckDB
    // positions (verified on both engines): select-list (row-multiplying,
    // zero rows for empty/NULL) and FROM (table function, `t(col)`
    // aliases work). The struct-expansion and recursive:= forms fail
    // Spark analysis → guidance, never a silently different shape.
    "unnest" -> "explode")

  /** Rewrite DuckDB-dialect SQL to Spark SQL. A pure text function — no
    * session needed; quoted regions are handled by a real scan (never
    * regex over the whole string), comments pass through untouched.
    * Statement-level clauses Spark lacks (QUALIFY, DISTINCT ON) bridge
    * first; the char-scan then rewrites expression-level duckisms over
    * the restructured text (so a bridged statement's predicate/keys can
    * themselves carry list literals, renamed functions, …). */
  def rewrite(sql0: String): String = {
    val sql = bridgeDistinctOn(bridgeQualify(
      bridgeAsofJoin(bridgeUnpivot(bridgeSampleRowsDeep(
        bridgeCommaLateralSeries(sql0))))))
    val n = sql.length
    val sb = new StringBuilder(n + 16)
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') { // string literal: double the backslashes, keep ''
        sb.append('\''); i += 1
        var closed = false
        while (i < n && !closed) {
          sql.charAt(i) match {
            case '\'' if i + 1 < n && sql.charAt(i + 1) == '\'' =>
              sb.append("''"); i += 2
            case '\'' => sb.append('\''); i += 1; closed = true
            case '\\' => sb.append("\\\\"); i += 1
            case ch => sb.append(ch); i += 1
          }
        }
      } else if (c == '"') { // identifier (DuckDB strings are never "")
        sb.append('`'); i += 1
        var closed = false
        while (i < n && !closed) {
          sql.charAt(i) match {
            case '"' if i + 1 < n && sql.charAt(i + 1) == '"' =>
              sb.append('"'); i += 2
            case '"' => sb.append('`'); i += 1; closed = true
            case ch => sb.append(ch); i += 1
          }
        }
      } else if (c == '`') {
        // backtick identifier (emitted by the pre-bridges, e.g. the
        // rendered-expression unnest column names — r14): verbatim, or
        // the scan would rewrite duckisms INSIDE the quoted name
        sb.append('`'); i += 1
        while (i < n && sql.charAt(i) != '`') { sb.append(sql.charAt(i)); i += 1 }
        if (i < n) { sb.append('`'); i += 1 }
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i) // line comment: verbatim
        val end = if (e < 0) n else e + 1
        sb.append(sql.substring(i, end)); i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i + 2) // block comment: verbatim
        val end = if (e < 0) n else e + 2
        sb.append(sql.substring(i, end)); i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '/') {
        // integer division — DuckDB's `//` TRUNCATES toward zero
        // (-7 // 2 = -3, verified), exactly Spark's `div`
        sb.append(" div "); i += 2
      } else if (c == '[' && (i == 0 || {
        // a '[' IMMEDIATELY after an identifier/)/]/literal is postfix
        // subscripting (`l[1]`, `f(x)[2]`, also DuckDB's `INT[]` type
        // suffix) — passed through untouched. Anywhere else (after a
        // keyword+space, '(', ',', an operator, …) it OPENS a DuckDB
        // list literal or list comprehension, neither of which Spark
        // parses, so both rewrite here:
        //   [e1, e2, …]               → array(e1, e2, …)
        //   [h FOR x IN l]            → transform(l, x -> h)
        //   [h FOR x IN l IF p]       → transform(filter(l, x -> p), x -> h)
        // Verified against the installed DuckDB: NULL elements flow
        // through the head expression (transform semantics), a NULL/
        // false IF predicate drops the row (filter semantics), a NULL
        // list yields NULL, nesting and case-insensitive keywords work.
        // An inner shape this parse cannot bind (non-identifier loop
        // var, missing IN) leaves the text untouched → Spark fails →
        // guidance, never a silent wrong answer.
        val p = sql.charAt(i - 1)
        !(Character.isLetterOrDigit(p) || p == '_' || p == ')' ||
          p == ']' || p == '\'' || p == '"' || p == '`')
      })) {
        val handled = scanMatch(sql, i).flatMap { after =>
          val inner = sql.substring(i + 1, after - 1)
          val f = topKeyword(inner, "for")
          if (f < 0) {
            if (inner.trim.isEmpty) Some { sb.append("array()"); i = after }
            else splitTop(inner).map { parts =>
              sb.append("array(")
              parts.zipWithIndex.foreach { case (p, ix) =>
                if (ix > 0) sb.append(", ")
                sb.append(rewrite(p).trim)
              }
              sb.append(')'); i = after
            }
          } else {
            val head = inner.substring(0, f)
            val rest = inner.substring(f + 3)
            val inAt = topKeyword(rest, "in")
            if (inAt < 0) None
            else {
              val v = rest.substring(0, inAt).trim
              val vOk = v.nonEmpty &&
                (Character.isLetter(v.head) || v.head == '_') &&
                v.forall(ch => Character.isLetterOrDigit(ch) || ch == '_')
              if (!vOk) None
              else {
                val tail = rest.substring(inAt + 2)
                val ifAt = topKeyword(tail, "if")
                val (lst, cond) =
                  if (ifAt < 0) (tail, None)
                  else (tail.substring(0, ifAt),
                    Some(tail.substring(ifAt + 2)))
                val lstR = rewrite(lst).trim
                val src = cond match {
                  case Some(cd) =>
                    s"filter($lstR, $v -> ${rewrite(cd).trim})"
                  case None => lstR
                }
                Some {
                  sb.append("transform(").append(src).append(", ")
                    .append(v).append(" -> ")
                    .append(rewrite(head).trim).append(')')
                  i = after
                }
              }
            }
          }
        }
        if (handled.isEmpty) { sb.append('['); i += 1 }
      } else if (c == '{') {
        // DuckDB struct literal {'k': v, …} (bare-identifier keys are
        // also accepted — {a: 1} ≡ {'a': 1}, verified) → named_struct.
        // Spark parses no '{' expression, so an entry this parse cannot
        // bind leaves the text untouched → guidance.
        val handled = scanMatch(sql, i).flatMap { after =>
          splitTop(sql.substring(i + 1, after - 1)).flatMap { parts =>
            val kvs = parts.map(structEntry)
            if (kvs.isEmpty || kvs.exists(_.isEmpty)) None
            else Some {
              sb.append("named_struct(")
              kvs.flatten.zipWithIndex.foreach { case ((k, ve), ix) =>
                if (ix > 0) sb.append(", ")
                sb.append(sqlLit(k)).append(", ").append(rewrite(ve).trim)
              }
              sb.append(')'); i = after
            }
          }
        }
        if (handled.isEmpty) { sb.append('{'); i += 1 }
      } else if (Character.isLetter(c) || c == '_') {
        val start = i
        while (i < n && (Character.isLetterOrDigit(sql.charAt(i)) ||
          sql.charAt(i) == '_')) i += 1
        val word = sql.substring(start, i)
        var j = i
        while (j < n && Character.isWhitespace(sql.charAt(j))) j += 1
        val isCall = j < n && sql.charAt(j) == '('
        val qualified = start > 0 && sql.charAt(start - 1) == '.'
        // Arg-aware translations (a bare rename would change semantics):
        //  - read_parquet('one/path') → parquet.`one/path` (single
        //    literal only; globs work in both, file LISTS fail into
        //    guidance);
        //  - string_agg/group_concat 1-arg → listagg(x, ',') (DuckDB
        //    defaults the separator to ',', Spark's listagg to '');
        //  - list_distinct(x) → array_distinct(filter(x, NOT NULL))
        //    (DuckDB's REMOVES null elements, Spark's keeps one).
        // Inner argument text is rewritten RECURSIVELY so nested
        // duckisms still translate.
        val lower = word.toLowerCase(java.util.Locale.ROOT)
        // `* EXCLUDE …` (DuckDB's star modifier) → Spark's `* EXCEPT (…)`.
        // Recognized only directly after a `*`, mirroring DuckDB's own
        // grammar; both the parenthesized list and the bare-single-column
        // forms map (Spark's EXCEPT always takes the parenthesized list).
        if (lower == "exclude" && lastNonWs(sb) == '*') {
          if (isCall) { sb.append("EXCEPT") } // `EXCLUDE (a, b)` — list copies through
          else parseIdentChain(sql, j) match {
            case Some((ident, after))
                if !Keywords(ident.toLowerCase(java.util.Locale.ROOT)) =>
              sb.append("EXCEPT (").append(ident).append(')'); i = after
            case _ => sb.append(word) // not followed by a column — leave it
          }
        } else if (lower == "using" && !isCall &&
          readWord(sql, j).equalsIgnoreCase("sample")) {
          // DuckDB's percent sampling → Spark's `TABLESAMPLE (n
          // PERCENT)` (both: per-row random draw — inherently not
          // comparable run-to-run, but the same contract). Bridged
          // percent spellings (r11 adds the method/seed forms):
          //   `n% | n PERCENT`                 → TABLESAMPLE (n PERCENT)
          //   `n% (bernoulli|system[, seed])`  → + REPEATABLE (seed)
          //   `bernoulli|system(n%[, seed])`   → same, method-first
          // bernoulli IS Spark's TABLESAMPLE semantics; DuckDB's system
          // differs only in draw granularity (per-2048-row vector vs
          // per-row — both "≈n%, random"), and a SEED pins rows within
          // ONE engine, never across engines, so the q173 aggregate-
          // contract rule covers every seeded form. reservoir(n%) is
          // NOT bridged: it returns exactly floor(n%·count) rows, which
          // needs a count pass Spark's sample clause cannot express —
          // guidance. The ROWS forms restructure in bridgeSampleRows
          // (reservoir-n = ORDER BY rand LIMIT n, never Spark's plain-
          // limit (n ROWS)). Join `USING (cols)` has a '(' lookahead,
          // never the word `sample`.
          var k = j + 6
          def skipWs(p0: Int): Int = {
            var p = p0
            while (p < n && Character.isWhitespace(sql.charAt(p))) p += 1
            p
          }
          def readNum(p0: Int): (String, Int) = {
            var p = p0
            while (p < n && (Character.isDigit(sql.charAt(p)) ||
              sql.charAt(p) == '.')) p += 1
            (sql.substring(p0, p), p)
          }
          k = skipWs(k)
          // method-first spelling: `bernoulli|system (` — the percent
          // and optional seed sit INSIDE the parens
          val mw = readWord(sql, k).toLowerCase(java.util.Locale.ROOT)
          val methodFirst = (mw == "bernoulli" || mw == "system") &&
            skipWs(k + mw.length) < n && sql.charAt(skipWs(k + mw.length)) == '('
          val numStart = if (methodFirst) skipWs(skipWs(k + mw.length) + 1) else k
          val (num, k1) = readNum(numStart)
          val k2 = skipWs(k1)
          val isPct = num.nonEmpty && num != "." && k2 < n &&
            (sql.charAt(k2) == '%' ||
              readWord(sql, k2).equalsIgnoreCase("percent"))
          // parse `[, seed] )` from p0: Some((seed, afterParen))
          def seedAndClose(p0: Int): Option[(String, Int)] = {
            var p = skipWs(p0)
            var seed = ""
            if (p < n && sql.charAt(p) == ',') {
              val (s, p1) = readNum(skipWs(p + 1))
              if (s.isEmpty) return None
              seed = s; p = skipWs(p1)
            }
            if (p < n && sql.charAt(p) == ')') Some((seed, p + 1)) else None
          }
          val bridged: Option[(String, Int)] = if (!isPct) None else {
            val after = if (sql.charAt(k2) == '%') k2 + 1 else k2 + 7
            if (methodFirst) seedAndClose(after)
            else {
              val t = skipWs(after)
              if (t < n && sql.charAt(t) == '(') {
                val m2 = readWord(sql, skipWs(t + 1))
                  .toLowerCase(java.util.Locale.ROOT)
                if (m2 == "bernoulli" || m2 == "system")
                  seedAndClose(skipWs(t + 1) + m2.length)
                else None // reservoir(n%) is exact-count — guidance
              } else Some(("", after)) // plain percent, no method parens
            }
          }
          bridged match {
            case Some((seed, end)) =>
              sb.append("TABLESAMPLE (").append(num).append(" PERCENT)")
              if (seed.nonEmpty)
                sb.append(" REPEATABLE (").append(seed).append(')')
              i = end
            case None =>
              sb.append(word) // rows forms: bridgeSampleRows; rest: guidance
          }
        } else if (lower == "replace" && lastNonWs(sb) == '*' && isCall) {
          // DuckDB's `* REPLACE (expr AS col, …)` star modifier → Spark's
          // `* EXCEPT (col, …), expr AS col, …`. Same columns and values;
          // ONE documented divergence: the replaced columns move to the
          // END of the projection (Spark has no in-place star modifier) —
          // harmless to the oracle compare (column-name keyed) and to
          // any by-name consumer. Every top-level arg must be
          // `expr AS ident` — bare or "double-quoted" (r11; quoted
          // names re-emit backticked, Spark's quoting); anything else
          // falls through to guidance. The replacement exprs rewrite
          // recursively.
          val handled = scanCall(sql, j).flatMap { case (after, _) =>
            splitTop(sql.substring(j + 1, after - 1)).flatMap { args =>
              val parsed = args.map { a =>
                val t = a.trim
                val m = AsAnyIdentRe.findFirstMatchIn(t)
                m.map { mm =>
                  val raw = mm.group(1)
                  // Quoted re-emit (ADVICE r11): collapse DuckDB's ""
                  // escapes to " and double embedded backticks — an
                  // ident containing a backtick must not produce an
                  // unbalanced Spark ident.
                  val n =
                    if (raw.startsWith("\""))
                      "`" + raw.substring(1, raw.length - 1)
                        .replace("\"\"", "\"").replace("`", "``") + "`"
                    else raw
                  (t.substring(0, mm.start), n)
                }
              }
              if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
              else Some {
                val ps = parsed.flatten
                sb.append("EXCEPT (")
                  .append(ps.map(_._2).mkString(", ")).append(')')
                ps.foreach { case (e, n) =>
                  sb.append(", ").append(rewrite(e).trim)
                    .append(" AS ").append(n)
                }
                i = after
              }
            }
          }
          if (handled.isEmpty) sb.append(word)
        } else {
        val special =
          if (!isCall || qualified) None
          else lower match {
            case "cast" =>
              // DuckDB-only CAST TYPE spellings → Spark-parseable
              // equivalents with identical values (r15 third pass,
              // DuckDB-pinned canonicalizations: int4/signed→INTEGER,
              // int8→BIGINT, float4/real→FLOAT, float8/double
              // precision→DOUBLE, text/bare varchar→VARCHAR semantics
              // = Spark STRING, bare numeric/decimal→DuckDB's default
              // DECIMAL(18,3)). A spelling outside the map passes
              // through untouched — Spark-native types need nothing,
              // engine-specific ones (hugeint, …) fail loudly there.
              scanCall(sql, j).flatMap { case (after, _) =>
                val body = sql.substring(j + 1, after - 1)
                topKeywordAll(body, "as").lastOption.flatMap { asAt =>
                  val ty = body.substring(asAt + 2).trim
                    .toLowerCase(java.util.Locale.ROOT)
                    .replaceAll("\\s+", " ")
                  SparkCastSpellings.get(ty).map { st =>
                    sb.append("CAST(")
                      .append(rewrite(body.substring(0, asAt)).trim)
                      .append(" AS ").append(st).append(')')
                    i = after
                  }
                }
              }
            case "read_parquet" =>
              parseSingleLiteralCall(sql, j).map { case (path, after) =>
                sb.append("parquet.`").append(path).append('`')
                i = after
              }
            case "string_agg" | "group_concat" =>
              scanCall(sql, j).map { case (after, topComma) =>
                sb.append("listagg(")
                  .append(rewrite(sql.substring(j + 1, after - 1)))
                if (!topComma) sb.append(", ','")
                sb.append(')')
                i = after
              }
            case "read_csv" | "read_csv_auto" | "read_json" |
                 "read_json_auto" =>
              // DuckDB's named options (`header = true`) parse as
              // attribute-equality predicates, which the analyzer
              // rejects BEFORE the table-function builder runs — so the
              // FIRST parse only succeeds for option-free calls; this
              // rewrite flattens each `ident = expr` argument into a
              // ('ident', expr) literal pair that DuckCompat's builder
              // re-pairs (values and bracket lists rewrite recursively).
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1)).map { args =>
                  val OptRe =
                    """(?s)^\s*([A-Za-z_][A-Za-z_0-9]*)\s*=\s*(?!=)(.*)$""".r
                  val flat = args.map {
                    case OptRe(k, v) => sqlLit(k) + ", " + rewrite(v).trim
                    case other => rewrite(other).trim
                  }
                  sb.append(lower).append('(')
                    .append(flat.mkString(", ")).append(')')
                  i = after
                }
              }
            case "list_distinct" =>
              scanCall(sql, j).map { case (after, _) =>
                sb.append("array_distinct(filter(")
                  .append(rewrite(sql.substring(j + 1, after - 1)))
                  .append(", _graft_e -> _graft_e IS NOT NULL))")
                i = after
              }
            case "array_to_string" =>
              // DuckDB-exact on the PURE-rewrite path too (r11): a plain
              // array_join rename loses the empty-list→NULL edge and the
              // implicit element cast; the guarded CASE mirrors the
              // registered native (q151/q158 exercise rewrite() alone,
              // so the text form must stand without the session natives).
              // The list argument is duplicated textually — the size()
              // probe is cheap next to any real list expression.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 2).map { args =>
                    val x = rewrite(args(0)).trim
                    val sep = rewrite(args(1)).trim
                    // zero NON-NULL elements → NULL (string_agg over
                    // zero rows; a bare size()=0 missed all-NULL lists
                    // — r11 matrix, DuckDB-verified [NULL] → NULL)
                    sb.append("(CASE WHEN size(filter(").append(x)
                      .append(", _graft_a2s -> _graft_a2s IS NOT NULL))")
                      .append(" = 0 THEN CAST(NULL AS STRING) ELSE ")
                      .append("array_join(CAST(").append(x)
                      .append(" AS ARRAY<STRING>), ").append(sep)
                      .append(") END)")
                    i = after
                  }
              }
            case "list_unique" =>
              // DuckDB: the COUNT of distinct non-NULL elements
              // (verified: list_unique([1,1,2,NULL,NULL]) = 2, [] = 0)
              // — a BIGINT, not a list
              scanCall(sql, j).map { case (after, _) =>
                sb.append("CAST(size(array_distinct(filter(")
                  .append(rewrite(sql.substring(j + 1, after - 1)))
                  .append(", _graft_e -> _graft_e IS NOT NULL))) AS BIGINT)")
                i = after
              }
            case "array_length" =>
              // 1-arg form only — the 2-arg (list, dim) form has no
              // Spark twin and falls through untouched into guidance
              scanCall(sql, j).collect { case (after, false) =>
                sb.append("array_size(")
                  .append(rewrite(sql.substring(j + 1, after - 1)))
                  .append(')')
                i = after
              }
            case "strftime" | "strptime" =>
              // Bridged only for a LITERAL format whose % codes all have
              // JDK twins (strftime accepts either arg order — the format
              // is whichever literal contains a '%'); non-literal or
              // unsupported-code formats fall through into guidance.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 2).flatMap { args =>
                    val li = args.indexWhere(a =>
                      bareLiteral(a).exists(_.contains('%')))
                    if (li < 0) None
                    else bareLiteral(args(li)).flatMap(cFormatToJdk).map { p =>
                      val fn = if (lower == "strftime") "date_format"
                               else "to_timestamp"
                      sb.append(fn).append('(')
                        .append(rewrite(args(1 - li)).trim)
                        .append(", ").append(sqlLit(p)).append(')')
                      i = after
                    }
                  }
              }
            case "list_slice" | "array_slice" =>
              // Integer-literal bounds only: DuckDB's inclusive 1-based
              // end → Spark slice()'s length. Verified equivalences:
              // in-range, end-clamped, start>end (empty),
              // start-past-end-of-list (empty). Mixed-sign bounds and the
              // string/step forms have no Spark twin → guidance.
              //
              // Both-negative bounds need a runtime CLAMP: DuckDB clamps
              // a start past the list head (list_slice([1,2,3],-5,-1) =
              // [1,2,3]; even list_slice([x],-2,-1) = [x] — verified
              // against the installed DuckDB) while Spark's slice returns
              // [] for a negative start beyond the head. The emitted form
              //   S = least(greatest(B, -size(x)), -1)
              //   slice(x, S, greatest(E - S + 1, 0))
              // clamps the start to the head (the least(…,-1) guard keeps
              // the start legal for EMPTY lists, where greatest(B,0)=0
              // would make Spark's slice throw) and recomputes the
              // inclusive-end length against the clamped start, floored
              // at 0 so an end still past the head yields [] not an error.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 3).flatMap { args =>
                    (intLit(args(1)), intLit(args(2))) match {
                      case (Some(b), Some(e)) if b >= 1 && e >= 0 =>
                        Some {
                          sb.append("slice(")
                            .append(rewrite(args(0)).trim).append(", ")
                            .append(b).append(", ")
                            .append(math.max(e - b + 1, 0L)).append(')')
                          i = after
                        }
                      case (Some(b), Some(e)) if b <= e && e <= -1 =>
                        Some {
                          val x = rewrite(args(0)).trim
                          val s = s"least(greatest($b, -size($x)), -1)"
                          sb.append("slice(").append(x).append(", ")
                            .append(s).append(", ")
                            .append(s"greatest($e - $s + 1, 0)").append(')')
                          i = after
                        }
                      case _ => None
                    }
                  }
              }
            case "struct_pack" =>
              // struct_pack(k := v, …) → named_struct('k', v, …); every
              // top-level arg must be an `ident := expr` pair.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1)).flatMap { args =>
                  val pairs = args.map { a =>
                    val at = a.indexOf(":=")
                    if (at < 0) None
                    else {
                      val k = a.substring(0, at).trim
                      val ok = k.nonEmpty &&
                        (Character.isLetter(k.head) || k.head == '_') &&
                        k.forall(ch =>
                          Character.isLetterOrDigit(ch) || ch == '_')
                      if (ok) Some((k, a.substring(at + 2))) else None
                    }
                  }
                  if (pairs.isEmpty || pairs.exists(_.isEmpty)) None
                  else Some {
                    sb.append("named_struct(")
                    pairs.flatten.zipWithIndex.foreach { case ((k, v), ix) =>
                      if (ix > 0) sb.append(", ")
                      sb.append('\'').append(k).append("', ")
                        .append(rewrite(v).trim)
                    }
                    sb.append(')')
                    i = after
                  }
                }
              }
            case "string_split" | "str_split" | "string_to_array" =>
              // DuckDB splits on a LITERAL separator; Spark's split takes
              // a regex — bridged by regex-escaping a literal separator.
              // Verified equal on every edge: trailing/leading/adjacent
              // empties kept ('a,b,' → [a,b,'']), no-match → [whole],
              // '' input → [''], multi-char separators. The EMPTY
              // separator is a per-char explode in DuckDB — and Spark's
              // split('x','') is the identical per-char form (verified:
              // both give ['h','é','l','l','o'] / [''] on '' / NULL
              // propagation), so it bridges as-is (r12). Non-literal
              // separators fall to guidance.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 2).flatMap { args =>
                    bareLiteral(args(1)).map { sep =>
                      val escaped = sep.flatMap { ch =>
                        if (Character.isLetterOrDigit(ch)) ch.toString
                        else "\\" + ch
                      }
                      sb.append("split(").append(rewrite(args(0)).trim)
                        .append(", ").append(sqlLit(escaped)).append(')')
                      i = after
                    }
                  }
              }
            case "list_prepend" =>
              // DuckDB's args are (element, list); Spark's array_prepend
              // is (array, element) — a plain rename would silently swap
              // them, so this path swaps them back (verified equal:
              // list_prepend(0,[1,2]) = array_prepend([1,2],0) = [0,1,2])
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 2).map { args =>
                    sb.append("array_prepend(")
                      .append(rewrite(args(1)).trim).append(", ")
                      .append(rewrite(args(0)).trim).append(')')
                    i = after
                  }
              }
            case "regexp_full_match" =>
              // whole-string match → regexp_like with the pattern wrapped
              // in \A(?:…)\z — verified equal, incl. patterns carrying
              // their own anchors. NOT ^(?:…)$: Java's $ matches before a
              // final line terminator, so ^(?:ab)$ accepts "ab\n" where
              // DuckDB's regexp_full_match('ab\n','ab') is false (both
              // verified) — \z admits no trailing terminator. Literal
              // patterns only (the wrap must happen inside the literal).
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 2).flatMap { args =>
                    bareLiteral(args(1)).map { pat =>
                      sb.append("regexp_like(")
                        .append(rewrite(args(0)).trim).append(", ")
                        .append(sqlLit("\\A(?:" + pat + ")\\z")).append(')')
                      i = after
                    }
                  }
              }
            case "quantile_disc" | "quantile" =>
              // DuckDB's call form → the ANSI WITHIN GROUP form; the
              // 1-arg form is DuckDB's median. Values verified equal on
              // both engines ("smallest value with cume_dist ≥ p") —
              // the one divergence is TYPE: Spark's percentile_disc
              // returns DOUBLE where DuckDB preserves the input type.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1)).flatMap { args =>
                  if (args.length < 1 || args.length > 2) None
                  else Some {
                    val p =
                      if (args.length == 2) rewrite(args(1)).trim else "0.5"
                    sb.append("percentile_disc(").append(p)
                      .append(") WITHIN GROUP (ORDER BY ")
                      .append(rewrite(args(0)).trim).append(')')
                    i = after
                  }
                }
              }
            case "date_diff" | "datediff" =>
              // DuckDB's 3-arg form counts PART-BOUNDARY CROSSINGS from a
              // to b (verified: ('month', Jan-31, Feb-01) = 1 where
              // complete months = 0; sign follows b−a). Spark's
              // timestampdiff counts complete intervals — but between two
              // part-TRUNCATED instants the two coincide, so the bridge is
              //   timestampdiff(P, date_trunc('P', a), date_trunc('P', b))
              // This must be a TEXT bridge: Spark's parser grammar-matches
              // 3-arg date_diff into timestampdiff and rejects the quoted
              // unit before any registered function could catch it. The
              // 2-arg Spark form and unmapped parts (century/decade/…)
              // pass through untouched (the 2-arg one is valid Spark).
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1))
                  .filter(_.length == 3).flatMap { args =>
                    bareLiteral(args(0))
                      .flatMap(graft.functions.DuckCompat.partUnit)
                      .map { unit =>
                        val a = rewrite(args(1)).trim
                        val b = rewrite(args(2)).trim
                        sb.append("timestampdiff(").append(unit)
                          .append(", date_trunc('").append(unit)
                          .append("', ").append(a)
                          .append("), date_trunc('").append(unit)
                          .append("', ").append(b).append("))")
                        i = after
                      }
                  }
              }
            case "generate_series" =>
              // DuckDB's INCLUSIVE-end series → Spark's sequence() (both
              // ends inclusive in both engines; negative steps agree —
              // verified). The 1-arg form is 0..stop inclusive (verified)
              // → sequence(0, x). Directly after FROM/JOIN it is a table
              // function → explode(sequence(…)) — Spark's TVF explode,
              // verified incl. `t(col)` aliases and comma-laterals are
              // NOT matched (a ',' is select-list-ambiguous; those fall
              // to guidance). DuckDB's range() differs: EXCLUSIVE end —
              // its TVF form matches Spark's native range() and passes
              // through untouched; the scalar list form has no Spark
              // twin → guidance.
              scanCall(sql, j).flatMap { case (after, _) =>
                splitTop(sql.substring(j + 1, after - 1)).flatMap { args =>
                  val inner = args.map(a => rewrite(a).trim)
                  if (inner.isEmpty || inner.length > 3 ||
                    inner.exists(_.isEmpty)) None
                  else Some {
                    val core =
                      if (inner.length == 1) s"sequence(0, ${inner.head})"
                      else s"sequence(${inner.mkString(", ")})"
                    val lw = lastWord(sb)
                    sb.append(
                      if (lw.equalsIgnoreCase("from") ||
                        lw.equalsIgnoreCase("join")) s"explode($core)"
                      else core)
                    i = after
                  }
                }
              }
            case "epoch" =>
              // epoch(ts) returns FRACTIONAL seconds in DuckDB (verified:
              // epoch(… 11:59:44.123456) = 1627991984.123456), so the
              // bridge goes through unix_micros, not unix_timestamp.
              scanCall(sql, j).collect { case (after, false) =>
                sb.append("(unix_micros(")
                  .append(rewrite(sql.substring(j + 1, after - 1)).trim)
                  .append(") / 1e6)") // 1e6 is a DOUBLE literal in Spark —
                // the result type matches DuckDB's epoch() DOUBLE
                // (1000000.0 would parse as DECIMAL and change the type)
                i = after
              }
            case _ => None
          }
        if (special.isEmpty) sb.append(
          if (isCall && !qualified) renames.getOrElse(lower, word)
          else word)
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // Clause keywords that can follow an expression — a bare `* exclude`
  // where `exclude` is a real COLUMN (multiplication) must not swallow
  // the next clause head as the excluded-column name.
  private val Keywords = Set(
    "from", "where", "group", "order", "having", "limit", "offset",
    "union", "except", "intersect", "join", "inner", "left", "right",
    "full", "cross", "on", "as", "select", "when", "then", "else", "end",
    "and", "or", "not", "between", "in", "is", "like", "case", "window",
    "qualify", "distinct", "all")

  // trailing `AS ident` of a REPLACE item (group 1 = the bare ident)
  private val AsIdentRe = """(?i)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  // the REPLACE bridge's wider form: bare ident OR "double-quoted"
  // (DuckDB accepts quoted names there — verified; the quoted variant
  // re-emits backticked). PIVOT/COLUMNS keep the bare-only AsIdentRe:
  // their group(1) feeds suffix/refusal logic that assumes bare names.
  private val AsAnyIdentRe =
    """(?i)\s+AS\s+("(?:[^"]|"")+"|[A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  private def lastNonWs(sb: StringBuilder): Char = {
    var k = sb.length - 1
    while (k >= 0 && Character.isWhitespace(sb.charAt(k))) k -= 1
    if (k >= 0) sb.charAt(k) else '\u0000'
  }

  /** Parse `ident(.ident)*` starting at `start` (each part bare or
    * "double-quoted"), returning the Spark-backticked text and the index
    * after the chain. None when `start` is not at an identifier. */
  private def parseIdentChain(sql: String, start: Int)
      : Option[(String, Int)] = {
    val n = sql.length
    val out = new StringBuilder
    var i = start
    def one(): Boolean =
      if (i < n && sql.charAt(i) == '"') {
        i += 1; out.append('`')
        while (i < n && sql.charAt(i) != '"') { out.append(sql.charAt(i)); i += 1 }
        if (i >= n) false else { i += 1; out.append('`'); true }
      } else if (i < n && (Character.isLetter(sql.charAt(i)) ||
        sql.charAt(i) == '_')) {
        while (i < n && (Character.isLetterOrDigit(sql.charAt(i)) ||
          sql.charAt(i) == '_')) { out.append(sql.charAt(i)); i += 1 }
        true
      } else false
    if (!one()) return None
    while (i < n && sql.charAt(i) == '.') {
      out.append('.'); i += 1
      if (!one()) return None
    }
    Some((out.toString, i))
  }

  /** Split an argument list on TOP-LEVEL commas (parens, brackets and
    * both quote kinds respected). None on unbalanced text. */
  private def splitTop(s: String): Option[Seq[String]] = {
    val n = s.length
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var depth = 0
    while (i < n) {
      s.charAt(i) match {
        case '\'' =>
          cur.append('\''); i += 1
          var closed = false
          while (i < n && !closed) {
            if (s.charAt(i) == '\'') {
              if (i + 1 < n && s.charAt(i + 1) == '\'') { cur.append("''"); i += 2 }
              else { cur.append('\''); closed = true; i += 1 }
            } else { cur.append(s.charAt(i)); i += 1 }
          }
          if (!closed) return None
        case '"' =>
          cur.append('"'); i += 1
          while (i < n && s.charAt(i) != '"') { cur.append(s.charAt(i)); i += 1 }
          if (i >= n) return None
          cur.append('"'); i += 1
        case c @ ('(' | '[' | '{') => depth += 1; cur.append(c); i += 1
        case c @ (')' | ']' | '}') => depth -= 1; cur.append(c); i += 1
        case ',' if depth == 0 => parts += cur.toString; cur.setLength(0); i += 1
        case c => cur.append(c); i += 1
      }
    }
    if (depth != 0) None
    else { parts += cur.toString; Some(parts.toSeq) }
  }

  /** Some(unescaped value) when the trimmed arg is exactly one
    * single-quoted literal (interior quotes '' only). */
  private def bareLiteral(arg: String): Option[String] = {
    val t = arg.trim
    if (t.length < 2 || t.head != '\'' || t.last != '\'') return None
    val inner = t.substring(1, t.length - 1)
    val out = new StringBuilder
    var i = 0
    while (i < inner.length) {
      if (inner.charAt(i) == '\'') {
        if (i + 1 < inner.length && inner.charAt(i + 1) == '\'') {
          out.append('\''); i += 2
        } else return None // a bare quote ⇒ not ONE literal
      } else { out.append(inner.charAt(i)); i += 1 }
    }
    Some(out.toString)
  }

  private def intLit(arg: String): Option[Long] = {
    val t = arg.trim
    val digits = if (t.startsWith("-")) t.drop(1) else t
    if (digits.nonEmpty && digits.length <= 18 && digits.forall(_.isDigit))
      Some(t.toLong)
    else None
  }

  /** Re-quote a string as a Spark SQL literal (Spark's default literals
    * process C escapes, so backslashes double). */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  // C strftime code → JDK DateTimeFormatter pattern, zero-padded and
  // `%-` no-pad variants. Codes verified against the installed DuckDB:
  // %I/%H pad to 2, %j to 3, %p = AM/PM, %f = 6-digit microseconds.
  private val CPad = Map(
    'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'h' -> "MMM", 'B' -> "MMMM",
    'd' -> "dd", 'H' -> "HH", 'I' -> "hh", 'j' -> "DDD", 'm' -> "MM",
    'M' -> "mm", 'p' -> "a", 'S' -> "ss", 'y' -> "yy", 'Y' -> "yyyy",
    'f' -> "SSSSSS")
  private val CNoPad = Map(
    'd' -> "d", 'H' -> "H", 'I' -> "h", 'j' -> "D", 'm' -> "M",
    'M' -> "m", 'S' -> "s")

  /** C format string → JDK pattern; literal text is JDK-quoted (every
    * letter run — JDK treats bare letters as pattern codes). None when
    * any % code has no JDK twin (locale/%U weeks/%Z zones/…). */
  def cFormatToJdk(fmt: String): Option[String] = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(Character.isLetter) || s.contains('\''))
        out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      lit.setLength(0)
    }
    var i = 0
    while (i < fmt.length) {
      fmt.charAt(i) match {
        case '%' if i + 1 < fmt.length =>
          val c1 = fmt.charAt(i + 1)
          if (c1 == '%') { lit.append('%'); i += 2 }
          else if (c1 == '-' && i + 2 < fmt.length &&
            CNoPad.contains(fmt.charAt(i + 2))) {
            flush(); out.append(CNoPad(fmt.charAt(i + 2))); i += 3
          } else CPad.get(c1) match {
            case Some(jdk) => flush(); out.append(jdk); i += 2
            case None => return None
          }
        case '%' => return None // trailing bare %
        case c => lit.append(c); i += 1
      }
    }
    flush()
    Some(out.toString)
  }

  /** Scan from the '(' at `open` to its MATCHING ')' (quoted regions
    * skipped): `(indexAfterCloseParen, sawTopLevelComma)`, or None when
    * unbalanced — callers then fall back to the plain rename. */
  private def scanCall(sql: String, open: Int): Option[(Int, Boolean)] = {
    val n = sql.length
    var i = open + 1
    var depth = 1
    var topComma = false
    while (i < n && depth > 0) {
      sql.charAt(i) match {
        case '\'' =>
          i += 1
          var closed = false
          while (i < n && !closed) {
            if (sql.charAt(i) == '\'') {
              if (i + 1 < n && sql.charAt(i + 1) == '\'') i += 2
              else { closed = true; i += 1 }
            } else i += 1
          }
        case '"' =>
          i += 1
          while (i < n && sql.charAt(i) != '"') i += 1
          if (i < n) i += 1
        case '(' | '[' | '{' => depth += 1; i += 1
        case ')' | ']' | '}' => depth -= 1; i += 1
        case ',' if depth == 1 => topComma = true; i += 1
        case _ => i += 1
      }
    }
    if (depth == 0) Some((i, topComma)) else None
  }

  /** Index just past the close matching the `[`/`{`/`(` at `open`
    * (quote-aware; all three bracket kinds count toward one nesting
    * depth, so mixed nesting like `[f({'a': 1})]` scans correctly).
    * None when unbalanced. */
  private def scanMatch(sql: String, open: Int): Option[Int] = {
    val n = sql.length
    var i = open
    var depth = 0
    while (i < n) {
      sql.charAt(i) match {
        case '\'' =>
          i += 1
          var closed = false
          while (i < n && !closed) {
            if (sql.charAt(i) == '\'') {
              if (i + 1 < n && sql.charAt(i + 1) == '\'') i += 2
              else { closed = true; i += 1 }
            } else i += 1
          }
          if (!closed) return None
        case '"' =>
          i += 1
          while (i < n && sql.charAt(i) != '"') i += 1
          if (i >= n) return None
          i += 1
        case '(' | '[' | '{' => depth += 1; i += 1
        case ')' | ']' | '}' =>
          depth -= 1; i += 1
          if (depth == 0) return Some(i)
        case _ => i += 1
      }
    }
    None
  }

  /** Start index of the first TOP-LEVEL occurrence of word `kw` in `s`
    * (word-bounded, case-insensitive, outside quotes and brackets), or
    * -1. Used to spot the `FOR`/`IN`/`IF` of a list comprehension. */
  private def topKeyword(s: String, kw: String): Int = {
    val n = s.length
    var i = 0
    var depth = 0
    while (i < n) {
      s.charAt(i) match {
        case '\'' =>
          i += 1
          var closed = false
          while (i < n && !closed) {
            if (s.charAt(i) == '\'') {
              if (i + 1 < n && s.charAt(i + 1) == '\'') i += 2
              else { closed = true; i += 1 }
            } else i += 1
          }
        case '"' =>
          i += 1
          while (i < n && s.charAt(i) != '"') i += 1
          if (i < n) i += 1
        // comments never carry clause keywords (a commented-out
        // `-- qualify` must not trigger a statement bridge)
        case '-' if i + 1 < n && s.charAt(i + 1) == '-' =>
          val e = s.indexOf('\n', i)
          i = if (e < 0) n else e + 1
        case '/' if i + 1 < n && s.charAt(i + 1) == '*' =>
          val e = s.indexOf("*/", i + 2)
          i = if (e < 0) n else e + 2
        case '(' | '[' | '{' => depth += 1; i += 1
        case ')' | ']' | '}' => depth -= 1; i += 1
        case c if Character.isLetter(c) || c == '_' =>
          val start = i
          while (i < n && (Character.isLetterOrDigit(s.charAt(i)) ||
            s.charAt(i) == '_')) i += 1
          if (depth == 0 && s.substring(start, i)
            .equalsIgnoreCase(kw)) return start
        case _ => i += 1
      }
    }
    -1
  }

  /** `Some((key, valueText))` when the trimmed part is a struct-literal
    * entry: a single-quoted or bare-identifier key, then `:` (not `::`),
    * then the value expression. */
  private def structEntry(part: String): Option[(String, String)] = {
    val t = part.trim
    if (t.isEmpty) return None
    var i = 0
    val key = new StringBuilder
    if (t.head == '\'') {
      i = 1
      var closed = false
      while (i < t.length && !closed) {
        if (t.charAt(i) == '\'') {
          if (i + 1 < t.length && t.charAt(i + 1) == '\'') {
            key.append('\''); i += 2
          } else { closed = true; i += 1 }
        } else { key.append(t.charAt(i)); i += 1 }
      }
      if (!closed) return None
    } else if (Character.isLetter(t.head) || t.head == '_') {
      while (i < t.length && (Character.isLetterOrDigit(t.charAt(i)) ||
        t.charAt(i) == '_')) { key.append(t.charAt(i)); i += 1 }
    } else return None
    while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    if (i >= t.length || t.charAt(i) != ':' ||
      (i + 1 < t.length && t.charAt(i + 1) == ':')) return None
    Some((key.toString, t.substring(i + 1)))
  }

  /** The identifier/keyword word starting at `at` (empty when none). */
  private def readWord(s: String, at: Int): String = {
    var k = at
    while (k < s.length && (Character.isLetterOrDigit(s.charAt(k)) ||
      s.charAt(k) == '_')) k += 1
    s.substring(at, k)
  }

  /** The last whole word already emitted to `sb` (empty when the tail is
    * not a word) — the FROM/JOIN-position test for table functions. */
  private def lastWord(sb: StringBuilder): String = {
    var k = sb.length - 1
    while (k >= 0 && Character.isWhitespace(sb.charAt(k))) k -= 1
    val end = k
    while (k >= 0 && (Character.isLetterOrDigit(sb.charAt(k)) ||
      sb.charAt(k) == '_')) k -= 1
    if (end < 0) "" else sb.substring(k + 1, end + 1)
  }

  /** True when the statement has a TOP-LEVEL set operation. `EXCEPT`
    * counts only when NOT directly after `*` (that one is the star
    * modifier, Spark's own spelling of DuckDB's EXCLUDE). */
  private def hasTopSetOp(sql: String): Boolean = {
    if (topKeyword(sql, "union") >= 0 ||
      topKeyword(sql, "intersect") >= 0) return true
    var off = 0
    while (off < sql.length) {
      val r = topKeyword(sql.substring(off), "except")
      if (r < 0) return false
      val at = off + r
      var k = at - 1
      while (k >= 0 && Character.isWhitespace(sql.charAt(k))) k -= 1
      if (k < 0 || sql.charAt(k) != '*') return true
      off = at + 6
    }
    false
  }

  /** Index in `s` where the statement's trailing clauses (top-level
    * ORDER BY / LIMIT / OFFSET) begin, or `s.length` when none. */
  private def tailCut(s: String): Int =
    Seq("order", "limit", "offset").map(topKeyword(s, _)).filter(_ >= 0)
      .reduceOption(_ min _).getOrElse(s.length)

  /** When `tail` starts with a top-level ORDER BY: its items prepared
    * for a WRAPPED query — SQL resolves ORDER BY against the base
    * relation (DuckDB: `SELECT a FROM t ORDER BY b` is legal), but a
    * wrap projects first, so each expression item becomes a HIDDEN
    * inner column (`expr AS __<tag>_obK`) the outer sorts by and then
    * drops via `* EXCEPT`. Positional (`2 DESC`) and `ALL` items stay
    * verbatim in the outer clause (positions/names are preserved by the
    * wrap; hiding them would turn a position into a constant). Returns
    * (hidden inner items, outer ORDER BY items, raw original items,
    * rest-of-tail). */
  private def wrapOrderBy(tail: String, tag: String)
      : Option[(Seq[String], Seq[String], Seq[String], String)] = {
    val t = tail.trim
    if (t.isEmpty || !readWord(t, 0).equalsIgnoreCase("order")) return None
    var b = 5
    while (b < t.length && Character.isWhitespace(t.charAt(b))) b += 1
    if (!readWord(t, b).equalsIgnoreCase("by")) return None
    val body = t.substring(b + 2)
    val cut = Seq("limit", "offset").map(topKeyword(body, _))
      .filter(_ >= 0).reduceOption(_ min _).getOrElse(body.length)
    val items = splitTop(body.substring(0, cut))
      .getOrElse(return None).map(_.trim)
    if (items.exists(_.isEmpty)) return None
    val dirWords = Set("asc", "desc", "nulls", "first", "last")
    var k = 0
    val (hidden, outer) = items.map { it =>
      val w0 = it.takeWhile(c => !Character.isWhitespace(c))
      if (w0.forall(Character.isDigit) || w0.equalsIgnoreCase("all"))
        (None, it)
      else {
        // strip the trailing direction keywords off the expression
        var end = it.length
        var go = true
        while (go) {
          var e2 = end
          while (e2 > 0 && Character.isWhitespace(it.charAt(e2 - 1))) e2 -= 1
          var s2 = e2
          while (s2 > 0 && Character.isLetter(it.charAt(s2 - 1))) s2 -= 1
          val w = it.substring(s2, e2)
          if (w.nonEmpty && dirWords(w.toLowerCase(java.util.Locale.ROOT))
            && s2 > 0 && Character.isWhitespace(it.charAt(s2 - 1))) end = s2
          else go = false
        }
        val expr = it.substring(0, end).trim
        val suffix = it.substring(end).trim
        val name = s"__${tag}_ob$k"
        k += 1
        (Some(s"$expr AS $name"),
          if (suffix.isEmpty) name else s"$name $suffix")
      }
    }.unzip
    Some((hidden.flatten, outer, items, body.substring(cut).trim))
  }

  /** DuckDB's QUALIFY clause (Spark 4 has none — parse error, verified)
    * → a wrapped post-window filter:
    *   [prefix] SELECT sel FROM rest QUALIFY pred [tail]
    *   → [prefix] SELECT * EXCEPT (__graft_qualify) FROM (
    *       SELECT sel, (pred) AS __graft_qualify FROM rest)
    *     WHERE __graft_qualify [tail]
    * The predicate computes in the INNER select list, where window
    * functions are legal and references to sibling select aliases
    * resolve laterally (both verified on Spark 4.1); the outer
    * `* EXCEPT` drops the helper column, so projection, column
    * positions (for a positional ORDER BY in the tail) and the
    * DuckDB evaluation order (WHERE/GROUP/HAVING → windows → QUALIFY →
    * ORDER/LIMIT, verified) are all preserved. The prefix (WITH ctes,
    * INSERT INTO, CREATE … AS) passes through. Refused — left untouched
    * so Spark's parse error routes to [[guidance]]: top-level set
    * operations, SELECT DISTINCT (DuckDB dedups AFTER qualify; the wrap
    * would dedup over the helper column too), QUALIFY inside a
    * subquery (top level bridges only). */
  private def bridgeQualify(sql: String): String = {
    val q = topKeyword(sql, "qualify")
    if (q < 0) return sql
    if (hasTopSetOp(sql)) return sql
    val sel = topKeyword(sql, "select")
    if (sel < 0 || sel > q) return sql
    var k = sel + 6
    while (k < sql.length && Character.isWhitespace(sql.charAt(k))) k += 1
    if (readWord(sql, k).equalsIgnoreCase("distinct")) return sql
    val f = topKeyword(sql, "from")
    if (f < sel || f > q) return sql
    val after = sql.substring(q + 7)
    val cut = tailCut(after)
    val pred = after.substring(0, cut).trim
    if (pred.isEmpty) return sql
    val tailTxt = after.substring(cut).trim
    // an ORDER BY in the tail may reference base columns the projection
    // drops (legal SQL; the wrap would lose them) — hide them as inner
    // columns the outer sorts by then EXCEPTs away
    val (hidden, outerTail) = wrapOrderBy(tailTxt, "graft_q") match {
      case Some((h, items, _, rest)) =>
        (h, ("ORDER BY " + items.mkString(", ") +
          (if (rest.isEmpty) "" else " " + rest)).trim)
      case None => (Seq.empty[String], tailTxt)
    }
    val dropCols = "__graft_qualify" +:
      hidden.map(_.split(" AS ").last)
    sql.substring(0, sel) +
      s"SELECT * EXCEPT (${dropCols.mkString(", ")}) FROM (SELECT " +
      sql.substring(sel + 6, f).trim + ", (" + pred +
      ") AS __graft_qualify" +
      (if (hidden.isEmpty) "" else ", " + hidden.mkString(", ")) +
      " " + sql.substring(f, q).trim +
      ") WHERE __graft_qualify" +
      (if (outerTail.isEmpty) "" else " " + outerTail)
  }

  /** Start indexes of every TOP-LEVEL occurrence of word `kw`. */
  private def topKeywordAll(s: String, kw: String): Seq[Int] = {
    var out = Seq.empty[Int]
    var off = 0
    while (off <= s.length) {
      val r = topKeyword(s.substring(off), kw)
      if (r < 0) return out
      out :+= off + r
      off = off + r + kw.length
    }
    out
  }

  /** [[bridgeSampleRows]] applied at EVERY nesting depth: the top-level
    * statement first, then each parenthesized segment recursively (a
    * sampled subquery — `SELECT count(*) FROM (SELECT * FROM t USING
    * SAMPLE 7 ROWS)` — is the common aggregate-contract shape). Quoted
    * regions are skipped by the same scan the rest of the shim uses. */
  private def bridgeSampleRowsDeep(sql: String): String = {
    val top = bridgeSampleRows(sql)
    if (topKeywordAll(top, "using").isEmpty &&
      !top.toLowerCase(java.util.Locale.ROOT).contains("using")) return top
    val n = top.length
    val sb = new StringBuilder(n + 16)
    var i = 0
    while (i < n) top.charAt(i) match {
      case '\'' =>
        sb.append('\''); i += 1
        var closed = false
        while (i < n && !closed) {
          top.charAt(i) match {
            case '\'' if i + 1 < n && top.charAt(i + 1) == '\'' =>
              sb.append("''"); i += 2
            case '\'' => sb.append('\''); closed = true; i += 1
            case ch => sb.append(ch); i += 1
          }
        }
      case '(' => scanCall(top, i) match {
        case Some((after, _)) =>
          sb.append('(')
            .append(bridgeSampleRowsDeep(top.substring(i + 1, after - 1)))
            .append(')')
          i = after
        case None => sb.append(top.substring(i)); i = n
      }
      case ch => sb.append(ch); i += 1
    }
    sb.toString
  }

  /** DuckDB's `USING SAMPLE n [ROWS]` — a RANDOM RESERVOIR of exactly
    * min(n, |input|) rows (verified), applied BEFORE the WHERE clause
    * (verified: `FROM range(100) WHERE range>49 USING SAMPLE 5 ROWS`
    * filters the 5 sampled rows, returning ~2.5). Spark's
    * `TABLESAMPLE (n ROWS)` is a plain LIMIT — silently different rows
    * — so the bridge rewrites the FROM relation into
    *   FROM (SELECT * FROM rel ORDER BY rand() LIMIT n) alias
    * a true uniform-n (every row equally likely, like the reservoir):
    * Spark plans ORDER BY+LIMIT as TakeOrderedAndProject — an O(n)
    * per-partition bounded heap, no full sort, no extra shuffle — the
    * 100 TB-safe shape. Both engines draw DIFFERENT random rows (as two
    * DuckDB runs do), so only aggregate contracts (counts) are
    * oracle-comparable — q173 pins the row-count semantics.
    *
    * Bridged subset: single ident relation [alias], optional WHERE
    * between relation and the sample clause (kept OUTSIDE the sampled
    * subquery — sample-before-WHERE, as DuckDB), optional ORDER BY /
    * LIMIT tail after it. r11 adds the reservoir method/seed spellings
    * — `n [ROWS] (reservoir[, seed])` and `reservoir(n ROWS)` (DuckDB's
    * parser rejects a seed inside the method-first rows form) — where
    * the seed pins the draw WITHIN Spark via rand(seed), never across
    * engines (q173's aggregate-contract rule). Refused → guidance: the
    * PERCENT forms (the char-scan bridges bernoulli/system, refuses
    * exact-count reservoir %), bernoulli/system with a ROWS count
    * (DuckDB itself errors), joins/subqueries in FROM, GROUP BY
    * (DuckDB's own parser rejects sample-then-group anyway). */
  private def bridgeSampleRows(sql: String): String = {
    val usingAt = topKeyword(sql, "using")
    if (usingAt < 0) return sql
    var i = usingAt + 5
    def ws(): Unit =
      while (i < sql.length && Character.isWhitespace(sql.charAt(i))) i += 1
    ws()
    if (!readWord(sql, i).equalsIgnoreCase("sample")) return sql
    i += 6; ws()
    var seed = "" // rand() when empty, rand(seed) when pinned
    // method-first rows form: reservoir( n ROWS )
    var methodFirst = false
    if (readWord(sql, i).equalsIgnoreCase("reservoir")) {
      var t = i + 9
      while (t < sql.length && Character.isWhitespace(sql.charAt(t))) t += 1
      if (t < sql.length && sql.charAt(t) == '(') {
        methodFirst = true; i = t + 1; ws()
      } else return sql
    }
    val numStart = i
    while (i < sql.length && Character.isDigit(sql.charAt(i))) i += 1
    val num = sql.substring(numStart, i)
    if (num.isEmpty) return sql // bernoulli/system-first % forms: char-scan
    ws()
    if (i < sql.length && (sql.charAt(i) == '%' ||
      readWord(sql, i).equalsIgnoreCase("percent"))) return sql
    if (readWord(sql, i).equalsIgnoreCase("rows")) { i += 4; ws() }
    if (methodFirst) {
      if (i >= sql.length || sql.charAt(i) != ')') return sql
      i += 1; ws()
    } else if (i < sql.length && sql.charAt(i) == '(') {
      // `n [ROWS] (reservoir[, seed])` — other methods cannot take a
      // discrete count (DuckDB errors), so they fall to guidance
      i += 1; ws()
      if (!readWord(sql, i).equalsIgnoreCase("reservoir")) return sql
      i += 9; ws()
      if (i < sql.length && sql.charAt(i) == ',') {
        i += 1; ws()
        val ss = i
        while (i < sql.length && Character.isDigit(sql.charAt(i))) i += 1
        seed = sql.substring(ss, i)
        if (seed.isEmpty) return sql
        ws()
      }
      if (i >= sql.length || sql.charAt(i) != ')') return sql
      i += 1; ws()
    }
    if (readWord(sql, i).equalsIgnoreCase("repeatable")) return sql
    val tail = sql.substring(i).trim
    if (tail.nonEmpty) {
      val w = readWord(tail, 0).toLowerCase(java.util.Locale.ROOT)
      if (w != "order" && w != "limit" && w != "offset") return sql
    }
    if (hasTopSetOp(sql)) return sql
    for (kw <- Seq("group", "having", "qualify", "window", "join"))
      if (topKeyword(sql, kw) >= 0) return sql
    val ord = topKeyword(sql, "order")
    if (ord >= 0 && ord < usingAt) return sql // ORDER before sample
    val f = topKeyword(sql, "from")
    if (f < 0 || f > usingAt) return sql
    var j = f + 4
    while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
    val rel = parseIdentChain(sql, j) match {
      case Some((ident, after)) => j = after; ident
      case None => return sql
    }
    while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
    var alias = rel.split('.').last
    if (j < usingAt) {
      val w = readWord(sql, j)
      if (w.nonEmpty && !Keywords(w.toLowerCase(java.util.Locale.ROOT))) {
        alias = w; j += w.length
        while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
      }
    }
    // between the relation and USING only whitespace or a WHERE clause
    // may sit (commas/joins -> guidance); it stays OUTSIDE the sample
    val between = sql.substring(j, usingAt)
    if (between.trim.nonEmpty &&
      !readWord(between.trim, 0).equalsIgnoreCase("where")) return sql
    sql.substring(0, f) +
      s"FROM (SELECT * FROM $rel ORDER BY rand($seed) LIMIT $num) $alias " +
      between.trim + (if (between.trim.isEmpty) "" else " ") + tail
  }

  /** DuckDB's EXACT-COUNT percent reservoir (r12) — `USING SAMPLE
    * reservoir(p%)` / `p% | p PERCENT (reservoir[, seed])` — needs the
    * relation's cardinality: k = round-half-up(|rel| · p/100)
    * (DuckDB-verified: 10% of 95 → 10, 25% of 90 → 23, 0.5-at-odd
    * 1.5 → 2, decimal percents allowed). It therefore bridges
    * SESSION-aware — one bounded count job on the PRE-WHERE relation
    * (DuckDB samples before the WHERE; q173's rule) — into the ROWS
    * form the text bridge already handles. Top-level statements only;
    * the structural pre-check runs the ROWS bridge on a placeholder
    * first, so the count job is only paid for statements that will
    * actually bridge. */
  private def bridgeReservoirPercent(
      spark: SparkSession, sql: String): Option[String] = {
    val usingAt = topKeyword(sql, "using")
    if (usingAt < 0) return None
    var i = usingAt + 5
    def ws(): Unit =
      while (i < sql.length && Character.isWhitespace(sql.charAt(i))) i += 1
    ws()
    if (!readWord(sql, i).equalsIgnoreCase("sample")) return None
    i += 6; ws()
    var seed = ""
    var pct = ""
    def readPct(): Boolean = {
      val s = i
      while (i < sql.length && (Character.isDigit(sql.charAt(i)) ||
        sql.charAt(i) == '.')) i += 1
      pct = sql.substring(s, i)
      pct.matches("""\d+(\.\d+)?""") && {
        ws()
        if (i < sql.length && sql.charAt(i) == '%') { i += 1; true }
        else if (readWord(sql, i).equalsIgnoreCase("percent")) {
          i += 7; true
        } else false
      }
    }
    if (readWord(sql, i).equalsIgnoreCase("reservoir")) {
      // reservoir( p% ) — DuckDB's parser rejects a seed in this form
      i += 9; ws()
      if (i >= sql.length || sql.charAt(i) != '(') return None
      i += 1; ws()
      if (!readPct()) return None
      ws()
      if (i >= sql.length || sql.charAt(i) != ')') return None
      i += 1
    } else {
      if (!readPct()) return None
      ws()
      if (i >= sql.length || sql.charAt(i) != '(') return None
      i += 1; ws()
      if (!readWord(sql, i).equalsIgnoreCase("reservoir")) return None
      i += 9; ws()
      if (i < sql.length && sql.charAt(i) == ',') {
        i += 1; ws()
        val ss = i
        while (i < sql.length && Character.isDigit(sql.charAt(i))) i += 1
        seed = sql.substring(ss, i)
        if (seed.isEmpty) return None
        ws()
      }
      if (i >= sql.length || sql.charAt(i) != ')') return None
      i += 1
    }
    val tailAfter = sql.substring(i)
    def emitted(k: String): String =
      sql.substring(0, usingAt) + s"USING SAMPLE $k ROWS" +
        (if (seed.isEmpty) "" else s" (reservoir, $seed)") + tailAfter
    val probe = emitted("0")
    if (bridgeSampleRows(probe) == probe) return None
    val f = topKeyword(sql, "from")
    if (f < 0) return None
    var j = f + 4
    while (j < sql.length && Character.isWhitespace(sql.charAt(j))) j += 1
    val rel = parseIdentChain(sql, j).map(_._1).getOrElse(return None)
    val total =
      try spark.table(rel).count()
      catch { case scala.util.control.NonFatal(_) => return None }
    val k = (BigDecimal(total) * BigDecimal(pct) / 100)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toBigInt.toString
    Some(emitted(k))
  }

  /** DuckDB's ASOF JOIN (Spark has none — parse error) → an equi+range
    * join with a row_number()=1 pick per LEFT row:
    *   SELECT sel FROM l [la] ASOF [LEFT] JOIN r [ra] ON cond [tail]
    *   → SELECT * EXCEPT (__graft_arn[, __graft_aid]) FROM (
    *       SELECT sel, row_number() OVER (PARTITION BY __graft_aid
    *         ORDER BY <right-expr> <dir>) AS __graft_arn
    *       FROM (SELECT *, monotonically_increasing_id()
    *             AS __graft_aid FROM l) la [LEFT] JOIN r ra ON cond)
    *     WHERE __graft_arn = 1 [tail]
    * The synthesized id gives each left row its own window partition
    * (its VALUES are layout-dependent, but they only group — the id is
    * dropped and the surviving rows are the per-left-row best matches,
    * deterministic given a tie-free range column).
    *
    * SCALE NOTE: this is the GENERIC rewrite — the join streams every
    * range-matching pair through a partial WindowGroupLimit (pruned
    * before the exchange, so shuffle volume is ~1 row per left row),
    * but pair GENERATION is O(left × matching-right) per equi group;
    * DuckDB ships a dedicated sort-merge ASOF operator precisely
    * because of that. Acceptable for moderate equi groups (the dialect
    * surface's job); a pipeline at 100 TB should use the q51-style
    * union+ordered-window composition, which is O(n log n).
    *
    * Direction from the
    * single inequality, verified against DuckDB: right ≤/< left picks
    * the LARGEST right value (DESC), right ≥/> the smallest (ASC);
    * LEFT keeps unmatched rows (the lone NULL-right row is trivially
    * rn=1). The left relation keeps its alias (or its leaf name), so
    * qualified references in the select list survive; a bare `*` pulls
    * the id through, so it joins the EXCEPT list. Refused → guidance:
    * WHERE (DuckDB filters AFTER the asof pick; the wrap would filter
    * candidate matches BEFORE it — silently different), GROUP BY/
    * HAVING/QUALIFY, set ops, subquery relations, further joins, zero
    * or multiple inequalities, an inequality that does not reference
    * exactly one side's alias. */
  /** Comma-lateral series bridge (r12, VERDICT r11 item 4): DuckDB's
    * `FROM t, generate_series(…) [[AS] g(i)]` — the most common
    * remaining unbridged DuckDB idiom — and the correlated-argument
    * spelling `FROM t, unnest(generate_series(…)) AS u(j)` (DuckDB 1.0
    * itself refuses lateral column parameters on the bare TVF —
    * verified: "does not support lateral join column parameters" — so
    * real correlated usage writes the unnest form) have no comma twin
    * in Spark; the twin is `LATERAL VIEW explode(sequence(…)) g AS i`.
    *
    * A quote/comment-aware scan tracks a per-paren-depth in-FROM flag
    * and rewrites ONLY FROM-clause commas whose right-hand item is a
    * series call; every other comma (select lists, call arguments,
    * plain comma joins) passes through untouched. Trailing items emit
    * IN PLACE; MID-LIST items (r12, second session) DEFER to the end
    * of their FROM clause — Spark's LATERAL VIEW cannot precede a
    * plain comma join, but a comma-join is an inner cross product
    * (relations commute) and DuckDB's lateral scoping means series
    * args reference only PRECEDING items, all still visible after the
    * move; relative order among deferred items is preserved (chained
    * correlation stays bound). A JOIN anywhere in the remaining FROM
    * tail refuses to guidance: DuckDB can bind the series as the
    * join's LEFT OPERAND, and moving it past an outer join would
    * change the null-extension side. Alias mapping (verified on
    * DuckDB 1.0):
    * bare / `g` → column named `generate_series`; `[AS] g(i)` → `i`.
    * The unaliased comma-unnest of a PLAIN COLUMN bridges (r13): DuckDB
    * names the column after the argument's leaf, qualified by the table
    * alias (default `unnest`) — `FROM t, unnest(tags)` → `LATERAL VIEW
    * explode(tags) unnest AS tags`. Expression arguments (DuckDB's
    * rendered-expression name) and multi-column aliases still pass
    * through to guidance. Emitted argument text is verbatim:
    * the main scan afterwards rewrites duckisms inside it (including
    * the scalar generate_series → sequence inside the unnest form). */
  private def bridgeCommaLateralSeries(sql: String): String = {
    val n = sql.length
    val sb = new StringBuilder(n + 32)
    var inFrom = List(false) // one flag per paren depth
    // mid-list series items DEFER to the end of their FROM clause (r12,
    // second session): `FROM t, gs(…) AS g(i), u` → `FROM t, u LATERAL
    // VIEW …` — legal because a comma-join is an inner cross product
    // (relations commute) and DuckDB's own lateral scoping means the
    // series args can only reference PRECEDING items, all still visible
    // after the move. One pending list per paren depth, flushed before
    // the clause-ending keyword / ')' / ';' / end of statement.
    var pending = List(List.empty[String])
    var i = 0
    def skipWs(j0: Int): Int = {
      var j = j0
      while (j < n && Character.isWhitespace(sql.charAt(j))) j += 1
      j
    }
    // clause heads that END a FROM clause (JOIN/ON/USING keep it open —
    // a bridged item refuses a following JOIN via noJoinAhead below)
    val enders = Set("select", "where", "group", "having", "order",
      "limit", "offset", "union", "except", "intersect", "qualify",
      "window", "values")
    def flush(): Unit = if (pending.head.nonEmpty) {
      pending.head.foreach(sb.append)
      sb.append(' ')
      pending = Nil :: pending.tail
    }
    // parse one series item starting AT the comma; None = pass through
    def seriesItem(comma: Int): Option[(String, Int)] = {
      val j = skipWs(comma + 1)
      val w = readWord(sql, j).toLowerCase(java.util.Locale.ROOT)
      val isSeries = w == "generate_series"
      val isUnnest = w == "unnest"
      if (!isSeries && !isUnnest) return None
      val po = skipWs(j + w.length)
      if (po >= n || sql.charAt(po) != '(') return None
      val (after, _) = scanCall(sql, po).getOrElse(return None)
      val inner = sql.substring(po + 1, after - 1)
      val core =
        if (isUnnest) {
          if (inner.trim.isEmpty) return None
          s"explode($inner)"
        } else splitTop(inner) match {
          case Some(args) if args.nonEmpty && args.length <= 3 &&
            args.forall(_.trim.nonEmpty) =>
            // DuckDB's 1-arg TVF is 0..stop INCLUSIVE (verified)
            if (args.length == 1) s"explode(sequence(0, ${args.head.trim}))"
            else s"explode(sequence(${args.map(_.trim).mkString(", ")}))"
          case _ => return None
        }
      // optional [AS] tblAlias [(colAlias)]
      var k = skipWs(after)
      var hasAs = false
      if (readWord(sql, k).equalsIgnoreCase("as")) {
        hasAs = true; k = skipWs(k + 2)
      }
      var tbl = ""
      var colA = ""
      val aw = readWord(sql, k)
      if (aw.nonEmpty && (hasAs ||
        !Keywords(aw.toLowerCase(java.util.Locale.ROOT)))) {
        tbl = aw
        var k2 = skipWs(k + aw.length)
        if (k2 < n && sql.charAt(k2) == '(') {
          val (ca, _) = scanCall(sql, k2).getOrElse(return None)
          val cols = splitTop(sql.substring(k2 + 1, ca - 1))
            .getOrElse(return None).map(_.trim)
          // one BARE column name only — a series yields one column
          if (cols.length != 1 || readWord(cols.head, 0) != cols.head ||
            cols.head.isEmpty) return None
          colA = cols.head
          k2 = ca
        }
        k = k2
      } else if (hasAs) return None // `AS <keyword/nothing>` — pass
      // column-alias-free unnest (VERDICT r12 item 8): DuckDB names the
      // column after the ARGUMENT — for a plain column ref the leaf
      // name, qualified by the table alias (default `unnest`); verified:
      // `FROM t, unnest(tags) [u]` → column `tags`, referenced as
      // `unnest.tags` / `u.tags`. r14 (VERDICT r13 item 7): an
      // EXPRESSION argument names by DuckDB's RENDERED expression text
      // (verified: `unnest(list_sort( tags ))` → column
      // `list_sort(tags)`) — reproduced via [[renderDuckAtom]] for the
      // single-function-call-over-atoms case; spellings DuckDB
      // re-renders through its own operators (`(tags ||
      // main.list_value(5))`) still refuse to guidance.
      val unnestCol: String =
        if (isUnnest && colA.isEmpty) {
          val a = inner.trim
          if (a.nonEmpty && a.matches(
            """[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*"""))
            a.substring(a.lastIndexOf('.') + 1)
          else renderDuckAtom(a) match {
            case Some(r) if r.contains('(') => r
            case _ => return None
          }
        } else ""
      val tblName =
        if (tbl.nonEmpty) tbl
        else if (isUnnest) "unnest"
        else "generate_series"
      val colName =
        if (colA.nonEmpty) colA
        else if (isUnnest) unnestCol
        else "generate_series"
      // rendered-expression names carry parens/quotes — backtick them
      val colOut =
        if (colName.matches("[A-Za-z_][A-Za-z0-9_]*")) colName
        else "`" + colName.replace("`", "``") + "`"
      Some((s" LATERAL VIEW $core $tblName AS $colOut", k))
    }
    // after a bridged item the FROM list may only continue with another
    // series item, a clause end, ')' / ';' or the statement end —
    // then the LATERAL VIEW emits IN PLACE (the trailing form). A
    // following series item does NOT settle it by itself: in-place vs
    // deferred is decided by the end of the whole series CHAIN (ADVICE
    // r12 — `…, gs(…) g(i), gs(…) h(j), u` must defer BOTH items, or
    // the first LATERAL VIEW lands before the `, u` comma join), so
    // recurse through consecutive bridgeable items; a series-looking
    // item the bridge REFUSES also answers false (deferring keeps the
    // refused TVF in comma position, where the guidance names it).
    def tailOk(afterItem: Int): Boolean = {
      val k = skipWs(afterItem)
      if (k >= n) return true
      sql.charAt(k) match {
        case ')' | ';' => true
        case ',' =>
          seriesItem(k) match {
            case Some((_, after2)) => tailOk(after2)
            case None => false
          }
        case _ =>
          val w = readWord(sql, k).toLowerCase(java.util.Locale.ROOT)
          w.nonEmpty && enders(w)
      }
    }
    // mid-list deferral is legal only over plain comma items: a JOIN in
    // the tail could have bound the series as ITS left operand (DuckDB
    // accepts `…, gs(…) LEFT JOIN v ON …`), and moving the series past
    // an outer join changes the null-extension side — refuse those to
    // guidance rather than risk a silently different shape
    def noJoinAhead(from: Int): Boolean = {
      var k = from
      var depth = 0
      while (k < n) {
        val c = sql.charAt(k)
        if (c == '\'') { k += 1
          while (k < n && sql.charAt(k) != '\'') k += 1
          k += 1
        } else if (c == '"') { k += 1
          while (k < n && sql.charAt(k) != '"') k += 1
          k += 1
        } else if (c == '(') { depth += 1; k += 1 }
        else if (c == ')') { if (depth == 0) return true; depth -= 1; k += 1 }
        else if (c == ';' && depth == 0) return true
        else if ((Character.isLetter(c) || c == '_') && depth == 0) {
          val w = readWord(sql, k).toLowerCase(java.util.Locale.ROOT)
          if (enders(w)) return true
          if (w == "join" || w == "inner" || w == "left" || w == "right"
            || w == "full" || w == "cross" || w == "natural" ||
            w == "lateral" || w == "asof") return false
          k += w.length
        } else k += 1
      }
      true
    }
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') { // string literal: verbatim (incl. '' escapes)
        sb.append(c); i += 1
        var closed = false
        while (i < n && !closed) {
          if (sql.charAt(i) == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') {
              sb.append("''"); i += 2
            } else { sb.append('\''); i += 1; closed = true }
          } else { sb.append(sql.charAt(i)); i += 1 }
        }
      } else if (c == '"') { // quoted ident: verbatim
        sb.append(c); i += 1
        while (i < n && sql.charAt(i) != '"') { sb.append(sql.charAt(i)); i += 1 }
        if (i < n) { sb.append('"'); i += 1 }
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val e = sql.indexOf('\n', i)
        val end = if (e < 0) n else e + 1
        sb.append(sql.substring(i, end)); i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i + 2)
        val end = if (e < 0) n else e + 2
        sb.append(sql.substring(i, end)); i = end
      } else if (c == '(') {
        inFrom = false :: inFrom; pending = Nil :: pending
        sb.append(c); i += 1
      } else if (c == ')') {
        flush()
        if (inFrom.lengthCompare(1) > 0) inFrom = inFrom.tail
        if (pending.lengthCompare(1) > 0) pending = pending.tail
        sb.append(c); i += 1
      } else if (c == ';') {
        flush(); sb.append(c); i += 1
      } else if (c == ',' && inFrom.head) {
        seriesItem(i) match {
          case Some((rep, after)) if !tailOk(after) &&
              noJoinAhead(after) =>
            // mid-list: stash, drop the comma, resume after the item
            pending = (pending.head :+ rep) :: pending.tail
            if (after < n && !Character.isWhitespace(sql.charAt(after)) &&
              sql.charAt(after) != ')' && sql.charAt(after) != ',' &&
              sql.charAt(after) != ';') sb.append(' ')
            i = after
          case other => other.filter(t => tailOk(t._2)) match {
          case Some((rep, after)) =>
            flush() // earlier mid-list items keep their original order
            sb.append(rep)
            // the alias/keyword lookahead skipWs'd past the whitespace
            // the scanner would otherwise re-emit — restore ONE space
            // when the next token would glue on ("…AS seriesORDER BY")
            if (after < n && !Character.isWhitespace(sql.charAt(after)) &&
              sql.charAt(after) != ')' && sql.charAt(after) != ',' &&
              sql.charAt(after) != ';') sb.append(' ')
            i = after
          case None => sb.append(c); i += 1
          }
        }
      } else if (Character.isLetter(c) || c == '_') {
        val w = readWord(sql, i)
        val lw = w.toLowerCase(java.util.Locale.ROOT)
        if (lw == "from") inFrom = true :: inFrom.tail
        else if (enders(lw)) { flush(); inFrom = false :: inFrom.tail }
        sb.append(w); i += w.length
      } else { sb.append(c); i += 1 }
    }
    flush() // statement-final FROM list
    sb.toString
  }

  private def bridgeAsofJoin(sql: String): String =
    asofBridge(sql).map(_._1).getOrElse(sql)

  /** Parsed pieces of a bridgeable ASOF statement the scale guard needs:
    * relations, their aliases, and the CLEAN equi conjuncts as
    * (left-expr, right-expr) pairs. */
  private[graft] case class AsofParts(
    lrel: String, lalias: String, rrel: String, ralias: String,
    equiPairs: Seq[(String, String)])

  /** [[bridgeAsofJoin]]'s engine: Some((rewritten, parts)) when the
    * statement is the bridgeable subset, None otherwise. */
  private[graft] def asofBridge(sql: String): Option[(String, AsofParts)] = {
    val asofAt = topKeyword(sql, "asof")
    if (asofAt < 0) return None
    if (hasTopSetOp(sql)) return None
    for (kw <- Seq("where", "group", "having", "qualify", "window"))
      if (topKeyword(sql, kw) >= 0) return None
    if (topKeywordAll(sql, "join").length != 1) return None
    val sel = topKeyword(sql, "select")
    val f = topKeyword(sql, "from")
    if (sel < 0 || f < sel || asofAt < f) return None
    var k = sel + 6
    while (k < sql.length && Character.isWhitespace(sql.charAt(k))) k += 1
    if (readWord(sql, k).equalsIgnoreCase("distinct")) return None
    val selTxt = sql.substring(sel + 6, f).trim
    // left relation [alias] between FROM and ASOF. r11: a relation may
    // be a GROUPED subquery `(SELECT …) alias` (alias mandatory — Spark
    // requires one and there is no ident to default from); the inner
    // text embeds verbatim and the whole rewritten statement flows
    // through the char-scan afterwards, so duckisms inside the subquery
    // still bridge (the same ordering every other statement bridge
    // relies on).
    var i = f + 4
    def ws(): Unit =
      while (i < sql.length && Character.isWhitespace(sql.charAt(i))) i += 1
    ws()
    def parseRel(): Option[String] =
      if (i < sql.length && sql.charAt(i) == '(')
        scanCall(sql, i).map { case (after, _) =>
          val r = sql.substring(i, after); i = after; r
        }
      else parseIdentChain(sql, i).map { case (ident, after) =>
        i = after; ident
      }
    val lrel = parseRel().getOrElse(return None)
    val lGrouped = lrel.startsWith("(")
    ws()
    var lalias = if (lGrouped) "" else lrel.split('.').last
    if (i < asofAt) {
      val w = readWord(sql, i)
      if (w.isEmpty || Keywords(w.toLowerCase(java.util.Locale.ROOT)))
        return None
      lalias = w; i += w.length; ws()
      if (i != asofAt) return None
    }
    if (lalias.isEmpty) return None // grouped relation without alias
    i = asofAt + 4; ws()
    var leftJoin = false
    if (readWord(sql, i).equalsIgnoreCase("left")) {
      leftJoin = true; i += 4; ws()
    }
    if (!readWord(sql, i).equalsIgnoreCase("join")) return None
    i += 4; ws()
    val rrel = parseRel().getOrElse(return None)
    val rGrouped = rrel.startsWith("(")
    ws()
    var ralias = if (rGrouped) "" else rrel.split('.').last
    if (!readWord(sql, i).equalsIgnoreCase("on")) {
      val w = readWord(sql, i)
      if (w.isEmpty || Keywords(w.toLowerCase(java.util.Locale.ROOT)))
        return None
      ralias = w; i += w.length; ws()
    }
    if (ralias.isEmpty) return None // grouped relation without alias
    // r15 third pass: `ASOF [LEFT] JOIN r USING (c1, …, ck)` — DuckDB's
    // shorthand (pinned): equality on every column but the LAST, and
    // the last is the inequality right.ck <= left.ck. Both qualified
    // spellings stay referenceable after the join in DuckDB, exactly
    // what the synthesized ON gives (the coalescing `*` output is
    // refused upstream anyway). Columns must be plain identifiers.
    var usingCond: Option[String] = None
    if (readWord(sql, i).equalsIgnoreCase("using")) {
      var k2 = i + 5
      while (k2 < sql.length && Character.isWhitespace(sql.charAt(k2)))
        k2 += 1
      if (k2 >= sql.length || sql.charAt(k2) != '(') return None
      val close = scanMatch(sql, k2).getOrElse(return None)
      val colsU = splitTop(sql.substring(k2 + 1, close - 1))
        .getOrElse(return None).map(_.trim)
      if (colsU.isEmpty ||
        colsU.exists(!_.matches("[A-Za-z_][A-Za-z0-9_]*"))) return None
      val eqs = colsU.dropRight(1).map(c => s"$ralias.$c = $lalias.$c")
      usingCond = Some(
        (eqs :+ s"$ralias.${colsU.last} <= $lalias.${colsU.last}")
          .mkString(" AND "))
      i = close
    }
    if (usingCond.isEmpty && !readWord(sql, i).equalsIgnoreCase("on"))
      return None
    val (cond, tailTxt) = usingCond match {
      case Some(c0) => (c0, sql.substring(i).trim)
      case None =>
        i += 2
        val after = sql.substring(i)
        val cut = tailCut(after)
        (after.substring(0, cut).trim, after.substring(cut).trim)
    }
    if (cond.isEmpty) return None
    // split the conjunction; exactly ONE inequality conjunct
    val andAts = topKeywordAll(cond, "and")
    val bounds = (-3 +: andAts) :+ cond.length
    val conjs = bounds.sliding(2).map { case Seq(a, b) =>
      cond.substring(a + 3, b).trim
    }.toSeq
    def ineqOp(c: String): Option[(Int, String)] = {
      var d = 0
      var j = 0
      while (j < c.length) {
        c.charAt(j) match {
          case '\'' => j += 1
            while (j < c.length && c.charAt(j) != '\'') j += 1
            j += 1
          case '(' | '[' => d += 1; j += 1
          case ')' | ']' => d -= 1; j += 1
          case '<' | '>' if d == 0 =>
            if (j + 1 < c.length && c.charAt(j + 1) == '>') return None
            val op = if (j + 1 < c.length && c.charAt(j + 1) == '=')
              c.substring(j, j + 2) else c.substring(j, j + 1)
            return Some((j, op))
          case _ => j += 1
        }
      }
      None
    }
    val ineqs = conjs.zipWithIndex.flatMap { case (c, ix) =>
      ineqOp(c).map(o => (ix, c, o._1, o._2))
    }
    if (ineqs.length != 1) return None
    val (ineqIx, ineqC, opAt, op) = ineqs.head
    val lhs = ineqC.substring(0, opAt).trim
    val rhs = ineqC.substring(opAt + op.length).trim
    def refsAlias(e: String, a: String): Boolean =
      topKeywordAll(e, a).exists(p =>
        p + a.length < e.length && e.charAt(p + a.length) == '.')
    val (rightExpr, normOp) =
      (refsAlias(lhs, ralias), refsAlias(rhs, ralias)) match {
        case (true, false) if refsAlias(rhs, lalias) => (lhs, op)
        case (false, true) if refsAlias(lhs, lalias) =>
          (rhs, op match {
            case "<" => ">"; case "<=" => ">="
            case ">" => "<"; case ">=" => "<="
          })
        case _ => return None
      }
    // clean equi conjuncts as (left-expr, right-expr) for the scale
    // guard's group-count probe; a conjunct that is not a top-level
    // `l-expr = r-expr` equality (literal filters, same-side refs) is
    // skipped — the probe then OVERestimates, which is sound for a gate
    val equiPairs = conjs.zipWithIndex.filter(_._2 != ineqIx).flatMap {
      case (c, _) =>
        var d = 0
        var j = 0
        var eq = -1
        while (j < c.length && eq < 0) {
          c.charAt(j) match {
            case '\'' => j += 1
              while (j < c.length && c.charAt(j) != '\'') j += 1
              j += 1
            case '(' | '[' => d += 1; j += 1
            case ')' | ']' => d -= 1; j += 1
            case '=' if d == 0 &&
              (j == 0 || "<>!".indexOf(c.charAt(j - 1)) < 0) &&
              (j + 1 >= c.length || c.charAt(j + 1) != '=') => eq = j
            case _ => j += 1
          }
        }
        if (eq < 0) None
        else {
          val l0 = c.substring(0, eq).trim
          val r0 = c.substring(eq + 1).trim
          if (refsAlias(l0, lalias) && refsAlias(r0, ralias) &&
            !refsAlias(l0, ralias) && !refsAlias(r0, lalias))
            Some((l0, r0))
          else if (refsAlias(r0, lalias) && refsAlias(l0, ralias) &&
            !refsAlias(r0, ralias) && !refsAlias(l0, lalias))
            Some((r0, l0))
          else None
        }
    }
    val dir = if (normOp == "<" || normOp == "<=") "DESC" else "ASC"
    val (hidden, outerTail) = wrapOrderBy(tailTxt, "graft_a") match {
      case Some((h, items, _, rest)) =>
        (h, ("ORDER BY " + items.mkString(", ") +
          (if (rest.isEmpty) "" else " " + rest)).trim)
      case None => (Seq.empty[String], tailTxt)
    }
    // a select ITEM is a star when it IS `*` (optionally with EXCLUDE/
    // REPLACE trailing) or an `alias.*` — a bare depth-0 '*' character
    // is NOT enough: `px * 2 AS x` carries a top-level multiplication,
    // and treating it as a star made the EXCEPT list reference the
    // never-propagated __graft_aid (r15 third pass — surfaced by the
    // nested-asof matrix, a latent single-bridge bug)
    val selHasStar = splitTop(selTxt).getOrElse(Seq(selTxt))
      .map(_.trim).exists(it =>
        it.startsWith("*") ||
          it.matches("""(?s)(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`|"[^"]+")\s*\.\s*\*(?:\s.*)?"""))
    val dropCols = (if (selHasStar) Seq("__graft_arn", "__graft_aid")
      else Seq("__graft_arn")) ++ hidden.map(_.split(" AS ").last)
    val out = sql.substring(0, sel) +
      s"SELECT * EXCEPT (${dropCols.mkString(", ")}) FROM (SELECT " +
      selTxt + ", row_number() OVER (PARTITION BY __graft_aid ORDER BY " +
      rightExpr + " " + dir + ") AS __graft_arn" +
      (if (hidden.isEmpty) "" else ", " + hidden.mkString(", ")) +
      " FROM (SELECT *, monotonically_increasing_id() AS __graft_aid " +
      s"FROM $lrel) $lalias " +
      (if (leftJoin) "LEFT JOIN " else "JOIN ") +
      s"$rrel $ralias ON $cond) WHERE __graft_arn = 1" +
      (if (outerTail.isEmpty) "" else " " + outerTail)
    Some((out, AsofParts(lrel, lalias, rrel, ralias, equiPairs)))
  }


  /** Scale gate for the bridged ASOF JOIN (VERDICT r9): the generic
    * equi+range rewrite GENERATES O(left-group × right-group) pairs per
    * equi group before its WindowGroupLimit prunes them — DuckDB ships
    * a dedicated sort-merge ASOF operator precisely because of that.
    * Every other quadratic in this repo is gated (q48's 2^16 vector
    * cap, SimHash's 257-bucket cap); this gate closes the last one.
    *
    * The probe is ONE aggregate-join query — exact for the equi part:
    *   sum over equi groups of (left-count × right-count)
    * i.e. the true generated-pair count before the range predicate
    * (which only SHRINKS it — the estimate is an upper bound that is
    * tight when the range matches are dense, the expensive case). With
    * no clean equi conjunct the estimate is |left| × |right|. Unlike
    * q48's metadata-cheap limit-probe this is a real linear pass over
    * both relations — the documented gate cost, paid once per ASOF
    * statement and O(n) where the ungated mistake is O(n²).
    *
    * Above `spark.graft.asof.maxPairs` (default 5e7; set -1 to disable)
    * the statement is REFUSED with the q51 union+ordered-window
    * composition as guidance — an exceeded bound is an error, not a
    * silent fall back to an unbounded plan. A probe that itself fails
    * to analyze proceeds unguarded: the main statement carries the same
    * expressions and will surface the real error. */
  private def asofScaleGuard(
      spark: org.apache.spark.sql.SparkSession, text: String): Unit =
    asofBridge(text).foreach { case (_, p) =>
      val maxPairs =
        spark.conf.get("spark.graft.asof.maxPairs", "50000000").toDouble
      if (maxPairs >= 0) {
        val est =
          try {
            val (lk, rk) = p.equiPairs.unzip
            val probe =
              if (lk.isEmpty)
                s"SELECT CAST((SELECT count(*) FROM ${p.lrel}) AS DOUBLE)" +
                  s" * (SELECT count(*) FROM ${p.rrel}) AS est"
              else {
                val ord = lk.indices.map(_ + 1).mkString(", ")
                def side(rel: String, al: String, ks: Seq[String],
                    cnt: String) =
                  "(SELECT " + ks.zipWithIndex.map { case (e, i) =>
                    s"$e AS __gk$i" }.mkString(", ") +
                    s", count(*) AS $cnt FROM $rel $al GROUP BY $ord)"
                s"SELECT sum(CAST(lc AS DOUBLE) * rc) AS est FROM " +
                  side(p.lrel, p.lalias, lk, "lc") + " __gl JOIN " +
                  side(p.rrel, p.ralias, rk, "rc") + " __gr ON " +
                  lk.indices.map(i => s"__gl.__gk$i = __gr.__gk$i")
                    .mkString(" AND ")
              }
            val r = spark.sql(rewrite(probe)).head()
            if (r.isNullAt(0)) 0.0 else r.getDouble(0)
          } catch { case scala.util.control.NonFatal(_) => 0.0 }
        if (est > maxPairs)
          throw new IllegalArgumentException(
            f"ASOF JOIN refused at this scale: the generic equi+range " +
              f"bridge would generate ~$est%.0f candidate pairs " +
              f"(spark.graft.asof.maxPairs = $maxPairs%.0f; raise it or " +
              "set -1 to force). DuckDB executes ASOF with a dedicated " +
              "sort-merge operator; at this group size compose the " +
              "O(n log n) union+ordered-window form instead (the " +
              "q51_asof_join corpus query is the reference shape): " +
              "UNION the right rows into the left stream tagged by " +
              "source, then last_value(right-cols) IGNORE NULLS OVER " +
              "(PARTITION BY equi-keys ORDER BY range-col) picks each " +
              "left row's most recent right match in one shuffle.")
      }
    }

  /** Multi-join ASOF CHAINS (r14, VERDICT r13 item 3):
    *   SELECT sel FROM l [la] ASOF [LEFT] JOIN r1 [a1] ON c1
    *     ASOF [LEFT] JOIN r2 [a2] ON c2 … [tail]
    * DuckDB parses the chain left-deep: step i picks, per
    * accumulated-left row, the single nearest r_i row satisfying c_i.
    * The bridge is SESSION-AWARE ([[asofChainExpand]], invoked from the
    * dialect fallback like bridgeColumns): each step applies the
    * single-join equi+range + row_number()=1 rewrite, nested as a
    * derived table whose columns carry an `__<alias>__` prefix built
    * from the live schema, and every `alias.col` reference in later ON
    * conditions, the select list and the tail is textually remapped to
    * the prefixed column — alias scoping survives the nesting without
    * schema guesses. (A correlated LATERAL LIMIT-1 spelling was tried
    * first and REJECTED: Spark decorrelates it through a domain join —
    * a corpus-sized BroadcastNestedLoopJoin that replays the chain
    * prefix per step, the exact plan class PlanAuditSpec bans; the
    * iterated hand rewrite keeps each step one equi hash join + a
    * WindowGroupLimit-pruned pick, q171's audited shape.) The pair
    * gate applies per step ([[asofChainScaleGuard]]): every ASOF step
    * yields ≤1 row per left row, so the accumulated left never exceeds
    * |l| and |l| × max-right-equi-group bounds step i's generated
    * pairs.
    * MIXED chains (r14 second pass): plain [LEFT [OUTER]|INNER] JOIN
    * steps interleave with ASOF steps — DuckDB's left-deep parse means
    * a plain step simply joins the accumulated flattening (fan-out
    * allowed; the scale guard multiplies its largest equi group into
    * the running row bound that caps later ASOF steps). r15: plain
    * RIGHT/FULL [OUTER] members too — a left-deep RIGHT/FULL step
    * null-extends the ACCUMULATED side, which is exactly what joining
    * the flattened derived table gives (DuckDB-pinned: an ASOF step
    * after one sees the NULLed columns, so it LEFT-null-extends or
    * INNER-drops those rows just like DuckDB); the guard adds |r| to
    * the running bound for the unmatched right rows. A plain step
    * must carry at least one clean earlier=new equality — an equi-free
    * product inside a chain would plan the nested-loop class the gate
    * cannot bound.
    * Members may carry `USING (c1, …, ck)` instead of ON (r15 third
    * pass, pinned): an ASOF step reads equality on every column but
    * the last plus the INCLUSIVE inequality right.ck <= left.ck (a row
    * matches itself); a plain step equality on all; left owners
    * resolve at expansion like NATURAL (one earlier alias per column).
    * Chain members may be GROUPED subqueries `(SELECT …) alias` (r15,
    * VERDICT r14 item 4): alias mandatory, the group must open with
    * SELECT/WITH (a parenthesized JOIN tree — a right-deep chain — is
    * not a member), schemas come from analyzing the rewritten subquery,
    * and the scale guard's probes run against the subquery itself.
    * Refusals (the single-bridge stance, per member): WHERE / GROUP BY
    * RIGHT-DEEP members (r15 second pass, DuckDB-pinned): a
    * parenthesized inner ASOF join `(r1 [a1] ASOF [LEFT] JOIN r2 [a2]
    * ON c) [x]` is a chain member — DuckDB evaluates the INNER join
    * first (per-r1 nearest r2, independent of the outer rows; provably
    * different from any left-deep respelling). UNALIASED, the inner
    * aliases leak into the outer scope; ALIASED `(…) x`, the outer
    * alias HIDES them entirely (pinned: the inner alias binder-errors
    * outside) and a name duplicated across the inner relations
    * resolves to its FIRST occurrence via x (later duplicates are
    * reachable only through the refused bare `*`). The bridge
    * synthesizes the inner pick as a prefixed-column subquery (through
    * the single-join ASOF rewrite), joins it as one member exposing
    * the visible alias(es), and bounds the outer step's pairs by |r1|
    * (an inner ASOF yields ≤1 row per r1 row — the guard's
    * conservative m). Inner PLAIN joins bridge too (r15 second pass):
    * `(r1 [INNER|LEFT [OUTER]] JOIN r2 ON c) [x]` evaluates
    * inner-first (pinned: an inner INNER join drops rows BEFORE the
    * outer ASOF picks — different from any left-deep respelling), must
    * carry one clean a1=a2 equality, and the guard bounds the member
    * by |r1| × r2's largest inner-equi group; a plain tree with no
    * ASOF anywhere in the statement stays with Spark's native parse.
    * MULTI-JOIN trees bridge as well (r15 third pass, see
    * [[AsofMultiTree]]): a group whose inner text is itself a
    * chain-shaped sequence with an ASOF recurses through the chain
    * expansion and the guard's pairs-and-bound walk. Inner RIGHT/FULL
    * trees bridge too (r15 third pass, pinned — the inner join
    * null-extends INSIDE the member; the guard adds |r2| for the
    * unmatched rights). No-ASOF multi-join groups and multi-trees
    * nested inside multi-trees keep refusing.
    * Refusals (the single-bridge stance, per member): WHERE / GROUP BY
    * / HAVING / QUALIFY / WINDOW / set ops, DISTINCT,
    * CROSS members (an explicit product is the nested-loop class the
    * pair gate cannot bound) and ASOF RIGHT/FULL/INNER (not DuckDB
    * syntax). NATURAL [INNER|LEFT|RIGHT|FULL] members bridge (r15
    * second pass): the implied equalities are synthesized at expansion
    * from live schemas — a member name matching more than one earlier
    * alias or an empty intersection refuses, exactly where DuckDB
    * binder-errors (pinned);
    * any ASOF ON whose single inequality does not split cleanly
    * into a new-alias side vs an earlier-alias side, a bare `*` select
    * list (per-relation output names are not reconstructible through
    * the prefixed nesting), and unaliased non-column select items. Ties
    * on the range expression are nondeterministic in both engines — the
    * documented single-bridge stance. */
  private[graft] case class AsofTreeMember(r1: String, a1: String,
    innerLeft: Boolean, r2: String, a2: String, cond: String,
    outer: Option[String] = None, innerAsof: Boolean = true,
    innerRightFull: Option[String] = None)

  /** MULTI-JOIN tree member (r15 third pass): a parenthesized group
    * whose inner text is itself a chain-shaped join sequence with ≥2
    * joins and an ASOF somewhere — `(a ASOF JOIN b ON … JOIN c ON …)
    * [x]`. The inner chain evaluates FIRST (independent of the outer
    * rows); its exposure follows the single-join tree rules: UNALIASED
    * leaks every inner alias, ALIASED `x` hides them with
    * first-occurrence duplicate resolution. The expansion synthesizes
    * a prefixed select over the inner text and recurses through
    * [[asofChainExpand]]; the guard recurses through the same
    * pairs-and-bound walk, taking the inner chain's FINAL row bound as
    * the member's m. Plain multi-join groups with no ASOF anywhere in
    * them keep refusing (Spark parses those natively when the whole
    * statement has no ASOF; inside an ASOF chain they stay guidance). */
  private[graft] case class AsofMultiTree(inner: String,
    outer: Option[String] = None)

  private[graft] case class AsofChainJoin(rrel: String, ralias: String,
    isAsof: Boolean, joinSql: String, cond: String, rightExpr: String,
    dir: String, rightEquis: Seq[String],
    tree: Option[AsofTreeMember] = None, natural: Boolean = false,
    multi: Option[AsofMultiTree] = None, usingCols: Seq[String] = Nil)

  private[graft] case class AsofChainParts(prefix: String, selTxt: String,
    lrel: String, lalias: String, joins: Seq[AsofChainJoin], tailTxt: String)

  /** The aliases a parsed chain exposes to an enclosing scope, in
    * order — base alias, then per member: its ralias, a tree's leaked
    * or outer alias(es), a multi-tree's outer alias or its inner
    * chain's own exposure (recursively). */
  private[graft] def chainExposedAliases(p: AsofChainParts): Seq[String] =
    p.lalias +: p.joins.flatMap { j =>
      j.multi match {
        case Some(mt) => mt.outer.map(Seq(_)).getOrElse(
          asofChainBridge("SELECT __graft_d FROM " + mt.inner)
            .map(chainExposedAliases).getOrElse(Seq.empty))
        case None => j.tree match {
          case Some(t) => t.outer.map(Seq(_)).getOrElse(Seq(t.a1, t.a2))
          case None => Seq(j.ralias)
        }
      }
    }

  private[graft] def asofChainBridge(sql: String): Option[AsofChainParts] = {
    val asofs = topKeywordAll(sql, "asof")
    if (hasTopSetOp(sql)) return None
    for (kw <- Seq("where", "group", "having", "qualify", "window"))
      if (topKeyword(sql, kw) >= 0) return None
    val joinsAt = topKeywordAll(sql, "join")
    // single-join statements belong to the plain asofBridge — EXCEPT
    // when the lone member is a parenthesized ident group (a
    // right-deep TREE, r15): its inner JOIN/ASOF are paren-hidden from
    // the top-level counts, so only the chain machinery can see it
    def identGroupAfter(jp: Int): Boolean = {
      var k2 = jp + 4
      while (k2 < sql.length && Character.isWhitespace(sql.charAt(k2))) k2 += 1
      k2 < sql.length && sql.charAt(k2) == '(' && {
        var k3 = k2 + 1
        while (k3 < sql.length && Character.isWhitespace(sql.charAt(k3))) k3 += 1
        val w0 = readWord(sql, k3).toLowerCase(java.util.Locale.ROOT)
        w0.nonEmpty && w0 != "select" && w0 != "with"
      }
    }
    if (joinsAt.length < 2 && !joinsAt.exists(identGroupAfter)) return None
    // no top-level ASOF and no tree member → nothing chain-shaped here
    // (a plain outer JOIN over a tree member is a chain with zero
    // top-level ASOFs — the tree's own ASOF is paren-hidden). r15
    // second pass: the tree member must itself CONTAIN an asof —
    // a statement with only plain parenthesized join trees and no
    // ASOF anywhere parses natively in Spark and stays there.
    def identGroupHasAsof(jp: Int): Boolean = identGroupAfter(jp) && {
      var k2 = jp + 4
      while (k2 < sql.length && Character.isWhitespace(sql.charAt(k2))) k2 += 1
      scanCall(sql, k2).exists { case (after, _) =>
        topKeyword(sql.substring(k2 + 1, after - 1), "asof") >= 0
      }
    }
    if (asofs.isEmpty && !joinsAt.exists(identGroupHasAsof)) return None
    val sel = topKeyword(sql, "select")
    val f = topKeyword(sql, "from")
    if (sel < 0 || f < sel || joinsAt.head < f) return None
    var k = sel + 6
    while (k < sql.length && Character.isWhitespace(sql.charAt(k))) k += 1
    if (readWord(sql, k).equalsIgnoreCase("distinct")) return None
    // classify each JOIN's step head by the keywords directly before it
    // (r14 second pass — MIXED chains): [ASOF] [LEFT [OUTER]|INNER]
    // JOIN; r15: plain RIGHT/FULL [OUTER] members too (DuckDB-pinned:
    // a left-deep RIGHT/FULL step null-extends the ACCUMULATED side,
    // which is exactly what joining the flattened derived table gives —
    // an ASOF step after one sees the NULLed columns and LEFT
    // null-extends / INNER drops, matching DuckDB). NATURAL members
    // bridge with schema-synthesized equalities (r15 second pass);
    // CROSS and ASOF RIGHT/FULL/INNER (not DuckDB syntax) refuse.
    def prevWordBefore(pos: Int): (String, Int) = {
      var e = pos
      while (e > 0 && Character.isWhitespace(sql.charAt(e - 1))) e -= 1
      var b = e
      while (b > 0 && (Character.isLetterOrDigit(sql.charAt(b - 1)) ||
        sql.charAt(b - 1) == '_')) b -= 1
      (sql.substring(b, e).toLowerCase(java.util.Locale.ROOT), b)
    }
    case class Head(start: Int, joinPos: Int, isAsof: Boolean,
      joinSql: String, natural: Boolean = false)
    val heads = joinsAt.map { jp =>
      var start = jp
      var joinSql = "JOIN"
      var isAsof = false
      // NATURAL [INNER|LEFT|RIGHT|FULL] members (r15 second pass): the
      // implied equalities are synthesized from live schemas at
      // expansion; NATURAL ASOF is a DuckDB parser error (pinned) and
      // cannot arise from this classification
      var natural = false
      val (w1, s1) = prevWordBefore(jp)
      w1 match {
        case "outer" =>
          val (w2, s2) = prevWordBefore(s1)
          w2 match {
            case "left" => joinSql = "LEFT JOIN"
            case "right" => joinSql = "RIGHT JOIN"
            case "full" => joinSql = "FULL JOIN"
            case _ => return None
          }
          start = s2
          val (w3, s3) = prevWordBefore(s2)
          if (w3 == "asof") {
            if (w2 != "left") return None // no ASOF RIGHT/FULL in DuckDB
            isAsof = true; start = s3
          } else if (w3 == "natural") { natural = true; start = s3 }
        case "left" =>
          joinSql = "LEFT JOIN"; start = s1
          val (w2, s2) = prevWordBefore(s1)
          if (w2 == "asof") { isAsof = true; start = s2 }
          else if (w2 == "natural") { natural = true; start = s2 }
        case "right" | "full" =>
          joinSql = w1.toUpperCase(java.util.Locale.ROOT) + " JOIN"
          start = s1
          val (w2, s2) = prevWordBefore(s1)
          if (w2 == "asof") return None // no ASOF RIGHT/FULL in DuckDB
          if (w2 == "natural") { natural = true; start = s2 }
        case "inner" =>
          start = s1
          val (w2, s2) = prevWordBefore(s1)
          if (w2 == "asof") return None // DuckDB has no ASOF INNER JOIN
          if (w2 == "natural") { natural = true; start = s2 }
        case "asof" => isAsof = true; start = s1
        case "natural" => natural = true; start = s1
        case "cross" => return None
        case _ => // bare JOIN: plain inner step
      }
      Head(start, jp, isAsof, joinSql, natural)
    }
    // every top-level ASOF keyword must be consumed as a step head
    if (heads.count(_.isAsof) != asofs.length) return None
    val selTxt = sql.substring(sel + 6, f).trim
    var i = f + 4
    def ws(): Unit =
      while (i < sql.length && Character.isWhitespace(sql.charAt(i))) i += 1
    ws()
    // A chain MEMBER may be a GROUPED subquery `(SELECT …) alias` (r15,
    // VERDICT r14 item 4 — the quote-stream-filtered-then-chained
    // statement): alias mandatory (no ident to default from), and the
    // group must open with SELECT/WITH so a parenthesized JOIN tree — a
    // right-deep chain — keeps refusing to guidance. The inner text
    // embeds verbatim and the whole expansion flows through the
    // char-scan rewrite afterwards, so duckisms inside the subquery
    // still bridge (the single-join bridge's r11 ordering argument).
    def parseRel(): Option[String] =
      if (i < sql.length && sql.charAt(i) == '(')
        scanCall(sql, i).flatMap { case (after, _) =>
          val inner = sql.substring(i + 1, after - 1).trim
          val w0 = readWord(inner, 0).toLowerCase(java.util.Locale.ROOT)
          if (w0 != "select" && w0 != "with") None
          else { val r = sql.substring(i, after); i = after; Some(r) }
        }
      else parseIdentChain(sql, i).map { case (ident, after) =>
        i = after; ident
      }
    // r15 second pass: an UNALIASED parenthesized inner ASOF join is a
    // RIGHT-DEEP tree member (see the chain Scaladoc) — inner text
    // `r1 [a1] <join> r2 [a2] ON cond` where <join> is ASOF [LEFT]
    // JOIN or (r15 second pass) a plain [INNER|LEFT [OUTER]] JOIN;
    // ident relations only, exactly one join, evaluated inner-first.
    // A plain inner join must carry one clean a1=a2 equality (an
    // equi-free inner product is the nested-loop class the pair gate
    // cannot bound). Inner RIGHT/FULL keep refusing.
    def parseTreeMember(): Option[AsofTreeMember] =
      scanCall(sql, i).flatMap { case (after, _) =>
        val inner = sql.substring(i + 1, after - 1).trim
        if (topKeywordAll(inner, "join").length != 1) return None
        var k = 0
        def iws(): Unit =
          while (k < inner.length && Character.isWhitespace(inner.charAt(k))) k += 1
        val (r1, af1) = parseIdentChain(inner, 0).getOrElse(return None)
        k = af1; iws()
        var a1 = r1.split('.').last
        val joinHeads = Set("asof", "left", "right", "full", "inner",
          "join")
        var w = readWord(inner, k)
        if (!joinHeads(w.toLowerCase(java.util.Locale.ROOT))) {
          if (w.isEmpty || Keywords(w.toLowerCase(java.util.Locale.ROOT)))
            return None
          a1 = w; k += w.length; iws()
          w = readWord(inner, k)
        }
        var innerAsof = false
        var innerLeft = false
        var innerRightFull: Option[String] = None
        w.toLowerCase(java.util.Locale.ROOT) match {
          case "asof" =>
            innerAsof = true; k += 4; iws()
            if (readWord(inner, k).equalsIgnoreCase("left")) {
              innerLeft = true; k += 4; iws()
            }
          case "left" =>
            innerLeft = true; k += 4; iws()
            if (readWord(inner, k).equalsIgnoreCase("outer")) {
              k += 5; iws()
            }
          case "right" =>
            // inner RIGHT/FULL trees (r15 third pass): null-extend
            // inside the member before the outer step sees it —
            // DuckDB-pinned; the guard adds |r2| for unmatched rights
            innerRightFull = Some("RIGHT JOIN"); k += 5; iws()
            if (readWord(inner, k).equalsIgnoreCase("outer")) {
              k += 5; iws()
            }
          case "full" =>
            innerRightFull = Some("FULL JOIN"); k += 4; iws()
            if (readWord(inner, k).equalsIgnoreCase("outer")) {
              k += 5; iws()
            }
          case "inner" => k += 5; iws()
          case _ => // bare JOIN: plain inner
        }
        if (!readWord(inner, k).equalsIgnoreCase("join")) return None
        k += 4; iws()
        val (r2, af2) = parseIdentChain(inner, k).getOrElse(return None)
        k = af2; iws()
        var a2 = r2.split('.').last
        w = readWord(inner, k)
        if (!w.equalsIgnoreCase("on")) {
          if (w.isEmpty || Keywords(w.toLowerCase(java.util.Locale.ROOT)))
            return None
          a2 = w; k += w.length; iws()
          w = readWord(inner, k)
        }
        if (!w.equalsIgnoreCase("on")) return None
        k += 2
        val cond = inner.substring(k).trim
        if (cond.isEmpty) return None
        if (!innerAsof && chainRightEquis(splitTopAnd(cond),
          Seq(a2), Seq(a1)).isEmpty) return None
        i = after
        Some(AsofTreeMember(r1, a1, innerLeft, r2, a2, cond,
          innerAsof = innerAsof, innerRightFull = innerRightFull))
      }
    // MULTI-JOIN tree member (r15 third pass, see [[AsofMultiTree]]):
    // the inner text must be chain-shaped — the self-parse below is
    // the gate — and carry an ASOF somewhere (a no-ASOF multi-join
    // group keeps refusing)
    def parseMultiTree(): Option[AsofMultiTree] =
      scanCall(sql, i).flatMap { case (after, _) =>
        val inner = sql.substring(i + 1, after - 1).trim
        if (topKeyword(inner, "asof") < 0 &&
          !topKeywordAll(inner, "join").exists { jp =>
            // tree-in-multi: asof may hide inside a nested group
            var k2 = jp + 4
            while (k2 < inner.length &&
              Character.isWhitespace(inner.charAt(k2))) k2 += 1
            k2 < inner.length && inner.charAt(k2) == '('
          }) return None
        if (asofChainBridge("SELECT __graft_d FROM " + inner).isEmpty)
          return None
        i = after
        Some(AsofMultiTree(inner))
      }
    val lrel = parseRel().getOrElse(return None)
    ws()
    var lalias = if (lrel.startsWith("(")) "" else lrel.split('.').last
    if (i < heads.head.start) {
      val w = readWord(sql, i)
      if (w.isEmpty || Keywords(w.toLowerCase(java.util.Locale.ROOT)))
        return None
      lalias = w; i += w.length; ws()
      if (i != heads.head.start) return None
    }
    if (lalias.isEmpty) return None // grouped relation without alias
    var known: List[String] = List(lalias)
    val joins = scala.collection.mutable.ArrayBuffer.empty[AsofChainJoin]
    var tailTxt = ""
    for ((h, hx) <- heads.zipWithIndex) {
      if (i != h.start) return None
      i = h.joinPos + 4; ws()
      // tree member? only when the group opens with an IDENT (a
      // SELECT/WITH group is a subquery member, parseRel's job)
      val treeStart = i < sql.length && sql.charAt(i) == '(' && {
        var k2 = i + 1
        while (k2 < sql.length && Character.isWhitespace(sql.charAt(k2))) k2 += 1
        val w0 = readWord(sql, k2).toLowerCase(java.util.Locale.ROOT)
        w0.nonEmpty && w0 != "select" && w0 != "with"
      }
      // one inner join → single tree; two or more → multi tree
      val groupJoins =
        if (!treeStart) 0
        else scanCall(sql, i).map { case (after, _) =>
          topKeywordAll(sql.substring(i + 1, after - 1), "join").length
        }.getOrElse(0)
      var multi =
        if (treeStart && groupJoins >= 2) parseMultiTree() else None
      var tree =
        if (treeStart && multi.isEmpty) parseTreeMember() else None
      if (treeStart && tree.isEmpty && multi.isEmpty) return None
      val (rrel, newAliases) = if (multi.nonEmpty) {
        ws()
        val parenEnd = i
        var mt = multi.get
        val w0 = readWord(sql, i)
        if (!w0.equalsIgnoreCase("on") && w0.nonEmpty &&
          !Keywords(w0.toLowerCase(java.util.Locale.ROOT))) {
          mt = mt.copy(outer = Some(w0))
          multi = Some(mt)
          i += w0.length; ws()
        }
        if (!readWord(sql, i).equalsIgnoreCase("on")) return None
        val exposed = mt.outer.map(Seq(_)).getOrElse {
          asofChainBridge("SELECT __graft_d FROM " + mt.inner)
            .map(chainExposedAliases).getOrElse(return None)
        }
        if (exposed.isEmpty) return None
        val lowKnown = known.map(_.toLowerCase(java.util.Locale.ROOT))
        for (a <- exposed)
          if (a.isEmpty ||
            lowKnown.contains(a.toLowerCase(java.util.Locale.ROOT)))
            return None
        if (exposed.map(_.toLowerCase(java.util.Locale.ROOT))
          .distinct.length != exposed.length) return None
        (sql.substring(h.joinPos + 4, parenEnd).trim, exposed)
      } else tree match {
        case Some(t0) =>
          ws()
          val parenEnd = i
          // ALIASED tree member `(…) x` (r15 second pass): DuckDB's
          // scoping is CLEAN — the outer alias HIDES the inner aliases
          // entirely (pinned: referencing the inner alias afterwards is
          // "Referenced table p not found") and a name duplicated
          // across the inner relations resolves to its FIRST
          // (leftmost) occurrence; the expansion mirrors both.
          var t = t0
          val w0 = readWord(sql, i)
          if (!w0.equalsIgnoreCase("on") && w0.nonEmpty &&
            !Keywords(w0.toLowerCase(java.util.Locale.ROOT))) {
            t = t0.copy(outer = Some(w0))
            tree = Some(t)
            i += w0.length; ws()
          }
          if (!readWord(sql, i).equalsIgnoreCase("on")) return None
          val lowKnown = known.map(_.toLowerCase(java.util.Locale.ROOT))
          if (t.a1.equalsIgnoreCase(t.a2)) return None
          t.outer match {
            case Some(x) =>
              // only the outer alias is visible — the inners may
              // shadow anything (their scope is the synthesized
              // subquery alone)
              if (x.isEmpty ||
                lowKnown.contains(x.toLowerCase(java.util.Locale.ROOT)))
                return None
            case None =>
              for (a <- Seq(t.a1, t.a2))
                if (a.isEmpty ||
                  lowKnown.contains(a.toLowerCase(java.util.Locale.ROOT)))
                  return None
          }
          (sql.substring(h.joinPos + 4, parenEnd).trim,
            t.outer.map(Seq(_)).getOrElse(Seq(t.a1, t.a2)))
        case None =>
          val r = parseRel().getOrElse(return None)
          ws()
          var ralias = if (r.startsWith("(")) "" else r.split('.').last
          if (!readWord(sql, i).equalsIgnoreCase("on")) {
            val w = readWord(sql, i)
            if (w.isEmpty || Keywords(w.toLowerCase(java.util.Locale.ROOT)))
              return None
            ralias = w; i += w.length; ws()
          }
          if (ralias.isEmpty) return None // grouped relation w/o alias
          (r, Seq(ralias))
      }
      val ralias = multi match {
        case Some(mt) => mt.outer.getOrElse(s"__graft_mt$hx")
        case None => tree match {
          case Some(t) => t.outer.getOrElse(s"__graft_tm$hx")
          case None => newAliases.head
        }
      }
      if (h.natural) {
        // NATURAL member: no ON clause — the implied equalities are
        // synthesized at expansion from live schemas (a shared name
        // exposed by more than one earlier alias, or an empty
        // intersection, refuses there; DuckDB binder-errors on both —
        // pinned). A NATURAL over a tree member keeps refusing.
        if (tree.nonEmpty || multi.nonEmpty) return None
        if (hx + 1 < heads.length) {
          if (i != heads(hx + 1).start) return None
        } else tailTxt = sql.substring(i).trim
        joins += AsofChainJoin(rrel, ralias, isAsof = false, h.joinSql,
          "", "", "", Seq.empty, tree, natural = true, multi = multi)
        known = newAliases.toList reverse_::: known
        // i already sits at the next head (or the tail, consumed above)
      } else if (readWord(sql, i).equalsIgnoreCase("using")) {
        // `USING (c1, …, ck)` member (r15 third pass, DuckDB-pinned):
        // an ASOF step reads it as equality on every column but the
        // last plus the inequality right.ck <= left.ck (INCLUSIVE —
        // a row matches itself); a plain step as equality on all.
        // The right-side keys are textual; the LEFT owners resolve at
        // expansion like NATURAL (one earlier alias per column, else
        // refuse). Tree/multi members with USING keep refusing.
        if (tree.nonEmpty || multi.nonEmpty) return None
        var k2 = i + 5
        while (k2 < sql.length && Character.isWhitespace(sql.charAt(k2)))
          k2 += 1
        if (k2 >= sql.length || sql.charAt(k2) != '(') return None
        val close = scanMatch(sql, k2).getOrElse(return None)
        val colsU = splitTop(sql.substring(k2 + 1, close - 1))
          .getOrElse(return None).map(_.trim)
        if (colsU.isEmpty ||
          colsU.exists(!_.matches("[A-Za-z_][A-Za-z0-9_]*"))) return None
        i = close; ws()
        if (hx + 1 < heads.length) {
          if (i != heads(hx + 1).start) return None
        } else tailTxt = sql.substring(i).trim
        if (h.isAsof) {
          if (colsU.length < 1) return None
          joins += AsofChainJoin(rrel, ralias, isAsof = true, h.joinSql,
            "", s"$ralias.${colsU.last}", "DESC",
            colsU.dropRight(1).map(c => s"$ralias.$c"),
            usingCols = colsU)
        } else
          joins += AsofChainJoin(rrel, ralias, isAsof = false, h.joinSql,
            "", "", "", colsU.map(c => s"$ralias.$c"),
            usingCols = colsU)
        known = newAliases.toList reverse_::: known
      } else {
      if (!readWord(sql, i).equalsIgnoreCase("on")) return None
      i += 2
      val after = sql.substring(i)
      val condEnd =
        if (hx + 1 < heads.length) heads(hx + 1).start - i
        else tailCut(after)
      if (condEnd <= 0) return None
      val cond = after.substring(0, condEnd).trim
      if (cond.isEmpty) return None
      if (hx + 1 == heads.length) tailTxt = after.substring(condEnd).trim
      if (h.isAsof) {
        analyzeAsofCond(cond, newAliases, known) match {
          case Some((rightExpr, dir, rightEquis)) =>
            joins += AsofChainJoin(rrel, ralias, isAsof = true, h.joinSql,
              cond, rightExpr, dir, rightEquis, tree, multi = multi)
          case None => return None
        }
      } else {
        // plain step: the ON passes through verbatim; at least one
        // clean earlier=new equality is REQUIRED (an equi-free comma
        // product inside a chain would plan the nested-loop class the
        // pair gate cannot bound)
        val equis = chainRightEquis(splitTopAnd(cond), newAliases, known)
        if (equis.isEmpty) return None
        joins += AsofChainJoin(rrel, ralias, isAsof = false, h.joinSql,
          cond, "", "", equis, tree, multi = multi)
      }
      known = newAliases.toList reverse_::: known
      i += condEnd; ws()
      }
    }
    Some(AsofChainParts(sql.substring(0, sel), selTxt, lrel, lalias,
      joins.toSeq, tailTxt))
  }

  /** Top-level AND split shared by the chain analyzers. */
  private def splitTopAnd(cond: String): Seq[String] = {
    val andAts = topKeywordAll(cond, "and")
    val bounds = (-3 +: andAts) :+ cond.length
    bounds.sliding(2).map { case Seq(a, b) =>
      cond.substring(a + 3, b).trim
    }.toSeq
  }

  /** New-alias sides of clean earlier=new equality conjuncts (the
    * chain scale probe's group keys). `newAliases` has one element for
    * an ordinary member, two for a tree member (both inner aliases are
    * "new"). */
  private def chainRightEquis(conjs: Seq[String], newAliases: Seq[String],
      earlier: Seq[String]): Seq[String] = {
    def refsAlias(e: String, a: String): Boolean = {
      val noStr = e.replaceAll("'(?:[^']|'')*'", " ")
      java.util.regex.Pattern.compile(
        "(?i)(?<![A-Za-z0-9_.`\"])" +
          java.util.regex.Pattern.quote(a) + "\\.").matcher(noStr).find()
    }
    def refsNew(e: String): Boolean = newAliases.exists(refsAlias(e, _))
    def refsEarlier(e: String): Boolean = earlier.exists(refsAlias(e, _))
    conjs.flatMap { c =>
      var d = 0
      var j = 0
      var eq = -1
      while (j < c.length && eq < 0) {
        c.charAt(j) match {
          case '\'' => j += 1
            while (j < c.length && c.charAt(j) != '\'') j += 1
            j += 1
          case '(' | '[' => d += 1; j += 1
          case ')' | ']' => d -= 1; j += 1
          case '=' if d == 0 &&
            (j == 0 || "<>!".indexOf(c.charAt(j - 1)) < 0) &&
            (j + 1 >= c.length || c.charAt(j + 1) != '=') => eq = j
          case _ => j += 1
        }
      }
      if (eq < 0) None
      else {
        val l0 = c.substring(0, eq).trim
        val r0 = c.substring(eq + 1).trim
        if (refsNew(l0) && !refsEarlier(l0) &&
          refsEarlier(r0) && !refsNew(r0)) Some(l0)
        else if (refsNew(r0) && !refsEarlier(r0) &&
          refsEarlier(l0) && !refsNew(l0)) Some(r0)
        else None
      }
    }
  }

  /** Quote-aware textual remap of `alias.col` references for the
    * aliases in `earlier` to the prefixed flattened names
    * `` `__alias__col` ``; string literals and quoted idents pass
    * through untouched. */
  private def mapChainRefs(text: String, earlier: Seq[String]): String = {
    val lower = earlier.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val sb = new StringBuilder
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val j = text.indexOf(c, i + 1)
        val end = if (j < 0) n else j + 1
        sb.append(text.substring(i, end)); i = end
      } else if (Character.isLetter(c) || c == '_') {
        val w = readWord(text, i)
        val prevOk = i == 0 || {
          val p = text.charAt(i - 1)
          !(Character.isLetterOrDigit(p) || p == '_' || p == '.')
        }
        val after = i + w.length
        if (prevOk && after < n && text.charAt(after) == '.' &&
          lower(w.toLowerCase(java.util.Locale.ROOT)) &&
          after + 1 < n && (Character.isLetter(text.charAt(after + 1)) ||
            text.charAt(after + 1) == '_')) {
          val col = readWord(text, after + 1)
          sb.append("`__").append(w).append("__").append(col).append('`')
          i = after + 1 + col.length
        } else { sb.append(w); i = after }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A chain relation's output column names: a grouped member's schema
    * comes from ANALYZING the subquery (through the char-scan rewrite,
    * so duckisms inside it resolve) — no job runs, Catalyst only binds
    * the plan. Unresolvable → None → guidance, never a guessed schema.
    * Shared by [[asofChainExpand]] and [[asofChainScaleGuard]] (the
    * guard re-derives NATURAL members' equi keys). */
  private def chainColsOf(spark: SparkSession,
      rel: String): Option[Seq[String]] =
    try {
      if (rel.startsWith("("))
        Some(spark.sql(rewrite(rel.substring(1, rel.length - 1)))
          .columns.toSeq)
      else Some(spark.table(rel.replace("`", "")).columns.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A NATURAL member's shared column names: the member names exposed
    * by EXACTLY ONE earlier alias (the expansion refuses ambiguity and
    * empty intersections — DuckDB binder-errors on both). */
  private def naturalSharedCols(memberCols: Seq[String],
      aliasCols: Seq[(String, Seq[String])]): Seq[String] =
    memberCols.filter(c =>
      aliasCols.map(_._2.count(_.equalsIgnoreCase(c))).sum == 1)

  /** Session-aware chain expansion (see the chain Scaladoc above):
    * None when the statement is not a bridgeable chain or a relation's
    * schema is unavailable. */
  private[graft] def asofChainExpand(spark: SparkSession,
      sql: String): Option[String] = asofChainBridge(sql).flatMap { p =>
    def colsOf(rel: String): Option[Seq[String]] = chainColsOf(spark, rel)
    val baseCols = colsOf(p.lrel).getOrElse(return None)
    def pref(a: String, c: String) = s"__${a}__$c"
    // accumulated derived-table text; its output columns are the
    // prefixed flattening of every relation joined so far
    var acc = "(SELECT " + baseCols.map(c =>
      s"${p.lalias}.`$c` AS `${pref(p.lalias, c)}`").mkString(", ") +
      s" FROM ${p.lrel} ${p.lalias})"
    var earlier: List[String] = List(p.lalias)
    var accCols: Seq[String] = baseCols.map(c => pref(p.lalias, c))
    // alias → ORIGINAL (unprefixed) column names of every relation
    // joined so far — NATURAL members synthesize their equalities from
    // this map (prefixed names cannot be split back: aliases may
    // contain underscores)
    var aliasCols: List[(String, Seq[String])] = List(p.lalias -> baseCols)
    for (j <- p.joins) {
      // member shape: (relation text to join, its projected output
      // column NAMES — already prefixed, select-list text that
      // introduces them, aliases the member exposes to later refs, and
      // the alias set the step's ON must ALSO remap — a tree member's
      // columns live unqualified on the joined subquery, so its inner
      // aliases remap in the ON too)
      val (memberSql, memberColNames, memberNewCols, newAliases,
          condAliases, newAliasCols) = j.multi match {
        case Some(mt) =>
          // MULTI-JOIN tree member (r15 third pass): enumerate the
          // inner chain's alias → column map from live schemas, build
          // a prefixed select over the inner text, and recurse through
          // the chain expansion — inner-first evaluation by
          // construction. Exposure mirrors single trees: UNALIASED
          // leaks every inner alias; ALIASED dedups first-occurrence
          // under x. Non-identifier column names refuse (the synth's
          // qualified refs must survive the inner expand's remap).
          val ip = asofChainBridge("SELECT __graft_d FROM " + mt.inner)
            .getOrElse(return None)
          val identRe = "^[A-Za-z_][A-Za-z0-9_]*$"
          val innerAliasCols: Seq[(String, Seq[String])] = {
            val base = colsOf(ip.lrel).getOrElse(return None)
            var acc: List[(String, Seq[String])] = List(ip.lalias -> base)
            for (ij <- ip.joins) {
              if (ij.multi.nonEmpty) return None // nested multi: refuse
              val adds: Seq[(String, Seq[String])] = ij.tree match {
                case Some(t) =>
                  val c1 = colsOf(t.r1).getOrElse(return None)
                  val c2 = colsOf(t.r2).getOrElse(return None)
                  t.outer match {
                    case Some(x) =>
                      val seen = scala.collection.mutable.Set.empty[String]
                      Seq(x -> (c1 ++ c2).filter(c =>
                        seen.add(c.toLowerCase(java.util.Locale.ROOT))))
                    case None => Seq(t.a1 -> c1, t.a2 -> c2)
                  }
                case None =>
                  Seq(ij.ralias -> colsOf(ij.rrel).getOrElse(return None))
              }
              acc = adds.toList reverse_::: acc
            }
            acc.reverse
          }
          val ordered: Seq[(String, String)] =
            innerAliasCols.flatMap { case (a, cs) => cs.map(a -> _) }
          if (ordered.exists { case (_, c) => !c.matches(identRe) })
            return None
          val (items, names, exposed, aliasColAdds) = mt.outer match {
            case Some(x) =>
              val seen = scala.collection.mutable.Set.empty[String]
              val kept = ordered.filter { case (_, c) =>
                seen.add(c.toLowerCase(java.util.Locale.ROOT)) }
              (kept.map { case (a, c) => s"$a.$c AS ${pref(x, c)}" },
                kept.map { case (_, c) => pref(x, c) },
                Seq(x), Seq(x -> kept.map(_._2)))
            case None =>
              (ordered.map { case (a, c) => s"$a.$c AS ${pref(a, c)}" },
                ordered.map { case (a, c) => pref(a, c) },
                innerAliasCols.map(_._1), innerAliasCols)
          }
          val innerSynth =
            "SELECT " + items.mkString(", ") + " FROM " + mt.inner
          val expandedInner =
            asofChainExpand(spark, innerSynth).getOrElse(return None)
          (s"($expandedInner) ${j.ralias}", names,
            names.map(c => s"${j.ralias}.`$c`"),
            exposed, exposed, aliasColAdds)
        case None => j.tree match {
        case Some(t) =>
          // RIGHT-DEEP tree member (r15 second pass): synthesize the
          // inner pick as a prefixed-column subquery and bridge its
          // ASOF through the single-join rewrite — inner-first
          // evaluation, exactly DuckDB's
          val c1 = colsOf(t.r1).getOrElse(return None)
          val c2 = colsOf(t.r2).getOrElse(return None)
          val (items, names, exposeAliases, aliasColAdds) = t.outer match {
            case Some(x) =>
              // ALIASED tree (r15 second pass): the outer alias hides
              // the inners (DuckDB-pinned) and a duplicated inner name
              // resolves FIRST-occurrence; later duplicates are
              // unreachable through x (only x.* shows them, renamed —
              // and bare * refuses), so the projection drops them
              val ordered = c1.map((t.a1, _)) ++ c2.map((t.a2, _))
              val seenN = scala.collection.mutable.Set.empty[String]
              val kept = ordered.filter { case (_, c) =>
                seenN.add(c.toLowerCase(java.util.Locale.ROOT)) }
              (kept.map { case (a, c) => s"$a.`$c` AS ${pref(x, c)}" },
                kept.map { case (_, c) => pref(x, c) },
                Seq(x), Seq(x -> kept.map(_._2)))
            case None =>
              (c1.map(c => s"${t.a1}.`$c` AS ${pref(t.a1, c)}") ++
                c2.map(c => s"${t.a2}.`$c` AS ${pref(t.a2, c)}"),
                c1.map(c => pref(t.a1, c)) ++ c2.map(c => pref(t.a2, c)),
                Seq(t.a1, t.a2), Seq(t.a1 -> c1, t.a2 -> c2))
          }
          val joinTxt =
            if (t.innerAsof)
              "ASOF " + (if (t.innerLeft) "LEFT " else "") + "JOIN"
            else t.innerRightFull.getOrElse(
              if (t.innerLeft) "LEFT JOIN"
              else "JOIN") // plain inner tree (r15 second pass)
          val synth = "SELECT " + items.mkString(", ") +
            s" FROM ${t.r1} ${t.a1} $joinTxt ${t.r2} ${t.a2} ON ${t.cond}"
          val bridged = rewrite(synth)
          // an inner ASOF must have bridged; a plain inner join needs
          // no rewrite (the text may pass through unchanged)
          if (t.innerAsof && bridged == synth) return None
          (s"($bridged) ${j.ralias}", names,
            names.map(c => s"${j.ralias}.`$c`"),
            exposeAliases, exposeAliases,
            aliasColAdds)
        case None =>
          val rCols = colsOf(j.rrel).getOrElse(return None)
          (s"${j.rrel} ${j.ralias}",
            rCols.map(c => pref(j.ralias, c)),
            rCols.map(c => s"${j.ralias}.`$c` AS `${pref(j.ralias, c)}`"),
            Seq(j.ralias), Seq.empty[String],
            Seq(j.ralias -> rCols))
      } }
      // NATURAL member (r15 second pass): synthesize the implied
      // equalities from the live schemas — DuckDB matches each of the
      // member's names against the WHOLE accumulated flattening. A
      // shared name exposed by more than one earlier alias is a DuckDB
      // binder error ("Ambiguous reference"), and an empty intersection
      // is too ("No columns found to join on") — both pinned, both
      // refuse here. Non-identifier column names refuse (mapChainRefs
      // remaps plain `alias.col` references only).
      val condTxt =
        if (j.natural) {
          val ident = "^[A-Za-z_][A-Za-z0-9_]*$"
          val parts = newAliasCols.head._2.flatMap { c =>
            val owners = aliasCols.flatMap { case (a, cs) =>
              cs.filter(_.equalsIgnoreCase(c)).map(a -> _) }
            if (owners.isEmpty) None
            else if (owners.length > 1) return None // ambiguous
            else {
              val (a, oc) = owners.head
              if (!c.matches(ident) || !oc.matches(ident)) return None
              Some(s"$a.$oc = ${j.ralias}.$c")
            }
          }
          if (parts.isEmpty) return None // no columns to join on
          parts.mkString(" AND ")
        } else if (j.usingCols.nonEmpty) {
          // USING member (r15 third pass): owners resolve like NATURAL
          // (exactly one earlier alias per column); an ASOF step's
          // last column becomes the INCLUSIVE inequality, everything
          // else an equality — DuckDB-pinned
          val parts = j.usingCols.zipWithIndex.map { case (c, ix) =>
            if (!newAliasCols.head._2.exists(_.equalsIgnoreCase(c)))
              return None // member lacks the USING column
            val owners = aliasCols.flatMap { case (a, cs) =>
              cs.filter(_.equalsIgnoreCase(c)).map(a -> _) }
            if (owners.length != 1) return None
            val (a, oc) = owners.head
            if (j.isAsof && ix == j.usingCols.length - 1)
              s"${j.ralias}.$c <= $a.$oc"
            else s"$a.$oc = ${j.ralias}.$c"
          }
          parts.mkString(" AND ")
        } else j.cond
      val cond2 = mapChainRefs(condTxt, earlier ++ condAliases)
      acc =
        if (j.isAsof) {
          val rexpr2 = mapChainRefs(j.rightExpr, earlier ++ condAliases)
          "(SELECT " +
            (accCols ++ memberColNames).map(c => s"`$c`").mkString(", ") +
            " FROM (SELECT __L.*, " + memberNewCols.mkString(", ") +
            ", row_number() OVER (PARTITION BY __graft_cid ORDER BY " +
            s"$rexpr2 ${j.dir}) AS __graft_crn" +
            " FROM (SELECT *, monotonically_increasing_id() AS __graft_cid" +
            s" FROM $acc) __L " +
            s"${j.joinSql} $memberSql ON $cond2)" +
            " WHERE __graft_crn = 1)"
        } else
          // plain step (r14 mixed chains; r15 adds RIGHT/FULL): no
          // pick, just the join over the flattened accumulator —
          // fan-out allowed, the scale guard folds it into the running
          // row bound; RIGHT/FULL null-extend the accumulated side,
          // DuckDB's left-deep semantics exactly
          "(SELECT " +
            (accCols.map(c => s"`$c`") ++ memberNewCols).mkString(", ") +
            s" FROM $acc __L " +
            s"${j.joinSql} $memberSql ON $cond2)"
      earlier = newAliases.toList reverse_::: earlier
      accCols = accCols ++ memberColNames
      aliasCols = newAliasCols.toList reverse_::: aliasCols
    }
    // select list: remap references; synthesize DuckDB's leaf output
    // name for unaliased qualified refs; refuse shapes whose output
    // name would need engine-side rendering
    val items = splitTop(p.selTxt).getOrElse(return None).map(_.trim)
    if (items.exists(_.isEmpty) || items.exists(_.contains("*"))) return None
    val QualRe = ("""(?s)^([A-Za-z_][A-Za-z0-9_]*)\.""" +
      """([A-Za-z_][A-Za-z0-9_]*)$""").r
    val earlierSet = earlier.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val outItems = items.map { it =>
      ColumnsAliasRe.findFirstMatchIn(it) match {
        case Some(m) if !m.group(1).startsWith("'") =>
          mapChainRefs(it.substring(0, m.start), earlier) +
            " AS " + (if (m.group(1).startsWith("\""))
              "`" + m.group(1).substring(1, m.group(1).length - 1)
                .replace("\"\"", "\"") + "`"
            else m.group(1))
        case _ => it match {
          case QualRe(a, c)
            if earlierSet(a.toLowerCase(java.util.Locale.ROOT)) =>
            s"`${pref(a, c)}` AS `$c`"
          case _ => return None // unaliased expression / string alias
        }
      }
    }
    val tail2 = mapChainRefs(p.tailTxt, earlier)
    Some(p.prefix + "SELECT " + outItems.mkString(", ") +
      " FROM " + acc + " __graft_chain" +
      (if (tail2.isEmpty) "" else " " + tail2))
  }

  /** One-inequality analysis for a chain step's ON: Some((rightExpr,
    * dir, rightEquis)) when exactly one top-level inequality splits a
    * pure new-alias side from an earlier-alias side; rightEquis are the
    * new-alias sides of clean earlier=new equalities (scale probe). */
  private def analyzeAsofCond(cond: String, newAliases: Seq[String],
      earlier: Seq[String]): Option[(String, String, Seq[String])] = {
    // depth-INSENSITIVE alias search (unlike the single bridge's
    // top-level scan): `CAST(e.ts AS DATE)` must count as referencing
    // `e` — string literals are stripped first so 'e.g.' text can't
    // false-positive
    def refsAlias(e: String, a: String): Boolean = {
      val noStr = e.replaceAll("'(?:[^']|'')*'", " ")
      java.util.regex.Pattern.compile(
        "(?i)(?<![A-Za-z0-9_.`\"])" +
          java.util.regex.Pattern.quote(a) + "\\.").matcher(noStr).find()
    }
    def refsNew(e: String): Boolean = newAliases.exists(refsAlias(e, _))
    def refsEarlier(e: String): Boolean = earlier.exists(refsAlias(e, _))
    val andAts = topKeywordAll(cond, "and")
    val bounds = (-3 +: andAts) :+ cond.length
    val conjs = bounds.sliding(2).map { case Seq(a, b) =>
      cond.substring(a + 3, b).trim
    }.toSeq
    def ineqOp(c: String): Option[(Int, String)] = {
      var d = 0
      var j = 0
      while (j < c.length) {
        c.charAt(j) match {
          case '\'' => j += 1
            while (j < c.length && c.charAt(j) != '\'') j += 1
            j += 1
          case '(' | '[' => d += 1; j += 1
          case ')' | ']' => d -= 1; j += 1
          case '<' | '>' if d == 0 =>
            if (j + 1 < c.length && c.charAt(j + 1) == '>') return None
            val op = if (j + 1 < c.length && c.charAt(j + 1) == '=')
              c.substring(j, j + 2) else c.substring(j, j + 1)
            return Some((j, op))
          case _ => j += 1
        }
      }
      None
    }
    val ineqs = conjs.zipWithIndex.flatMap { case (c, ix) =>
      ineqOp(c).map(o => (ix, c, o._1, o._2))
    }
    if (ineqs.length != 1) return None
    val (ineqIx, ineqC, opAt, op) = ineqs.head
    val lhs = ineqC.substring(0, opAt).trim
    val rhs = ineqC.substring(opAt + op.length).trim
    val (rightExpr, normOp) =
      (refsNew(lhs), refsNew(rhs)) match {
        case (true, false) if refsEarlier(rhs) => (lhs, op)
        case (false, true) if refsEarlier(lhs) =>
          (rhs, op match {
            case "<" => ">"; case "<=" => ">="
            case ">" => "<"; case ">=" => "<="
          })
        case _ => return None
      }
    val rightEquis = conjs.zipWithIndex.filter(_._2 != ineqIx).flatMap {
      case (c, _) =>
        var d = 0
        var j = 0
        var eq = -1
        while (j < c.length && eq < 0) {
          c.charAt(j) match {
            case '\'' => j += 1
              while (j < c.length && c.charAt(j) != '\'') j += 1
              j += 1
            case '(' | '[' => d += 1; j += 1
            case ')' | ']' => d -= 1; j += 1
            case '=' if d == 0 &&
              (j == 0 || "<>!".indexOf(c.charAt(j - 1)) < 0) &&
              (j + 1 >= c.length || c.charAt(j + 1) != '=') => eq = j
            case _ => j += 1
          }
        }
        if (eq < 0) None
        else {
          val l0 = c.substring(0, eq).trim
          val r0 = c.substring(eq + 1).trim
          if (refsNew(l0) && !refsEarlier(l0) &&
            refsEarlier(r0) && !refsNew(r0)) Some(l0)
          else if (refsNew(r0) && !refsEarlier(r0) &&
            refsEarlier(l0) && !refsNew(l0)) Some(r0)
          else None
        }
    }
    val dir = if (normOp == "<" || normOp == "<=") "DESC" else "ASC"
    Some((rightExpr, dir, rightEquis))
  }

  /** Chain twin of [[asofScaleGuard]] — one cheap probe per step:
    * |base left| × the largest right equi group (the accumulated left
    * never exceeds |base left| because every ASOF step yields ≤1 row
    * per left row, so this bounds the decorrelated join's generated
    * pairs from above; no equi conjunct ⇒ the whole right relation is
    * one group). */
  /** The guard's core walk, reusable RECURSIVELY (r15 third pass —
    * multi-join tree members take their inner chain's final row bound
    * as m): returns (max candidate pairs any step generates, final
    * accumulated row bound) for a parsed chain against live tables.
    * Probe failures throw — the guard wrapper treats that as
    * pass-through. */
  private def chainPairsAndBound(
      spark: org.apache.spark.sql.SparkSession,
      p: AsofChainParts,
      probe: String => Double): (Double, Double) = {
    val lrel = p.lrel
    val nLeft = probe(
      s"SELECT CAST(count(*) AS DOUBLE) FROM $lrel ${p.lalias}")
    // alias -> column names, rebuilt as the expansion does -- NATURAL
    // members' equi keys are schema-derived, so the guard re-derives
    // them here (an unavailable schema just degrades that member to
    // the conservative whole-relation bound; it can never enlarge the
    // equi set, because the expansion already refused every ambiguous
    // shared name)
    var aliasColsG: List[(String, Seq[String])] =
      chainColsOf(spark, lrel).map(cs => List(p.lalias -> cs))
        .getOrElse(Nil)
    // running row bound: an ASOF step yields <=1 row per accumulated
    // row; a PLAIN step fans out by at most its largest equi group, so
    // the bound multiplies through it
    var bound = nLeft
    val maxStep = p.joins.map { j =>
      j.multi match {
        case Some(mt) =>
          // multi-join tree member: recurse -- the inner chain's own
          // step pairs gate too, and its FINAL row bound is this
          // member's m (its output cannot exceed what the inner walk
          // accumulates). aliasColsG gets no entries for the inner
          // aliases: a later NATURAL member then degrades to its
          // conservative whole-relation bound, never a smaller one.
          val ip = asofChainBridge("SELECT __graft_d FROM " + mt.inner)
            .getOrElse(sys.error("unparseable multi-tree inner"))
          val (imax, ibound) = chainPairsAndBound(spark, ip, probe)
          val m = ibound
          val stepPairs = math.max(bound * m, imax)
          if (!j.isAsof) {
            bound = bound * math.max(m, 1.0)
            if (j.joinSql == "RIGHT JOIN" || j.joinSql == "FULL JOIN")
              bound += m
          }
          stepPairs
        case None =>
      val effEquis =
        if (j.natural)
          chainColsOf(spark, j.rrel).map(rc =>
            naturalSharedCols(rc, aliasColsG)
              .map(c => s"${j.ralias}.$c"))
            .getOrElse(Seq.empty)
        else j.rightEquis
      val mg = j.tree match {
        case Some(t) =>
          // tree member (r15): |r1| is the base factor -- an inner
          // ASOF yields <=1 row per r1 row, a plain inner multiplies
          // in r2's largest group below
          s"SELECT CAST(count(*) AS DOUBLE) FROM ${t.r1}"
        case None if effEquis.isEmpty =>
          s"SELECT CAST(count(*) AS DOUBLE) FROM ${j.rrel} ${j.ralias}"
        case None =>
          "SELECT CAST(max(__gc) AS DOUBLE) FROM (SELECT count(*) " +
            s"AS __gc FROM ${j.rrel} ${j.ralias} GROUP BY " +
            effEquis.mkString(", ") + ")"
      }
      aliasColsG = (j.tree match {
        case Some(t) => t.outer match {
          case Some(x) =>
            // aliased tree: x exposes the first-occurrence dedup of
            // the inner columns (mirrors the expand)
            val cs = chainColsOf(spark, t.r1).getOrElse(Nil) ++
              chainColsOf(spark, t.r2).getOrElse(Nil)
            val seenC = scala.collection.mutable.Set.empty[String]
            List(x -> cs.filter(c =>
              seenC.add(c.toLowerCase(java.util.Locale.ROOT))))
          case None =>
            chainColsOf(spark, t.r1).map(t.a1 -> _).toList ++
              chainColsOf(spark, t.r2).map(t.a2 -> _).toList
        }
        case None =>
          chainColsOf(spark, j.rrel).map(j.ralias -> _).toList
      }) reverse_::: aliasColsG
      val m0 = probe(mg)
      // a tree member's INNER join generates its own pairs (|r1| x
      // r2's largest inner-equi group) before any pick/filter prunes
      // -- gate them like any ASOF step. With an inner ASOF the
      // member OUTPUT stays <=1 per r1 row; a PLAIN inner (r15 second
      // pass) can fan out, so those same pairs also become the
      // member's m
      val innerPairs = j.tree.fold(0.0) { t =>
        val innerEquis =
          if (t.innerAsof)
            analyzeAsofCond(t.cond, Seq(t.a2), Seq(t.a1))
              .map(_._3).getOrElse(Nil)
          else chainRightEquis(splitTopAnd(t.cond),
            Seq(t.a2), Seq(t.a1))
        val ig =
          if (innerEquis.isEmpty)
            s"SELECT CAST(count(*) AS DOUBLE) FROM ${t.r2} ${t.a2}"
          else
            "SELECT CAST(max(__gc) AS DOUBLE) FROM (SELECT " +
              s"count(*) AS __gc FROM ${t.r2} ${t.a2} GROUP BY " +
              innerEquis.mkString(", ") + ")"
        m0 * probe(ig)
      }
      val m = j.tree match {
        case Some(t) if !t.innerAsof =>
          // inner RIGHT/FULL (r15 third pass): unmatched r2 rows
          // survive the inner join too — add |r2| to the member bound
          innerPairs + t.innerRightFull.fold(0.0)(_ =>
            probe(s"SELECT CAST(count(*) AS DOUBLE) FROM ${t.r2} ${t.a2}"))
        case _ => m0
      }
      val stepPairs = math.max(bound * m, innerPairs)
      if (!j.isAsof) {
        bound = bound * math.max(m, 1.0)
        // RIGHT/FULL (r15): unmatched right rows join the
        // accumulation too -- add |r| to the running bound (a tree
        // member's output is bounded by its m)
        if (j.joinSql == "RIGHT JOIN" || j.joinSql == "FULL JOIN") {
          if (j.tree.nonEmpty) bound += m
          else bound += probe("SELECT CAST(count(*) AS DOUBLE) " +
            s"FROM ${j.rrel} ${j.ralias}")
        }
      }
      stepPairs
      }
    }.max
    (maxStep, bound)
  }

  private def asofChainScaleGuard(
      spark: org.apache.spark.sql.SparkSession, text: String): Unit =
    asofChainBridge(text).foreach { p =>
      val maxPairs =
        spark.conf.get("spark.graft.asof.maxPairs", "50000000").toDouble
      if (maxPairs >= 0) {
        // r16 (guide §1.2, fixed per-query job constants): the walk's
        // probe STATEMENTS are structurally determined — their SQL
        // depends only on the parse and table schemas, never on probe
        // VALUES, which feed the bound arithmetic alone — so a
        // recording walk collects every probe, ONE fused UNION ALL job
        // evaluates them all (each probe used to be its own Spark job,
        // the dominant wall cost of the gate on multi-member chains),
        // and a replay walk re-runs the identical arithmetic on the
        // collected values. Estimates, refusal thresholds and the
        // probe-failure pass-through contract are unchanged; the gate
        // stays paid per statement, as documented.
        val est =
          try {
            val recorded = scala.collection.mutable.ArrayBuffer.empty[String]
            chainPairsAndBound(spark, p, { q => recorded += q; 0.0 })
            if (recorded.isEmpty) 0.0
            else {
              val fused = recorded.zipWithIndex.map { case (q, i) =>
                s"SELECT $i AS __pi, * FROM (${rewrite(q)}) __gp$i"
              }.mkString(" UNION ALL ")
              val vals = spark.sql(fused).collect().map { r =>
                r.getInt(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))
              }.toMap
              // the replay must issue exactly the recorded probes: a
              // misaligned walk throws (pass-through below), it never
              // reads a default into the bound
              var i = -1
              val replayed = chainPairsAndBound(spark, p,
                { _ => i += 1; vals(i) })._1
              if (i + 1 != recorded.length) throw new IllegalStateException(
                s"ASOF probe replay consumed ${i + 1} of ${recorded.length} probes")
              replayed
            }
          }
          catch { case scala.util.control.NonFatal(_) => 0.0 }
        if (est > maxPairs)
          throw new IllegalArgumentException(
            f"ASOF JOIN chain refused at this scale: a step of the " +
              f"lateral bridge would generate ~$est%.0f candidate pairs " +
              f"(spark.graft.asof.maxPairs = $maxPairs%.0f; raise it or " +
              "set -1 to force). DuckDB executes ASOF with a dedicated " +
              "sort-merge operator; at this group size compose the " +
              "O(n log n) union+ordered-window form per step instead " +
              "(the q51_asof_join corpus query is the reference shape).")
      }
    }

  /** DuckDB's `SELECT DISTINCT ON (keys) …` (Spark has none — verified)
    * → one surviving row per key via row_number:
    *   [prefix] SELECT DISTINCT ON (keys) sel FROM rest [ORDER BY ob] [t]
    *   → [prefix] SELECT * EXCEPT (__graft_rn) FROM (
    *       SELECT sel, row_number() OVER (PARTITION BY keys
    *         ORDER BY ob-or-keys) AS __graft_rn FROM rest)
    *     WHERE __graft_rn = 1 [ORDER BY ob] [t]
    * DuckDB keeps the FIRST row per key of the ORDER BY stream
    * (verified: ORDER BY y / y DESC pick min/max y per key); without an
    * ORDER BY the surviving row is engine-arbitrary — the bridge orders
    * by the keys, deterministic but equally arbitrary (documented).
    * Refused → guidance: positional or ALL ORDER BY items (inside a
    * window spec they would silently become constants), set ops, a
    * co-occurring QUALIFY. An ORDER BY item naming a select ALIAS fails
    * Spark analysis inside the window spec → guidance, never wrong. */
  private def bridgeDistinctOn(sql: String): String = {
    val sel = topKeyword(sql, "select")
    if (sel < 0) return sql
    var k = sel + 6
    while (k < sql.length && Character.isWhitespace(sql.charAt(k))) k += 1
    if (!readWord(sql, k).equalsIgnoreCase("distinct")) return sql
    k += 8
    while (k < sql.length && Character.isWhitespace(sql.charAt(k))) k += 1
    if (!readWord(sql, k).equalsIgnoreCase("on")) return sql
    k += 2
    while (k < sql.length && Character.isWhitespace(sql.charAt(k))) k += 1
    if (k >= sql.length || sql.charAt(k) != '(') return sql
    val close = scanMatch(sql, k).getOrElse(return sql)
    val keys = sql.substring(k + 1, close - 1).trim
    if (keys.isEmpty) return sql
    if (hasTopSetOp(sql) || topKeyword(sql, "qualify") >= 0) return sql
    val f = topKeyword(sql, "from")
    if (f < close) return sql
    val afterFrom = sql.substring(f)
    val cut = tailCut(afterFrom)
    val tail = afterFrom.substring(cut)
    val tailTxt = tail.trim
    // the window ORDER needs REAL expressions (a position/ALL inside a
    // window spec silently becomes a constant → refused), and the outer
    // ORDER BY may reference base columns the projection drops — hide
    // them as inner columns (see wrapOrderBy)
    val (winOrder, hidden, outerTail) =
      if (tailTxt.isEmpty) (keys, Seq.empty[String], "")
      else wrapOrderBy(tailTxt, "graft_d") match {
        case None => return sql
        case Some((h, items, raw, rest)) =>
          // every item must have produced a hidden expr — a position or
          // ALL (which yield none) can't drive the window pick
          if (h.length != items.length) return sql
          (raw.mkString(", "), h,
            ("ORDER BY " + items.mkString(", ") +
              (if (rest.isEmpty) "" else " " + rest)).trim)
      }
    val dropCols = "__graft_rn" +: hidden.map(_.split(" AS ").last)
    sql.substring(0, sel) +
      s"SELECT * EXCEPT (${dropCols.mkString(", ")}) FROM (SELECT " +
      sql.substring(close, f).trim +
      ", row_number() OVER (PARTITION BY " + keys +
      " ORDER BY " + winOrder + ") AS __graft_rn" +
      (if (hidden.isEmpty) "" else ", " + hidden.mkString(", ")) +
      " " + afterFrom.substring(0, cut).trim +
      ") WHERE __graft_rn = 1" +
      (if (outerTail.isEmpty) "" else " " + outerTail)
  }

  // trailing alias of an UNPIVOT ON item: AS 'label' | AS "ident" | AS bare
  private val UnpivotAliasRe =
    """(?i)\s+AS\s+('(?:[^']|'')*'|"[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  /** DuckDB's UNPIVOT STATEMENT → Spark's UNPIVOT clause (pure text):
    *   UNPIVOT <table> ON <item>, … INTO NAME <n> VALUE <v1>[, v2 …]
    *   item := col [AS alias] | (c1, c2, …) [AS alias]
    *   → SELECT * FROM <table>
    *       UNPIVOT ((v1[, v2…]) FOR <n> IN (<item> AS `alias`, …)) [tail]
    * Single-VALUE semantics agree exactly (verified on both engines:
    * NULL values excluded, remaining columns kept, NAME carries the
    * column name — or the alias when given; DuckDB's 'string' aliases
    * re-emit backticked). r12 extends the bridge to the MULTI-VALUE
    * form: DuckDB drops an emitted row when ANY of its values is NULL
    * where Spark's EXCLUDE NULLS drops only ALL-NULL rows (verified:
    * (3, NULL) dropped by DuckDB, kept by Spark) — so the multi-VALUE
    * bridge wraps the clause in a `WHERE v1 IS NOT NULL AND …` filter.
    * An unaliased multi-column item names its group by the columns
    * joined with '_' (DuckDB's rule, verified: (x, z) → 'x_z').
    * Refused (→ guidance): COLUMNS(*), ragged item widths, and a
    * multi-VALUE statement with a WHERE tail (the null filter and the
    * user predicate would need a merge this bridge doesn't attempt). */
  private def bridgeUnpivot(sql: String): String = {
    if (!readWord(sql.trim, 0).equalsIgnoreCase("unpivot")) return sql
    val t = sql.trim
    var i = 7
    def ws(): Unit =
      while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    ws()
    val src = parseIdentChain(t, i) match {
      case Some((ident, after)) => i = after; ident
      case None => return sql
    }
    ws()
    if (!readWord(t, i).equalsIgnoreCase("on")) return sql
    i += 2
    val rest = t.substring(i)
    val into = topKeyword(rest, "into")
    if (into < 0) return sql
    val colsTxt = rest.substring(0, into).trim
    if (colsTxt.isEmpty) return sql
    // ON items: col | (c1, c2, …), optional trailing AS alias
    val rawItems = splitTop(colsTxt).getOrElse(return sql).map(_.trim)
    if (rawItems.isEmpty || rawItems.exists(_.isEmpty)) return sql
    def oneIdent(s0: String): Option[String] = {
      val s = s0.trim
      parseIdentChain(s, 0) match {
        case Some((ident, after)) if after == s.length &&
          !ident.contains('.') => Some(ident)
        case _ => None
      }
    }
    // (re-emitted column list, column count, optional alias)
    val items: Seq[(Seq[String], Option[String])] = rawItems.map { it0 =>
      var it = it0
      var alias: Option[String] = None
      UnpivotAliasRe.findFirstMatchIn(it).foreach { m =>
        val raw = m.group(1)
        alias = Some(
          if (raw.startsWith("'"))
            raw.substring(1, raw.length - 1).replace("''", "'")
          else if (raw.startsWith("\"")) raw.substring(1, raw.length - 1)
          else raw)
        it = it.substring(0, m.start).trim
      }
      val cols: Seq[String] =
        if (it.startsWith("(")) {
          if (!it.endsWith(")")) return sql
          splitTop(it.substring(1, it.length - 1)).getOrElse(return sql)
            .map(c => oneIdent(c).getOrElse(return sql))
        } else Seq(oneIdent(it).getOrElse(return sql))
      if (cols.isEmpty) return sql
      (cols, alias)
    }
    var j = into + 4
    def wsj(): Unit =
      while (j < rest.length && Character.isWhitespace(rest.charAt(j))) j += 1
    wsj()
    if (!readWord(rest, j).equalsIgnoreCase("name")) return sql
    j += 4; wsj()
    val name = parseIdentChain(rest, j) match {
      case Some((ident, after)) if !ident.contains('.') => j = after; ident
      case _ => return sql
    }
    wsj()
    if (!readWord(rest, j).equalsIgnoreCase("value")) return sql
    j += 5; wsj()
    var values = Seq.empty[String]
    var more = true
    while (more) {
      parseIdentChain(rest, j) match {
        case Some((ident, after)) if !ident.contains('.') =>
          values :+= ident; j = after; wsj()
          if (j < rest.length && rest.charAt(j) == ',') { j += 1; wsj() }
          else more = false
        case _ => return sql
      }
    }
    val arity = values.length
    if (items.exists(_._1.length != arity)) return sql // ragged widths
    val tail = rest.substring(j).trim
    def bq(s: String) = "`" + s.replace("`", "``") + "`"
    val itemsSql = items.map { case (cols, alias) =>
      val colsPart =
        if (arity == 1) cols.head else cols.mkString("(", ", ", ")")
      if (arity == 1 && alias.isEmpty) colsPart
      else {
        // unaliased multi-col group: DuckDB names it c1_c2 (verified)
        val nm = alias.getOrElse(
          cols.map(_.stripPrefix("`").stripSuffix("`")).mkString("_"))
        s"$colsPart AS ${bq(nm)}"
      }
    }
    val valuesSql =
      if (arity == 1) values.head else values.mkString("(", ", ", ")")
    val core = s"SELECT * FROM $src UNPIVOT ($valuesSql FOR $name " +
      s"IN (${itemsSql.mkString(", ")}))"
    if (arity == 1) core + (if (tail.isEmpty) "" else " " + tail)
    else {
      if (tail.nonEmpty && readWord(tail, 0).equalsIgnoreCase("where"))
        return sql // null-filter + user WHERE: not merged, guidance
      s"SELECT * FROM ($core) WHERE " +
        values.map(v => s"$v IS NOT NULL").mkString(" AND ") +
        (if (tail.isEmpty) "" else " " + tail)
    }
  }

  /** Distinct-value cap for the dynamic PIVOT bridge: one BOUNDED
    * collect (DuckDB materializes the same distinct set to plan its
    * PIVOT); beyond this a pivot is a schema explosion, not a query. */
  private val PivotValueCap = 1000

  /** DuckDB's PIVOT STATEMENT (dynamic column discovery — Spark's
    * PIVOT clause needs a literal IN list) → conditional aggregation:
    *   PIVOT <table> ON <col> [IN (v, …)] [USING <agg> [AS alias]]
    *     [GROUP BY g, …] [ORDER BY …] [LIMIT …]
    *   → SELECT g…, <agg> FILTER (WHERE <col> = v) AS `v[_alias]`, …
    *     FROM <table> [GROUP BY g…] [ORDER BY …] [LIMIT …]
    * Matches the verified DuckDB semantics: pivot columns are the
    * DISTINCT NON-NULL values of the ON column sorted ascending (or the
    * IN list verbatim), named `str(value)` — `value_alias` with an
    * aliased USING; MULTIPLE aggregates are supported when every one is
    * aliased (column order value-major, aggregates in declaration
    * order, verified — unaliased multi-agg names are DuckDB's internal
    * expression renderings, refused rather than guessed); absent combos
    * are NULL for real aggregates and 0
    * for the count(*) default (FILTER agrees on both); an omitted
    * GROUP BY groups by every table column the ON col and the
    * aggregates don't reference (live schema minus a parsed-expression
    * attribute walk, preserving table column order — DuckDB's rule).
    * The FILTER form keeps ONE shuffle on the group keys at any column
    * count — the scale shape a pivot should have. Value discovery is
    * one bounded collect per ON column (the cross-product width is
    * capped at [[PivotValueCap]], refused loudly above). Multiple ON
    * columns give DuckDB's CROSS PRODUCT columns `v1_v2` (verified —
    * even for combos that never co-occur; rows with a NULL in any ON
    * column drop). None → the caller raises guidance: unaliased
    * multi-agg USING, subquery sources, unparseable aggregate text. */
  def bridgePivot(spark: SparkSession, text0: String): Option[String] = {
    val text = text0.trim.stripSuffix(";")
    if (!readWord(text, 0).equalsIgnoreCase("pivot")) return None
    var i = 5
    def ws(): Unit = while (i < text.length &&
      Character.isWhitespace(text.charAt(i))) i += 1
    ws()
    val src = parseIdentChain(text, i) match {
      case Some((ident, after)) => i = after; ident
      case None => return None
    }
    ws()
    if (!readWord(text, i).equalsIgnoreCase("on")) return None
    i += 2; ws()
    // one or more ON columns, each with an optional IN (…) value list
    // (an IN list skips that column's discovery collect)
    var onSpecs = Seq.empty[(String, Option[Seq[String]])]
    var more = true
    while (more) {
      val col = parseIdentChain(text, i) match {
        case Some((ident, after)) => i = after; ident
        case None => return None
      }
      ws()
      var inVals: Option[Seq[String]] = None
      if (readWord(text, i).equalsIgnoreCase("in")) {
        i += 2; ws()
        if (i >= text.length || text.charAt(i) != '(') return None
        val close = scanMatch(text, i).getOrElse(return None)
        val items = splitTop(text.substring(i + 1, close - 1))
          .getOrElse(return None).map(_.trim)
        if (items.isEmpty || items.exists(_.isEmpty)) return None
        inVals = Some(items)
        i = close; ws()
      }
      onSpecs :+= (col, inVals)
      if (i < text.length && text.charAt(i) == ',') { i += 1; ws() }
      else more = false
    }
    val rest = text.substring(i)
    val cut = Seq("group", "order", "limit").map(topKeyword(rest, _))
      .filter(_ >= 0).reduceOption(_ min _).getOrElse(rest.length)
    // (aggregate text, value-column suffix) — the count(*) default
    // yields bare `value` names; a single unaliased agg likewise.
    // UNALIASED multi-agg names are DuckDB's internal expression
    // renderings; the SIMPLE fn(ident) / count(*) forms are stable and
    // mirrored here (r12, verified: SUM("Xcol") → sum(Xcol),
    // COUNT( y ) → count(y), count(*) → count_star() — lowercase
    // function, the TYPED identifier text, spaces stripped). Anything
    // more complex (expressions, multi-arg) still refuses to guess.
    var aggs: Seq[(String, String)] = Seq(("count(*)", ""))
    val usingTxt = rest.substring(0, cut).trim
    if (usingTxt.nonEmpty) {
      if (!readWord(usingTxt, 0).equalsIgnoreCase("using")) return None
      val items = splitTop(usingTxt.substring(5))
        .getOrElse(return None).map(_.trim)
      if (items.isEmpty || items.exists(_.isEmpty)) return None
      val SimpleAgg =
        """^([A-Za-z_][A-Za-z0-9_]*)\s*\(\s*("[^"]+"|[A-Za-z_][A-Za-z0-9_]*|\*)\s*\)$""".r
      val parsed = items.map { it =>
        AsIdentRe.findFirstMatchIn(it) match {
          case Some(m) => (it.substring(0, m.start).trim, "_" + m.group(1))
          case None => it match {
            case SimpleAgg(fn, arg) if items.length > 1 =>
              val lf = fn.toLowerCase(java.util.Locale.ROOT)
              val nm =
                if (arg == "*") lf + "_star()"
                else lf + "(" +
                  arg.stripPrefix("\"").stripSuffix("\"") + ")"
              (it, "_" + nm)
            case _ => (it, "")
          }
        }
      }
      if (parsed.exists(_._1.isEmpty)) return None
      if (parsed.length > 1 && parsed.exists(_._2.isEmpty)) return None
      aggs = parsed
    }
    var tail = rest.substring(cut)
    // the GROUP BY moves into the rebuilt SELECT; ORDER/LIMIT stay a tail
    var groupsTxt: Option[String] = None
    if (tail.nonEmpty && readWord(tail, 0).equalsIgnoreCase("group")) {
      var b = 5
      while (b < tail.length && Character.isWhitespace(tail.charAt(b))) b += 1
      if (!readWord(tail, b).equalsIgnoreCase("by")) return None
      val body = tail.substring(b + 2)
      val gcut = Seq("order", "limit").map(topKeyword(body, _))
        .filter(_ >= 0).reduceOption(_ min _).getOrElse(body.length)
      groupsTxt = Some(body.substring(0, gcut).trim)
      tail = body.substring(gcut)
    }
    val groups: Seq[String] = groupsTxt match {
      case Some(g) =>
        splitTop(g).getOrElse(return None).map(_.trim)
          .filter(_.nonEmpty) match {
          case s if s.isEmpty => return None
          case s => s
        }
      case None =>
        // DuckDB's implicit grouping: every table column the ON col and
        // the aggregates don't use, in table order (verified)
        val refs: Set[String] =
          try aggs.flatMap(a =>
            spark.sessionState.sqlParser.parseExpression(a._1)
              .collect {
                case u: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute =>
                  u.nameParts.last.toLowerCase(java.util.Locale.ROOT)
              }).toSet
          catch { case scala.util.control.NonFatal(_) => return None }
        val onLeaves = onSpecs.map(_._1.split('.').last
          .stripPrefix("`").stripSuffix("`"))
        val fields =
          try spark.table(src).schema.fieldNames.toSeq
          catch { case scala.util.control.NonFatal(_) => return None }
        fields.filterNot { f =>
          onLeaves.exists(f.equalsIgnoreCase) ||
            refs.contains(f.toLowerCase(java.util.Locale.ROOT))
        }.map(f => "`" + f.replace("`", "``") + "`")
    }
    // (filter literal, output name fragment) per ON column per value
    def colVals(onCol: String, inVals: Option[Seq[String]])
        : Seq[(String, String)] = inVals match {
      case Some(items) =>
        items.map(it => bareLiteral(it) match {
          case Some(s) => (sqlLit(s), s)
          case None => (it, it)
        })
      case None =>
        val rows = spark.sql(
          s"SELECT DISTINCT $onCol AS __graft_pv FROM $src " +
            s"WHERE $onCol IS NOT NULL ORDER BY __graft_pv " +
            s"LIMIT ${PivotValueCap + 1}").collect()
        if (rows.length > PivotValueCap)
          throw new IllegalArgumentException(
            s"PIVOT ON $onCol: more than $PivotValueCap distinct values " +
              "— a pivot this wide is a schema explosion; aggregate by " +
              "the column instead, or pass an explicit IN (…) list")
        rows.toSeq.map { r =>
          val v = r.get(0)
          val lit = v match {
            case s: String => sqlLit(s)
            case d: java.sql.Date => s"DATE '$d'"
            case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
            case other => String.valueOf(other)
          }
          (lit, String.valueOf(v))
        }
    }
    // multi-ON: DuckDB's columns are the CROSS PRODUCT of each column's
    // independent distinct set (x_p..y_q even when a combo never
    // co-occurs — verified), named v1_v2, each filter a conjunction;
    // rows with a NULL in any ON column are dropped (the IS NOT NULL
    // discovery and the = conjunction agree on that)
    val perCol = onSpecs.map { case (c, iv) => colVals(c, iv).map { case (l, n) => (c, l, n) } }
    if (perCol.map(_.size.toLong).product > PivotValueCap)
      throw new IllegalArgumentException(
        s"PIVOT ON ${onSpecs.map(_._1).mkString(", ")}: the value cross " +
          s"product exceeds $PivotValueCap columns — a pivot this wide " +
          "is a schema explosion; aggregate instead")
    val vals: Seq[(String, String)] = perCol
      .foldLeft(Seq(("", ""))) { (acc, cv) =>
        acc.flatMap { case (cond, name) =>
          cv.map { case (c, l, n) =>
            (if (cond.isEmpty) s"$c = $l" else s"$cond AND $c = $l",
              if (name.isEmpty) n else s"${name}_$n")
          }
        }
      }
    // value-major, aggregates in declaration order — DuckDB's column
    // order for the multi-agg form (verified: x_s, x_c, y_s, y_c)
    val items = vals.flatMap { case (cond, nm) =>
      aggs.map { case (aggText, suffix) =>
        s"$aggText FILTER (WHERE $cond) AS `" +
          (nm + suffix).replace("`", "``") + "`"
      }
    }
    val tailTxt = tail.trim
    Some(rewrite(
      s"SELECT ${(groups ++ items).mkString(", ")} FROM $src" +
        (if (groups.nonEmpty) s" GROUP BY ${groups.mkString(", ")}"
         else "") +
        (if (tailTxt.isEmpty) "" else " " + tailTxt)))
  }

  /** DuckDB's `COLUMNS('regex')` / `COLUMNS(*)` star expression →
    * the matching columns expanded from the LIVE schema (Spark has no
    * schema-free twin — this runs session-aware, like [[bridgePivot]]).
    * Supported subset: select-list items containing ONE `COLUMNS(…)`
    * call, over a single plain table/view FROM source (no joins or
    * comma sources). The regex matches DuckDB-style: a FIND anywhere in
    * the column name, not a full match (verified: COLUMNS('a') on
    * (aa, ab, ba) selects all three). Each item replicates per matching
    * column — `max(COLUMNS('re'))` becomes one `max(col) AS col` per
    * match, which reproduces DuckDB's naming exactly (it names wrapped
    * forms by the SOURCE column, verified). `* EXCLUDE (…)`, the
    * LAMBDA form `COLUMNS(c -> pred)` and trailing ALIASES (`AS z` →
    * z, z_1, …; 'template' with \N regex groups) are bridged (r12 —
    * see the cases below), as is `* [EXCLUDE (…)] REPLACE (expr AS
    * col, …)` for the BARE form (r13 — replaced columns keep position,
    * named by the alias's spelling) and (r14, VERDICT r13 item 6) for
    * a SINGLE-FUNCTION wrap `fn(COLUMNS(* … REPLACE …))` whose derived
    * names `fn(col := <rendered expr>)` are mechanically reproducible
    * ([[duckDerivedName]] — DuckDB-pinned rendering; a bare ident-chain
    * expression names by its leaf, non-replaced columns keep bare
    * names, a trailing alias overrides everything).
    * Refused → guidance: wrapped REPLACE outside that subset,
    * templates on non-regex args, zero matches (DuckDB errors there
    * too), multi-relation FROM. */
  // trailing alias of a COLUMNS item: bare ident, "quoted", or a
  // 'single-quoted' \N template
  private val ColumnsAliasRe =
    ("""(?i)\s+AS\s+('(?:[^']|'')*'|"(?:[^"]|"")+"|""" +
      """[A-Za-z_][A-Za-z0-9_]*)\s*$""").r

  private val ColumnsLambdaRe =
    """(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*->\s*(.+)$""".r

  /** Standalone (boundary-checked, quote-aware) occurrences of the
    * lambda param in `body` → the column name as a SQL string literal.
    * Qualified refs (`x.f`, `f.x`) and quoted spans pass through. */
  private def substIdent(body: String, param: String, name: String)
      : String = {
    // Spark string literals treat backslash as an escape (DuckDB does
    // not) — double them so a column named a\b probes as itself
    val lit = "'" + name.replace("\\", "\\\\").replace("'", "''") + "'"
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val ch = body.charAt(i)
      if (ch == '\'' || ch == '"') {
        val j = body.indexOf(ch, i + 1)
        val end = if (j < 0) body.length else j + 1
        sb.append(body.substring(i, end)); i = end
      } else if (Character.isLetter(ch) || ch == '_') {
        val w = readWord(body, i)
        val prevOk = i == 0 || {
          val p = body.charAt(i - 1)
          !(Character.isLetterOrDigit(p) || p == '_' || p == '.')
        }
        val after = i + w.length
        val nextOk = after >= body.length || body.charAt(after) != '.'
        if (prevOk && nextOk && w.equalsIgnoreCase(param)) sb.append(lit)
        else sb.append(w)
        i = after
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  private val BareIdentChainRe =
    """^[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*$""".r

  /** DuckDB's rendered-expression spelling for the SAFE subset used in
    * wrapped COLUMNS REPLACE derived names (r14, pinned against the
    * installed DuckDB — DuckCompatMatrixR14Spec): ident chains, numeric
    * literals and simple string literals render verbatim; a function
    * call renders lowercase with ", "-joined args (`ABS( aa )` →
    * `abs(aa)`, binary args keep their node parens: `abs(bb*2)` →
    * `abs((bb * 2))`); binary operator TREES render one paren pair per
    * node under standard precedence (|| lowest, then + -, then the
    * multiplicative ops) and left associativity (`aa+10` →
    * `(aa + 10)`, `aa+10*2` → `(aa + (10 * 2))`, `2-aa-bb` →
    * `((2 - aa) - bb)` — the r15 second-pass closure of the "nested
    * binaries" refusal, every shape DuckDB-pinned); r15 (the VERDICT r14
    * "non-mechanical spellings" edge, all DuckDB-pinned): CAST renders
    * `CAST(<expr> AS <CANONICAL>)` for the type spellings BOTH engines
    * accept with identical values (int/integer→INTEGER, bigint/long→
    * BIGINT, smallint→SMALLINT, tinyint→TINYINT, double→DOUBLE,
    * float→FLOAT, boolean→BOOLEAN — int4/float8/signed/DOUBLE
    * PRECISION etc. still refuse: DuckDB canonicalizes them but Spark
    * would not parse the injected expression), and unary minus renders
    * `-5` verbatim on a numeric literal, `-(aa)` on an atom and
    * `-((…))` on a parenthesized expression. None = not mechanically
    * reproducible (nested binaries re-associate, …) → the caller
    * refuses to guidance. */
  private val DuckCastCanon: Map[String, String] = Map(
    "int" -> "INTEGER", "integer" -> "INTEGER",
    "bigint" -> "BIGINT", "long" -> "BIGINT",
    "smallint" -> "SMALLINT", "tinyint" -> "TINYINT",
    "double" -> "DOUBLE", "float" -> "FLOAT", "boolean" -> "BOOLEAN",
    // r15 third pass: the DuckDB-only spellings bridge too — the NAME
    // uses DuckDB's canonicalization (pinned) while the EXECUTED
    // expression goes through [[SparkCastSpellings]] in the rewrite
    "int4" -> "INTEGER", "signed" -> "INTEGER", "int8" -> "BIGINT",
    "int2" -> "SMALLINT", "int1" -> "TINYINT",
    "float4" -> "FLOAT", "real" -> "FLOAT", "float8" -> "DOUBLE",
    "double precision" -> "DOUBLE",
    "varchar" -> "VARCHAR", "text" -> "VARCHAR", "string" -> "VARCHAR",
    "numeric" -> "DECIMAL(18,3)", "decimal" -> "DECIMAL(18,3)")

  /** Execution-side twins of the DuckDB-only cast spellings: what the
    * REWRITTEN statement says so Spark parses it, value-identical to
    * DuckDB's canonical type (bare numeric/decimal default to DuckDB's
    * DECIMAL(18,3) — Spark's bare NUMERIC is DECIMAL(10,0) and would
    * silently differ). Spellings Spark already parses are absent. */
  private val SparkCastSpellings: Map[String, String] = Map(
    "int4" -> "INT", "signed" -> "INT", "int8" -> "BIGINT",
    "int2" -> "SMALLINT", "int1" -> "TINYINT",
    "float4" -> "FLOAT", "real" -> "FLOAT", "float8" -> "DOUBLE",
    "double precision" -> "DOUBLE",
    "varchar" -> "STRING", "text" -> "STRING",
    "numeric" -> "DECIMAL(18,3)", "decimal" -> "DECIMAL(18,3)")

  private def renderDuckAtom(e0: String): Option[String] = {
    val e = e0.trim
    if (BareIdentChainRe.matches(e)) Some(e)
    else if (e.matches("""\d+(\.\d+)?""")) Some(e)
    else if (e.length >= 2 && e.head == '\'' && e.last == '\'' &&
      !e.substring(1, e.length - 1).contains('\'')) Some(e)
    else if (e.startsWith("-")) {
      val rest = e.substring(1).trim
      if (rest.matches("""\d+(\.\d+)?""")) Some("-" + rest)
      else if (rest.startsWith("(") && scanMatch(rest, 0).contains(rest.length))
        renderDuckExpr(rest).map(r => s"-($r)")
      else renderDuckAtom(rest).map(r => s"-($r)")
    } else if (e.length > 4 && e.substring(0, 4).equalsIgnoreCase("cast") &&
      e.indexOf('(') >= 4 && e.substring(4, e.indexOf('(')).trim.isEmpty &&
      e.endsWith(")") && scanMatch(e, e.indexOf('(')).contains(e.length)) {
      val body = e.substring(e.indexOf('(') + 1, e.length - 1)
      topKeywordAll(body, "as").lastOption.flatMap { asAt =>
        val ty = body.substring(asAt + 2).trim
          .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        val DecRe = """^(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$""".r
        val canon = ty match {
          // parameterized decimal/numeric: DuckDB renders
          // DECIMAL(p,s) (pinned, no space after the comma)
          case DecRe(pp, ss) => Some(s"DECIMAL($pp,$ss)")
          case _ => DuckCastCanon.get(ty)
        }
        for {
          a <- renderDuckExpr(body.substring(0, asAt))
          t <- canon
        } yield s"CAST($a AS $t)"
      }
    }
    else {
      val po = e.indexOf('(')
      if (po > 0 && e.endsWith(")") &&
        e.substring(0, po).trim.matches("[A-Za-z_][A-Za-z0-9_]*") &&
        scanMatch(e, po).contains(e.length)) {
        val body = e.substring(po + 1, e.length - 1)
        if (body.trim.isEmpty) None
        else splitTop(body) match {
          case Some(args) if args.forall(_.trim.nonEmpty) =>
            // args render through the full expression renderer: a
            // binary arg keeps its node parens INSIDE the call —
            // `aa + abs(bb*2)` derives `(aa + abs((bb * 2)))`, pinned
            val rs = args.map(a => renderDuckExpr(a).getOrElse(return None))
            Some(e.substring(0, po).trim.toLowerCase(java.util.Locale.ROOT) +
              "(" + rs.mkString(", ") + ")")
          case _ => None
        }
      } else None
    }
  }

  private def renderDuckExpr(e0: String): Option[String] = {
    var e = e0.trim
    while (e.length >= 2 && e.head == '(' && scanMatch(e, 0).contains(e.length))
      e = e.substring(1, e.length - 1).trim
    renderDuckAtom(e).orElse {
      // NESTED binaries (r15 second/third pass, all DuckDB-pinned):
      // the engine renders its parse TREE with one paren pair per
      // binary node under standard precedence (OR lowest, then AND,
      // then ONE comparison, then ||, then + -, then the
      // multiplicative ops) and LEFT associativity -- so the top node
      // is the RIGHTMOST operator of the LOWEST precedence and both
      // sides recurse. `<>` renders as DuckDB's canonical `!=`. A
      // leading or post-operator +/- is UNARY, not a split point
      // (`aa*-2` and `aa > -1` keep the literal sign). CHAINED
      // comparisons are a DuckDB PARSER error -- more than one
      // top-level comparison refuses; NOT / BETWEEN / IN / IS / LIKE
      // / CASE re-render semantically in DuckDB and refuse too.
      case class TopOp(at: Int, op: String, len: Int, prec: Int)
      val ops = scala.collection.mutable.ArrayBuffer.empty[TopOp]
      var d = 0
      var i = 0
      var prev = ' ' // last non-whitespace char seen ('=' after word ops)
      val unaryAfter = "+-*/%|(,=<>!"
      val refuseWords = Set("not", "between", "in", "is", "like",
        "case", "when", "then", "else", "end", "ilike", "similar",
        "exists", "any", "all", "distinct", "collate", "glob")
      while (i < e.length) {
        val c = e.charAt(i)
        if (c == '\'') {
          i += 1
          while (i < e.length && e.charAt(i) != '\'') i += 1
          i += 1
          prev = '\''
        } else if (c == '(') { d += 1; i += 1; prev = c }
        else if (c == ')') { d -= 1; i += 1; prev = c }
        else if (Character.isLetter(c) || c == '_') {
          val w = readWord(e, i)
          val lw = w.toLowerCase(java.util.Locale.ROOT)
          val bound = i == 0 || {
            val pch = e.charAt(i - 1)
            !(Character.isLetterOrDigit(pch) || pch == '_' || pch == '.')
          }
          if (d == 0 && bound && refuseWords(lw)) return None
          if (d == 0 && bound && lw == "or") {
            ops += TopOp(i, "OR", 2, 0); prev = '='
          } else if (d == 0 && bound && lw == "and") {
            ops += TopOp(i, "AND", 3, 1); prev = '='
          } else prev = w.last
          i += w.length
        } else if (d == 0 && c == '|' && i + 1 < e.length &&
          e.charAt(i + 1) == '|') {
          ops += TopOp(i, "||", 2, 3); i += 2; prev = '|'
        } else if (d == 0 && (c == '<' || c == '>' || c == '=' ||
          c == '!')) {
          val two = if (i + 1 < e.length) e.substring(i, i + 2) else ""
          val (render, len) = two match {
            case "<>" => ("!=", 2) // DuckDB's canonical spelling
            case "<=" | ">=" | "!=" => (two, 2)
            case _ if c == '!' => ("", 0) // lone '!': not an operator
            case _ => (c.toString, 1)
          }
          if (len == 0) { prev = c; i += 1 }
          else { ops += TopOp(i, render, len, 2); i += len; prev = '=' }
        } else if (d == 0 && (c == '+' || c == '-') &&
          prev != ' ' && unaryAfter.indexOf(prev.toInt) < 0) {
          ops += TopOp(i, c.toString, 1, 4); i += 1; prev = c
        } else if (d == 0 && (c == '*' || c == '/' || c == '%')) {
          ops += TopOp(i, c.toString, 1, 5); i += 1; prev = c
        } else {
          if (!Character.isWhitespace(c)) prev = c
          i += 1
        }
      }
      if (ops.isEmpty) None
      else {
        val minPrec = ops.map(_.prec).min
        // chained comparisons (`a < b < 2`) are a DuckDB parser error —
        // but ONLY when the comparison is the TOP split; comparisons
        // separated by AND/OR recurse into distinct operands
        if (minPrec == 2 && ops.count(_.prec == 2) > 1) None
        else {
          val top = ops.filter(_.prec == minPrec).last
          for {
            l <- renderDuckExpr(e.substring(0, top.at))
            r <- renderDuckExpr(e.substring(top.at + top.len))
          } yield s"($l ${top.op} $r)"
        }
      }
    }
  }

  /** The output name DuckDB derives for a REPLACEd column inside a
    * single-function wrap (verified): a bare ident-chain expression
    * names by its LEAF spelling (no wrapper text); anything else names
    * `fn(target := <rendered expr>)`. */
  private def duckDerivedName(fnLower: String, expr: String,
      target: String): Option[String] = {
    val t = expr.trim
    if (BareIdentChainRe.matches(t)) Some(t.substring(t.lastIndexOf('.') + 1))
    else renderDuckExpr(t).map(r => s"$fnLower($target := $r)")
  }

  def bridgeColumns(spark: SparkSession, text: String): Option[String] = {
    val sel = topKeyword(text, "select")
    if (sel < 0) return None
    val f = topKeyword(text, "from")
    if (f < sel) return None
    var k = f + 4
    while (k < text.length && Character.isWhitespace(text.charAt(k))) k += 1
    val tbl = parseIdentChain(text, k) match {
      case Some((ident, _)) => ident
      case None => return None
    }
    // single plain relation only: no top-level JOIN, no ',' inside the
    // FROM clause (up to the next clause keyword)
    val afterFrom = text.substring(f)
    if (topKeyword(afterFrom, "join") >= 0) return None
    val fCut = Seq("where", "group", "order", "having", "limit",
      "offset", "qualify", "window").map(topKeyword(afterFrom, _))
      .filter(_ >= 0).reduceOption(_ min _).getOrElse(afterFrom.length)
    if (splitTop(afterFrom.substring(0, fCut)).exists(_.length > 1))
      return None
    var header = text.substring(sel + 6, f)
    var prefix = ""
    val hTrim = header.trim
    val w0 = if (hTrim.nonEmpty) readWord(hTrim, 0) else ""
    if (w0.equalsIgnoreCase("distinct") || w0.equalsIgnoreCase("all")) {
      prefix = w0 + " "
      header = hTrim.substring(w0.length)
    }
    val cols =
      try spark.table(tbl).columns.toSeq
      catch { case scala.util.control.NonFatal(_) => return None }
    var any = false
    val items = splitTop(header).getOrElse(return None)
    // Output-name dedup is GLOBAL across the statement in positional
    // order: duckdb's .df() (the harness canonicalization the bridge
    // mirrors) renames every repeated output name with ONE
    // statement-wide _N counter — verified: `SELECT COLUMNS('^a') AS z,
    // COLUMNS('b') AS z` → z,z_1,z_2,z_3,z_4; a plain `ba AS z`
    // participates identically (ADVICE r12). So one map spans all
    // select items; plain items with derivable names (trailing alias,
    // bare column ref, `*`) register and re-alias on collision; a
    // computed item without an alias stays verbatim and unregistered
    // (its engine-derived name is not knowable here — pre-r13 class).
    val used = scala.collection.mutable.Map.empty[String, Int]
    def dedup(base: String): String = {
      val nUsed = used.getOrElse(base, 0)
      used(base) = nUsed + 1
      if (nUsed == 0) base else s"${base}_$nUsed"
    }
    val BareIdentChain =
      """^[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*$""".r
    val out = items.map { raw =>
      val it = raw.trim
      // locate the word `columns` followed by '(' — quote-aware scan
      var at = -1
      var ci = 0
      while (at < 0 && ci < it.length) {
        val c = it.charAt(ci)
        if (c == '\'') { ci += 1
          while (ci < it.length && it.charAt(ci) != '\'') ci += 1
          ci += 1
        } else if (Character.isLetter(c) || c == '_') {
          val w = readWord(it, ci)
          val boundary = ci == 0 || {
            val p = it.charAt(ci - 1)
            !(Character.isLetterOrDigit(p) || p == '_' || p == '.')
          }
          if (boundary && w.equalsIgnoreCase("columns")) {
            var j2 = ci + w.length
            while (j2 < it.length &&
              Character.isWhitespace(it.charAt(j2))) j2 += 1
            if (j2 < it.length && it.charAt(j2) == '(') at = ci
          }
          ci += w.length
        } else ci += 1
      }
      if (at < 0) {
        // plain select item: feed its output name into the global dedup
        if (it == "*") { cols.foreach(dedup); Seq(it) }
        else ColumnsAliasRe.findFirstMatchIn(it) match {
          case Some(m) =>
            val rawA = m.group(1)
            val nm =
              if (rawA.startsWith("'")) null // string-literal alias: skip
              else if (rawA.startsWith("\""))
                rawA.substring(1, rawA.length - 1).replace("\"\"", "\"")
              else rawA
            if (nm == null) Seq(it)
            else {
              val nm2 = dedup(nm)
              if (nm2 == nm) Seq(it)
              else Seq(it.substring(0, m.start) +
                " AS `" + nm2.replace("`", "``") + "`")
            }
          case None if BareIdentChain.matches(it) =>
            val leaf = it.substring(it.lastIndexOf('.') + 1)
            val nm2 = dedup(leaf)
            if (nm2 == leaf) Seq(it)
            else Seq(it + " AS `" + nm2.replace("`", "``") + "`")
          case None => Seq(it)
        }
      }
      else {
        var open = at + 7
        while (open < it.length &&
          Character.isWhitespace(it.charAt(open))) open += 1
        val close = scanMatch(it, open).getOrElse(return None)
        var tail = it.substring(close)
        // a second COLUMNS → refuse (no nested stars)
        if (tail.toLowerCase(java.util.Locale.ROOT).contains("columns"))
          return None
        // trailing alias (r12, second session): `AS z` (bare or
        // "quoted") names the expansion z, z_1, z_2 … (DuckDB's _N
        // dedup, verified — the recursive-unnest rule); a
        // single-quoted alias is a REGEX TEMPLATE where \N substitutes
        // match group N of the find (verified: COLUMNS('^a(.)') AS
        // 'x_\1' → x_a, x_b). The alias is stripped off the tail so
        // wrapped forms replicate the wrapper only.
        var aliasBase: Option[String] = None
        var aliasTemplate: Option[String] = None
        ColumnsAliasRe.findFirstMatchIn(tail).foreach { m =>
          val raw = m.group(1)
          if (raw.startsWith("'"))
            aliasTemplate =
              Some(raw.substring(1, raw.length - 1).replace("''", "'"))
          else if (raw.startsWith("\""))
            aliasBase =
              Some(raw.substring(1, raw.length - 1).replace("\"\"", "\""))
          else aliasBase = Some(raw)
          tail = tail.substring(0, m.start)
        }
        val arg = it.substring(open + 1, close - 1).trim
        // `* EXCLUDE (a, b)` (r12): all schema columns minus the listed
        // ones, case-insensitively (DuckDB's binding, verified:
        // EXCLUDE ("AA") removes aa); an EXCLUDE column absent from the
        // schema raises DuckDB's binder error rather than silently
        // keeping everything
        val ExcludeRe = """(?is)^\*\s+EXCLUDE\s*\((.*)\)\s*$""".r
        // `* [EXCLUDE (…)] REPLACE (expr AS col, …)` (r13): replaced
        // columns keep their POSITION, take the expression's value, and
        // are NAMED by the alias's spelling (verified: `AS AA` over
        // column aa outputs AA); binding is case-insensitive; a target
        // absent from the schema raises DuckDB's binder error, and a
        // column in both EXCLUDE and REPLACE raises its parser error.
        // BARE form only — a wrapped `max(COLUMNS(* REPLACE …))` names
        // the replaced column `max(aa := (aa + 10))` in DuckDB, a
        // derived spelling this bridge does not reproduce → guidance.
        val ReplaceRe =
          """(?is)^\*(?:\s+EXCLUDE\s*\((.*?)\))?\s+REPLACE\s*\((.*)\)\s*$""".r
        var replacements = Map.empty[String, (String, String)] // lc -> (expr, alias)
        var repWrapFn = "" // r14: lowercase fn of a single-function wrap
        var repDerived = Map.empty[String, String] // lc target -> derived name
        val matched: Seq[String] =
          if (arg == "*") cols
          else arg match {
            case ReplaceRe(exBody, repBody) =>
              val RepItemRe =
                ("""(?is)^(.*\S)\s+AS\s+("(?:[^"]|"")+"|""" +
                  """[A-Za-z_][A-Za-z0-9_]*)\s*$""").r
              val reps = splitTop(repBody).getOrElse(return None)
                .map(_.trim).map {
                  case RepItemRe(e, a) =>
                    val alias =
                      if (a.startsWith("\""))
                        a.substring(1, a.length - 1).replace("\"\"", "\"")
                      else a
                    (e, alias)
                  case _ => return None
                }
              if (reps.isEmpty) return None
              val ex = Option(exBody).map { b =>
                splitTop(b).getOrElse(return None).map(_.trim).map { e =>
                  if (e.length >= 2 && e.startsWith("\"") &&
                    e.endsWith("\"")) e.substring(1, e.length - 1)
                  else if (e.nonEmpty && readWord(e, 0) == e) e
                  else return None
                }
              }.getOrElse(Nil)
              (reps.map(_._2) ++ ex)
                .filterNot(t => cols.exists(_.equalsIgnoreCase(t)))
                .headOption.foreach(t => throw new IllegalArgumentException(
                  s"""COLUMNS(* … REPLACE …): column "$t" in the """ +
                    "EXCLUDE/REPLACE list not found in FROM clause"))
              reps.map(_._2).find(t => ex.exists(_.equalsIgnoreCase(t)))
                .foreach(t => throw new IllegalArgumentException(
                  s"""COLUMNS(*): column "$t" cannot occur in both """ +
                    "EXCLUDE and REPLACE lists"))
              replacements = reps.map { case (e, a) =>
                a.toLowerCase(java.util.Locale.ROOT) -> (e, a)
              }.toMap
              // r14 (VERDICT r13 item 6): a SINGLE-FUNCTION wrap bridges
              // when every derived output name is mechanically
              // reproducible ([[duckDerivedName]], DuckDB-pinned) or a
              // trailing alias names the expansion anyway; any other
              // wrapper (operators around the call, multi-arg calls,
              // unrenderable expressions) still refuses to guidance.
              val prefixT = it.substring(0, at)
              val FnWrapRe = """(?s)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(\s*$""".r
              if (!(prefixT.trim.isEmpty && tail.trim.isEmpty)) {
                prefixT match {
                  case FnWrapRe(fn) if tail.trim == ")" =>
                    repWrapFn = fn.toLowerCase(java.util.Locale.ROOT)
                    if (aliasBase.isEmpty) {
                      if (aliasTemplate.nonEmpty) return None
                      repDerived = reps.map { case (e, a) =>
                        a.toLowerCase(java.util.Locale.ROOT) ->
                          duckDerivedName(repWrapFn, e, a)
                            .getOrElse(return None)
                      }.toMap
                    }
                  case _ => return None
                }
              }
              cols.filterNot(c => ex.exists(_.equalsIgnoreCase(c)))
            case ExcludeRe(body) =>
              val ex = splitTop(body).getOrElse(return None)
                .map(_.trim).map { e =>
                  if (e.length >= 2 && e.startsWith("\"") &&
                    e.endsWith("\"")) e.substring(1, e.length - 1)
                  else if (e.nonEmpty && readWord(e, 0) == e) e
                  else return None
                }
              if (ex.isEmpty) return None
              val missing = ex.filterNot(e =>
                cols.exists(_.equalsIgnoreCase(e)))
              if (missing.nonEmpty) throw new IllegalArgumentException(
                s"""COLUMNS(* EXCLUDE …): column "${missing.head}" in """ +
                  "EXCLUDE list not found in FROM clause")
              cols.filterNot(c => ex.exists(_.equalsIgnoreCase(c)))
            // `COLUMNS(c -> predicate)` (r12): the lambda binds each
            // column NAME as VARCHAR (verified); evaluate the predicate
            // per name in ONE schema-sized probe SELECT — through the
            // dialect entry, so DuckDB-isms in the body (SIMILAR TO,
            // len, …) resolve — with DuckDB's truthiness mirrored via
            // CAST(… AS BOOLEAN) (verified: a nonzero-int lambda keeps
            // the column). NULL reads as no-match. A body naming
            // `columns` refuses (no nested stars, and it would recurse).
            case ColumnsLambdaRe(param, body)
                if !body.toLowerCase(java.util.Locale.ROOT)
                  .contains("columns") =>
              val probes = cols.zipWithIndex.map { case (c, pi) =>
                s"CAST((${substIdent(body, param, c)}) AS BOOLEAN) AS m$pi"
              }
              val row =
                try sql(spark, "SELECT " + probes.mkString(", ")).head()
                catch { case scala.util.control.NonFatal(_) => return None }
              cols.zipWithIndex.collect {
                case (c, pi) if !row.isNullAt(pi) && row.getBoolean(pi) => c
              }
            case _ => bareLiteral(arg) match {
              case Some(re) =>
                val p =
                  try java.util.regex.Pattern.compile(re)
                  catch {
                    case scala.util.control.NonFatal(_) => return None
                  }
                cols.filter(c => p.matcher(c).find())
              case None => return None
            }
          }
        if (matched.isEmpty) return None
        // the \N template binds regex groups — only the regex arg form
        // has a match to template from
        val templPattern: Option[java.util.regex.Pattern] =
          if (aliasTemplate.isEmpty) None
          else bareLiteral(arg) match {
            case Some(re) =>
              try Some(java.util.regex.Pattern.compile(re))
              catch { case scala.util.control.NonFatal(_) => return None }
            case None => return None // template on * / EXCLUDE / lambda
          }
        any = true
        val bare = it.substring(0, at).trim.isEmpty && tail.trim.isEmpty
        matched.map { c =>
          val b = "`" + c.replace("`", "``") + "`"
          val rep = replacements.get(c.toLowerCase(java.util.Locale.ROOT))
          // a REPLACEd column keeps its position but emits the rewritten
          // expression, named by the alias's spelling (always explicit —
          // an expression has no derivable name)
          val repl = rep match {
            case Some((e, _)) if repWrapFn.nonEmpty =>
              // wrapped REPLACE: the wrapper applies to the expression
              it.substring(0, at) + "(" + rewrite(e).trim + ")" + tail
            case Some((e, _)) => "(" + rewrite(e).trim + ")"
            case None => it.substring(0, at) + b + tail
          }
          val srcName = rep.map { case (_, a) =>
            if (repWrapFn.nonEmpty)
              repDerived.getOrElse(a.toLowerCase(java.util.Locale.ROOT), a)
            else a
          }.getOrElse(c)
          val outName: Option[String] =
            (aliasBase, templPattern) match {
              case (Some(base), _) => Some(dedup(base))
              case (None, Some(p)) =>
                val m = p.matcher(c)
                if (!m.find()) return None // unreachable: c matched
                val t = aliasTemplate.get
                val sb2 = new StringBuilder
                var ti = 0
                while (ti < t.length) {
                  val tc = t.charAt(ti)
                  if (tc == '\\' && ti + 1 < t.length &&
                    Character.isDigit(t.charAt(ti + 1))) {
                    val g = t.charAt(ti + 1) - '0'
                    if (g > m.groupCount()) return None
                    val gv = m.group(g)
                    if (gv == null) return None // non-participating group
                    sb2.append(gv); ti += 2
                  } else { sb2.append(tc); ti += 1 }
                }
                Some(dedup(sb2.toString)) // templates collide globally too
              case (None, None) => None
            }
          outName match {
            case Some(nm) =>
              repl + " AS `" + nm.replace("`", "``") + "`"
            case None =>
              // unaliased expansion keeps source names (REPLACEd
              // columns: the alias's spelling) — which still
              // participate in the global dedup (`SELECT aa,
              // COLUMNS('^a')` → aa, aa_1, ab via duckdb .df())
              val nm2 = dedup(srcName)
              if (nm2 != srcName || rep.isDefined)
                repl + " AS `" + nm2.replace("`", "``") + "`"
              else if (bare) repl else repl + " AS " + b
          }
        }
      }
    }
    if (!any) return None
    Some(text.substring(0, sel + 6) + " " + prefix +
      out.flatten.mkString(", ") + " " + text.substring(f))
  }

  /** DuckDB's STRUCT-expanding `unnest(struct_col)` select item →
    * Spark's `struct_col.*` (r12; verified identical on both engines:
    * the fields expand IN PLACE — `SELECT k, unnest(s)` → k, a, b —
    * and other items keep their positions). Session-aware, like
    * [[bridgeColumns]]: the LIST form of unnest must keep rewriting to
    * explode, and telling a struct arg from a list arg needs the live
    * schema. Supported subset: single plain-relation FROM, select
    * items that are EXACTLY `unnest(<colref>[, recursive := bool])`
    * where the colref's leaf resolves to a StructType column (the
    * recursive form expands nested structs depth-first by leaf name
    * with `_N` collision suffixes — DuckDB-verified); non-struct args
    * leave their item untouched for the explode rename, and aliased /
    * nested-expression / LIST-recursive forms fall through to
    * guidance. */
  private def bridgeStructUnnest(
      spark: SparkSession, text: String): Option[String] = {
    val sel = topKeyword(text, "select")
    if (sel < 0) return None
    val f = topKeyword(text, "from")
    if (f < sel) return None
    var k = f + 4
    while (k < text.length && Character.isWhitespace(text.charAt(k))) k += 1
    val tbl = parseIdentChain(text, k) match {
      case Some((ident, _)) => ident
      case None => return None
    }
    val afterFrom = text.substring(f)
    if (topKeyword(afterFrom, "join") >= 0) return None
    val fCut = Seq("where", "group", "order", "having", "limit",
      "offset", "qualify", "window").map(topKeyword(afterFrom, _))
      .filter(_ >= 0).reduceOption(_ min _).getOrElse(afterFrom.length)
    if (splitTop(afterFrom.substring(0, fCut)).exists(_.length > 1))
      return None
    val schema =
      try spark.table(tbl).schema
      catch { case scala.util.control.NonFatal(_) => return None }
    val structFields
        : Map[String, org.apache.spark.sql.types.StructType] =
      schema.fields.collect {
        case fd if fd.dataType
          .isInstanceOf[org.apache.spark.sql.types.StructType] =>
          fd.name.toLowerCase(java.util.Locale.ROOT) ->
            fd.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      }.toMap
    // ARRAY columns for the aliased list-recursive form: name →
    // nesting depth, refused when any level's element is a struct
    // (DuckDB expands those by FIELD name, ignoring the alias —
    // verified — so an aliased bridge would mis-name them)
    val arrayDepth: Map[String, Int] = schema.fields.flatMap { fd =>
      def depth(t: org.apache.spark.sql.types.DataType, d: Int)
          : Option[Int] = t match {
        case a: org.apache.spark.sql.types.ArrayType =>
          depth(a.elementType, d + 1)
        case _: org.apache.spark.sql.types.StructType => None
        case _ => Some(d)
      }
      fd.dataType match {
        case a: org.apache.spark.sql.types.ArrayType =>
          depth(a, 0).map(dep =>
            fd.name.toLowerCase(java.util.Locale.ROOT) -> dep)
        case _ => None
      }
    }.toMap
    if (structFields.isEmpty && arrayDepth.isEmpty) return None
    var header = text.substring(sel + 6, f)
    var prefix = ""
    val hTrim = header.trim
    val w0 = if (hTrim.nonEmpty) readWord(hTrim, 0) else ""
    if (w0.equalsIgnoreCase("distinct") || w0.equalsIgnoreCase("all")) {
      prefix = w0 + " "
      header = hTrim.substring(w0.length)
    }
    // a trailing alias on the STRUCT forms is accepted and DISCARDED —
    // DuckDB ignores it and names by field (verified: unnest(s) AS v →
    // a, b), so matching without it would refuse a legal statement
    val UnnestItem =
      ("""(?is)^unnest\s*\(\s*([A-Za-z_][A-Za-z0-9_.]*)\s*\)""" +
        """(?:\s+(?:AS\s+)?[A-Za-z_][A-Za-z0-9_]*)?$""").r
    // `recursive := true|false` (r12): the struct form expands NESTED
    // structs depth-first in declaration order, naming by LEAF field
    // with `_N` suffixes on collisions (DuckDB-verified: {'a',{'a'}} →
    // a, a_1). recursive := false is the one-level form. LIST recursive
    // flattening stays guidance (Spark: explode(flatten(l))).
    val UnnestRecItem =
      ("""(?is)^unnest\s*\(\s*([A-Za-z_][A-Za-z0-9_.]*)\s*,\s*""" +
        """recursive\s*:=\s*(true|false)\s*\)""" +
        """(?:\s+(?:AS\s+)?[A-Za-z_][A-Za-z0-9_]*)?$""").r
    def leafName(used: scala.collection.mutable.Map[String, Int],
        name: String): String = {
      val n = used.getOrElse(name.toLowerCase(java.util.Locale.ROOT), 0)
      used(name.toLowerCase(java.util.Locale.ROOT)) = n + 1
      if (n == 0) name else s"${name}_$n"
    }
    def bq(s: String) = "`" + s.replace("`", "``") + "`"
    def expandRec(ref: String,
        st: org.apache.spark.sql.types.StructType): Seq[String] = {
      val used = scala.collection.mutable.Map.empty[String, Int]
      def walk(path: String,
          t: org.apache.spark.sql.types.StructType): Seq[String] =
        t.fields.toSeq.flatMap { fd =>
          fd.dataType match {
            case nested: org.apache.spark.sql.types.StructType =>
              walk(path + "." + bq(fd.name), nested)
            case _ =>
              Seq(s"$path.${bq(fd.name)} AS ${bq(leafName(used, fd.name))}")
          }
        }
      walk(ref, st)
    }
    // aliased LIST-recursive form (second session): DuckDB fully
    // flattens nested lists then unnests, and an `AS v` names the one
    // output column v (verified incl. triple nesting) — Spark's twin
    // is explode(flatten^(depth-1)(col)) AS v
    val UnnestRecAliasItem =
      ("""(?is)^unnest\s*\(\s*([A-Za-z_][A-Za-z0-9_.]*)\s*,\s*""" +
        """recursive\s*:=\s*true\s*\)\s+(?:AS\s+)?""" +
        """([A-Za-z_][A-Za-z0-9_]*)$""").r
    def leafOf(ref: String): String =
      ref.split('.').last.toLowerCase(java.util.Locale.ROOT)
    var any = false
    val out = splitTop(header).getOrElse(return None).flatMap { raw =>
      raw.trim match {
        case UnnestItem(ref) if structFields.contains(leafOf(ref)) =>
          any = true
          Seq(s"$ref.*")
        case UnnestRecItem(ref, rec)
            if structFields.contains(leafOf(ref)) =>
          any = true
          if (rec.equalsIgnoreCase("false")) Seq(s"$ref.*")
          else expandRec(ref, structFields(leafOf(ref)))
        case UnnestRecAliasItem(ref, alias)
            if arrayDepth.contains(leafOf(ref)) =>
          any = true
          val flat = (1 until arrayDepth(leafOf(ref)))
            .foldLeft(ref)((e, _) => s"flatten($e)")
          Seq(s"explode($flat) AS ${bq(alias)}")
        case other => Seq(other)
      }
    }
    if (!any) return None
    Some(text.substring(0, sel + 6) + " " + prefix +
      out.mkString(", ") + " " + text.substring(f))
  }

  /** Some(target) when `sql` is DuckDB's `SUMMARIZE [target]` statement
    * (Locale.ROOT casing, any whitespace) — the one dialect STATEMENT,
    * shared by DeltaScanner.query and the REPL so both surfaces parse it
    * identically; each resolves the target on its own terms. */
  def summarizeTarget(sql: String): Option[String] = {
    val t = sql.trim
    val up = t.toUpperCase(java.util.Locale.ROOT)
    if (up == "SUMMARIZE") Some("")
    else if (up.startsWith("SUMMARIZE") && t.length > 9 &&
      Character.isWhitespace(t.charAt(9))) Some(t.drop(9).trim)
    else None
  }

  /** `(path, indexAfterCloseParen)` when sql at `open` is exactly
    * `('literal')` with no commas/options — the only read_parquet shape
    * that maps 1:1 onto Spark's `parquet.` identifier. */
  private def parseSingleLiteralCall(sql: String, open: Int)
      : Option[(String, Int)] = {
    val n = sql.length
    var i = open + 1 // past '('
    while (i < n && Character.isWhitespace(sql.charAt(i))) i += 1
    if (i >= n || sql.charAt(i) != '\'') return None
    i += 1
    val p = new StringBuilder
    var closed = false
    while (i < n && !closed) {
      sql.charAt(i) match {
        case '\'' if i + 1 < n && sql.charAt(i + 1) == '\'' =>
          p.append('\''); i += 2
        case '\'' => closed = true; i += 1
        case ch => p.append(ch); i += 1
      }
    }
    if (!closed) return None
    while (i < n && Character.isWhitespace(sql.charAt(i))) i += 1
    if (i < n && sql.charAt(i) == ')' && !p.toString.contains('`'))
      Some((p.toString, i + 1))
    else None
  }

  /** DuckDB `COPY (query) TO 'path' [(options)]` / `COPY table TO …`
    * (reference surface: arbitrary DuckDB SQL through `query()`), the
    * r10 statement bridge — previously guidance-only. Executes the
    * source (the inner query runs through [[sqlNoCompat]], so it may
    * itself carry duckisms), writes it, and returns DuckDB's result
    * shape: one row, one BIGINT column named `Count` (verified).
    *
    * Options bridged: FORMAT PARQUET|CSV|JSON (default: by path
    * extension, else CSV), HEADER [true|false] (CSV; DuckDB default
    * true — verified), DELIMITER/DELIM/SEP 'c'. Other options raise
    * with the supported list.
    *
    * DOCUMENTED DIVERGENCE: Spark writes a DIRECTORY of part files
    * where DuckDB writes one file — the scale-correct choice (a single
    * 100 TB output file serializes the whole job through one writer);
    * readers glob the directory exactly like every other Spark output.
    * Existing output is overwritten (DuckDB overwrites too — verified).
    * The returned Count is taken from the WRITTEN data (parquet: a
    * metadata-only read; csv/json: one linear scan of what was just
    * written) so the source query executes exactly once. */
  private def bridgeCopyTo(
      spark: SparkSession, text: String): Option[DataFrame] = {
    val t = text.trim.stripSuffix(";").trim
    if (!readWord(t, 0).equalsIgnoreCase("copy")) return None
    var i = 4
    def ws(): Unit =
      while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    ws()
    if (i >= t.length) return None
    val source: org.apache.spark.sql.DataFrame =
      if (t.charAt(i) == '(') scanCall(t, i) match {
        case Some((after, _)) =>
          val inner = t.substring(i + 1, after - 1)
          i = after
          sqlNoCompat(spark, inner)
        case None => return None
      } else parseIdentChain(t, i) match {
        case Some((ident, after)) =>
          i = after
          if (i < t.length && t.charAt(i) == '(') return None // col list
          spark.table(ident)
        case None => return None
      }
    ws()
    if (!readWord(t, i).equalsIgnoreCase("to")) return None
    i += 2; ws()
    if (i >= t.length || t.charAt(i) != '\'') return None
    i += 1
    val pathSb = new StringBuilder
    var closed = false
    while (i < t.length && !closed) t.charAt(i) match {
      case '\'' if i + 1 < t.length && t.charAt(i + 1) == '\'' =>
        pathSb.append('\''); i += 2
      case '\'' => closed = true; i += 1
      case ch => pathSb.append(ch); i += 1
    }
    if (!closed) return None
    val path = pathSb.toString
    ws()
    var fmt = ""
    var header = true
    var delim = ","
    if (i < t.length && t.charAt(i) == '(') scanCall(t, i) match {
      case Some((after, _)) =>
        val opts = t.substring(i + 1, after - 1)
        i = after
        // QUOTE-AWARE option split: DELIMITER ',' is valid DuckDB and a
        // raw split(',') would shear it apart (ADVICE follow-up)
        val items = splitTop(opts).getOrElse(return None)
        for (o <- items.map(_.trim).filter(_.nonEmpty)) {
          val k = readWord(o, 0).toLowerCase(java.util.Locale.ROOT)
          val v = o.drop(k.length).trim
            .stripPrefix("'").stripSuffix("'")
            .toLowerCase(java.util.Locale.ROOT)
          k match {
            case "format" => fmt = v
            case "header" => header = v.isEmpty || v == "true" || v == "1"
            case "delimiter" | "delim" | "sep" =>
              delim = o.drop(k.length).trim.stripPrefix("'").stripSuffix("'")
            case other => throw new IllegalArgumentException(
              s"COPY option '$other' is not bridged (supported: FORMAT " +
                "PARQUET|CSV|JSON, HEADER, DELIMITER) — use " +
                "df.write options for the rest")
          }
        }
      case None => return None
    }
    ws()
    if (i < t.length) return None // trailing junk -> guidance
    if (fmt.isEmpty) {
      val lower = path.toLowerCase(java.util.Locale.ROOT)
      fmt = if (lower.endsWith(".parquet")) "parquet"
      else if (lower.endsWith(".json") || lower.endsWith(".ndjson")) "json"
      else "csv"
    }
    // DuckDB compresses COPY TO output by EXTENSION (pinned: .gz →
    // gzip bytes, .zst → zstd bytes; .gzip/.zstd write PLAIN bytes).
    // Spark's text writers take a compression OPTION and never look at
    // the path: map .gz → gzip-compressed parts (both engines then emit
    // gzip bytes; the directory-of-parts shape stays the documented
    // divergence) and REFUSE .zst for text formats (Spark's text
    // writers have no zstd codec — CODEC_NOT_AVAILABLE) rather than
    // write plain bytes under a compressed name. .gzip/.zstd need no
    // mapping: both engines write plain there.
    val lowerPath = path.toLowerCase(java.util.Locale.ROOT)
    val gzOut = (fmt == "csv" || fmt == "json") && lowerPath.endsWith(".gz")
    if ((fmt == "csv" || fmt == "json") && lowerPath.endsWith(".zst"))
      throw new IllegalArgumentException(
        s"COPY TO '$path': DuckDB writes zstd-compressed text for the " +
          ".zst extension but Spark's text writers have no zstd codec " +
          "here — write .gz (bridged to gzip-compressed parts) or drop " +
          "the extension")
    val w0 = source.write.mode("overwrite")
    val w = if (gzOut) w0.option("compression", "gzip") else w0
    fmt match {
      case "parquet" => w.parquet(path)
      case "json" => w.json(path)
      case "csv" => w.option("header", header).option("sep", delim).csv(path)
      case other => throw new IllegalArgumentException(
        s"COPY FORMAT '$other' is not bridged (parquet, csv, json)")
    }
    val n = fmt match {
      case "parquet" => spark.read.parquet(path).count()
      case "json" => spark.read.json(path).count()
      // multiLine: a source cell with an embedded newline is written
      // QUOTED by Spark CSV; the default line-split read-back would
      // count it twice and the returned Count would diverge from the
      // rows actually written (ADVICE r10)
      case _ => spark.read.option("header", header).option("sep", delim)
        .option("multiLine", true).csv(path).count()
    }
    import spark.implicits._
    Some(Seq(n).toDF("Count"))
  }

  /** `COPY <table> FROM 'path' [(FORMAT …, HEADER …, DELIMITER …)]` —
    * the LOAD half of the COPY bridge (r11; the reference surface
    * accepts it as arbitrary DuckDB SQL). The file is read WITH THE
    * TARGET TABLE'S SCHEMA (positional load, exactly DuckDB's mapping)
    * and appended via insertInto in ONE pass — the row count rides the
    * write as an [[org.apache.spark.sql.Observation]], no re-read —
    * returning DuckDB's one-row Count.
    *
    * Loud edges, never silent: the target must be a WRITABLE catalog
    * table (a temp VIEW refuses with guidance — views are read-only
    * here where DuckDB tables are not); CSV requires explicit HEADER
    * and DELIMITER (DuckDB sniffs both — a wrong guessed delimiter
    * under a forced schema would load whole lines into column 1 with
    * NULL tails, the exact silent-corruption class the read_csv bridge
    * refuses); reads run FAILFAST so an arity/type mismatch raises as
    * DuckDB's sniffer does. Column lists (r12) bridge for CSV —
    * positional file→list mapping, NULL-filled unlisted columns
    * (default-carrying / non-nullable unlisted columns refuse: DuckDB
    * applies the default there). */
  private def bridgeCopyFrom(
      spark: SparkSession, text: String): Option[DataFrame] = {
    val t = text.trim.stripSuffix(";").trim
    if (!readWord(t, 0).equalsIgnoreCase("copy")) return None
    var i = 4
    def ws(): Unit =
      while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    ws()
    if (i >= t.length || t.charAt(i) == '(') return None
    val ident = parseIdentChain(t, i) match {
      case Some((id, after)) => i = after; id
      case None => return None
    }
    ws()
    // optional column list (r12): `COPY t (b, a) FROM …` — DuckDB maps
    // FILE columns to the LISTED columns POSITIONALLY (header names are
    // ignored — verified with a mismatching header) and fills unlisted
    // columns with their DEFAULT (NULL when none)
    var colList: Seq[String] = Seq.empty
    if (i < t.length && t.charAt(i) == '(') {
      val close = scanCall(t, i).getOrElse(return None)._1
      colList = splitTop(t.substring(i + 1, close - 1))
        .getOrElse(return None).map(_.trim)
        .map { c =>
          val p = parseIdentChain(c, 0)
          p match {
            case Some((ident, after)) if after == c.length &&
              !ident.contains('.') => ident.stripPrefix("`").stripSuffix("`")
            case _ => return None
          }
        }
      if (colList.isEmpty) return None
      i = close; ws()
    }
    if (!readWord(t, i).equalsIgnoreCase("from")) return None
    i += 4; ws()
    if (i >= t.length || t.charAt(i) != '\'') return None
    i += 1
    val pathSb = new StringBuilder
    var closed = false
    while (i < t.length && !closed) t.charAt(i) match {
      case '\'' if i + 1 < t.length && t.charAt(i + 1) == '\'' =>
        pathSb.append('\''); i += 2
      case '\'' => closed = true; i += 1
      case ch => pathSb.append(ch); i += 1
    }
    if (!closed) return None
    val path = pathSb.toString
    ws()
    var fmt = ""
    var header: Option[Boolean] = None
    var delim: Option[String] = None
    if (i < t.length && t.charAt(i) == '(') scanCall(t, i) match {
      case Some((after, _)) =>
        val items = splitTop(t.substring(i + 1, after - 1))
          .getOrElse(return None)
        i = after
        for (o <- items.map(_.trim).filter(_.nonEmpty)) {
          val k = readWord(o, 0).toLowerCase(java.util.Locale.ROOT)
          val v = o.drop(k.length).trim
            .stripPrefix("'").stripSuffix("'")
            .toLowerCase(java.util.Locale.ROOT)
          k match {
            case "format" => fmt = v
            case "header" => header = Some(v.isEmpty || v == "true" || v == "1")
            case "delimiter" | "delim" | "sep" =>
              delim = Some(o.drop(k.length).trim
                .stripPrefix("'").stripSuffix("'"))
            case other => throw new IllegalArgumentException(
              s"COPY FROM option '$other' is not bridged (supported: " +
                "FORMAT PARQUET|CSV|JSON, HEADER, DELIMITER) — use " +
                "spark.read + INSERT for the rest")
          }
        }
      case None => return None
    }
    ws()
    if (i < t.length) return None // trailing junk -> guidance
    // same divergence guard as the read_csv/read_json bridges (r15):
    // Spark decompresses .gzip/.zstd by extension, DuckDB reads those
    // extensions as raw bytes (it auto-detects only .gz/.zst) — a
    // bridged load would parse different bytes, silently
    if (path.matches("(?i).*\\.(gzip|zstd)$"))
      throw new IllegalArgumentException(
        s"COPY FROM '$path': Spark decompresses the .gzip/.zstd " +
          "extensions but DuckDB reads them as plain bytes (it " +
          "auto-detects only .gz/.zst) — rename the file to the " +
          "matching extension")
    if (fmt.isEmpty) {
      val lower = path.toLowerCase(java.util.Locale.ROOT)
      fmt = if (lower.endsWith(".parquet")) "parquet"
      else if (lower.endsWith(".json") || lower.endsWith(".ndjson")) "json"
      else "csv"
    }
    // Loud-edges doctrine (ADVICE r11): HEADER/DELIMITER are csv-only —
    // silently ignoring them on a parquet/json load would accept an
    // option the load does not honor.
    if (fmt != "csv" && (header.nonEmpty || delim.nonEmpty))
      throw new IllegalArgumentException(
        s"COPY FROM option ${if (header.nonEmpty) "HEADER" else "DELIMITER"}" +
          s" applies only to FORMAT CSV (resolved format here: '$fmt') — " +
          "remove it or set FORMAT CSV")
    val target = try spark.catalog.getTable(ident) catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"COPY FROM target '$ident' does not exist: ${e.getMessage}", e)
    }
    if (target.tableType == "TEMPORARY" || target.isTemporary)
      throw new IllegalArgumentException(
        s"COPY FROM target '$ident' is a temporary VIEW — views are " +
          "read-only; load into a real table (CREATE TABLE … USING " +
          "parquet/delta), or read the file directly with " +
          "read_csv/read_parquet and INSERT")
    val schema = spark.table(ident).schema
    // column-list resolution (r12): listed names must be table columns
    // (case-insensitive, DuckDB's binding); unlisted columns fill NULL —
    // DuckDB fills their DEFAULT, so a default-carrying or non-nullable
    // unlisted column refuses rather than silently diverging. CSV only:
    // the positional file→list mapping is what spark.read's
    // enforced-schema CSV does; parquet/json column subsets have
    // by-name/positional ambiguity this bridge does not guess at.
    val listed: Seq[org.apache.spark.sql.types.StructField] =
      colList.map { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"COPY FROM column list: '$c' is not a column of $ident"))
      }
    if (colList.nonEmpty) {
      if (fmt != "csv")
        throw new IllegalArgumentException(
          "COPY FROM with a column list is bridged for FORMAT CSV only " +
            "— load the file with spark.read + INSERT for " +
            s"FORMAT ${fmt.toUpperCase(java.util.Locale.ROOT)}")
      if (listed.map(_.name.toLowerCase(java.util.Locale.ROOT))
        .distinct.length != listed.length)
        throw new IllegalArgumentException(
          "COPY FROM column list repeats a column")
      schema.fields.filterNot(f => listed.exists(_.name == f.name))
        .foreach { f =>
          if (!f.nullable || f.metadata.contains("CURRENT_DEFAULT"))
            throw new IllegalArgumentException(
              s"COPY FROM column list: unlisted column '${f.name}' is " +
                "non-nullable or carries a DEFAULT — this bridge fills " +
                "unlisted columns with NULL only (DuckDB applies the " +
                "default); list the column or load with spark.read + " +
                "INSERT")
        }
    }
    val readSchema =
      if (colList.isEmpty) schema
      else org.apache.spark.sql.types.StructType(listed)
    val src0 = fmt match {
      case "parquet" => spark.read.parquet(path)
      case "json" =>
        spark.read.schema(readSchema).option("mode", "FAILFAST").json(path)
      case "csv" =>
        if (header.isEmpty || delim.isEmpty)
          throw new IllegalArgumentException(
            "COPY FROM csv requires explicit HEADER and DELIMITER " +
              "options: DuckDB auto-detects both from the file, and a " +
              "wrong default under the table's forced schema would load " +
              "corrupt rows silently — e.g. COPY t FROM 'f.csv' (FORMAT " +
              "CSV, HEADER false, DELIMITER ',')")
        spark.read.schema(readSchema).option("mode", "FAILFAST")
          .option("header", header.get).option("sep", delim.get).csv(path)
      case other => throw new IllegalArgumentException(
        s"COPY FROM FORMAT '$other' is not bridged (parquet, csv, json)")
    }
    // project into FULL table order; unlisted columns ride as NULLs
    val src =
      if (colList.isEmpty) src0
      else src0.select(schema.fields.toSeq.map { f =>
        if (listed.exists(_.name == f.name))
          org.apache.spark.sql.functions.col(f.name)
        else org.apache.spark.sql.functions.lit(null)
          .cast(f.dataType).as(f.name)
      }: _*)
    val obs = org.apache.spark.sql.Observation()
    src.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.insertInto(ident)
    val n = obs.get("n").asInstanceOf[Long]
    import spark.implicits._
    Some(Seq(n).toDF("Count"))
  }

  /** The dialect-tolerant `spark.sql`: valid Spark SQL runs untouched;
    * on a parse/analysis failure the rewrite is tried once; a still-
    * failing (or unbridgeable) statement raises [[guidance]]. Shared by
    * [[DeltaScanner.query]] and the REPL's SQL fallthrough — every
    * user-facing SQL entry point accepts the reference's dialect.
    *
    * Before the first attempt the [[graft.functions.DuckCompat]] names
    * register into the session (idempotent map-puts): the constructs a
    * TEXT rewrite cannot bridge — type-ambiguous `len`, `list_sum`/
    * `list_avg`/`list_aggregate`, 3-arg `date_diff`, 2-arg
    * `array_length`, non-literal `regexp_full_match` patterns — resolve
    * as analysis-time expressions instead (VERDICT r8 item 1). */
  def sql(spark: SparkSession, text: String): DataFrame = {
    graft.functions.DuckCompat.register(spark)
    sqlNoCompat(spark, text)
  }

  /** Session-aware NESTED-ASOF pre-pass (r15 third pass): expand ASOF
    * statements living INSIDE a parenthesized `(SELECT …)` /
    * `(WITH …)` group — derived tables, CTE bodies, scalar subqueries,
    * chain subquery members — which neither the statement-level chain
    * bridge (top-level shapes only) nor the textual rewrite (the
    * single bridge anchors at the statement's FROM) could reach; the
    * shape a user who wraps an as-of join in a derived table and
    * aggregates over it hits first. Deepest-first recursion; each
    * group's body tries the chain expansion (multi-join, session
    * schemas) and then the textual single-join rewrite, and the usual
    * per-shape scale gates run against the ORIGINAL body text. A body
    * that still carries a top-level ASOF after both passes embeds
    * unchanged — the outer flow raises guidance, never a partial
    * rewrite. */
  private[graft] def expandNestedAsof(
      spark: SparkSession, text: String): String = {
    val sb = new StringBuilder
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'') {
        val j = {
          var k = i + 1
          var closed = false
          while (k < n && !closed) {
            if (text.charAt(k) == '\'') {
              if (k + 1 < n && text.charAt(k + 1) == '\'') k += 2
              else { closed = true; k += 1 }
            } else k += 1
          }
          k
        }
        sb.append(text.substring(i, math.min(j, n))); i = j
      } else if (c == '(') {
        scanMatch(text, i) match {
          case Some(close) =>
            val body0 = text.substring(i + 1, close - 1)
            val body1 = expandNestedAsof(spark, body0) // deepest-first
            val w0 = readWord(body1.trim, 0)
              .toLowerCase(java.util.Locale.ROOT)
            val body2 =
              if ((w0 == "select" || w0 == "with") &&
                topKeyword(body1, "asof") >= 0) {
                val cand = asofChainExpand(spark, body1) match {
                  case Some(ex) =>
                    asofChainScaleGuard(spark, body1)
                    ex
                  case None =>
                    val r = rewrite(body1)
                    if (r != body1 && topKeyword(r, "asof") < 0) {
                      asofScaleGuard(spark, body1); r
                    } else body1
                }
                // VALIDATE by analysis (no job runs): a body the
                // single bridge cannot host — an AGGREGATE select
                // over the asof join mixes with the pick's
                // row_number and fails MISSING_GROUP_BY — must embed
                // unchanged and reach guidance, not a broken rewrite
                if (cand != body1) {
                  try { spark.sql(cand); cand }
                  catch { case scala.util.control.NonFatal(_) => body1 }
                } else body1
              } else body1
            sb.append('(').append(body2).append(')')
            i = close
          case None => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def sqlNoCompat(spark: SparkSession, text: String): DataFrame = {
    // COPY … TO never parses as Spark SQL — dispatch the statement
    // bridge first; an unbridgeable COPY shape gets the guidance table
    if (readWord(text.trim, 0).equalsIgnoreCase("copy"))
      return bridgeCopyTo(spark, text)
        .orElse(bridgeCopyFrom(spark, text))
        .getOrElse(
          throw new IllegalArgumentException(guidance(text,
            "(COPY is not Spark SQL)",
            "(COPY statement outside the bridged subset: COPY (query)|" +
              "table TO 'path' [(FORMAT PARQUET|CSV|JSON, HEADER, " +
              "DELIMITER)] and COPY table [(col, …)] FROM 'path' " +
              "[(same options)] — CSV column lists NULL-fill unlisted " +
              "columns; use spark.read/INSERT for the rest)")))
    try spark.sql(text)
    catch {
      case e: org.apache.spark.sql.AnalysisException // incl. parse
          if readWord(text.trim, 0).equalsIgnoreCase("pivot") =>
        bridgePivot(spark, text) match {
          case Some(p) =>
            try spark.sql(p)
            catch {
              case e2: org.apache.spark.sql.AnalysisException =>
                throw new IllegalArgumentException(
                  guidance(text, e.getMessage, e2.getMessage), e2)
            }
          case None =>
            throw new IllegalArgumentException(
              guidance(text, e.getMessage, "(PIVOT statement outside " +
                "the bridged subset: one ON column, one USING " +
                "aggregate, a table/view source)"), e)
        }
      case e: org.apache.spark.sql.AnalysisException => // incl. parse
        // COLUMNS(…) star expressions and STRUCT-expanding unnest need
        // the live schema — expanded here (session-aware), then the
        // text rewrite handles any other duckisms the statement
        // carries (incl. the LIST unnest → explode rename on the items
        // the struct pass left alone)
        val colsExpanded =
          if ("""(?i)\bcolumns\s*\(""".r.findFirstIn(text).isDefined)
            bridgeColumns(spark, text)
          else None
        val base1 = colsExpanded.getOrElse(text)
        val structExpanded =
          (if ("""(?i)\bunnest\s*\(""".r.findFirstIn(base1).isDefined)
            bridgeStructUnnest(spark, base1)
          else None).orElse(colsExpanded)
        val base2 = structExpanded.getOrElse(text)
        val expanded0 =
          (if ("""(?i)\breservoir\b""".r.findFirstIn(base2).isDefined &&
            """(?i)\busing\s+sample\b""".r.findFirstIn(base2).isDefined)
            bridgeReservoirPercent(spark, base2)
          else None).orElse(structExpanded)
        // ASOF chains are session-aware (schemas drive the prefixed
        // flattening) — expand here, and GATE on the ORIGINAL text
        // (the expansion destroys the chain shape the guard parses).
        // The guard runs only AFTER a successful expansion (ADVICE
        // r14): asofChainExpand can still refuse a statement the chain
        // parser accepted (bare *, unresolvable schema, unaliased
        // expression items) — such statements must reach the guidance
        // path, not pay probe queries and die on a misleading
        // 'refused at this scale'.
        val base3 = expanded0.getOrElse(text)
        // NESTED asof pre-pass (r15 third pass) runs BEFORE the
        // top-level chain bridge so derived tables / CTE bodies /
        // chain subquery members whose own bodies carry ASOF arrive
        // already expanded (their scale gates fire inside the pass)
        val nestedExpanded =
          (if ("""(?i)\basof\b""".r.findFirstIn(base3).isDefined) {
            val nx = expandNestedAsof(spark, base3)
            if (nx != base3) Some(nx) else None
          } else None).orElse(expanded0)
        val base4 = nestedExpanded.getOrElse(text)
        val chainExpanded =
          (if ("""(?i)\basof\b""".r.findAllIn(base4).nonEmpty) {
            val ex = asofChainExpand(spark, base4)
            if (ex.isDefined) asofChainScaleGuard(spark, base4)
            ex
          } else None).orElse(nestedExpanded)
        val expanded = chainExpanded
        val rewritten = rewrite(expanded.getOrElse(text))
        // the ASOF bridge is the one rewrite whose output can be
        // quadratic in the input — gate it BEFORE execution
        if (rewritten != text)
          asofScaleGuard(spark, expanded.getOrElse(text))
        if (rewritten == text) {
          if (unbridgeable(text))
            throw new IllegalArgumentException(
              guidance(text, e.getMessage, "(not retried: contains a " +
                "construct with no direct Spark twin)"), e)
          throw e
        }
        try spark.sql(rewritten)
        catch {
          case e2: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              guidance(text, e.getMessage, e2.getMessage), e2)
        }
    }
  }

  /** DuckDB-isms this shim deliberately does NOT bridge (arg shapes or
    * semantics differ) — when one appears in failing SQL the user gets
    * [[guidance]] instead of a bare unresolved-function error. */
  private val Unbridgeable =
    """(?i)\b(quantile_disc|quantile)\s*\(|(?i)\b(?:date_diff|datediff)\s*\(\s*'|\*\s+(?i:REPLACE)\b|(?i)\basof\s+(?:left\s+)?join\b|(?i)\busing\s+sample\b|(?i)\bsimilar\s+to\b""".r

  def unbridgeable(sql: String): Boolean =
    Unbridgeable.findFirstIn(sql).isDefined

  /** The error text a user sees when even the rewritten form fails:
    * what was tried, plus the divergences this shim does NOT bridge. */
  def guidance(original: String, firstErr: String, secondErr: String): String =
    s"""SQL failed in Spark's dialect and in the DuckDB-compat rewrite.
       |  Spark error:   $firstErr
       |  after rewrite: $secondErr
       |The rewrite bridges: ${renames.keys.toSeq.sorted.mkString(", ")};
       |`//` -> `div`; "double-quoted" identifiers -> `backticks`;
       |backslashes in '...' literals; [a, b] list literals -> array();
       |{'k': v} / {k: v} struct literals -> named_struct();
       |list comprehensions [h FOR x IN l IF p] -> transform/filter
       |  (subscripts l[i] pass through — NOTE Spark subscripts are
       |  0-based where DuckDB's are 1-based; use list_extract for
       |  DuckDB's 1-based NULL-safe indexing);
       |QUALIFY -> a wrapped post-window filter (top-level only; not
       |  under set ops or SELECT DISTINCT — rewrite those by hand);
       |DISTINCT ON (keys) -> row_number() = 1 per keys (positional/ALL
       |  ORDER BY items and ORDER BY on a select ALIAS are refused —
       |  spell the alias's expression out in the ORDER BY instead);
       |generate_series -> sequence() (explode(sequence()) after
       |  FROM/JOIN; the comma-lateral `FROM t, generate_series(…)
       |  [AS g(i)]` and `FROM t, unnest(generate_series(…)) AS u(j)`
       |  forms ARE bridged to LATERAL VIEW explode(sequence(…)) —
       |  trailing items in place, mid-list items deferred to the
       |  FROM-clause end (comma items commute; order among series
       |  items is preserved). A JOIN after a series item refuses
       |  (DuckDB may bind the series as the join's left operand —
       |  rewrite by hand); the unaliased comma-unnest has no mappable
       |  column name — alias it u(j));
       |  unnest -> explode for LISTS; unnest(struct_col[, recursive :=
       |  bool]) expands from the live schema for single-table SELECTs
       |  (whole select items only; recursive expands nested structs
       |  depth-first by leaf name with _N collision suffixes); the
       |  ALIASED list form unnest(list_col, recursive := true) AS v
       |  fully flattens then explodes (struct-bearing lists refuse —
       |  DuckDB names those by field, ignoring the alias) — other
       |  aliased items and joined sources have no bridged twin; scalar
       |  range() has no twin (sequence() is inclusive-end) — the TVF
       |  form FROM range(a, b) is valid Spark already;
       |the PIVOT STATEMENT (dynamic column discovery) bridges for one
       |  ON column + one USING aggregate over a table/view source
       |  (columns = sorted distinct non-null values, capped at 1000;
       |  IN (…) lists skip discovery; multiple ON columns give the
       |  cross-product v1_v2 columns; aliased multi-agg USING gives
       |  DuckDB's value_alias columns; UNALIASED multi-agg bridges for
       |  simple fn(ident)/count(*) aggregates — DuckDB's
       |  value_fn(ident) names; expression aggregates: alias them;
       |  GROUP BY/ORDER BY/LIMIT pass through);
       |COLUMNS('regex') / COLUMNS(*) / COLUMNS(* EXCLUDE (a, b)) /
       |  COLUMNS(c -> predicate) expand from the live schema for
       |  single-table SELECTs (DuckDB's find-anywhere matching; EXCLUDE
       |  binds case-insensitively and raises on unknown columns; the
       |  lambda binds each column NAME as VARCHAR with DuckDB's
       |  nonzero-int truthiness; wrapped forms replicate per column
       |  and name by the source column; `AS z` aliases name the
       |  expansion z, z_1, … and a 'single-quoted' alias is a regex
       |  template where \\N is match group N — templates on */EXCLUDE/
       |  lambda args refuse) — joins: expand by hand;
       |the UNPIVOT STATEMENT bridges to Spark's UNPIVOT clause —
       |  single- and multi-VALUE forms, (c1, c2) AS 'alias' groups
       |  (unaliased groups name c1_c2, DuckDB's rule; the multi-VALUE
       |  bridge adds the any-NULL row filter DuckDB applies where Spark
       |  drops only all-NULL rows); a multi-VALUE statement with a
       |  WHERE tail: use the clause.
       |Conditionally bridged (this statement used an unbridged form):
       |  string_split/str_split/string_to_array (bridged for LITERAL
       |  separators, regex-escaped into split() — including the
       |  empty-separator per-char form; expression separators have no
       |  direct twin),
       |  strftime/strptime (registered functions — arbitrary formats,
       |  either arg order for strftime; % codes without JDK twins
       |  (%U weeks, %Z zones) raise — use date_format/to_timestamp with
       |  JDK patterns there), struct_pack (bridged for k := v args),
       |  epoch (1-arg form; = unix_micros(ts)/1e6, fractional seconds),
       |  list_prepend (args swapped into array_prepend),
       |  regexp_full_match (LITERAL patterns wrapped \\A(?:…)\\z into
       |  regexp_like; non-literal patterns via the registered function),
       |  quantile_disc/quantile (→ percentile_disc WITHIN GROUP — same
       |  values, but the result type widens to DOUBLE).
       |Registered as session functions on this surface (DuckDB semantics,
       |  so they cannot be the failure here): len (strings AND lists,
       |  BIGINT), list_sum/list_avg/list_aggregate('sum'/'avg'/'min'/
       |  'max'/'count') (integer sums are BIGINT not HUGEINT; DECIMAL
       |  sums widen to DOUBLE), 1- and 2-arg array_length,
       |  list_reduce (seedless fold; empty lists raise, as DuckDB),
       |  list_slice/array_slice (LIST and STRING forms, arbitrary
       |  mixed-sign bounds with DuckDB's clamping, 4-arg step walks;
       |  string+step raises as DuckDB itself does),
       |  list_extract/array_extract (lists AND strings — 1-based
       |  character access, '' out of range, as DuckDB),
       |  date_sub('part', a, b) (complete clamped intervals, the
       |  start-anchored walk DuckDB uses; 2-arg stays Spark's),
       |  read_csv/read_json [+_auto] table functions (literal path or
       |  path list; header/delim/quote/escape/nullstr/names/
       |  all_varchar, json format auto|newline_delimited|array; the
       |  OPTION-FREE csv form sniffs delimiter+header like DuckDB's
       |  auto-detection — ambiguous dialects and compressed files
       |  refuse to explicit options; DuckDB names headerless columns
       |  column0..N — so does this; inferred INT widths can differ,
       |  cast where width matters),
       |  strftime/strptime (see above), and the delta_scan('path') TABLE
       |  function (graft's public-protocol Delta reader; non-Delta paths
       |  fall back to a parquet scan).
       |date_diff('part', a, b) (boundary crossings) is text-bridged to
       |  timestampdiff over part-truncated operands for parts year …
       |  microsecond; century/decade/millennium have no timestampdiff
       |  twin — derive from extract(year …).
       |Known DuckDB-isms with NO direct Spark twin (rewrite by hand):
       |  a SIMILAR TO p (full-string regex match — Spark has no such
       |  operator): use regexp_full_match(a, p) (registered here).
       |  list_intersect: element ORDER differs across engines (DuckDB
       |  hash-set order vs Spark's first-list order) — use
       |  array_intersect and list_sort the result if order matters.
       |  list_zip: struct FIELD NAMES differ (DuckDB list_1/list_2 vs
       |  Spark's positional names) — use arrays_zip and alias fields.
       |  SELECT * REPLACE with a non-`expr AS bare_ident` item
       |  (the `expr AS col` form IS bridged into * EXCEPT + appended
       |  aliases — note the replaced columns move to the END of the
       |  projection; * EXCLUDE bridges to Spark's * EXCEPT).
       |  read_parquet('one path') IS translated to parquet.`path`;
       |  for file LISTS and options use read_csv-style table functions.
       |  ASOF [LEFT] JOIN IS bridged for the single-join two-relation
       |  form — idents or (subquery) alias on either side (equi
       |  conjuncts + ONE inequality naming both aliases; no WHERE —
       |  DuckDB filters AFTER the asof pick, a wrap would filter
       |  candidates BEFORE it; no outer GROUP BY; a grouped relation
       |  needs an explicit alias) — AND (r14) for left-deep multi-join
       |  chains over plain relations containing at least one ASOF step
       |  (ASOF steps nest the same equi+range row_number pick,
       |  schema-aware; plain LEFT/INNER steps join the accumulated
       |  flattening and need one clean equality; RIGHT/FULL/CROSS
       |  members, right-deep parenthesized chains, subquery members,
       |  bare * select lists, and unaliased expression items refuse).
       |  The bridge is pair-generating (DuckDB has a dedicated
       |  sort-merge ASOF operator) and SCALE-GATED: statements whose
       |  probed equi-group pair count exceeds spark.graft.asof.maxPairs
       |  (default 5e7, -1 disables) are refused with the O(n log n)
       |  union+ordered-window composition as guidance.
       |  Outside that subset, compose an equi+range join with a
       |  row_number()=1 pick per left row (the q51_asof_join corpus
       |  query is the reference shape). COPY (query)|table TO 'path'
       |  [(FORMAT PARQUET|CSV|JSON, HEADER, DELIMITER)] IS bridged —
       |  returns DuckDB's Count row; Spark writes a DIRECTORY of part
       |  files, not one file (the scale-correct divergence). COPY
       |  table FROM 'path' [(same options)] IS bridged for writable
       |  catalog tables — positional load with the table's schema,
       |  FAILFAST, Count returned; temp VIEWS refuse (read-only), CSV
       |  needs explicit HEADER+DELIMITER (DuckDB sniffs both); CSV
       |  column lists map the file positionally onto the listed
       |  columns and NULL-fill the rest (unlisted columns with a
       |  DEFAULT or NOT NULL refuse — DuckDB applies the default);
       |  parquet/json column lists are not bridged.
       |  USING SAMPLE n [ROWS] [(reservoir[, seed])] and
       |  reservoir(n ROWS) ARE bridged for a single-relation FROM
       |  [+ WHERE]: a true uniform random-n via ORDER BY rand([seed])
       |  LIMIT n (TakeOrdered — no full sort), applied BEFORE the WHERE
       |  as DuckDB does. The PERCENT forms — n% | n PERCENT, with
       |  (bernoulli|system[, seed]) in either spelling — bridge to
       |  TABLESAMPLE (n PERCENT) [REPEATABLE (seed)]. A seed pins rows
       |  within ONE engine, never across engines, so only aggregate
       |  contracts compare. reservoir(p%) / p% (reservoir[, seed])
       |  bridges session-aware (one bounded count job on the pre-WHERE
       |  relation; k = round-half-up(count·p/100), DuckDB's exact-count
       |  rule) for TOP-LEVEL single-relation statements — subquery
       |  placements: compute the count and use the ROWS form. NOT
       |  bridged: bernoulli/system with a ROWS count (DuckDB itself
       |  errors there).
       |Original SQL: $original""".stripMargin
}
