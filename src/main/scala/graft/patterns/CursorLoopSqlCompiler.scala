package graft.patterns

import scala.util.matching.Regex

/** The canonical T-SQL CURSOR FETCH loop → a two-statement set-based
  * script — closing the last big Execute-SQL statement class this
  * engine declined wholesale.
  *
  * The reference routes every `DECLARE … CURSOR` to manual review
  * (ssis-to-dbt `src/agents/analyzer.py:137-156` classifies statements;
  * cursors never convert), and so did this engine through r12
  * ([[graft.parser.MigrationMapping]]). But the most common estate
  * cursor is mechanical: a FETCH loop whose body is one or more DML
  * statements parameterized by the cursor row. Row-at-a-time execution
  * of that shape IS a join — this compiler recognizes exactly it and
  * emits the set-based equivalent; every other cursor keeps the honest
  * decline.
  *
  * Recognized shape, read off the task's top-level [[SqlBlocks]] nodes:
  * {{{
  * DECLARE @a T1 [, @b T2 …];            -- one or more variable DECLAREs
  * DECLARE c [INSENSITIVE|SCROLL] CURSOR [LOCAL|FAST_FORWARD|…] FOR
  *   SELECT i1, i2 FROM … [WHERE …] [ORDER BY …];
  * OPEN c;
  * FETCH NEXT FROM c INTO @a, @b;
  * WHILE @@FETCH_STATUS = 0
  * BEGIN
  *   <UPDATE / DELETE / INSERT…VALUES using @a, @b>;  -- one or more,
  *   [<more body DML, each on a DISTINCT target table>;]
  *   FETCH NEXT FROM c INTO @a, @b;      -- identical INTO list
  * END;
  * CLOSE c;
  * DEALLOCATE c;
  * }}}
  *
  * rewritten to (the #temp script [[ScriptedSqlExecutor]] already owns):
  * {{{
  * SELECT i1 AS __gc0, i2 AS __gc1 INTO #graft_cursor_rows FROM … [WHERE …];
  * UPDATE __t SET … FROM tgt __t INNER JOIN #graft_cursor_rows __s ON <where'>
  * }}}
  *
  * Semantics adjudication, per body verb:
  *  - UPDATE: the loop equals one join-update IFF no target row is hit
  *    by two cursor rows (sequential applies both; set picks one). The
  *    rewrite rides [[UpdateFromSqlCompiler]], whose multi-match window
  *    guard ABORTS exactly that case — a loud stop, never a silent
  *    divergence from T-SQL.
  *  - DELETE: deletion is idempotent, so [[DeleteFromSqlCompiler]]'s
  *    anti-join equals the loop at any match multiplicity.
  *  - INSERT…VALUES: the loop appends one row per cursor row; so does
  *    the rewritten `INSERT … SELECT … FROM #graft_cursor_rows`
  *    ([[SqlPatternRewriter]]'s append path). The column list is
  *    REQUIRED — its names alias the select items so the append aligns
  *    by name, and a misspelled column fails loudly at union.
  *
  * The cursor's top-level ORDER BY is dropped (unless TOP/OFFSET make
  * it row-selecting): iteration order is relationally unobservable for
  * these three verbs once UPDATE multi-match aborts, and a global sort
  * of the cursor source at 100 TB would be pure waste.
  *
  * MULTI-STATEMENT bodies (r14) are owned when every statement
  * individually passes the one-DML gates AND the targets are PAIRWISE
  * DISTINCT tables (the update-then-audit-log idiom). Staging runs
  * statement 1 over all cursor rows before statement 2 runs at all,
  * where T-SQL interleaves per row — but the clause bans (no FROM/
  * JOIN/subquery in SET/WHERE/VALUES) mean each statement reads only
  * its own target's columns and the fetch variables, so sibling
  * writes are invisible and the two orders commute. A repeated target
  * (`UPDATE t …; DELETE t …` per row) could read its sibling's writes
  * mid-loop and declines.
  *
  * POSITIONED DML (`WHERE CURRENT OF c`, r14) is owned when the
  * cursor scans ONE bare table: the loop touches exactly the cursor's
  * result rows, so the one-shot equivalent is the same DML with the
  * CURSOR'S OWN WHERE as predicate and each fetch variable replaced
  * by its cursor item EXPRESSION (the per-row FETCH value IS that
  * expression of the current row, and a one-shot UPDATE's RHS reads
  * the same pre-statement values the FETCH read — positioned DML
  * never writes another row, so no cross-row interference exists).
  * Guards, per T-SQL's own contracts: a read-only cursor
  * (STATIC/INSENSITIVE/FAST_FORWARD/READ_ONLY) rejects positioned DML
  * (error 16929) → decline; a positioned UPDATE of a column the
  * cursor's WHERE/ORDER BY reads can re-position the current row
  * mid-scan under a dynamic-capable cursor (the Halloween re-visit) →
  * decline unless the cursor is KEYSET (membership and order freeze
  * at OPEN); DISTINCT (cursor rows not 1:1 with table rows) and
  * TOP/OFFSET (a row quota the one-shot WHERE cannot express) →
  * decline. The cursor-level `FOR UPDATE [OF …]` tail parses and
  * strips. Positioned DELETE needs no Halloween gate — deleting the
  * current row cannot change any other row's membership.
  *
  * Declines (→ manual review, the reference's routing): body
  * statements sharing a target table, any control flow in the body,
  * positioned DML through a read-only or joined/aliased/DISTINCT/TOP
  * cursor or naming a different table,
  * FETCH PRIOR/ABSOLUTE/RELATIVE, a WHILE predicate other than
  * `@@FETCH_STATUS = 0`, mismatched INTO lists, a second cursor,
  * @variables beyond the FETCH INTO list (a mid-loop accumulator is
  * genuine iteration state), a cursor SELECT that itself references
  * preamble @variables (the rewrite drops the DECLAREs, so the emitted
  * script would carry an unbound @token — classification and execution
  * must stay aligned), `SELECT *` cursors (positional INTO binding
  * needs an explicit item list), INSERT without a column list, a body
  * DML whose TARGET table appears in the cursor SELECT's FROM — unless
  * the cursor is declared STATIC/INSENSITIVE (snapshot semantics, which
  * is exactly what the staged rewrite implements) or the body WHERE is
  * a pure fetch-var key-equality conjunction (self-row mutation, where
  * a default dynamic cursor and the snapshot agree); a default
  * forward-only cursor whose body mutates not-yet-fetched rows'
  * MEMBERSHIP (e.g. `UPDATE t SET flag = 1 WHERE k = @k + 1` over a
  * cursor filtered on flag) sees its own writes and silently diverges
  * from the one-scan staging — and any node outside the canonical
  * frame. Brackets decline in body clauses only, as in
  * [[UpdateSqlCompiler]]: a `[bracketed]` target is a name. */
object CursorLoopSqlCompiler {

  /** Staged cursor rows live one script — tempdb session-scope parity. */
  private[patterns] val TempName = "#graft_cursor_rows"

  private val q = java.util.regex.Pattern.quote _

  /** `DECLARE <name> [opts] CURSOR [opts] FOR` — option keywords from
    * the T-SQL grammar, permissive on order, strict on vocabulary. */
  private val cursorDeclRe: Regex =
    ("(?is)\\bdeclare\\s+(\\w+)\\s+(?:(?:insensitive|scroll)\\s+)*cursor\\s+" +
      "(?:(?:local|global|forward_only|scroll|static|keyset|dynamic|" +
      "fast_forward|read_only|scroll_locks|optimistic|type_warning)\\s+)*" +
      "for\\b").r

  private val varDeclStmtRe = "(?is)^declare\\s+@.+$".r
  private val cursorVerbRe = "(?is)^(open|close|deallocate)\\s+(\\w+)$".r
  private val fetchRe =
    "(?is)^fetch\\s+next\\s+from\\s+(\\w+)\\s+into\\s+(@\\w+(?:\\s*,\\s*@\\w+)*)$".r
  private val varNameRe = "^\\s*@(\\w+)".r
  private val scalarVarRe = "@(\\w+)".r

  /** Body-clause vocabulary ban, shared with the sibling DML compilers:
    * a clause that grows its own query leg leaves the canonical shape. */
  private val bodyKeywordRe =
    "(?i)\\b(select|insert|update|delete|merge|from|join|output|into)\\b".r

  /** Control flow / cursor verbs / session state a one-DML body must
    * not carry (`WHERE CURRENT OF` is owned separately — the
    * positioned regexes below — so it is NOT in this ban). */
  private val bodyBanRe =
    ("(?i)\\b(while|begin|end|if|else|goto|return|fetch|open|close|" +
      "deallocate|cursor|exec|execute|merge|declare|set\\s+@)\\b" +
      "|@@").r

  private val updBodyRe =
    "(?is)^\\s*update\\s+([^\\s;@(]+)\\s+set\\s+(.+?)\\s+where\\s+(.+?)\\s*;?\\s*$".r
  private val delBodyRe =
    "(?is)^\\s*delete\\s+(?:from\\s+)?([^\\s;@(]+)\\s+where\\s+(.+?)\\s*;?\\s*$".r
  private val insBodyRe =
    ("(?is)^\\s*insert\\s+into\\s+([^\\s;@(]+)\\s*\\(([^)]*)\\)\\s*" +
      "values\\s*\\((.+)\\)\\s*;?\\s*$").r

  // positioned (WHERE CURRENT OF) forms — the updatable-cursor idiom
  private val posUpdRe =
    ("(?is)^\\s*update\\s+([^\\s;@(]+)\\s+set\\s+(.+?)\\s+" +
      "where\\s+current\\s+of\\s+(\\w+)\\s*;?\\s*$").r
  private val posDelRe =
    ("(?is)^\\s*delete\\s+(?:from\\s+)?([^\\s;@(]+)\\s+" +
      "where\\s+current\\s+of\\s+(\\w+)\\s*;?\\s*$").r
  private val currentOfRe = "(?i)\\bcurrent\\s+of\\b".r

  /** Substitute `@var` → `__s.__gc<i>` at masked spans (literal text
    * containing an @token is data, not a reference). */
  private def substVars(s: String, idx: Map[String, Int]): String =
    SqlLex.mapCode(s)(scalarVarRe.replaceAllIn(_, m =>
      idx.get(m.group(1).toLowerCase)
        .map(i => s"__s.__gc$i").getOrElse(m.matched)))

  /** A WHERE that is a pure conjunction of `col = @var` / `@var = col`
    * terms — the self-row shape where a default dynamic cursor and the
    * staged snapshot provably agree: the mutated row is exactly the
    * fetched row, so no OTHER row's pred-set membership can change.
    * Checked on the masked twin; any parenthesis, OR, or non-equality
    * comparison fails the per-conjunct regex and declines. */
  private def pureKeyEquality(whereMsk: String): Boolean =
    whereMsk.split("(?i)\\band\\b").forall(c =>
      c.trim.matches("(?is)[\\w.\\[\\]]+\\s*=\\s*@\\w+") ||
        c.trim.matches("(?is)@\\w+\\s*=\\s*[\\w.\\[\\]]+"))

  /** Strip a top-level trailing `AS alias` / bare `ident alias` from a
    * select item — the rewrite re-aliases every item positionally. */
  private def stripAlias(item: String): String = {
    val msk = SqlLex.mask(item)
    val asRe = "(?is)^(.+?)\\s+as\\s+(\\w+)\\s*$".r
    asRe.findFirstMatchIn(msk) match {
      case Some(m) if SqlLex.depths(msk)(m.end(1)) == 0 =>
        item.substring(0, m.end(1)).trim
      case _ =>
        val bareRe = "(?is)^([\\w.\\[\\]]+)\\s+(\\w+)\\s*$".r
        bareRe.findFirstMatchIn(msk)
          .map(m => item.substring(0, m.end(1)).trim).getOrElse(item.trim)
    }
  }

  /** The canonical FETCH loop of a task's top-level block-tree nodes →
    * the equivalent set-based #temp script, or None (manual review). */
  private[patterns] def loop(nodes: List[SqlBlocks.Node]): Option[List[String]] = {
    import SqlBlocks.{Stmt, While}
    // preamble: ONLY scalar-variable DECLAREs; then DECLARE c CURSOR …
    // FOR <select>; OPEN c; FETCH …; WHILE @@FETCH_STATUS = 0 BEGIN
    // <body>; FETCH … END; CLOSE c; DEALLOCATE c
    val (pre, frame) = nodes.span {
      case Stmt(s) => varDeclStmtRe.matches(s)
      case _ => false
    }
    val (decl, open, f1, pred, body, f2, close, dealloc) = frame match {
      case Stmt(d) :: Stmt(o) :: Stmt(f) :: While(p, b :+ Stmt(a)) ::
          Stmt(c) :: Stmt(dl) :: Nil => (d, o, f, p, b, a, c, dl)
      case _ => return None
    }
    val declM = cursorDeclRe.findPrefixMatchOf(SqlLex.mask(decl)).getOrElse(return None)
    val cur = declM.group(1)
    def verb(v: String, stmt: String): Boolean =
      cursorVerbRe.findFirstMatchIn(stmt).exists(m =>
        m.group(1).equalsIgnoreCase(v) && m.group(2).equalsIgnoreCase(cur))
    def fetchOf(stmt: String): Option[String] =
      fetchRe.findFirstMatchIn(stmt)
        .filter(_.group(1).equalsIgnoreCase(cur)).map(_.group(2))
    if (!verb("open", open) || !verb("close", close) ||
        !verb("deallocate", dealloc) || !pred.matches("(?i)@@fetch_status\\s*=\\s*0"))
      return None

    // each preamble item must parse a name (half a DECLARE is no
    // DECLARE); types are irrelevant to the rewrite (FETCH overwrites
    // every value before first use)
    val preNames = pre.collect { case Stmt(s) => s }.flatMap(s => SqlLex.splitTop(
        s.replaceFirst("(?is)^declare\\s+", ""))
      .map(i => varNameRe.findFirstMatchIn(i).map(_.group(1).toLowerCase)))
    if (preNames.exists(_.isEmpty)) return None
    val declared = preNames.flatten.toSet

    // the cursor SELECT (the rest of the DECLARE): item list explicit
    // (no *), every item positional-bindable; the cursor-level `FOR
    // UPDATE [OF col,…]` tail (positioned DML) is an updatability
    // marker, not part of the query (nor Spark SQL) — strip it first
    val select = {
      val s0 = decl.substring(declM.end).trim
      val m0 = SqlLex.mask(s0)
      ("(?is)\\bfor\\s+update(?:\\s+of\\s+[\\w.,\\s\\[\\]]+?)?\\s*$").r
        .findFirstMatchIn(m0)
        .filter(m => SqlLex.depths(m0)(m.start) == 0)
        .map(m => s0.substring(0, m.start).trim).getOrElse(s0)
    }
    val selMsk = SqlLex.mask(select)
    // the cursor SELECT must be variable-free: the rewrite drops the
    // preamble DECLAREs, so a @reference here would reach the emitted
    // script unbound — ScriptedSqlExecutor would decline AFTER the
    // mapping already said "converted" (ledger/execution mismatch)
    if (scalarVarRe.findFirstIn(selMsk).isDefined) return None
    // snapshot-vs-dynamic adjudication needs the declared options
    val declOptsMsk = declM.matched
    val staticCursor = "(?i)\\b(static|insensitive)\\b".r
      .findFirstIn(declOptsMsk).isDefined
    // positioned DML needs an UPDATABLE cursor (T-SQL: STATIC/
    // INSENSITIVE/FAST_FORWARD/READ_ONLY cursors reject it with 16929)
    val readOnlyCursor = "(?i)\\b(static|insensitive|fast_forward|read_only)\\b".r
      .findFirstIn(declOptsMsk).isDefined
    // KEYSET freezes membership and order at OPEN — the one declared
    // option under which a positioned UPDATE of membership-driving
    // columns still equals the one-shot rewrite (no Halloween re-visit)
    val keysetCursor = "(?i)\\bkeyset\\b".r.findFirstIn(declOptsMsk).isDefined
    val headM = "(?is)^select\\s+(distinct\\s+)?".r
      .findPrefixMatchOf(select).getOrElse(return None)
    val distinct = headM.group(1) != null
    val selDepth = SqlLex.depths(selMsk)
    val fromM = "(?i)\\bfrom\\b".r.findAllMatchIn(selMsk)
      .find(m => selDepth(m.start) == 0)
      .getOrElse(return None)
    val items = SqlLex.splitTop(
      select.substring(headM.end, fromM.start))
    if (items.isEmpty || items.exists(i => i.isEmpty ||
        i.trim == "*" || i.trim.matches("(?s)\\w+\\.\\*")))
      return None
    // ORDER BY drops UNLESS it selects rows (TOP / OFFSET…FETCH)
    var selTail = select.substring(fromM.start).trim
    val tailMsk = selMsk.substring(fromM.start)
    val tailDepth = SqlLex.depths(tailMsk)
    val rowSelecting =
      "(?i)\\b(top|offset)\\b".r.findFirstIn(selMsk).isDefined
    if (!rowSelecting)
      "(?i)\\border\\s+by\\b".r.findAllMatchIn(tailMsk)
        .find(m => tailDepth(m.start) == 0)
        .foreach(m => selTail = selTail.substring(0, m.start).trim)

    // positioned-DML metadata over the ORIGINAL tail: the cursor must
    // scan ONE bare table (no join/alias/subquery) for `CURRENT OF` to
    // have a one-shot equivalent, and the one-shot's predicate is the
    // cursor's own WHERE
    val tail0 = select.substring(fromM.start)
    val whereM0 = "(?i)\\bwhere\\b".r.findAllMatchIn(tailMsk)
      .find(m => tailDepth(m.start) == 0)
    val orderM0 = "(?i)\\border\\s+by\\b".r.findAllMatchIn(tailMsk)
      .find(m => tailDepth(m.start) == 0)
    val fromTblEnd = List(whereM0.map(_.start), orderM0.map(_.start))
      .flatten.sorted.headOption.getOrElse(tailMsk.length)
    val cursorTable: Option[String] = {
      val t = tail0.substring(4, fromTblEnd).trim // after "FROM"
      if (t.matches("[A-Za-z_\\[][\\w.\\[\\]]*")) Some(t) else None
    }
    val cursorWhere: Option[String] = whereM0.map { m =>
      tail0.substring(m.end,
        orderM0.map(_.start).getOrElse(tailMsk.length)).trim
    }
    // word tokens of the membership/order predicates, for the
    // Halloween gate on positioned UPDATEs of non-KEYSET cursors
    val predTokens: Set[String] = {
      val txt = tailMsk.substring(whereM0.map(_.start).getOrElse(fromTblEnd))
      "[A-Za-z_]\\w*".r.findAllIn(txt).map(_.toLowerCase).toSet
    }

    // INTO lists: identical, no duplicates, all declared, one per item
    def varsOf(g: String): List[String] =
      scalarVarRe.findAllMatchIn(g).map(_.group(1).toLowerCase).toList
    val fetchVars = varsOf(fetchOf(f1).getOrElse(return None))
    if (fetchOf(f2).map(varsOf) != Some(fetchVars)) return None
    if (fetchVars.distinct.size != fetchVars.size) return None
    if (!fetchVars.forall(declared)) return None
    if (fetchVars.size != items.size) return None
    val vIdx = fetchVars.zipWithIndex.toMap

    // body: one or more DML statements, no control flow / cursor verbs
    // / @@state, @references only from the FETCH list
    val bodyStmts = body.collect { case Stmt(b) => b }
    if (bodyStmts.isEmpty || bodyStmts.size < body.size) return None
    for (b <- bodyStmts) {
      val bMsk = SqlLex.mask(b)
      if (bodyBanRe.findFirstIn(bMsk).isDefined) return None
      if (!varsOf(bMsk).toSet.subsetOf(fetchVars.toSet)) return None
    }

    // staged cursor rows: one scan of the source, aliased positionally
    val selInto = "SELECT " + (if (distinct) "DISTINCT " else "") +
      items.zipWithIndex.map { case (it, i) =>
        stripAlias(it) + s" AS __gc$i"
      }.mkString(", ") + s" INTO $TempName $selTail"

    def clauseOk(c: String): Boolean =
      !MergeSqlCompiler.bodyDisqualified(c, bodyKeywordRe)
    // a body DML whose TARGET appears in the cursor's FROM sees its own
    // writes under default (dynamic / forward-only) cursor semantics —
    // mutating a not-yet-fetched row's membership diverges from the
    // one-scan staging. Snapshot cursors (STATIC/INSENSITIVE) and pure
    // self-row key-equality bodies provably agree; everything else
    // declines. INSERT gets no WHERE exemption: appending into the
    // cursor's source under a dynamic cursor can even loop forever.
    val selFromMsk = selMsk.substring(fromM.start)
    // the last name part as the mask spells it, so a `[bracketed]` name
    // compares equal to its masked occurrences in the cursor's text
    def bareOf(tgt: String): String =
      SqlLex.mask(tgt).split('.').last.replaceAll("[\\[\\]]", "").toLowerCase
    def sourceSafe(tgt: String, whereMskOpt: Option[String]): Boolean = {
      val inFrom = ("(?i)\\b" + q(bareOf(tgt)) + "\\b").r
        .findFirstIn(selFromMsk).isDefined
      !inFrom || staticCursor || whereMskOpt.exists(pureKeyEquality)
    }
    // positioned (`WHERE CURRENT OF`) rewrites substitute each fetch
    // variable with its cursor ITEM EXPRESSION — the loop's per-row
    // value IS that expression of the current row, and a one-shot
    // UPDATE/DELETE's RHS reads the same pre-statement row values the
    // per-row FETCH read (no cross-row writes exist: positioned DML
    // touches only the current row)
    def substItems(s: String): String =
      SqlLex.mapCode(s)(scalarVarRe.replaceAllIn(_, m =>
        vIdx.get(m.group(1).toLowerCase)
          .map(i => java.util.regex.Matcher
            .quoteReplacement("(" + stripAlias(items(i)) + ")"))
          .getOrElse(m.matched)))
    val posWhere = cursorWhere.map(w => s" WHERE $w").getOrElse(" WHERE 1 = 1")
    // positioned preconditions shared by UPDATE and DELETE: updatable
    // cursor, one bare-table scan, no DISTINCT (cursor rows would not
    // map 1:1 to table rows), no TOP/OFFSET (the one-shot WHERE cannot
    // express a row quota), and the body names THIS cursor's table
    def positionedOk(tgt: String, curRef: String): Boolean =
      !readOnlyCursor && !distinct && !rowSelecting &&
        curRef.equalsIgnoreCase(cur) &&
        cursorTable.exists(t => bareOf(t) == bareOf(tgt))

    // one compiled statement per body DML, each carrying its target
    def compileBody(b: String): Option[(String, String)] = {
      val bMsk = SqlLex.mask(b)
      def g(m: Regex.Match, i: Int): String = b.substring(m.start(i), m.end(i))
      def gm(m: Regex.Match, i: Int): String = bMsk.substring(m.start(i), m.end(i))
      // `CURRENT OF` anywhere routes to the positioned branches ONLY —
      // the generic regexes must never swallow a positioned WHERE
      if (currentOfRe.findFirstIn(bMsk).isDefined) {
        return posUpdRe.findFirstMatchIn(bMsk).flatMap { m =>
          val (tgt, sets) = (g(m, 1), g(m, 2))
          // the Halloween gate: under a non-KEYSET (dynamic-capable)
          // cursor, updating a column the cursor's WHERE/ORDER BY
          // reads can re-position the current row mid-scan — T-SQL may
          // re-visit it, the one-shot never does. KEYSET freezes
          // membership and order at OPEN, so the gate lifts.
          val setCols = SqlLex.splitTop(sets).map(c =>
            "(?is)^\\s*([\\w.\\[\\]]+)\\s*=".r.findFirstMatchIn(c)
              .map(cm => bareOf(cm.group(1))))
          if (setCols.exists(_.isEmpty)) None
          else if (!positionedOk(tgt, gm(m, 3)) || !clauseOk(sets)) None
          else if (!keysetCursor &&
            setCols.flatten.exists(predTokens.contains)) None
          else Some((s"UPDATE $tgt SET ${substItems(sets)}$posWhere",
            bareOf(tgt)))
        }.orElse {
          posDelRe.findFirstMatchIn(bMsk).flatMap { m =>
            val tgt = g(m, 1)
            // positioned DELETE is Halloween-free: deleting the
            // current row cannot change any OTHER row's membership
            if (!positionedOk(tgt, gm(m, 2))) None
            else Some((s"DELETE FROM $tgt$posWhere", bareOf(tgt)))
          }
        }
      }
      updBodyRe.findFirstMatchIn(bMsk).flatMap { m =>
        val (tgt, sets, where) = (g(m, 1), g(m, 2), g(m, 3))
        if (clauseOk(sets) && clauseOk(where) && sourceSafe(tgt, Some(gm(m, 3))))
          Some((s"UPDATE __t SET ${substVars(sets, vIdx)} FROM $tgt __t " +
            s"INNER JOIN $TempName __s ON ${substVars(where, vIdx)}", bareOf(tgt)))
        else None
      }.orElse {
        delBodyRe.findFirstMatchIn(bMsk).flatMap { m =>
          val (tgt, where) = (g(m, 1), g(m, 2))
          if (clauseOk(where) && sourceSafe(tgt, Some(gm(m, 2))))
            Some((s"DELETE __t FROM $tgt __t INNER JOIN $TempName __s " +
              s"ON ${substVars(where, vIdx)}", bareOf(tgt)))
          else None
        }
      }.orElse {
        insBodyRe.findFirstMatchIn(bMsk).flatMap { m =>
          val (tgt, colList, vals) = (g(m, 1), g(m, 2), g(m, 3))
          if (!clauseOk(vals) || colList.trim.isEmpty ||
            !sourceSafe(tgt, None)) None
          else {
            val cols = SqlLex.splitTop(colList)
            val exprs = SqlLex.splitTop(vals)
            if (cols.size != exprs.size ||
              !cols.forall(_.matches("[A-Za-z_]\\w*"))) None
            else Some((s"INSERT INTO $tgt SELECT " +
              exprs.zip(cols).map { case (v, c) =>
                s"${substVars(v, vIdx)} AS $c"
              }.mkString(", ") + s" FROM $TempName __s", bareOf(tgt)))
          }
        }
      }
    }
    val compiled = bodyStmts.map(compileBody)
    if (compiled.exists(_.isEmpty)) return None
    val dmls = compiled.flatten
    // MULTI-statement bodies (r14): staging runs statement 1 over ALL
    // cursor rows before statement 2 runs at all, where T-SQL
    // interleaves per row. The two provably agree when the body
    // statements' targets are PAIRWISE DISTINCT tables: the canonical
    // shape's clause bans (no FROM/JOIN/subquery in SET/WHERE/VALUES)
    // mean each statement reads only its own target's columns and the
    // fetch variables, so statement i's writes are invisible to
    // statement j — per-row and per-statement execution orders commute.
    // A repeated target (UPDATE t … ; DELETE t … per row) could read
    // its sibling's writes mid-loop and declines.
    if (dmls.map(_._2).distinct.size != dmls.size) return None
    // a purely POSITIONED body never reads the staged rows (its
    // one-shot predicates are the cursor's own WHERE) — emitting the
    // SELECT INTO anyway would charge an entire unused source scan,
    // which at 100 TB is the whole cost of the statement (r15; the
    // q129 gate's cheapest-possible-plan claim now holds by
    // construction, not by the staging being merely cheap)
    val stmts = dmls.map(_._1)
    Some(if (stmts.exists(_.contains(TempName))) selInto :: stmts
      else stmts)
  }
}
