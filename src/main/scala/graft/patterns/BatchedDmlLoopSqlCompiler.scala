package graft.patterns

/** The batched-DML purge loop → its set-based fixpoint — the OTHER
  * canonical T-SQL loop beside the cursor ([[CursorLoopSqlCompiler]])
  * and the counter WHILE ([[WhileLoopSqlCompiler]]): operators batch
  * big DELETEs/UPDATEs in `TOP (n)` chunks purely to keep the
  * TRANSACTION LOG and lock escalation bounded —
  *
  * {{{
  * WHILE 1 = 1
  * BEGIN
  *   DELETE TOP (5000) FROM audit_log WHERE created < '2020-01-01';
  *   IF @@ROWCOUNT = 0 BREAK;
  * END
  * }}}
  *
  * Log pressure is a row-store concern with no Spark analog (state
  * replacement writes a new generation), so the loop's FIXPOINT is the
  * honest translation: one `DELETE FROM t WHERE p`.
  *
  * Equivalence, per verb:
  *  - DELETE: each iteration removes an arbitrary `TOP (n)` slice of
  *    the rows satisfying p until none remain — the terminal state is
  *    exactly "no row satisfies p", the single DELETE's postcondition,
  *    for ANY n and any slice order.
  *  - UPDATE: sound ONLY when each batch provably shrinks the
  *    pred-set, so the compile requires (a) every SET rhs is a
  *    LITERAL (a batch-varying expression like GETDATE() would leave
  *    batch boundaries visible in the data), and (b) some assigned
  *    column `c = lit` has a WHERE conjunct the assignment falsifies
  *    (`c <> lit`, `c = otherLit`, or `c IS NULL` with a non-NULL
  *    rhs). Updates are row-local, so a row leaves the pred-set when
  *    updated and no row ever enters it — the fixpoint is the single
  *    UPDATE over all originally-matching rows. Anything weaker
  *    declines: a loop whose batches do not shrink the set never
  *    terminates in T-SQL either, and this engine will not guess.
  *
  * Recognized shape, read off the [[SqlBlocks]] tree: the whole task is
  * `While(1 = 1, [Stmt(<TOP (n) DML>), If(@@ROWCOUNT = 0 → BREAK)])`.
  * Everything else — EXISTS-guarded variants whose two predicates must
  * be proven identical, WAITFOR DELAY throttles, TOP PERCENT, ORDER
  * BY'd TOP (order-dependent slices), extra body statements — declines
  * to manual review. */
object BatchedDmlLoopSqlCompiler {

  private val deleteTopRe =
    "(?is)^delete\\s+top\\s*\\(\\s*\\d+\\s*\\)\\s+from\\s+([^\\s;@(]+)\\s+where\\s+(.+)$".r
  private val updateTopRe =
    "(?is)^update\\s+top\\s*\\(\\s*\\d+\\s*\\)\\s+([^\\s;@(]+)\\s+set\\s+(.+?)\\s+where\\s+(.+)$".r

  private val bodyKeywordRe =
    ("(?i)\\b(select|insert|update|delete|merge|from|join|output|into|" +
      "top|order|group|having|union)\\b").r

  /** A SET rhs that is a single literal on the masked twin: number,
    * string (masked to 'xxx…'), NULL, or 0x… binary. */
  private val literalRhsRe =
    "(?is)^\\s*(null|[+-]?\\d+(?:\\.\\d+)?|'x*'|0x[0-9a-fA-F]+)\\s*$".r

  private def clauseOk(c: String): Boolean =
    !MergeSqlCompiler.bodyDisqualified(c, bodyKeywordRe) &&
      !c.contains("@")

  /** A comparand that is itself a literal — the only shape whose
    * post-assignment truth value is row-independent. `c = other_col`
    * proves nothing: the batch only shrinks where other_col ≠ rhs, and
    * a row with other_col = rhs re-matches forever (the T-SQL loop
    * HANGS — compiling its "fixpoint" would execute something the
    * original never completes). */
  private val litCompRe =
    "(?is)^(?:'[^']*'|[+-]?\\d+(?:\\.\\d+)?|null|0x[0-9a-fA-F]+)$".r

  /** Literal equality with T-SQL value semantics, not text semantics:
    * numerics compare as values (`1.0 = 1` is TRUE in T-SQL, so
    * `SET c = 1.0 WHERE c = 1` does NOT falsify — textual comparison
    * would claim it does and compile a fixpoint for a loop the
    * original never completes), quoted strings compare content
    * case-insensitively (default collation), 0x binaries by digits.
    * Cross-shape pairs (a number vs a string) return None — unproven
    * either way, so both falsification directions decline. */
  private def litEq(a: String, b: String): Option[Boolean] = {
    def num(s: String): Option[BigDecimal] =
      if (s.matches("[+-]?\\d+(?:\\.\\d+)?")) Some(BigDecimal(s)) else None
    def str(s: String): Option[String] =
      if (s.length >= 2 && s.head == '\'' && s.last == '\'')
        Some(s.substring(1, s.length - 1)) else None
    def hex(s: String): Option[String] =
      if (s.matches("(?i)0x[0-9a-fA-F]+"))
        Some(s.drop(2).toLowerCase.dropWhile(_ == '0')) else None
    (num(a), num(b)) match {
      case (Some(x), Some(y)) => Some(x == y)
      case _ => (str(a), str(b)) match {
        case (Some(x), Some(y)) => Some(x.equalsIgnoreCase(y))
        case _ => (hex(a), hex(b)) match {
          case (Some(x), Some(y)) => Some(x == y)
          case _ => None
        }
      }
    }
  }

  /** Does the WHERE carry a CONJUNCT the assignment `c = rhs`
    * falsifies? Comparisons are LOCATED on the masked twin (a string
    * literal containing "flag = 0" is data, not a predicate) and their
    * comparand text sliced from the RAW where at the matched spans
    * (masking is length-preserving, so spans align) — two different
    * string values mask to the same 'xxx', so the value comparison
    * must see the original text. The caller must have rejected any
    * OR / NOT / CASE first: outside a pure-AND tree a falsified
    * comparison does not imply the pred-set shrinks. */
  private def falsifies(whereRaw: String, whereMsk: String,
      c: String, rhs: String): Boolean = {
    val q = java.util.regex.Pattern.quote _
    val neq = ("(?is)\\b" + q(c) + "\\s*(?:<>|!=)\\s*(\\S+)").r
    val eq = ("(?is)\\b" + q(c) + "\\s*=\\s*('[^']*'|[^\\s()]+)").r
    val isNull = ("(?is)\\b" + q(c) + "\\s+is\\s+null\\b").r
    val rhsT = rhs.trim
    def raw(m: scala.util.matching.Regex.Match): String =
      whereRaw.substring(m.start(1), m.end(1)).trim
    neq.findAllMatchIn(whereMsk).exists(m =>
      litCompRe.pattern.matcher(raw(m)).matches &&
        litEq(raw(m), rhsT).contains(true)) ||
      eq.findAllMatchIn(whereMsk).exists { m =>
        litCompRe.pattern.matcher(raw(m)).matches &&
          litEq(raw(m), rhsT).contains(false)
      } ||
      (isNull.findFirstIn(whereMsk).isDefined &&
        !rhsT.equalsIgnoreCase("null"))
  }

  /** Anything that breaks the pure-AND conjunct structure — OR at ANY
    * depth (a parenthesized disjunction still shelters re-matching
    * rows), NOT, CASE, IN, BETWEEN — declines the UPDATE form: the
    * falsification proof only composes over conjunction. */
  private def breaksConjunctTree(whereMsk: String): Boolean =
    "(?i)\\b(or|not|case|in|between)\\b".r.findFirstIn(whereMsk).isDefined

  /** The batched purge loop of a task's top-level block-tree nodes →
    * its one-statement set-based fixpoint, or None (manual review). */
  private[patterns] def loop(nodes: List[SqlBlocks.Node]): Option[String] = {
    import IfLadderSqlCompiler.{Break, Ladder, ScalarPred}
    import SqlBlocks.{If, Stmt, While}
    val text = nodes match {
      case List(While(p, List(Stmt(s), If(Ladder(List((ScalarPred(rc), Break)), None), _))))
          if p.matches("1\\s*=\\s*1") && rc.matches("(?i)@@rowcount\\s*=\\s*0") => s
      case _ => return None
    }
    val msk = SqlLex.mask(text)
    deleteTopRe.findFirstMatchIn(msk).flatMap { m =>
      def g(i: Int) = text.substring(m.start(i), m.end(i))
      val (tgt, where) = (g(1), g(2))
      if (clauseOk(msk.substring(m.start(2), m.end(2))))
        Some(s"DELETE FROM $tgt WHERE $where")
      else None
    }.orElse {
      updateTopRe.findFirstMatchIn(msk).flatMap { m =>
        def g(i: Int) = text.substring(m.start(i), m.end(i))
        val (tgt, sets, where) = (g(1), g(2), g(3))
        val setsMsk = msk.substring(m.start(2), m.end(2))
        val whereMsk = msk.substring(m.start(3), m.end(3))
        if (!clauseOk(setsMsk) || !clauseOk(whereMsk) ||
          breaksConjunctTree(whereMsk)) None
        else {
          // every rhs a literal, checked on the MASKED item (string
          // content cannot fake a literal shape)
          val items = SqlLex.splitTop(sets)
          val itemsMsk = SqlLex.splitTop(setsMsk)
          val parsed = items.zip(itemsMsk).map { case (it, itM) =>
            val i = itM.indexOf('=')
            if (i <= 0) None
            else if (literalRhsRe.findFirstIn(itM.drop(i + 1)).isEmpty) None
            else Some((it.take(i).trim, it.drop(i + 1).trim))
          }
          if (parsed.exists(_.isEmpty)) None
          else if (!parsed.flatten.exists { case (c, rhs) =>
              c.matches("[A-Za-z_]\\w*") &&
                falsifies(where, whereMsk, c, rhs) })
            None // cannot prove each batch shrinks the pred-set
          else Some(s"UPDATE $tgt SET $sets WHERE $where")
        }
      }
    }
  }
}
