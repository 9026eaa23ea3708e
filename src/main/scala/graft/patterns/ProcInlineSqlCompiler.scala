package graft.patterns

/** Script-local stored procedures — `CREATE PROCEDURE` in its own GO
  * batch, `EXEC <name> <args>` calls, `DROP PROCEDURE` — the
  * helper-proc idiom migration and maintenance scripts use (create a
  * parameterized helper, call it N times, drop it). The reference
  * routes every EXEC to manual review because a stored procedure's
  * body normally lives in the database, invisible to the task text;
  * HERE the body is in the same script, so each call is statically
  * expandable. Expansion is HYGIENIC (r15): an `EXEC p <arg>, …`
  * becomes one `DECLARE @__graft_<k>_<p>_<param> <declared type> =
  * <arg>` per parameter (k = per-call counter, leading because it is
  * the collision-free token — so two calls never share state and
  * T-SQL's by-value parameter passing holds) followed by the body
  * statements with every parameter and body-local variable renamed
  * to the same `@__graft_<k>_<p>_…` namespace. The
  * emitted statements run through the script overlay like any
  * hand-written batch, so [[ScriptedSqlExecutor]]'s own DECLARE
  * machinery performs the binding — which is exactly what lets an
  * argument be a DECLARED VARIABLE (`DECLARE @id INT = 7; EXEC helper
  * @id`), not just a literal: the injected DECLARE's initializer
  * is `@id`, and the executor resolves it to the variable's value AT
  * THE TIME OF THE CALL, cast to the parameter's declared type (T-SQL
  * assignment-conversion at call, including the silent char(n)
  * truncation contract the executor applies on assignment).
  *
  * T-SQL contracts held: `CREATE PROCEDURE` must lead its batch and
  * swallows the REST of the batch into the body — so the body is
  * "everything after AS to the batch's end", exactly the GO-delimited
  * reading; an EXEC before the CREATE batch, after the DROP, or of a
  * name this script never created is error 2812 (could not find
  * stored procedure) → the script declines; scalar variables are
  * BATCH-scOPED, so a `@var` argument must be declared by an earlier
  * statement of the SAME batch as the EXEC (a cross-batch reference
  * is T-SQL error 137 — decline, never a silent carry-over); a
  * parameter or body-local assigned inside the body mutates only the
  * call's own renamed copy (by-value). Multiple helpers per script
  * are owned (r15), each in its own CREATE batch; body-local DECLAREs
  * are owned (r15) because the hygienic rename makes scope leaks
  * impossible — a body name shadowing a parameter still declines
  * (T-SQL 134, variable names must be unique within the batch).
  *
  * Scalar OUTPUT parameters are owned (r16): a parameter declared
  * `@total <type> OUTPUT` called as `EXEC p @x, @tot OUTPUT` rides
  * the same hygienic machinery — the per-call DECLARE copies the
  * caller's value IN (T-SQL OUTPUT is copy-in/copy-out), the body
  * mutates only the renamed local, and a post-body `SET @tot =
  * @__graft_…_total` copies the final value back through the
  * executor's typed-assignment path (cast to the CALLER's declared
  * type, its char(n) cap applied). A call that omits the OUTPUT
  * keyword on an OUTPUT parameter binds by value and writes nothing
  * back, exactly T-SQL; OUTPUT on a non-OUTPUT parameter is T-SQL
  * error 8162 and OUTPUT on a literal argument is error 179 — both
  * decline.
  *
  * `INSERT INTO t [(cols)] EXEC helper <args>` is owned (r16; r17
  * widens it) when every body statement is a scalar assignment
  * (DECLAREs, SETs, assigning SELECTs — which return NO result set)
  * or a result-returning SELECT, with at least one of the latter:
  * T-SQL INSERT-EXEC captures ALL the proc's result sets into the
  * target, so each renamed result SELECT inlines as its own INSERT
  * in body order, interleaved with the renamed assignments exactly
  * as the proc would run them. Bodies carrying any other statement,
  * and procs created elsewhere, keep the invisible-body decline;
  * result sets with mismatched column counts fail loudly at
  * analysis, as T-SQL's own error 213 would.
  *
  * `EXEC @rc = helper <args>` return codes are owned (r17) when the
  * body's RETURN — if any — is its FINAL statement with a scalar
  * expression: T-SQL converts the returned value to INT, so the
  * expansion appends `SET @rc = CAST((<renamed expr>) AS INT)` after
  * the body and write-backs (a body that ends without RETURN returns
  * 0, and a bare `RETURN` returns 0 — both emit `SET @rc = 0`). The
  * caller's @rc must be declared in the SAME batch (T-SQL 137). A
  * RETURN anywhere but the final statement is control flow — decline.
  *
  * DEFAULT parameter values are owned (r17): `@p <type> = <constant>`
  * in the signature fills any call that leaves the parameter unbound
  * — the trailing positional tail, any name-bound omission, or an
  * explicit `DEFAULT` placeholder keyword at the call site
  * (positional or `@p = DEFAULT`) — exactly T-SQL's constant-default
  * contract (non-constant defaults are a T-SQL syntax error and
  * decline, as does DEFAULT against a parameter with no default).
  *
  * Declined to manual review (ROLLBACK, TRY/CATCH and SAVE TRAN
  * outside the body never reach this compiler: [[ScriptedSqlExecutor]]'s
  * route declines them first): readonly parameters, mid-body RETURN or any
  * control flow in the body (IF/WHILE/BEGIN-END beyond the optional
  * outer wrapper, TRY/CATCH, transactions, cursors, nested EXEC),
  * `@@` system-variable reads in the body (at proc entry they see
  * caller state this positional expansion cannot reproduce), body
  * @tokens that are neither parameters nor body-locals, expression
  * arguments (T-SQL itself rejects them — EXEC args are literals or
  * variables only), undeclared or cross-batch `@var` arguments,
  * arity/name mismatches, mixed positional+named args, re-CREATE of
  * a live name (T-SQL 2714), EXEC of a procedure this script never
  * created (its body is genuinely invisible), and DROP of an unknown
  * or already-dropped procedure. */
object ProcInlineSqlCompiler {

  private val createProcHeadRe =
    "(?is)^\\s*create\\s+proc(?:edure)?\\s+([\\w.\\[\\]]+)\\s*(.*?)\\bas\\b(.+)$".r
  private val anyCreateProcRe = "(?i)\\bcreate\\s+proc(?:edure)?\\b".r
  private val execStmtRe =
    "(?is)^\\s*exec(?:ute)?\\s+([A-Za-z_\\[][\\w.\\[\\]]*)(.*?)\\s*;?\\s*$".r
  // `EXEC @rc = helper <args>` — the return-code capture form (r17)
  private val execRcRe =
    ("(?is)^\\s*exec(?:ute)?\\s+(@\\w+)\\s*=\\s*" +
      "([A-Za-z_\\[][\\w.\\[\\]]*)(.*?)\\s*;?\\s*$").r
  private val dropProcRe =
    ("(?is)^\\s*drop\\s+proc(?:edure)?\\s+(?:if\\s+exists\\s+)?" +
      "([\\w.\\[\\]]+)\\s*;?\\s*$").r
  private val namedArgRe = "(?is)^@(\\w+)\\s*=\\s*(.+)$".r
  private val scalarVarRe = "(?<!@)@(\\w+)".r
  private val varArgRe = "(?is)^@\\w+$".r
  // `return` left this ban in r17: a FINAL-statement RETURN is owned
  // (parseCreate strips it into Helper.ret); any other placement still
  // declines via the explicit mid-body check there
  private val bodyBanRe =
    ("(?i)\\b(begin|end|if|else|while|goto|cursor|fetch|" +
      "open|close|deallocate|exec|execute|merge|tran|transaction|" +
      "rollback|commit|try|catch|output|out|readonly|default|" +
      "create|drop|alter|truncate|grant|revoke|use|waitfor)\\b").r
  private val declareStmtRe = "(?is)^\\s*declare\\s+(@.+)$".r
  private val declareItemRe =
    "(?is)^@(\\w+)\\s+([A-Za-z]\\w*(?:\\s*\\([^)]*\\))?)(?:\\s*=\\s*(.+))?\\s*$".r

  // trailing OUTPUT/OUT on a parameter declaration or call argument —
  // the one shared spelling ([[ExecLiteralSqlCompiler.outSuffixRe]])
  private def outSuffixRe = ExecLiteralSqlCompiler.outSuffixRe
  private val insertExecRe =
    ("(?is)^\\s*insert\\s+into\\s+([\\w.\\[\\]#]+)\\s*(\\([^)]*\\))?\\s*" +
      "exec(?:ute)?\\s+([A-Za-z_\\[][\\w.\\[\\]]*)(.*?)\\s*;?\\s*$").r

  private def bare(name: String): String =
    name.split('.').last.replaceAll("[\\[\\]]", "").toLowerCase

  /** One parsed helper: ordered (param name, RAW T-SQL type text,
    * declared OUTPUT, default constant), the body text
    * (final-statement RETURN already stripped), the body-local
    * DECLARE names, and the RETURN's scalar expression — `Some("0")`
    * for a bare `RETURN`, None when the body ends without one (T-SQL
    * returns 0 either way; the distinction is kept only for the
    * scaladoc's sake). */
  private final case class Helper(
      params: List[(String, String, Boolean, Option[String])],
      body: String, locals: Set[String], ret: Option[String])

  /** One bound call: the hygienic per-call DECLAREs, the renamed body
    * text, the post-body OUTPUT write-back statements, and the
    * return-code SET when the call captured one. */
  private final case class Bound(declares: List[String], body: String,
      writebacks: List[String], rcSet: Option[String])

  /** Names declared by an outer-script DECLARE statement (the static
    * twin of the executor's DECLARE tracking — names only; the
    * executor re-validates types when it runs). TABLE variables are
    * excluded: they are relations, not scalars, and `EXEC p @t` over
    * one is a T-SQL type error this gate must not admit. */
  private def declaredNames(stmt: String, msk: String): List[String] =
    declareStmtRe.findFirstMatchIn(msk).toList.flatMap { m =>
      SqlLex.splitTop(stmt.substring(m.start(1), m.end(1)))
        .flatMap(i => declareItemRe.findFirstMatchIn(i.trim)
          .filterNot(im => "(?i)^table\\b".r
            .findFirstIn(im.group(2)).isDefined)
          .map(_.group(1).toLowerCase))
    }

  /** Parse the CREATE batch → the helper, or None (decline). */
  private def parseCreate(batch: String): Option[(String, Helper)] = {
    val msk = SqlLex.mask(batch)
    val m = createProcHeadRe.findFirstMatchIn(msk).getOrElse(return None)
    def g(i: Int): String = batch.substring(m.start(i), m.end(i))
    val name = bare(g(1))
    if (name == "sp_executesql") return None
    // parameter list: optional, optionally parenthesized, comma items.
    // Strip only a MATCHING outer pair — a bare list ending in a type
    // length like `@t VARCHAR(1)` must keep its closing paren.
    val paramsTxt = {
      val p0 = g(2).trim
      val outerPair = p0.startsWith("(") &&
        SqlLex.close(SqlLex.mask(p0), 1) == p0.length - 1
      (if (outerPair) p0.substring(1, p0.length - 1) else p0).trim
    }
    val params =
      if (paramsTxt.isEmpty) Nil
      else {
        val items = SqlLex.splitTop(paramsTxt).map { i0 =>
          val i = i0.trim
          // a trailing OUTPUT/OUT marks the parameter for post-call
          // write-back; READONLY still fails paramDeclRe below
          val (core0, isOut) = outSuffixRe.findFirstMatchIn(i) match {
            case Some(om) => (i.substring(0, om.end(1)).trim, true)
            case None => (i, false)
          }
          // `@p <type> = <constant>` declares a DEFAULT (r17): T-SQL
          // takes only constants there, so the value gate is the
          // literal recognizer. The '=' is found on the MASKED core —
          // a '=' inside a string default is data.
          val coreMsk = SqlLex.mask(core0)
          val (core, dflt) =
            "^([^=]*?)\\s*=\\s*(\\S[\\s\\S]*?)\\s*$".r
              .findFirstMatchIn(coreMsk) match {
              case Some(dm) =>
                val d = core0.substring(dm.start(2), dm.end(2))
                if (ExecLiteralSqlCompiler.litArgMskRe.findFirstIn(
                    SqlLex.mask(d).trim).isEmpty)
                  return None // non-constant default: T-SQL syntax error
                (core0.substring(dm.start(1), dm.end(1)).trim, Some(d))
              case None => (core0, None)
            }
          ExecLiteralSqlCompiler.paramDeclRe.findFirstMatchIn(core)
            .flatMap { pm =>
              val rawType = core.substring(pm.start(2), pm.end(2))
              ScriptedSqlExecutor.sparkDdlType(rawType)
                .map(_ => (pm.group(1).toLowerCase, rawType, isOut, dflt))
            }
        }
        if (items.exists(_.isEmpty)) return None
        items.flatten
      }
    if (params.map(_._1).distinct.size != params.size) return None
    // body: everything after AS; one optional outer BEGIN…END wrapper
    var body = SqlBlocks.blockBody(g(3)).getOrElse(g(3).trim)
    if (body.isEmpty) return None
    val bMsk = SqlLex.mask(body)
    // a body DECLARE is owned (hygienic rename isolates it); every
    // OTHER banned keyword keeps the decline
    if (bodyBanRe.findFirstIn(bMsk).isDefined) return None
    // @@ system variables at proc entry read CALLER state the
    // positional expansion cannot reproduce — decline
    if (bMsk.contains("@@")) return None
    // RETURN is owned ONLY as the body's FINAL statement with an
    // optional scalar expression (the return-code form — T-SQL
    // converts the value to INT at return); a RETURN anywhere else is
    // control flow and the whole script declines. The keyword scan
    // runs per-statement on the masked twin so a literal 'return' is
    // data. @tokens in the expression validate with the body scan
    // below (the strip happens after, on the statement list).
    val returnStmtRe = "(?is)^\\s*return(?:\\s+(.+?))?\\s*;?\\s*$".r
    val bodyStmts0 = SqlText.splitStatements(body)
    if (bodyStmts0.isEmpty) return None
    val retHere = "(?i)\\breturn\\b".r
    if (bodyStmts0.init.exists(s =>
        retHere.findFirstIn(SqlLex.mask(s)).isDefined))
      return None
    val ret = bodyStmts0.lastOption.flatMap { last =>
      val lMsk = SqlLex.mask(last)
      if (retHere.findFirstIn(lMsk).isEmpty) None
      else returnStmtRe.findFirstMatchIn(lMsk) match {
        case Some(rm) => Some(Option(rm.group(1))
          .map(_ => last.substring(rm.start(1), rm.end(1))).getOrElse("0"))
        case None => return None // RETURN embedded in a larger statement
      }
    }
    if (ret.isDefined) {
      // a body that is ONLY `RETURN expr` is owned (bodyStmts may
      // empty); re-join the rest — statement boundaries are already
      // clean, so the split/join round-trips
      body = bodyStmts0.init.mkString(";\n")
    }
    // body-local DECLAREs: collect names, validating each item's type
    // maps (the executor would decline an unmapped type at runtime —
    // the classification twin must agree)
    val locals = scala.collection.mutable.LinkedHashSet.empty[String]
    for (stmt <- SqlText.splitStatements(body)) {
      val sMsk = SqlLex.mask(stmt)
      declareStmtRe.findFirstMatchIn(sMsk).foreach { dm =>
        val items = SqlLex.splitTop(
          stmt.substring(dm.start(1), dm.end(1)))
        for (i <- items) {
          val im = declareItemRe.findFirstMatchIn(i.trim)
            .getOrElse(return None)
          val rawType = i.trim.substring(im.start(2), im.end(2))
          if (ScriptedSqlExecutor.sparkDdlType(rawType).isEmpty) return None
          locals += im.group(1).toLowerCase
        }
      }
    }
    // name collisions (param shadowed by a local) are T-SQL error 134
    val pset = params.map(_._1).toSet
    if (locals.exists(pset)) return None
    // every body @token must be a parameter or a body-local (bMsk is
    // the PRE-strip mask, so a RETURN expression's tokens are covered)
    val known = pset ++ locals
    if (!scalarVarRe.findAllMatchIn(bMsk).map(_.group(1).toLowerCase)
        .forall(known)) return None
    Some((name, Helper(params, body, locals.toSet, ret)))
  }

  /** Bind one EXEC's argument text against the helper → the hygienic
    * DECLAREs, the renamed body, the OUTPUT write-backs, and the
    * return-code SET (when `rcTarget` captures one — the raw `@rc`
    * text, which must be a same-batch declared variable), or None.
    * `declared` = outer @vars declared earlier in the SAME batch. */
  private def bind(name: String, callNo: Int, h: Helper,
      argsTxt: String, declared: Set[String],
      rcTarget: Option[String] = None): Option[Bound] = {
    val t = argsTxt.trim
    val argsRaw = if (t.isEmpty) Nil else SqlLex.splitTop(t)
    // fewer args than params is legal when the unbound TRAILING params
    // (positional) / unbound params (named) carry defaults (r17);
    // more args than params stays the arity decline
    if (argsRaw.size > h.params.size) return None
    // a trailing OUTPUT/OUT keyword strips off the argument first
    // (works for `@tot OUTPUT` and `@p = @tot OUTPUT` alike — the
    // keyword is always last); the flag rides beside the bare text
    def splitOut(a0: String): (String, Boolean) = {
      val a = a0.trim
      outSuffixRe.findFirstMatchIn(SqlLex.mask(a)) match {
        case Some(om) => (a.substring(0, om.end(1)).trim, true)
        case None => (a, false)
      }
    }
    val stripped = argsRaw.map(splitOut)
    // an argument is a literal, a same-batch declared @var, or the
    // DEFAULT placeholder keyword (substituted below) — T-SQL EXEC
    // accepts nothing else (expressions are a syntax error there)
    def isDefaultKw(aMsk: String): Boolean =
      "(?i)^default$".r.findFirstIn(aMsk.trim).isDefined
    def argOk(aMsk: String): Boolean =
      ExecLiteralSqlCompiler.litArgMskRe.findFirstIn(aMsk).isDefined ||
        isDefaultKw(aMsk) ||
        (varArgRe.findFirstMatchIn(aMsk).isDefined &&
          declared(aMsk.trim.substring(1).toLowerCase))
    val named = stripped.map { case (a, _) =>
      namedArgRe.findFirstMatchIn(
        SqlLex.mask(a).trim).isDefined }
    if (named.distinct.size > 1) return None // mixed positional+named
    // (param name, argument text, call-site OUTPUT flag), param order;
    // an unbound param takes its declared default (or declines)
    val triples: List[(String, String, Boolean)] =
      if (named.headOption.contains(true)) {
        val bound = stripped.map { case (a, o) =>
          val am = SqlLex.mask(a).trim
          namedArgRe.findFirstMatchIn(am).flatMap { nm =>
            val vMsk = am.substring(nm.start(2)).trim
            if (!argOk(vMsk)) None
            else Some((nm.group(1).toLowerCase,
              a.trim.substring(nm.start(2)).trim, o))
          }
        }
        if (bound.exists(_.isEmpty)) return None
        val byName = bound.flatten.map(b => b._1 -> (b._2, b._3)).toMap
        if (byName.size != bound.size ||
          !byName.keySet.subsetOf(h.params.map(_._1).toSet)) return None
        h.params.map { case (n, _, _, dflt) =>
          byName.get(n) match {
            case Some((v, o)) if isDefaultKw(SqlLex.mask(v)) =>
              (n, dflt.getOrElse(return None), o)
            case Some((v, o)) => (n, v, o)
            case None => (n, dflt.getOrElse(return None), false)
          }
        }
      } else {
        if (stripped.exists { case (a, _) =>
            !argOk(SqlLex.mask(a).trim) }) return None
        // positional args bind the params PREFIX; the tail defaults,
        // and an explicit DEFAULT keyword substitutes in place
        h.params.zipWithIndex.map { case ((n, _, _, dflt), i) =>
          if (i < stripped.size) {
            val (a, o) = stripped(i)
            if (isDefaultKw(SqlLex.mask(a)))
              (n, dflt.getOrElse(return None), o)
            else (n, a, o)
          } else (n, dflt.getOrElse(return None), false)
        }
      }
    // call-site OUTPUT contract: the keyword on a non-OUTPUT parameter
    // is T-SQL error 8162; OUTPUT with a literal argument is error 179
    // — both decline. An OUTPUT parameter called WITHOUT the keyword
    // binds by value and writes nothing back, exactly T-SQL.
    val outParams = h.params.map(p => p._1 -> p._3).toMap
    for ((n, a, o) <- triples if o) {
      if (!outParams(n)) return None
      if (varArgRe.findFirstMatchIn(
          SqlLex.mask(a).trim).isEmpty) return None
    }
    // call number FIRST: it is the unique per-call token and contains
    // no underscores, so the first '_'-delimited segment alone
    // discriminates calls — a name-first spelling could collide when a
    // proc name ends in '_<digit>' or a param name starts with one
    // (`__graft_p_1_2_x` reads as p_1/call 2/param x AND p/call 1/
    // param 2_x), silently cross-binding two calls' state
    val prefix = s"__graft_${callNo}_$name"
    // one hygienic DECLARE per parameter, in declaration order — the
    // executor's own DECLARE path performs the typed assignment (and
    // its char(n) truncation contract), and a @var initializer reads
    // the variable's CURRENT value exactly as T-SQL's call does.
    // T-SQL's N'…' national prefix strips (Spark has no N literals;
    // the '' escapes inside are valid in both dialects)
    def norm(a: String): String =
      if (a.matches("(?is)^N'.*'$")) a.replaceFirst("(?is)^N", "") else a
    val declares = triples.zip(h.params).map {
      case ((n, arg, _), (_, tpe, _, _)) =>
        s"DECLARE @${prefix}_$n $tpe = ${norm(arg)}"
    }
    // rename params AND body-locals into the call's namespace (masked
    // segments — a literal containing '@x' is data, not a reference)
    val renames = h.params.map(_._1).toSet ++ h.locals
    def rename(txt: String): String =
      SqlLex.mapCode(txt)(scalarVarRe.replaceAllIn(_, rm =>
        if (renames(rm.group(1).toLowerCase))
          java.util.regex.Matcher.quoteReplacement(
            s"@${prefix}_${rm.group(1).toLowerCase}")
        else rm.matched))
    val renamed = rename(h.body)
    // copy-out: the renamed local's FINAL value flows back to the
    // caller's variable through the executor's SET path (cast to the
    // caller's declared type, its char(n) cap applied)
    val writebacks = triples.collect {
      case (n, arg, true) => s"SET $arg = @${prefix}_$n"
    }
    // return code: T-SQL converts the returned value to INT; a body
    // ending without RETURN (and a bare RETURN) returns 0. Runs AFTER
    // the OUTPUT write-backs — both happen at proc exit, and T-SQL
    // assigns the return code to the caller's variable last.
    val rcSet = rcTarget.map { rc =>
      s"SET $rc = CAST((${rename(h.ret.getOrElse("0"))}) AS INT)"
    }
    Some(Bound(declares, renamed, writebacks, rcSet))
  }

  /** [[bind]] flattened to the expanded statement list. */
  private def expand(name: String, callNo: Int, h: Helper,
      argsTxt: String, declared: Set[String],
      rcTarget: Option[String] = None): Option[List[String]] =
    bind(name, callNo, h, argsTxt, declared, rcTarget).map(b =>
      b.declares ++ SqlText.splitStatements(b.body) ++ b.writebacks ++
        b.rcSet.toList)

  /** Whole-text recognizer: a script carrying its own helper
    * procedure(s) → the statement list with every call inlined, or
    * None. */
  private[graft] def rewriteToScript(textRaw: String): Option[List[String]] = {
    val text = SqlText.stripComments(textRaw)
    val textMsk = SqlLex.mask(text)
    if (anyCreateProcRe.findFirstIn(textMsk).isEmpty) return None
    val procs = scala.collection.mutable.Map.empty[String, Helper]
    var callNo = 0
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var any = false
    for (batch <- SqlText.splitBatches(text)) {
      val batchMsk = SqlLex.mask(batch)
      // scalar variables are batch-scoped: reset per batch
      val declared = scala.collection.mutable.Set.empty[String]
      if (createProcHeadRe.findFirstMatchIn(batchMsk).isDefined) {
        // CREATE PROC must LEAD its batch — the head regex anchors at
        // ^, so a mid-batch CREATE PROC falls to the statement loop
        // below and declines there
        parseCreate(batch) match {
          case Some((name, h)) =>
            if (procs.contains(name)) return None // live name: 2714
            procs(name) = h
            any = true
          case None => return None // half a proc is no proc
        }
      } else for (stmt <- SqlText.splitStatements(batch)) {
        val sMsk = SqlLex.mask(stmt)
        if (anyCreateProcRe.findFirstIn(sMsk).isDefined) return None
        val execM = execStmtRe.findFirstMatchIn(sMsk)
          .filter(m => procs.contains(
            bare(stmt.substring(m.start(1), m.end(1)))))
        val execRcM = execRcRe.findFirstMatchIn(sMsk)
        val dropM = dropProcRe.findFirstMatchIn(sMsk)
        if (execRcM.isDefined) {
          // `EXEC @rc = helper <args>` (r17): the return-code capture.
          // The target must be a same-batch declared variable (T-SQL
          // 137) and the proc live (2812) — else decline; bind appends
          // the `SET @rc = CAST((<renamed RETURN expr>) AS INT)`.
          val m = execRcM.get
          val rcRaw = stmt.substring(m.start(1), m.end(1))
          val nm = bare(stmt.substring(m.start(2), m.end(2)))
          if (!procs.contains(nm) ||
              !declared(rcRaw.substring(1).toLowerCase)) return None
          callNo += 1
          expand(nm, callNo, procs(nm),
              stmt.substring(m.start(3), m.end(3)), declared.toSet,
              rcTarget = Some(rcRaw)) match {
            case Some(ss) => out ++= ss
            case None => return None
          }
        } else if (dropM.isDefined) {
          val nm = bare(stmt.substring(dropM.get.start(1), dropM.get.end(1)))
          // dropping a procedure that is not live is state this
          // replay cannot see (unknown, or double-drop: T-SQL 3701)
          if (!procs.contains(nm)) return None
          procs.remove(nm): Unit
        } else execM match {
          case Some(m) =>
            val nm = bare(stmt.substring(m.start(1), m.end(1)))
            callNo += 1
            expand(nm, callNo, procs(nm),
                stmt.substring(m.start(2), m.end(2)), declared.toSet)
              match {
                case Some(ss) => out ++= ss
                case None => return None
              }
          case None if insertExecRe.findFirstMatchIn(sMsk).exists(m =>
              procs.contains(bare(stmt.substring(m.start(3), m.end(3))))) =>
            // `INSERT INTO t [(cols)] EXEC helper <args>` over a LIVE
            // script proc: owned when every body statement is a scalar
            // assignment (DECLARE / SET @x / SELECT @x = …, which
            // return NO result set) or a result-returning SELECT, with
            // at least one of the latter — T-SQL INSERT-EXEC captures
            // ALL of the proc's result sets into the target, so each
            // renamed result SELECT inlines as its own INSERT in body
            // order, interleaved with the renamed assignments exactly
            // as the proc would run them (r17; r16 owned the
            // one-SELECT case, early r17 the assignment-prefix case).
            // Any other statement declines with the invisible-body
            // class; column-count mismatches between result sets fail
            // loudly at analysis, as T-SQL's own 213 would.
            val m = insertExecRe.findFirstMatchIn(sMsk).get
            val nm = bare(stmt.substring(m.start(3), m.end(3)))
            val h = procs(nm)
            val bodyStmts = SqlText.splitStatements(h.body)
            def sm(s: String) = SqlLex.mask(s).trim
            val assignShapeRe =
              "(?is)^(?:declare\\b|set\\s+@|select\\s+@\\w+\\s*=)".r
            def isResultSelect(msk: String): Boolean =
              "(?is)^select\\b".r.findFirstIn(msk).isDefined &&
                "(?is)^select\\s+@".r.findFirstIn(msk).isEmpty
            if (bodyStmts.isEmpty ||
                !bodyStmts.forall(s => assignShapeRe.findFirstIn(sm(s))
                  .isDefined || isResultSelect(sm(s))) ||
                !bodyStmts.exists(s => isResultSelect(sm(s))))
              return None
            callNo += 1
            bind(nm, callNo, h,
                stmt.substring(m.start(4), m.end(4)), declared.toSet)
              match {
                case Some(b) =>
                  val tbl = stmt.substring(m.start(1), m.end(1))
                  val cols = if (m.group(2) == null) ""
                    else " " + stmt.substring(m.start(2), m.end(2))
                  out ++= b.declares
                  out ++= SqlText.splitStatements(b.body).map { rs =>
                    if (isResultSelect(sm(rs)))
                      s"INSERT INTO $tbl$cols " + rs.trim
                    else rs
                  }
                  out ++= b.writebacks
                case None => return None
              }
          case None =>
            // an EXEC of a name that is NOT a live script proc and NOT
            // an owned dynamic-SQL form is a procedure whose body this
            // replay cannot see (never created, or created-then-
            // dropped: T-SQL 2812) — decline the whole script. A
            // MID-statement EXEC of anything else (`INSERT INTO t EXEC
            // p` over an invisible or off-shape body) would otherwise
            // pass through to a guaranteed runtime decline: refuse it
            // here so the ledger agrees.
            val headExec =
              "(?is)^\\s*exec(?:ute)?\\b".r.findFirstIn(sMsk).isDefined
            if (!headExec &&
                "(?i)\\bexec(?:ute)?\\b".r.findFirstIn(sMsk).isDefined)
              return None
            val otherExec = execStmtRe.findFirstMatchIn(sMsk).exists { m =>
              bare(stmt.substring(m.start(1), m.end(1))) != "sp_executesql"
            }
            if (otherExec) return None
            declared ++= declaredNames(stmt, sMsk)
            out ++= SqlBlocks.undressed(stmt)
        }
      }
    }
    if (!any) None else Some(out.toList)
  }
}
