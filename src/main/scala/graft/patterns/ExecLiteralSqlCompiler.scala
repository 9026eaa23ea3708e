package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `EXEC sp_executesql N'…'` / `EXEC('…')` with a LITERAL statement —
  * the dynamic-SQL wrapper real estates put around perfectly static
  * SQL out of habit (and the reference's analyzer sends every EXEC to
  * manual review). When the wrapped text is one string literal and
  * nothing else, the dynamic SQL is STATICALLY KNOWN: unwrap it
  * (undoing the `''` escapes) and compile it through the caller's
  * statement chain exactly as if it were written inline.
  *
  * The PARAMETERIZED form is owned too when every argument is a typed
  * LITERAL (r14):
  * {{{
  * EXEC sp_executesql N'<one static stmt using @p>',
  *   N'@p <type> [, …]', @p = <literal> [, …]
  * }}}
  * binds each parameter into the inner statement as the same
  * `CAST(<literal> AS <mapped type>)` form the script executor's
  * DECLARE path uses ([[ScriptedSqlExecutor]]'s typed-literal
  * convention), then compiles the fully-bound single statement through
  * the chain. Inside a script, a declared `@var` argument is already a
  * literal by the time the statement reaches this compiler (the
  * executor's bindVars runs first), so `@p = @declaredVar` composes
  * for free; at top level the same spelling has no binding and
  * declines. Parameter scope is exact: the substitution touches only
  * the inner text (sp_executesql params never leak into the outer
  * batch), and an inner `@token` that is not a declared parameter
  * declines — it is session state this replay cannot see.
  *
  * CONCATENATED dynamic SQL is owned when it constant-folds (r14):
  * `EXEC('DELETE FROM t WHERE k = ' + CAST(@id AS VARCHAR(10)))` — by
  * the time a script statement reaches this compiler, the executor's
  * bindVars has made every declared @var a typed literal, so the
  * fragments are compile-time constants and [[TsqlConcatFold]] renders
  * the exact text T-SQL would build (default-30 char lengths, silent
  * string truncation, 8115 declines, decimal re-scaling). The
  * `SET @sql = '…' + …; EXEC(@sql)` spelling composes through the
  * executor's assignment fold plus the plain literal unwrap here.
  *
  * Declined to manual review: concatenated fragments that do NOT fold
  * (column/identifier splices — `EXEC('SELECT ' + @col)` where @col
  * names a column, function calls, date/float renderings whose text
  * form is style-dependent), non-literal / expression arguments,
  * positional (unnamed) arguments, `OUTPUT` parameters, unmapped
  * parameter types, duplicate or missing bindings, and any other EXEC
  * (stored procedures have bodies this engine cannot see — except the
  * script-local CREATE PROCEDURE class, which
  * [[ProcInlineSqlCompiler]] owns because there the body IS in the
  * task text). One
  * recursion level: an unwrapped text that is itself an EXEC declines
  * — dynamic SQL generating dynamic SQL is manual review, not a
  * tower. */
object ExecLiteralSqlCompiler {

  // EXEC sp_executesql N'...'  |  EXEC ('...')  — the tail after the
  // literal must be empty (a second argument = a parameter list)
  private val spExecRe =
    "(?is)^\\s*exec(?:ute)?\\s+sp_executesql\\s+(N?'.*')\\s*;?\\s*$".r
  private val execParenRe =
    "(?is)^\\s*exec(?:ute)?\\s*\\(\\s*(N?'.*')\\s*\\)\\s*;?\\s*$".r

  /** The argument text must be EXACTLY one string literal (masked scan:
    * one quoted span, nothing but whitespace around it) — a comma or a
    * `+` outside the literal means params/concatenation. */
  private def singleLiteral(arg: String): Option[String] = {
    val body = arg.replaceFirst("(?is)^\\s*N", "")
    val msk = SqlLex.mask(body)
    val t = msk.trim
    if (!(t.startsWith("'") && t.endsWith("'"))) return None
    // everything between the outer quotes must still be INSIDE the
    // literal on the masked twin ('' escapes mask to xx, so any
    // unmasked quote or operator marks a second token)
    val innerMsk = t.substring(1, t.length - 1)
    if (innerMsk.exists(c => c == '\'' || c == '+' || c == ',')) None
    else {
      val raw = body.trim
      Some(raw.substring(1, raw.length - 1).replace("''", "'"))
    }
  }

  /** Parse-only classification twin (ledger / dry run). */
  private[graft] def unwrap(sqlRaw: String): Option[String] = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    val m = spExecRe.findFirstMatchIn(msk)
      .orElse(execParenRe.findFirstMatchIn(msk))
      .getOrElse(return None)
    singleLiteral(sql.substring(m.start(1), m.end(1))).filter(noExecTower)
  }

  private[patterns] val execHeadRe = "(?is)^\\s*exec(?:ute)?\\b".r

  private def noExecTower(inner: String): Boolean =
    execHeadRe.findFirstIn(SqlLex.mask(inner)).isEmpty

  // the parameterized frame, matched on the MASKED twin (masked string
  // literals carry no quotes, so lazy spans cannot leak across them):
  // statement literal, declaration literal, then the argument tail
  private val spExecParamRe =
    ("(?is)^\\s*exec(?:ute)?\\s+sp_executesql\\s+(N?'[^']*')\\s*,\\s*" +
      "(N?'[^']*')\\s*,\\s*(.+?)\\s*;?\\s*$").r

  private[patterns] val paramDeclRe =
    ("(?is)^@(\\w+)\\s+([A-Za-z]\\w*" +
      "(?:\\s*\\(\\s*(?:\\d+|max)\\s*(?:,\\s*\\d+\\s*)?\\))?)\\s*$").r

  /** Declared char cap — VARCHAR(n)/NVARCHAR(n)/CHAR(n)/NCHAR(n) → n.
    * T-SQL silently truncates ASSIGNMENT (variable and parameter
    * binding) to the declared length — no error 8152, which is an
    * INSERT/UPDATE contract — so every binding path that spells a
    * string literal into a declared char slot must truncate first
    * (the same silent-truncation contract [[TsqlConcatFold]] models
    * for CAST fragments). `MAX` and unlengthed forms have no cap;
    * CHAR(n)'s blank-PADDING is not modeled (T-SQL comparison is
    * trailing-space-insensitive, so padding is unobservable in the
    * owned statement classes). */
  private[patterns] def charCap(tsqlType: String): Option[Int] =
    "(?i)^n?(?:var)?char\\s*\\(\\s*(\\d+)\\s*\\)$".r
      .findFirstMatchIn(tsqlType.trim).map(_.group(1).toInt)

  private val argRe = "(?is)^@(\\w+)\\s*=\\s*(.+)$".r

  // a literal argument on the masked twin: string (masked to 'xxx…'),
  // number, NULL, 0x binary — plus the executor's OWN typed-literal
  // spellings, because a declared @var argument arrives here already
  // bound by ScriptedSqlExecutor's bindVars (CAST(n AS DECIMAL/DOUBLE/
  // FLOAT), timestamp_micros(n), DATE/TIMESTAMP 'x'). Anything else
  // (expressions, @vars that survived the caller's binding, OUTPUT
  // markers) declines.
  private[patterns] val litArgMskRe =
    ("(?is)^(N?'x*'|[+-]?\\d+(?:\\.\\d+)?|null|0x[0-9a-fA-F]+" +
      "|cast\\s*\\(\\s*(?:[+-]?\\d+(?:\\.\\d+)?|'x*')\\s+as\\s+" +
      "[a-z0-9_]+(?:\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?\\s*\\)" +
      "|timestamp_micros\\s*\\(\\s*\\d+\\s*\\)" +
      "|(?:date|timestamp)\\s+'x*')$").r

  /** The parameterized sp_executesql → its fully-bound inner statement,
    * or None (manual review). Every declared parameter must bind to
    * exactly one literal argument; every `@token` in the inner text
    * must be a declared parameter. */
  private[graft] def bindParameterized(sqlRaw: String): Option[String] = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    val m = spExecParamRe.findFirstMatchIn(msk).getOrElse(return None)
    def g(i: Int): String = sql.substring(m.start(i), m.end(i))
    val inner = singleLiteral(g(1)).filter(noExecTower).getOrElse(return None)
    val declsTxt = singleLiteral(g(2)).getOrElse(return None)
    // parameter declarations: @name <mapped type> per comma item
    val decls = SqlLex.splitTop(declsTxt).map(d =>
      paramDeclRe.findFirstMatchIn(d.trim).flatMap { dm =>
        val rawType = d.trim.substring(dm.start(2), dm.end(2))
        ScriptedSqlExecutor.sparkDdlType(rawType)
          .map(tpe => dm.group(1).toLowerCase -> (tpe, charCap(rawType)))
      })
    if (decls.exists(_.isEmpty)) return None
    val types = decls.flatten.toMap
    if (types.size != decls.size) return None // duplicate declaration
    // named literal arguments, one per declared parameter
    val argsRaw = SqlLex.splitTop(g(3))
    val argsMsk = SqlLex.splitTop(msk.substring(m.start(3), m.end(3)))
    if (argsRaw.size != argsMsk.size) return None
    val bound = argsRaw.zip(argsMsk).map { case (raw, am) =>
      argRe.findFirstMatchIn(am.trim).flatMap { an =>
        val nm = an.group(1).toLowerCase
        val valMsk = an.group(2).trim
        if (litArgMskRe.findFirstIn(valMsk).isEmpty) None
        else types.get(nm).map { case (tpe, cap) =>
          // slice the RAW value at the masked match's span — masking is
          // length-preserving and whitespace-preserving, so raw.trim
          // and am.trim align position-for-position; then undo N''…''
          // escaping for strings, TRUNCATE to the declared char cap
          // (T-SQL parameter assignment truncates silently — see
          // charCap), and re-spell through the engine's one safe
          // literal form
          val rawVal = raw.trim.substring(an.start(2)).trim
          val lit =
            if (rawVal.matches("(?is)^N?'.*'$")) {
              val body = rawVal.replaceFirst("(?is)^N", "")
              val v0 = body.substring(1, body.length - 1).replace("''", "'")
              SqlText.sqlLitOrDecline(
                cap.fold(v0)(n => SqlText.charTrunc(v0, n)))
            } else rawVal
          nm -> s"CAST($lit AS $tpe)"
        }
      }
    }
    if (bound.exists(_.isEmpty)) return None
    val byName = bound.flatten.toMap
    if (byName.size != bound.size) return None // duplicate argument
    if (byName.keySet != types.keySet) return None // missing binding
    // bind into the inner text at masked spans; any surviving @token
    // is not a declared parameter — session state, decline
    val replaced = SqlLex.mapCode(inner)("@(\\w+)".r.replaceAllIn(_, rm =>
      byName.get(rm.group(1).toLowerCase) match {
        case Some(b) => java.util.regex.Matcher.quoteReplacement(b)
        case None => rm.matched
      }))
    if ("@\\w+".r.findFirstIn(SqlLex.mask(replaced)).isDefined)
      None
    else Some(replaced)
  }

  /** A parameterized sp_executesql carrying OUTPUT parameter(s),
    * parsed but NOT bound: the inner statement text, the declarations
    * as (name, spark type, char cap, isOutput), and the arguments as
    * (name, raw value text, call-site OUTPUT flag). OUT arguments must
    * stay VARIABLE references (they are the write-back target), so
    * this form cannot ride [[bindParameterized]]'s literal-only path —
    * [[ScriptedSqlExecutor]] owns the binding, evaluation, and
    * copy-out. None when the text is not a parameterized sp_executesql
    * or declares no OUTPUT parameter (the literal path owns those). */
  private[graft] final case class SpExecOutput(
      inner: String,
      decls: List[(String, String, Option[Int], Boolean)],
      args: List[(String, String, Boolean)])

  // shared with ProcInlineSqlCompiler — ONE spelling of the trailing
  // OUTPUT/OUT keyword so the two surfaces can never drift
  private[patterns] val outSuffixRe = "(?is)^(.*?)\\s+(?:output|out)\\s*$".r

  private[graft] def parseParameterizedOutput(
      sqlRaw: String): Option[SpExecOutput] = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    val m = spExecParamRe.findFirstMatchIn(msk).getOrElse(return None)
    def g(i: Int): String = sql.substring(m.start(i), m.end(i))
    val inner = singleLiteral(g(1)).filter(noExecTower).getOrElse(return None)
    val declsTxt = singleLiteral(g(2)).getOrElse(return None)
    val decls = SqlLex.splitTop(declsTxt).map { d0 =>
      val d = d0.trim
      val (core, isOut) = outSuffixRe.findFirstMatchIn(d) match {
        case Some(om) => (d.substring(0, om.end(1)).trim, true)
        case None => (d, false)
      }
      paramDeclRe.findFirstMatchIn(core).flatMap { dm =>
        val rawType = core.substring(dm.start(2), dm.end(2))
        ScriptedSqlExecutor.sparkDdlType(rawType)
          .map(t => (dm.group(1).toLowerCase, t, charCap(rawType), isOut))
      }
    }
    if (decls.exists(_.isEmpty)) return None
    val ds = decls.flatten
    if (!ds.exists(_._4)) return None // no OUTPUT: the literal path
    if (ds.map(_._1).distinct.size != ds.size) return None
    val argsRaw = SqlLex.splitTop(g(3))
    val argsMsk = SqlLex.splitTop(msk.substring(m.start(3), m.end(3)))
    if (argsRaw.size != argsMsk.size) return None
    val args = argsRaw.zip(argsMsk).map { case (raw, am0) =>
      val am = am0.trim
      // the OUT keyword strips on the MASKED twin; masking is length-
      // preserving so the same span slices the raw text
      val (amCore, isOut) = outSuffixRe.findFirstMatchIn(am) match {
        case Some(om) => (am.substring(0, om.end(1)).trim, true)
        case None => (am, false)
      }
      argRe.findFirstMatchIn(amCore).map { an =>
        val rawCore = raw.trim.substring(0, amCore.length)
        (an.group(1).toLowerCase, rawCore.substring(an.start(2)).trim, isOut)
      }
    }
    if (args.exists(_.isEmpty)) return None
    Some(SpExecOutput(inner, ds, args.flatten))
  }

  /** Parse the OUTPUT call's inner `SELECT @a = e1[, @b = e2 …]
    * [FROM …]` — the assign targets with their RAW RHS texts (source
    * order) plus the raw FROM-tail, or None (manual review). The
    * shape gates live HERE, shared by the executor and its
    * classification twin so they cannot drift: a single statement;
    * every top-level select item an `@name = expr` assign; targets
    * DISTINCT (T-SQL re-assigns the same variable left-to-right,
    * which a single-value replay cannot reproduce — q142's decline,
    * kept); and no RHS references ANOTHER assign target — T-SQL
    * evaluates the list left-to-right, so `SELECT @a = 1, @b = @a+1`
    * reads @a's NEW value where a copy-in replay would read the old
    * one. A SELF-reference is exact either way: it is the variable's
    * first (and only) assignment, so it reads the copy-in value in
    * both engines. The item split and the FROM cut both run on the
    * masked twin at paren depth zero, so literals and subqueries
    * cannot shear. */
  private[graft] def parseOutputInner(
      inner: String): Option[(List[(String, String)], Option[String])] = {
    if (SqlText.splitStatements(inner).size != 1) return None
    val msk = SqlLex.mask(inner)
    val selM = "(?is)^\\s*select\\s+(.+?)\\s*;?\\s*$".r
      .findFirstMatchIn(msk).getOrElse(return None)
    val bodyMsk = msk.substring(selM.start(1), selM.end(1))
    val bodyRaw = inner.substring(selM.start(1), selM.end(1))
    val depth = SqlLex.depths(bodyMsk)
    val fromIdx = "(?i)\\bfrom\\b".r.findAllMatchIn(bodyMsk)
      .find(fm => depth(fm.start) == 0).map(_.start)
    val (listMsk, listRaw, fromRaw) = fromIdx match {
      case Some(i) => (bodyMsk.substring(0, i), bodyRaw.substring(0, i),
        Some(bodyRaw.substring(i)))
      case None => (bodyMsk, bodyRaw, None)
    }
    // top-level commas sit outside literals, so the masked and raw
    // splits align item-for-item and span-for-span
    val itemsMsk = SqlLex.splitTop(listMsk)
    val itemsRaw = SqlLex.splitTop(listRaw)
    if (itemsMsk.isEmpty || itemsMsk.size != itemsRaw.size) return None
    val assignRe = "(?is)^\\s*@(\\w+)\\s*=\\s*(.+?)\\s*$".r
    val assigns = itemsMsk.zip(itemsRaw).map { case (im, ir) =>
      assignRe.findFirstMatchIn(im).map(am =>
        (am.group(1).toLowerCase, ir.substring(am.start(2), am.end(2))))
    }
    if (assigns.exists(_.isEmpty)) return None
    val as = assigns.flatten
    val names = as.map(_._1)
    if (names.distinct.size != names.size) return None
    val nameSet = names.toSet
    val crossRef = as.exists { case (nm, rhs) =>
      "@(\\w+)".r.findAllMatchIn(SqlLex.mask(rhs)).exists { rm =>
        val t = rm.group(1).toLowerCase
        t != nm && nameSet(t)
      }
    }
    if (crossRef) return None
    Some((as, fromRaw))
  }

  /** Static twin of [[ScriptedSqlExecutor]]'s sp_executesql-OUTPUT
    * ownership test, for the classification ledger (shape only —
    * variable declaredness and literal bindability are runtime facts,
    * the same looseness the script-feature twin already accepts for
    * SELECT-assign): N ≥ 1 OUTPUT declarations (r17 — q142 owned one;
    * the `@rows OUTPUT, @err OUTPUT` logging pair is the same idiom),
    * arguments matching the declarations by name with OUTPUT exactly
    * on the OUT parameters, each OUT argument a bare @variable, every
    * IN argument a literal or @variable, and the inner a single
    * `SELECT @out1 = …[, @out2 = …]` assigning EVERY OUT parameter
    * exactly once ([[parseOutputInner]]'s gates). */
  private[graft] def ownsOutputShape(sqlRaw: String): Boolean =
    parseParameterizedOutput(sqlRaw).exists { pe =>
      val outs = pe.decls.filter(_._4)
      val outNames = outs.map(_._1).toSet
      val declsByName = pe.decls.map(d => d._1 -> d).toMap
      pe.args.map(_._1).distinct.size == pe.args.size &&
      pe.args.map(_._1).toSet == pe.decls.map(_._1).toSet &&
      !pe.args.exists(a => a._3 && !declsByName(a._1)._4) &&
      outs.forall(o => pe.args.find(_._1 == o._1).exists(a =>
        a._3 && a._2.matches("(?s)^@\\w+$"))) &&
      pe.args.forall(a => outNames(a._1) ||
        a._2.matches("(?s)^@\\w+$") ||
        litArgMskRe.findFirstIn(
          SqlLex.mask(a._2).trim).isDefined) &&
      parseOutputInner(pe.inner).exists { case (assigns, _) =>
        assigns.map(_._1).toSet == outNames }
    }

  // the same two EXEC frames with ANY argument text — the argument is
  // then required to be one top-level item (a comma = a parameter
  // list) that constant-folds as a `+` concatenation
  private val spExecAnyRe =
    "(?is)^\\s*exec(?:ute)?\\s+sp_executesql\\s+(.+?)\\s*;?\\s*$".r
  private val execParenAnyRe =
    "(?is)^\\s*exec(?:ute)?\\s*\\(\\s*(.+)\\)\\s*;?\\s*$".r

  /** Concatenated dynamic SQL whose fragments are all compile-time
    * constants → the folded inner statement, or None (manual review).
    * Single-literal arguments stay [[unwrap]]'s class. */
  private[graft] def foldConcatenated(sqlRaw: String): Option[String] = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    val m = spExecAnyRe.findFirstMatchIn(msk)
      .orElse(execParenAnyRe.findFirstMatchIn(msk))
      .getOrElse(return None)
    val argRaw = sql.substring(m.start(1), m.end(1))
    if (SqlLex.splitTop(argRaw).size != 1) return None
    TsqlConcatFold.fold(argRaw).filter(noExecTower)
  }

  /** The statically known inner text of a literal, parameterized or
    * constant-concatenated EXEC — None when the text is none of them. */
  private[patterns] def inner(sqlRaw: String): Option[String] =
    unwrap(sqlRaw).orElse(bindParameterized(sqlRaw))
      .orElse(foldConcatenated(sqlRaw))

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame,
      chain: ExecuteSqlTask => Option[SqlOutcome]): Option[SqlOutcome] =
    inner(task.sqlStatement)
      .flatMap(s => chain(task.copy(sqlStatement = s)))
}
