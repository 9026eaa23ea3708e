package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The warehouse Execute SQL compile chain + multi-statement SCRIPT
  * executor — pattern machinery shared by any scaffold that drives
  * package SQL, extracted from the q80–q90 gate scaffold so the
  * compilers it orchestrates live beside it.
  *
  * Single statements route through the compiler chain (MERGE → UPDATE →
  * UPDATE…FROM → DELETE/TRUNCATE → DELETE…FROM → literal VALUES →
  * SqlPatternRewriter). A task's comment-stripped text is parsed ONCE
  * into the [[SqlBlocks]] tree (GO batches, blocks, IF ladders, WHILE,
  * TRY/CATCH, transaction statements) and [[route]]d by SHAPE — the
  * same route the migration ledger reads:
  *
  *  - the canonical REFRESH script (clears followed by one
  *    INSERT…SELECT, a clear naming the insert target) keeps
  *    [[SqlPatternRewriter]]'s whole-table-overwrite semantics — the
  *    reference's `_clean_sql_for_dbt` contract (q17/q37 class);
  *  - every other script executes SEQUENTIALLY against a shadow
  *    overlay: later statements see earlier writes (the overlay is also
  *    registered as temp views so rewriter-path `spark.sql` statements
  *    read it — gated by q90), and the overlay commits only when EVERY
  *    statement compiles — a script never half-executes. The overlay
  *    views drop at script end either way: a session temp view
  *    outliving the task would leak into the NEXT package run's
  *    `spark.table` fallback (observed as a doubled append); a
  *    same-named temp view the CALLER registered before the script ran
  *    is snapshotted and re-registered after the drop.
  *    Crucially, a non-refresh script never falls back to the
  *    whole-statement chain: SqlPatternRewriter's order-blind matchers
  *    would execute the first INSERT…SELECT and silently drop the
  *    trailing statements — manual review beats a mangled half-run.
  *
  * T-SQL transaction dressing is honored as tree nodes:
  * `BEGIN TRAN[SACTION]` / `COMMIT` / `SET NOCOUNT ON|OFF` statements
  * drop out of the sequenced statements (the overlay's
  * commit-only-when-every-statement-compiles rule IS the transaction
  * contract), a `BEGIN TRAN` fused onto the next statement by a missing
  * `;` loses just the prefix, and any `ROLLBACK` outside the two owned
  * TRY/CATCH forms — conditional undo this replay cannot express —
  * declines the whole task to manual review.
  *
  * `#temp` TABLES live for exactly one script: every `#name` reference
  * (outside string literals) rewrites to an overlay-safe identifier,
  * the table is created by `SELECT … INTO #t` / `CREATE TABLE #t (…)`
  * (or the INSERT…VALUES bootstrap), read and mutated by any later
  * statement through the same compiler chain, optionally freed early by
  * `DROP TABLE [IF EXISTS] #t`, and NEVER commits — script end IS the
  * T-SQL scope exit, mirroring tempdb session scope. Re-creating a live
  * `#t` aborts (T-SQL 2714), `##global` temps decline (cross-session
  * state this replay does not model), and a task reading a `#t` none of
  * its own statements creates, or one plain statement naming a `#t`,
  * declines — temp state never crosses task boundaries
  * ([[outOfTempScope]]). The reference classifies exactly this surface
  * as complex/manual
  * (ssis-to-dbt `src/agents/analyzer.py:469-479`; its identifier
  * validator rejects `#`/`@` outright, `src/parser/utils.py:30-32`).
  *
  * `@@ROWCOUNT` reads substitute the previous statement's
  * rows-affected fact ([[graft.pipeline.PackageRunner.SqlOutcome]]'s
  * lazy `affected` thunk — evaluated only when actually read): the
  * T-SQL audit-log idiom `UPDATE …; INSERT INTO log VALUES(…,
  * @@ROWCOUNT, …)` executes exactly. A read whose predecessor cannot
  * state its count (MERGE), a read at script start, and every other
  * `@@var` decline to manual review. Caveat: wrapper statements
  * (BEGIN TRAN/COMMIT/NOCOUNT) strip BEFORE sequencing, so a read
  * across one sees the prior DML's count where genuine T-SQL resets to
  * 0 — a source script relying on that is already broken. */
object ScriptedSqlExecutor {

  /** Rewritten spelling of `#name`: a valid Spark view identifier that
    * no warehouse table can collide with. */
  private[patterns] val TempPrefix = "graft_tmp_"

  // `#name` / `##name` reference (scans run on the masked twin so a '#'
  // inside a string literal is data, not a temp reference)
  private val tempRefRe = "#{1,2}[A-Za-z_][A-Za-z0-9_]*".r
  private val rowcountRe = "(?i)@@rowcount".r

  // ---- script-scoped scalar @variables (the in-script watermark
  // idiom: DECLARE @wm …; SELECT @wm = MAX(ts) FROM t; <DML using @wm>)
  private val declareStmtRe = "(?is)^\\s*declare\\s+(@.+)$".r
  // group 2 captures the declared T-SQL type: T-SQL casts every
  // assignment to it, so the binder must too (a DATETIME variable
  // initialized from a string literal binds as TIMESTAMP, not STRING)
  private val declareItemRe =
    "(?is)^@(\\w+)\\s+([A-Za-z]\\w*(?:\\s*\\([^)]*\\))?)(?:\\s*=\\s*(.+))?\\s*$".r
  private val selectAssignRe = "(?is)^\\s*select\\s+@(\\w+)\\s*=\\s*(.+)$".r
  private val setAssignRe = "(?is)^\\s*set\\s+@(\\w+)\\s*=\\s*(.+)$".r
  // a second assignment target inside one SELECT (multi-assign) — or a
  // variable on the LEFT of a comparison, which binding would turn into
  // a silent literal=column predicate alias — both decline
  private[patterns] val innerAssignRe = "@\\w+\\s*=".r
  private val scalarVarRe = "(?<!@)@(\\w+)".r
  private val fromKeywordRe = "(?i)\\bfrom\\b".r
  // any OTHER @@system_var (@@IDENTITY, @@ERROR, @@TRANCOUNT…) — state
  // this replay cannot produce; the whole script declines
  private val otherSysVarRe = "(?i)@@(?!rowcount\\b)[a-z_]+".r

  /** Does the statement reference a `#temp` (outside literals)? */
  private def hasTempRef(s: String): Boolean =
    tempRefRe.findFirstIn(SqlLex.mask(s)).isDefined

  // temp-table DDL heads over a name pattern: `#\w+` for the task's
  // scope scan ([[outOfTempScope]]), [[TempPrefix]]`\w+` for the
  // sequencer's handlers after [[detemp]]
  private def createTableHead(name: String) =
    s"\\bcreate\\s+table\\s+($name)"
  private def dropTableHead(name: String) =
    s"\\bdrop\\s+table\\s+(?:(if\\s+exists)\\s+)?($name)"

  // the statements that CREATE a `#temp`: SELECT … INTO #t (not INSERT/
  // MERGE INTO), CREATE TABLE #t, and the INSERT INTO #t … VALUES
  // bootstrap (table variables are declared in-task by construction)
  private val tempCreatorRes = List(
    "(?is)(?<!(?:insert|merge)\\s{1,32})\\binto\\s+(#\\w+)",
    "(?is)" + createTableHead("#\\w+"),
    "(?is)\\binsert\\s+into\\s+(#\\w+)\\s*(?:\\([^)]*\\))?\\s*values\\b").map(_.r)

  private val dropTempClauseRe = ("(?is)" + dropTableHead("#\\w+")).r

  /** The task-scope rule for `#temp`s: temp state may cross tasks on a
    * retained connection, and this replay scopes every temp to one
    * task. A task declines when it reads a `#temp` none of its own
    * statements creates (`##global`s never are), or when it is ONE
    * plain statement naming a temp — a lone creator's temp dies unread
    * at task end, and a lone reader or DROP has no creator. An IF is
    * no plain statement: its branches sequence like a script's. Inside
    * a script a DROP is no read: a never-created temp is absent there
    * (plain DROP aborts with 3701, IF EXISTS is a no-op). */
  private def outOfTempScope(msk: String, onePlain: Boolean): Boolean =
    tempRefRe.findFirstIn(msk).isDefined && {
      val made = tempCreatorRes
        .flatMap(_.findAllMatchIn(msk).map(_.group(1).toLowerCase)).toSet
      onePlain || tempRefRe.findAllIn(dropTempClauseRe.replaceAllIn(msk, ""))
        .exists(r => !made(r.toLowerCase))
    }

  /** The IF text a statement runs: the statement itself when it is
    * IF-headed, else the inner text of a literal, parameterized or
    * constant-concatenated EXEC whose inner text is an IF (one level:
    * [[ExecLiteralSqlCompiler]] bans EXEC towers). */
  private def runsIf(stmt: String): Option[String] =
    if (IfLadderSqlCompiler.isIf(stmt)) Some(stmt)
    else ExecLiteralSqlCompiler.inner(stmt).map(SqlText.stripComments)
      .filter(IfLadderSqlCompiler.isIf)

  /** Rewrite every `#name` to [[TempPrefix]]`name` (case-folded — T-SQL
    * temp names are case-insensitive), splicing at masked-twin spans so
    * literal content survives verbatim; a bracketed `[#name]` loses its
    * brackets with the `#`. Returns the rewritten text and the rewritten
    * names it saw. */
  private def detemp(s: String): (String, Set[String]) = {
    val msk = SqlLex.mask(s)
    val ms = tempRefRe.findAllMatchIn(msk).toList
    if (ms.isEmpty) (s, Set.empty)
    else {
      val sb = new StringBuilder
      var pos = 0
      val names = Set.newBuilder[String]
      ms.foreach { m =>
        val br = if (m.start > 0 && msk.charAt(m.start - 1) == '[' &&
          m.end < msk.length && msk.charAt(m.end) == ']') 1 else 0
        sb.append(s.substring(pos, m.start - br))
        val nm = TempPrefix + s.substring(m.start, m.end)
          .dropWhile(_ == '#').toLowerCase
        names += nm
        sb.append(nm)
        pos = m.end + br
      }
      sb.append(s.substring(pos))
      (sb.toString, names.result())
    }
  }

  /** `DECLARE @name TABLE (coldefs)` — a whole-statement shape. Table
    * variables ARE #temps with @-syntax for this replay's purposes
    * (both are session-scoped relations that die at scope exit; the
    * tempdb-vs-memory distinction is physical), so [[detv]] reduces
    * them to the temp machinery wholesale. */
  private val tableVarDeclRe =
    "(?is)^\\s*declare\\s+@(\\w+)\\s+table\\s*\\((.+)\\)\\s*;?\\s*$".r

  /** Rewrite table-variable syntax to the temp overlay's: every `@name`
    * declared as TABLE becomes [[TempPrefix]]`tvar_name` (the extra
    * `tvar_` segment keeps a same-named `#tvar_x` temp from colliding
    * — a script carrying both spellings of one name is vanishingly
    * unlikely and would fail loudly on the 2714 re-create), and the
    * DECLARE itself becomes the `CREATE TABLE` form the temp-DDL
    * handler already owns ([[emptyFrameFor]], 2714 parity, never
    * commits). Scalar @variables are untouched — only names DECLAREd
    * as TABLE rewrite, at masked spans. Returns the rewritten
    * statements and the overlay names. */
  private def detv(ss: List[String]): (List[String], Set[String]) = {
    val names = ss.flatMap { s =>
      tableVarDeclRe.findFirstMatchIn(SqlLex.mask(s))
        .map(m => s.substring(m.start(1), m.end(1)).toLowerCase)
    }.toSet
    if (names.isEmpty) (ss, Set.empty)
    else {
      val tokRe = "@(\\w+)".r
      val rewritten = ss.map { s =>
        val msk = SqlLex.mask(s)
        val ms = tokRe.findAllMatchIn(msk)
          .filter(m => names(m.group(1).toLowerCase)).toList
        if (ms.isEmpty) s
        else {
          val sb = new StringBuilder
          var pos = 0
          ms.foreach { m =>
            sb.append(s.substring(pos, m.start))
            sb.append(TempPrefix + "tvar_" +
              s.substring(m.start + 1, m.end).toLowerCase)
            pos = m.end
          }
          sb.append(s.substring(pos))
          sb.toString
        }
      }.map { s =>
        ("(?is)^\\s*declare\\s+(" + TempPrefix + "tvar_\\w+)\\s+table\\s*" +
          "\\((.+)\\)\\s*;?\\s*$").r.replaceAllIn(s, m =>
          java.util.regex.Matcher.quoteReplacement(
            s"CREATE TABLE ${m.group(1)} (${m.group(2)})"))
      }
      (rewritten, names.map(n => TempPrefix + "tvar_" + n))
    }
  }

  /** Substitute every `@@ROWCOUNT` read with the literal `n`, splicing
    * at masked-twin spans (a literal containing "@@ROWCOUNT" is data). */
  private def substRowcount(s: String, n: Long): String = {
    val msk = SqlLex.mask(s)
    val ms = rowcountRe.findAllMatchIn(msk).toList
    if (ms.isEmpty) s
    else {
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { m =>
        sb.append(s.substring(pos, m.start)).append(n.toString)
        pos = m.end
      }
      sb.append(s.substring(pos))
      sb.toString
    }
  }

  /** `BEGIN TRY … END TRY BEGIN CATCH … END CATCH` — the T-SQL
    * error-handling dressing around ETL batches. The TRY body runs
    * through the normal sequential overlay; when a statement ABORTS
    * with a T-SQL-catchable error class ([[caughtMsg]]: the eager
    * 2714 re-create / 3701 missing drop / arity aborts, and the LAZY
    * 8672 multi-match guards, which a CATCH-bearing script forces at
    * each statement so they fire at their point of failure), the
    * effects of statements BEFORE the failing one stay staged (T-SQL
    * semantics without XACT_ABORT — the failing statement itself
    * staged nothing) and the CATCH body runs against that state with
    * `ERROR_MESSAGE()` substituted as the caught text. A CATCH
    * needing ROLLBACK still declines the whole task (the global
    * rollback rule); an exception INSIDE the catch body propagates as
    * T-SQL's does. */
  private val errMsgRe = "(?i)error_message\\s*\\(\\s*\\)".r

  /** Substitute every `ERROR_MESSAGE()` read with the caught text as a
    * quoted literal (masked spans — a literal containing the call text
    * is data). */
  private def substErrMsg(s: String, msg: String): String = {
    val msk = SqlLex.mask(s)
    val ms = errMsgRe.findAllMatchIn(msk).toList
    if (ms.isEmpty) s
    else {
      val lit = "'" + msg.replace("'", "''") + "'"
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { m =>
        sb.append(s.substring(pos, m.start)).append(lit)
        pos = m.end
      }
      sb.append(s.substring(pos))
      sb.toString
    }
  }

  /** The T-SQL-catchable message of an abort, or None for exception
    * classes a CATCH must NOT swallow (an engine bug propagates).
    * Catchable: the eager `require` aborts (IllegalArgumentException —
    * 2714 re-create, 3701 missing drop, arity/typo) and the LAZY
    * raise_error guards (MERGE/UPDATE…FROM 8672 multi-match), which
    * surface as a `SparkRuntimeException` with condition
    * USER_RAISED_EXCEPTION somewhere in the failure's cause chain once
    * the frame is forced (local-mode task failures arrive wrapped in
    * SparkException layers). */
  private def caughtMsg(e: Throwable): Option[String] = e match {
    // the engine's own eager `require` aborts fire synchronously on
    // the driver, so they arrive DIRECT — a nested IAE is some Spark
    // internal's (parquet/codegen/memory) and must NOT read as a
    // T-SQL-catchable error: only the lazy raise_error guards are
    // legitimately wrapped (in SparkException layers), and those carry
    // the USER_RAISED_EXCEPTION condition the chain walk matches below
    case i: IllegalArgumentException =>
      Some(Option(i.getMessage).getOrElse(""))
    case _ =>
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
        .collectFirst {
          case r: org.apache.spark.SparkThrowable
              if r.getCondition == "USER_RAISED_EXCEPTION" =>
            Option(r.getMessageParameters.get("errorMessage"))
              .getOrElse(Option(r.asInstanceOf[Throwable].getMessage)
                .getOrElse("").stripPrefix("[USER_RAISED_EXCEPTION] "))
        }
  }

  /** `DROP TABLE [IF EXISTS] graft_tmp_x` (post-[[detemp]] spelling) —
    * the early-free statement real temp-table scripts end with. */
  private val dropTempRe =
    ("(?is)^\\s*" + dropTableHead(TempPrefix + "\\w+") + "\\s*;?\\s*$").r

  /** `CREATE TABLE graft_tmp_x (col TYPE [NOT NULL], …)` — the other
    * canonical temp-table creation beside SELECT INTO. Scoped to TEMPS:
    * creating a real warehouse table by DDL stays manual review. */
  private val createTempRe =
    ("(?is)^\\s*" + createTableHead(TempPrefix + "\\w+") +
      "\\s*\\((.*)\\)\\s*;?\\s*$").r

  /** T-SQL column type → Spark SQL type for the temp-DDL compile and
    * the CONVERT translation ([[SqlText.translateConvert]]); None
    * declines the script (constraints, IDENTITY, computed columns…). */
  private[patterns] def sparkDdlType(t: String): Option[String] = {
    val m = "(?i)^([a-z0-9_]+)\\s*(?:\\(\\s*(\\d+|max)\\s*(?:,\\s*(\\d+)\\s*)?\\))?$"
      .r.findFirstMatchIn(t.trim).getOrElse(return None)
    val args = (Option(m.group(2)), Option(m.group(3)))
    m.group(1).toLowerCase match {
      case "int" => Some("INT")
      case "bigint" => Some("BIGINT")
      case "smallint" => Some("SMALLINT")
      case "tinyint" => Some("SMALLINT") // unsigned 0..255 widens
      case "bit" => Some("BOOLEAN")
      case "float" => Some("DOUBLE")
      case "real" => Some("FLOAT")
      case "decimal" | "numeric" => args match {
        case (Some(p), s) if p.forall(_.isDigit) =>
          Some(s"DECIMAL($p, ${s.getOrElse("0")})")
        case (None, _) => Some("DECIMAL(18, 0)")
        case _ => None
      }
      case "money" => Some("DECIMAL(19, 4)")
      case "smallmoney" => Some("DECIMAL(10, 4)")
      case "varchar" | "nvarchar" | "char" | "nchar" | "text" | "ntext" |
          "uniqueidentifier" | "sysname" => Some("STRING")
      case "datetime" | "datetime2" | "smalldatetime" | "datetimeoffset" =>
        Some("TIMESTAMP")
      case "date" => Some("DATE")
      case "varbinary" | "binary" | "image" => Some("BINARY")
      case _ => None
    }
  }

  /** Compile the temp-DDL column list to an empty, schema-true frame —
    * `SELECT CAST(NULL AS T) AS c, … WHERE false`. None (constraint
    * clauses, unmapped types) declines the script to manual review. */
  private def emptyFrameFor(spark: SparkSession, colDefs: String)
      : Option[DataFrame] = {
    val cols = SqlLex.splitTop(colDefs).map(_.trim)
    if (cols.isEmpty || cols.exists(_.isEmpty)) return None
    val fields = cols.map { c =>
      val m = "(?is)^([A-Za-z_][A-Za-z0-9_]*)\\s+(.+?)(?:\\s+(?:not\\s+)?null)?\\s*$"
        .r.findFirstMatchIn(c).getOrElse(return None)
      val tpe = sparkDdlType(m.group(2)).getOrElse(return None)
      s"CAST(NULL AS $tpe) AS ${m.group(1)}"
    }
    Some(spark.sql("SELECT " + fields.mkString(", ")).filter("false"))
  }

  /** A ROLLBACK anywhere outside the owned TRY/CATCH forms is CONTROL
    * FLOW (conditional undo this replay cannot express) — the whole
    * task declines to manual review, never a half-honored
    * transaction. */
  private val rollbackRe = "(?i)\\brollback\\b".r

  // ANCHORED per-statement twins of SqlPatternRewriter's order-blind
  // matchers (deleteTargetRe / truncateTargetRe / insertSelectRe): the
  // routing predicate below must classify exactly the scripts that
  // rewriter compiles to its overwrite, so these regex pairs track each
  // other — RefreshRoutingSpec-style coverage lives in PipelineSpec's
  // ScriptedSqlExecutor test; table-name normalization is the
  // rewriter's own sameTable.
  private val clearStmtRe =
    "(?is)^\\s*(?:delete\\s+from|truncate\\s+table)\\s+([^\\s(;]+)".r
  private val insertSelectStmtRe =
    "(?is)^\\s*insert\\s+into\\s+([^\\s(;]+)\\s*(?:\\([^)]*\\))?\\s*select\\b".r

  /** Clears (DELETE/TRUNCATE) followed by one INSERT…SELECT, with a
    * clear naming the insert target — SqlPatternRewriter's overwrite
    * class, the only script shape the whole-statement chain may own. */
  private[patterns] def isRefreshShape(stmts: List[String]): Boolean =
    stmts.length >= 2 && {
      val clears = stmts.init
        .map(clearStmtRe.findFirstMatchIn(_).map(_.group(1)))
      val ins = insertSelectStmtRe.findFirstMatchIn(stmts.last)
        .map(_.group(1))
      clears.forall(_.isDefined) && ins.isDefined &&
        clears.flatten.exists(c => SqlPatternRewriter.sameTable(c, ins.get))
    }

  /** What the executor does with a task text: the one parse-only
    * dispatch, read by the task function below and by the migration
    * ledger ([[graft.parser.MigrationMapping]]), so the two cannot
    * disagree about which tasks run. */
  sealed trait Route
  object Route {
    /** Manual review, and why. */
    final case class Decline(reason: String) extends Route
    /** A whole-task TRY/CATCH: the executable statements of each body
      * and what a caught abort undoes first. */
    final case class TryCatch(tryStmts: List[String], catchStmts: List[String],
        undo: Undo) extends Route
    /** A task rewritten into the statements a script runs. */
    sealed trait Rewritten extends Route { def stmts: List[String] }
    /** [[CursorLoopSqlCompiler]]'s set-based FETCH loop: the tree's
      * `DECLARE`s, `OPEN`, `FETCH`, `While(@@FETCH_STATUS = 0, body :+
      * FETCH)`, `CLOSE`, `DEALLOCATE`. */
    final case class Cursor(stmts: List[String]) extends Rewritten
    /** [[BatchedDmlLoopSqlCompiler]]'s fixpoint of a batched purge: the
      * tree's `While(1 = 1, [TOP (n) DML, If(@@ROWCOUNT = 0 → BREAK)])`. */
    final case class Batched(stmts: List[String]) extends Rewritten
    /** [[ProcInlineSqlCompiler]]'s inlined script-local procedures. */
    final case class ProcCalls(stmts: List[String]) extends Rewritten
    /** A counter WHILE, unrolled on the driver at run time: the tree's
      * statements then one `While` ([[WhileLoopSqlCompiler.loop]]). */
    final case class CounterWhile(loop: WhileLoopSqlCompiler.Loop) extends Route
    /** One plain statement for the compiler chain; `whole` when it is
      * the task's entire (comment-stripped) text. */
    final case class Single(stmt: String, whole: Boolean) extends Route
    /** Clears then one INSERT…SELECT: [[SqlPatternRewriter]]'s
      * overwrite, or the script when the rewriter declines. */
    final case class Refresh(stmts: List[String]) extends Route
    /** A sequenced script, and whether an explicit transaction bracket
      * was among its statements; `features` names the surfaces it uses
      * (read by the ledger only). */
    final case class Script(leaves: List[SqlBlocks.Leaf], hadTxn: Boolean)
        extends Route {
      def stmts: List[String] = leaves.map(_.text)
      lazy val features: List[String] = ScriptedSqlExecutor.features(leaves)
    }
  }

  /** What a TRY/CATCH's caught abort discards before its CATCH runs. */
  sealed trait Undo
  /** Nothing: pre-failure effects stay staged (no XACT_ABORT). */
  case object NoUndo extends Undo
  /** Every TRY effect: a CATCH leading with a bare ROLLBACK. */
  case object UndoAll extends Undo
  /** The effects after the TRY's `at`-th executable statement: a CATCH
    * leading with `ROLLBACK TRAN sp` for the TRY's one `SAVE TRAN sp`. */
  final case class UndoTo(at: Int) extends Undo

  import SqlBlocks.{BeginTran, Commit, If, Leaf, Node, Rollback, SaveTran, Stmt, Txn}

  /** A node list with every plain `BEGIN … END` block inlined (T-SQL
    * runs a block's statements in order; it opens no scope). */
  private def flatten(nodes: List[Node]): List[Node] = nodes.flatMap {
    case SqlBlocks.Block(b) => flatten(b)
    case n => List(n)
  }

  /** Does the TRY's transaction bracket EVERY TRY effect? The
    * all-or-nothing replay is sound ONLY then: in T-SQL a ROLLBACK
    * with no open transaction raises error 3903 (effects persist and
    * the rest of the CATCH is skipped), and statements before a
    * mid-TRY BEGIN TRAN are already committed — both diverge silently
    * from a whole-TRY discard. The TRY must LEAD with BEGIN TRAN (bare
    * or fused onto its first statement), open no second transaction,
    * and COMMIT at most once and only as its last statement. */
  private def tranBrackets(tb: List[Node]): Boolean =
    tb.headOption.contains(BeginTran) && !tb.tail.contains(BeginTran) && {
      val commits = tb.indices.filter(tb(_) == Commit)
      commits.isEmpty || commits == Seq(tb.size - 1)
    }

  /** The owned rollback forms of a TRY/CATCH (`rollbacks` counts every
    * ROLLBACK word of the task):
    *  - none at all, and no SAVE TRAN: nothing undone;
    *  - the all-or-nothing idiom: the CATCH's first statement is a
    *    bare ROLLBACK, the only one, and the TRY's transaction brackets
    *    every TRY effect ([[tranBrackets]]);
    *  - the savepoint suffix: `BEGIN TRAN; <prefix>; SAVE TRAN sp;
    *    <suffix>; COMMIT` in the TRY (its only savepoint), a CATCH
    *    leading with `ROLLBACK TRAN sp` (the only rollback) and ending
    *    with COMMIT (T-SQL: after rolling back to the savepoint the
    *    outer transaction is still open — only an explicit COMMIT makes
    *    the kept prefix durable; a catch that leaves it open rolls back
    *    everything at connection close, a meaning this replay will not
    *    guess). The savepoint's position is the number of executable
    *    TRY statements before it.
    * Any other placement is conditional undo: None. */
  private def undoOf(tb: List[Node], cb: List[Node], rollbacks: Int): Option[Undo] = {
    val saves = tb.indices.collect { case k if tb(k).isInstanceOf[SaveTran] => k }
    if (cb.exists(_.isInstanceOf[SaveTran])) None
    else (cb.headOption, saves) match {
      case (_, Seq()) if rollbacks == 0 => Some(NoUndo)
      case (Some(Rollback(None)), Seq()) if rollbacks == 1 && tranBrackets(tb) =>
        Some(UndoAll)
      case (Some(Rollback(Some(nm))), Seq(k)) if rollbacks == 1 &&
          tb(k) == SaveTran(nm) && tranBrackets(tb) && cb.lastOption.contains(Commit) =>
        Some(UndoTo(tb.take(k).count(_.isInstanceOf[Leaf])))
      case _ => None
    }
  }

  /** The surfaces a sequenced script uses, for the ledger's note. */
  private def features(leaves: List[Leaf]): List[String] = {
    val stmts = leaves.map(_.text)
    val msks = stmts.map(SqlLex.mask)
    val temp = stmts.exists(hasTempRef)
    val rc = msks.exists(rowcountRe.findFirstIn(_).isDefined)
    val sv = msks.exists(declareStmtRe.findFirstMatchIn(_).isDefined) &&
      msks.exists(m => selectAssignRe.findFirstMatchIn(m).isDefined ||
        setAssignRe.findFirstMatchIn(m).isDefined)
    val ddl = stmts.exists(s => AlterTableSqlCompiler.shapeMatches(s) ||
      NoopDdlSqlCompiler.shapeMatches(s))
    val tv = msks.exists(tableVarDeclRe.findFirstMatchIn(_).isDefined)
    val spOut = stmts.exists(ExecLiteralSqlCompiler.ownsOutputShape)
    val ladder = leaves.exists(_.isInstanceOf[If])
    List(
      temp -> "#temp scope (script-lifetime overlay tables)",
      tv -> "table variables (reduced to the temp overlay)",
      rc -> "@@ROWCOUNT substitution",
      sv -> "script-scoped scalar @vars (typed-literal binding)",
      ddl -> "migration DDL (ALTER ADD/DROP COLUMN execute)",
      spOut -> "sp_executesql OUTPUT (scalar copy-out write-back)",
      ladder -> ("IF ladders (BEGIN…END branches / ELSE IF cascade / " +
        "conditional assignment / RETURN early-exit / RAISERROR guards)"))
      .collect { case (true, f) => f }
  }

  private val scalarTokenRe = "(?<!@)@\\w+".r

  /** Parse the task text once and say what the executor does with it.
    * Shape-level: a statement may still fail to compile at run time
    * (and a WHILE may unroll past its bound), but every decline the
    * executor makes before running anything is a [[Route.Decline]]. */
  def route(sqlRaw: String): Route = {
    import Route._
    val text = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(text)
    val tree = SqlBlocks.parse(text).map(_.flatMap(_.body))
    val top = tree.map(flatten).getOrElse(Nil)
    val onePlain = top.filterNot(_.isInstanceOf[Txn]) match {
      case List(_: Stmt) => true
      case _ => false
    }
    val rollbacks = rollbackRe.findAllIn(msk).size
    def leavesOf(ns: List[Node]) = ns.collect { case l: Leaf => l }
    if (outOfTempScope(msk, onePlain))
      Decline("#temp state crosses the task boundary (a temp the task " +
        "does not create, or one plain statement naming a temp)")
    else tree match {
      case Right(List(SqlBlocks.TryCatch(t, c))) =>
        val (tb, cb) = (flatten(t), flatten(c))
        (tb ++ cb).find(n => !n.isInstanceOf[Leaf] && !n.isInstanceOf[Txn]) match {
          case Some(_) => Decline("nested control flow inside TRY/CATCH")
          case None =>
            val (ts, cs) = (leavesOf(tb), leavesOf(cb))
            if ((ts ++ cs).exists { case If(l, _) => l.hasReturn; case _ => false })
              Decline("RETURN inside TRY/CATCH: the batch exit is not this " +
                "replay's to arbitrate")
            else undoOf(tb, cb, rollbacks) match {
              case Some(u) => TryCatch(ts.map(_.text), cs.map(_.text), u)
              case None => Decline("ROLLBACK / SAVE TRAN outside the owned " +
                "all-or-nothing and savepoint-suffix forms")
            }
        }
      case _ if rollbacks > 0 =>
        Decline("ROLLBACK outside TRY/CATCH: conditional undo")
      case Right(ns) if SqlBlocks.walk(ns).exists(n =>
          n.isInstanceOf[SqlBlocks.TryCatch] || n.isInstanceOf[SaveTran]) =>
        Decline("TRY/CATCH or SAVE TRAN that is not the whole task")
      case Left(why) =>
        ProcInlineSqlCompiler.rewriteToScript(text).map(ProcCalls(_)).getOrElse(Decline(why))
      case Right(ns) =>
        CursorLoopSqlCompiler.loop(ns).map(Cursor(_))
          .orElse(BatchedDmlLoopSqlCompiler.loop(ns).map(s => Batched(List(s))))
          .orElse(ProcInlineSqlCompiler.rewriteToScript(text).map(ProcCalls(_)))
          .orElse(WhileLoopSqlCompiler.loop(ns).map(CounterWhile(_)))
          .getOrElse(if (top.exists(_.isInstanceOf[SqlBlocks.While]))
            Decline("a WHILE that is no cursor FETCH loop, batched purge or counter loop")
          else plain(text, top))
    }
  }

  /** A task of statements and IFs (transaction dressing dropped). */
  private def plain(text: String, top: List[Node]): Route = {
    import Route._
    val hadTxn = top.exists(n => n == BeginTran || n == Commit)
    val leaves = top.collect { case l: Leaf => l }
    val ladders = leaves.collect { case If(l, _) => l }
    def msk(s: String) = SqlLex.mask(s)
    if (leaves.exists(l => otherSysVarRe.findFirstIn(msk(l.text)).isDefined))
      Decline("@@ system variable this replay cannot produce")
    else if (hadTxn && ladders.exists(_.hasReturn))
      Decline("RETURN under an explicit transaction bracket")
    else leaves match {
      case List(Stmt(s)) if runsIf(s).isEmpty =>
        // a lone @@ read has no predecessor to count
        if (msk(s).contains("@@")) Decline("@@ROWCOUNT with no predecessor")
        else Single(s, s == text)
      case List(If(l, s)) if scalarTokenRe.findFirstIn(msk(s)).isDefined ||
          l.legs.exists {
            case (IfLadderSqlCompiler.ExistsPred(_, p), _) => msk(p).contains("@@")
            case (IfLadderSqlCompiler.ScalarPred(p), _) => msk(p).contains("@@")
          } =>
        Decline("a lone IF reading @variables no DECLARE binds, or a " +
          "predicate @@ROWCOUNT with no predecessor")
      case _ if !leaves.exists(l => hasTempRef(l.text)) &&
          isRefreshShape(leaves.map(_.text)) =>
        Refresh(leaves.map(_.text))
      case _ => Script(leaves, hadTxn)
    }
  }

  /** Build a task executor over the caller's written-state: `written`
    * maps a table name to the frame the caller holds for it (None when
    * it holds none — the session catalog is consulted next), `bareName`
    * strips schema/bracket decoration, `commit` lands a frame into the
    * written state. Statement text must already be parameter-bound and
    * bracket-translated by the caller. */
  def executor(spark: SparkSession,
      written: String => Option[DataFrame],
      bareName: String => String,
      commit: (String, DataFrame) => Unit)
      : ExecuteSqlTask => Option[SqlOutcome] = {

    // existence is asked of the catalog, never by analysing a missing
    // name: a failed analysis reaches every QueryExecutionListener
    // (Spark's ObservationManager then logs it as an ERROR)
    def lookup(name: String): Option[DataFrame] = written(name).orElse(
      if (scala.util.Try(spark.catalog.tableExists(name)).getOrElse(false))
        Some(spark.table(name))
      else None)
    def resolveFrame(name: String): DataFrame =
      lookup(name).getOrElse(throw new org.apache.spark.sql.AnalysisException(
        "TABLE_OR_VIEW_NOT_FOUND", Map("relationName" -> s"`$name`")))

    def chain(stmt: ExecuteSqlTask,
        resolve: String => DataFrame): Option[SqlOutcome] =
      MergeSqlCompiler.rewrite(spark, stmt, resolve)
        // OUTPUT…INTO must test first: the plain UPDATE regex would
        // swallow an OUTPUT clause into its SET list (it declines on
        // the keyword, but the clause is executable — own it here)
        .orElse(OutputIntoSqlCompiler.rewrite(spark, stmt, resolve))
        .orElse(UpdateSqlCompiler.rewrite(spark, stmt, resolve))
        .orElse(UpdateFromSqlCompiler.rewrite(spark, stmt, resolve))
        .orElse(DeleteSqlCompiler.rewrite(spark, stmt, resolve))
        .orElse(DeleteFromSqlCompiler.rewrite(spark, stmt, resolve))
        .orElse(InsertValuesSqlCompiler.rewrite(spark, stmt, resolve))
        .orElse(SelectIntoSqlCompiler.rewrite(spark, stmt, resolve))
        // migration DDL: ADD/DROP COLUMN execute so alter→backfill→drop
        // scripts run end-to-end (constraints/ALTER COLUMN decline)
        .orElse(AlterTableSqlCompiler.rewrite(spark, stmt, resolve))
        // physical-tuning DDL (CREATE/DROP INDEX, UPDATE STATISTICS):
        // zero relational content in a columnar engine — executed no-op
        .orElse(NoopDdlSqlCompiler.rewrite(stmt))
        // literal sp_executesql / EXEC('…') unwraps and re-enters (the
        // compiler bans EXEC towers, so this is one level)
        .orElse(ExecLiteralSqlCompiler.rewrite(spark, stmt, resolve,
          s => chain(s, resolve)))
        // IFs are the script sequencer's (compileOne's ladder handler):
        // one reaching here must not fall to the order-blind rewriter,
        // whose anywhere-matchers would compile the branch patterns
        // while ignoring the guard. Manual review, never a half-read.
        .orElse {
          if (IfLadderSqlCompiler.isIf(stmt.sqlStatement)) None
          else SqlPatternRewriter.rewrite(spark, stmt)
        }

    def script(bound: ExecuteSqlTask,
        stmts0: List[String],
        catchStmts0: Option[List[String]] = None,
        catchRollsBack: Boolean = false,
        savepointAt: Option[Int] = None,
        allowEarlyExit: Boolean = false): Option[SqlOutcome] = {
      // temp-table references rewrite ONCE, up front, so every statement
      // (and the overlay keys) speak the same overlay-safe names; catch
      // statements share the scope (a CATCH may log via the TRY's temp).
      // catchStmts0 is an OPTION: Some(Nil) is T-SQL's empty CATCH —
      // it still swallows the error — while None means no CATCH at all
      val (stmts, catchStmts, tempNames) = {
        // table variables reduce to the temp machinery FIRST (names
        // collected across try+catch so a CATCH can read the TRY's
        // table var, like temps), then #temps rewrite
        val (tvAll, tvNames) = detv(stmts0 ++ catchStmts0.getOrElse(Nil))
        val (tvStmts, tvCatch) = tvAll.splitAt(stmts0.length)
        val pairs = tvStmts.map(detemp)
        val cPairs = tvCatch.map(detemp)
        (pairs.map(_._1), cPairs.map(_._1),
          (pairs ++ cPairs).flatMap(_._2).toSet ++ tvNames)
      }
      val overlay = scala.collection.mutable.Map.empty[String, DataFrame]
      // a caller may have registered a same-named temp view BEFORE the
      // script runs; createOrReplaceTempView replaces it and the drop
      // below would then delete it outright — snapshot those frames now
      // and re-register them after the drop, so a caller binding views
      // once per run is not silently unbound by the first script task
      val shadowed = scala.collection.mutable.Map.empty[String, DataFrame]
      def snapshot(name: String): Unit =
        if (!overlay.contains(name) && !shadowed.contains(name))
          scala.util.Try(spark.catalog.getTable(name)).toOption
            .filter(_.isTemporary)
            .foreach { _ => shadowed(name) = spark.table(name) }
      def res(name: String): DataFrame =
        overlay.getOrElse(name, resolveFrame(name))
      def stageOne(tgt: String, df: DataFrame, mode: SaveMode): Unit = {
        val bare = bareName(tgt)
        snapshot(bare)
        overlay(bare) = mode match {
          case SaveMode.Append =>
            overlay.get(bare).orElse(lookup(bare))
              .map(_.unionByName(df)).getOrElse(df)
          case _ => df
        }
        overlay(bare).createOrReplaceTempView(bare)
      }
      def stage(o: SqlOutcome): Unit = {
        // OUTPUT…INTO side writes stage first — their frames were built
        // over the pre-statement state, and a later statement reading
        // the audit table must see the appended rows
        o.side.foreach { case (t, f, m) => stageOne(t, f, m) }
        for { tgt <- o.target; df <- o.df } stageOne(tgt, df, o.mode)
      }
      val outcomes = scala.collection.mutable.ListBuffer.empty[SqlOutcome]
      // the view drop must survive EXCEPTIONS, not just declines: a
      // compiler `require` or a unionByName schema mismatch thrown
      // mid-script becomes TaskStatus.Failed upstream, and a leaked
      // overlay view would feed the next run's spark.table fallback
      // with never-committed rows — try/finally, not happy-path cleanup
      // the previous statement's rows-affected thunk (memoized on first
      // read — several @@ROWCOUNT references in one statement must see
      // ONE consistent number, and counting is an action)
      var lastAffected: Option[() => Long] = None
      // q151 early-exit: a taken `IF <pred> RETURN` leg ends the batch
      // — the remaining script statements are SKIPPED (success, not
      // decline) and everything staged commits, T-SQL batch-exit
      // semantics. Set only when allowEarlyExit (no explicit
      // transaction bracket in the script — commit/rollback placement
      // under one is ambiguous and stays manual review).
      var earlyExit = false
      // mirror of runSeq's `catching` for statements the IF-ladder
      // handler sequences itself: inside a TRY the lazy abort guards
      // must be forced AT their statement (point-of-failure semantics)
      var forceFrames = false
      // script-scoped scalar @variables: declared names → current value
      // (NULL until assigned — T-SQL DECLARE semantics). Values bind
      // into later statements as typed literals the way the WHILE
      // unroller binds its counters; an assign FROM a query evaluates
      // against the CURRENT overlay state (a temp staged two statements
      // ago is visible), which is why this lives in the sequencing loop
      // and not in a pre-pass.
      val vars = scala.collection.mutable.Map.empty[String, Any]
      // declared Spark type per variable — every assignment casts to it
      // (T-SQL assignment semantics); populated only by the DECLARE
      // handler, so vars.contains(nm) implies varTypes.contains(nm)
      val varTypes = scala.collection.mutable.Map.empty[String, String]
      // declared char(n) caps: T-SQL VARIABLE ASSIGNMENT silently
      // truncates to the declared length (no 8152 — that is an
      // INSERT/UPDATE contract), so a @v VARCHAR(3) assigned 'abcdef'
      // holds 'abc'; sparkDdlType maps every char type to unbounded
      // STRING, so the cap rides separately and applies at each
      // assignment (ExecLiteralSqlCompiler.charCap, the
      // TsqlConcatFold silent-truncation contract)
      val varCaps = scala.collection.mutable.Map.empty[String, Int]
      def capVal(nm: String, v: Any): Any = v match {
        case s: String =>
          varCaps.get(nm).fold[Any](s)(n => SqlText.charTrunc(s, n))
        case x => x
      }
      // binding uses the shared typed-literal form; a value with no
      // safe spelling (SqlText.sqlLit → None) throws UnbindableLiteral
      // and runSeq declines the script — never a toString splice
      def bindVars(e: String): String =
        SqlLex.mapCode(e)(scalarVarRe.replaceAllIn(_, m =>
          vars.get(m.group(1).toLowerCase) match {
            case Some(v) => java.util.regex.Matcher
              .quoteReplacement(SqlText.sqlLitOrDecline(v))
            case None => m.matched // undeclared: left for the gate below
          }))
      def evalScalar(boundExpr: String): Any =
        graft.expr.LocalEval.sql(spark, boundExpr)
      // T-SQL `+` over string fragments is CONCATENATION; Spark's `+`
      // is arithmetic (ANSI error on strings). A bound RHS that folds
      // as a constant string concat ([[TsqlConcatFold]] — the
      // `SET @sql = '…' + CAST(@k AS VARCHAR(10))` dynamic-SQL builder)
      // assigns its exact T-SQL text; everything else evaluates as
      // before. Numeric `+` never folds (bare numerics are not
      // foldable fragments), so arithmetic is untouched.
      def evalAssign(bound: String, tpe: String): Any =
        TsqlConcatFold.fold(bound) match {
          case Some(txt) =>
            evalScalar(s"CAST(${SqlText.sqlLitOrDecline(txt)} AS $tpe)")
          case None => evalScalar(s"CAST(($bound) AS $tpe)")
        }
      // T-SQL casts to the declared type AT assignment — a DATETIME
      // variable assigned a string literal holds a timestamp, and its
      // later bindings compare as one
      def castTo(v: Any, tpe: String): Any =
        if (v == null) null
        else evalScalar(s"CAST(${SqlText.sqlLitOrDecline(v)} AS $tpe)")
      def compileOne(s0: String): Option[SqlOutcome] = {
        val msk0 = SqlLex.mask(s0)
        // @@IDENTITY/@@ERROR/@@TRANCOUNT…: state this replay cannot
        // produce — decline the whole script, never substitute garbage
        if (otherSysVarRe.findFirstIn(msk0).isDefined) return None
        // dynamic SQL whose text is an IF (`EXEC('IF …')`, the
        // parameterized sp_executesql form): unwrap it — declared @vars
        // bound first, as the arguments need — and run the inner text
        // through the IF handler below (one level: no EXEC towers)
        if (ExecLiteralSqlCompiler.execHeadRe.findFirstIn(msk0).isDefined)
          runsIf(bindVars(s0)).foreach { in =>
            // the dynamic batch is its own scope: the caller's @vars
            // are not visible in it (T-SQL Msg 137), and its RETURN
            // ends only the dynamic batch — an inner text naming any
            // @variable or @@read, or carrying a RETURN leg, declines:
            // never the caller's state, never the caller's batch exit
            if (SqlLex.mask(in).contains('@') ||
                IfLadderSqlCompiler.parse(in).forall(_.hasReturn))
              return None
            return compileOne(in)
          }
        // IF LADDERS — every IF: ELSE IF cascades, BEGIN…END branch
        // lists, conditional SET/SELECT-assign legs, RAISERROR guards
        // and the top-level early-exit RETURN leg. Each predicate folds
        // eagerly through bindVars (an unfoldable predicate — a
        // surviving @token — declines the whole script, never
        // guesses), and the first true leg's statements run through
        // this same compileOne so assignments mutate `vars` and DML
        // stages through the overlay. This handler parses the RAW text
        // and runs BEFORE the whole-statement @@ROWCOUNT substitution:
        // a PREDICATE read substitutes the pre-IF count below, while a
        // read inside a branch statement substitutes at ITS point in
        // the branch sequence via the recursion — a branch DML between
        // them must be visible to the later read, T-SQL point-of-read
        // semantics. An IF the ladder cannot parse declines.
        if (IfLadderSqlCompiler.isIf(s0)) {
          IfLadderSqlCompiler.parse(s0) match {
            case None => return None
            case Some(l) =>
              // a RETURN leg under an explicit transaction bracket (or
              // in a TRY body / emitted loop body, where batch exit is
              // not this script's to decide) declines SHAPE-level:
              // both directions of the guard must be ownable, so a
              // data flip cannot turn a working package into a
              // failing one
              if (l.hasReturn && !allowEarlyExit) return None
              def foldPredText(raw: String): String =
                if (rowcountRe.findFirstIn(
                    SqlLex.mask(raw)).isEmpty) raw
                else lastAffected match {
                  case Some(f) => substRowcount(raw, f())
                  case None => return null // no countable predecessor
                }
              def fold(p: IfLadderSqlCompiler.Pred): Option[Boolean] = {
                val raw = p match {
                  case IfLadderSqlCompiler.ExistsPred(_, probe) => probe
                  case IfLadderSqlCompiler.ScalarPred(e) => e
                }
                val rc = foldPredText(raw)
                if (rc == null) return None
                val b = bindVars(rc)
                if (scalarVarRe.findFirstIn(
                    SqlLex.mask(b)).isDefined) None
                else p match {
                  case IfLadderSqlCompiler.ExistsPred(neg, _) =>
                    Some((!SqlPatternRewriter.runSelect(spark, b)
                      .limit(1).isEmpty) != neg)
                  case _: IfLadderSqlCompiler.ScalarPred =>
                    Some(SqlPatternRewriter.predicateHolds(spark, b))
                }
              }
              // first-match cascade: probe legs in order until one
              // fires (T-SQL's ELSE IF is sequential, not nested);
              // legs past the taken one never evaluate
              var taken: Option[IfLadderSqlCompiler.Branch] = None
              var decided = false
              l.legs.foreach { case (p, br) =>
                if (!decided) fold(p) match {
                  case None => return None
                  case Some(true) => decided = true; taken = Some(br)
                  case Some(false) => ()
                }
              }
              if (!decided) taken = l.otherwise
              taken match {
                case None =>
                  // untaken with no ELSE: vacuous success; the count is
                  // not this replay's to state
                  lastAffected = None
                  return Some(SqlOutcome(None, None))
                case Some(IfLadderSqlCompiler.Break) => return None // only a batched purge owns one
                case Some(IfLadderSqlCompiler.ReturnExit) =>
                  earlyExit = true
                  return Some(SqlOutcome(None, None))
                case Some(IfLadderSqlCompiler.Raise(args)) =>
                  // the validation guard: severity ≥ 11 aborts the
                  // task (T-SQL-catchable, so a TRY/CATCH script
                  // catches it and ERROR_MESSAGE binds the text); ≤ 10
                  // is informational and the batch continues
                  val bound = bindVars(args)
                  if (scalarVarRe.findFirstIn(
                      SqlLex.mask(bound)).isDefined)
                    return None
                  val parts = SqlLex.splitTop(bound)
                  val severity = parts.lift(1)
                    .flatMap(_.trim.toIntOption).getOrElse(16)
                  if (severity >= 11)
                    throw new IllegalArgumentException(
                      "RAISERROR: " + parts.headOption
                        .map(IfLadderSqlCompiler.raiseMsg).getOrElse("")
                        + s" (severity $severity)")
                  lastAffected = None
                  return Some(SqlOutcome(None, None))
                case Some(IfLadderSqlCompiler.Stmts(ss)) =>
                  var lastDf: Option[DataFrame] = None
                  ss.foreach { s =>
                    compileOne(s) match {
                      case Some(o) =>
                        if (forceFrames)
                          (o.side.map(_._2) ++ o.df).foreach(_.foreach(_ => ()))
                        stage(o); outcomes += o; lastDf = o.df
                      case None => return None
                    }
                  }
                  // the wrapper stages nothing itself (target None,
                  // no side writes) but carries the last inner frame
                  // so a result-set-final branch still binds. Under a
                  // CATCH, runSeq re-forces this frame (one bounded
                  // recompute per ladder statement) — load-bearing
                  // exactness: each inner frame must force BEFORE its
                  // own stage() so a lazy abort fires at its statement
                  // with that statement's effects unstaged, and the
                  // wrapper cannot know its frame was the last forced
                  return Some(SqlOutcome(lastDf, None))
              }
          }
        }
        val sRc =
          if (rowcountRe.findFirstIn(msk0).isEmpty) s0
          else lastAffected match {
            case Some(f) => substRowcount(s0, f())
            case None => return None // read with no countable predecessor
          }
        val mskRc = SqlLex.mask(sRc)
        declareStmtRe.findFirstMatchIn(mskRc).foreach { m =>
          val items = SqlLex.splitTop(
            sRc.substring(m.start(1), m.end(1)))
          // every item must parse as @name TYPE [= init] with a MAPPED
          // type or the whole script declines (half a DECLARE is no
          // DECLARE; an unmapped type — TABLE variables, sql_variant,
          // CURSOR — is state this replay cannot model)
          val parsed = items.map(i =>
            declareItemRe.findFirstMatchIn(i.trim).flatMap { im =>
              val rawType = i.trim.substring(im.start(2), im.end(2))
              sparkDdlType(rawType)
                .map(tpe => (im.group(1).toLowerCase, tpe, rawType,
                  Option(im.group(3)).map(_ =>
                    i.trim.substring(im.start(3), im.end(3)))))
            })
          if (parsed.exists(_.isEmpty)) return None
          var inited = false
          parsed.flatten.foreach { case (nm, tpe, rawType, initOpt) =>
            val bound = initOpt.map(bindVars)
            if (bound.exists(b =>
                scalarVarRe.findFirstIn(SqlLex.mask(b)).isDefined))
              return None // init references an undeclared variable
            varTypes(nm) = tpe
            // re-DECLARE replaces the cap wholesale: a second DECLARE
            // with an uncapped type (VARCHAR(MAX) after VARCHAR(2) —
            // legal T-SQL, and ProcInline flattens batches into one
            // executor scope) must CLEAR the stale cap, not keep
            // silently truncating at the old length
            varCaps -= nm
            ExecLiteralSqlCompiler.charCap(rawType)
              .foreach(varCaps(nm) = _)
            vars(nm) = capVal(nm, bound.map(b => evalAssign(b, tpe)).orNull)
            inited |= bound.isDefined
          }
          // a DECLARE with an initializer is a simple assignment
          // (@@ROWCOUNT = 1); a bare DECLARE leaves the count alone
          if (inited) lastAffected = Some(() => 1L)
          return Some(SqlOutcome(None, None))
        }
        selectAssignRe.findFirstMatchIn(mskRc).foreach { m =>
          val nm = sRc.substring(m.start(1), m.end(1)).toLowerCase
          val rhsRaw = sRc.substring(m.start(2), m.end(2))
          val rhsMsk = mskRc.substring(m.start(2), m.end(2))
          // undeclared target, a second assignment target (multi-assign),
          // or a left-side @var comparison: decline, never half-bind
          if (!vars.contains(nm) ||
            innerAssignRe.findFirstIn(rhsMsk).isDefined) return None
          val bound = bindVars(rhsRaw)
          if (scalarVarRe.findFirstIn(SqlLex.mask(bound))
              .isDefined) return None
          if (fromKeywordRe.findFirstIn(rhsMsk).isEmpty) {
            // pure expression assign — FROM-less, one row by construction
            vars(nm) = capVal(nm, evalAssign(bound, varTypes(nm)))
            lastAffected = Some(() => 1L)
          } else {
            // scalar assign from a query, evaluated on the CURRENT
            // overlay state. T-SQL: zero rows leave the variable
            // unchanged; several rows assign an arbitrary last row —
            // this engine refuses to choose (decline, nothing commits)
            val rows = SqlPatternRewriter
              .runSelect(spark, "SELECT " + bound).limit(2).collect()
            if (rows.length > 1) return None
            rows.headOption.foreach(r =>
              vars(nm) = capVal(nm, castTo(r.get(0), varTypes(nm))))
            val n = rows.length.toLong
            lastAffected = Some(() => n)
          }
          return Some(SqlOutcome(None, None))
        }
        setAssignRe.findFirstMatchIn(mskRc).foreach { m =>
          val nm = sRc.substring(m.start(1), m.end(1)).toLowerCase
          val rhsRaw = sRc.substring(m.start(2), m.end(2))
          val rhsMsk = mskRc.substring(m.start(2), m.end(2))
          // SET is the FROM-less form (T-SQL: SET takes one expression;
          // subquery SETs stay manual review)
          if (!vars.contains(nm) ||
            fromKeywordRe.findFirstIn(rhsMsk).isDefined ||
            innerAssignRe.findFirstIn(rhsMsk).isDefined) return None
          val bound = bindVars(rhsRaw)
          if (scalarVarRe.findFirstIn(SqlLex.mask(bound))
              .isDefined) return None
          vars(nm) = capVal(nm, evalAssign(bound, varTypes(nm)))
          lastAffected = Some(() => 1L)
          return Some(SqlOutcome(None, None))
        }
        // parameterized sp_executesql with scalar OUTPUT parameter(s)
        // (r16; generalized to N in r17) — the counts-into-variables
        // logging idiom and its `@rows OUTPUT, @err OUTPUT` pair:
        // `EXEC sp_executesql N'SELECT @c = …[, @s = …]', N'@p INT,
        // @c INT OUTPUT, @s … OUTPUT', @p = …, @c = @n OUTPUT, @s = @m
        // OUTPUT`. This must run BEFORE the generic literal binding
        // below: the OUT arguments are the write-back TARGETS, so they
        // have to stay variable references. Copy-in/copy-out like
        // T-SQL: the inner statement sees each caller's current value;
        // each final parameter value casts back through the
        // parameter's declared type and char cap, then through the
        // CALLER's. Owned shape: the inner a single `SELECT @o1 =
        // e1[, @o2 = e2 …] [FROM …]` assigning every OUT parameter
        // exactly once with no RHS reading ANOTHER target
        // ([[ExecLiteralSqlCompiler.parseOutputInner]] — left-to-right
        // chaining a parallel copy-in replay cannot reproduce); a
        // FROM-query assigning zero rows leaves every variable
        // unchanged and several rows decline (the script SELECT-assign
        // contract). A FROM-bearing inner evaluates ONE query over all
        // expressions — the same single row feeds every write-back.
        val peOpt =
          if ("(?is)\\bsp_executesql\\b".r.findFirstIn(mskRc).isDefined &&
              "(?i)\\b(?:output|out)\\b".r.findFirstIn(mskRc).isDefined)
            ExecLiteralSqlCompiler.parseParameterizedOutput(sRc)
          else None // a parse miss falls through to the literal path
        peOpt.foreach { pe =>
          val outs = pe.decls.filter(_._4)
          val outNames = outs.map(_._1).toSet
          val declsByName = pe.decls.map(d => d._1 -> d).toMap
          if (pe.args.map(_._1).distinct.size != pe.args.size ||
              pe.args.map(_._1).toSet != pe.decls.map(_._1).toSet)
            return None
          // OUTPUT keyword on a non-OUT parameter: T-SQL 8162 — decline
          if (pe.args.exists(a => a._3 && !declsByName(a._1)._4)) return None
          // every OUT argument must be a DECLARED variable marked
          // OUTPUT (a literal there is T-SQL error 179; an unmarked
          // variable would silently never receive the value — decline
          // both)
          val outVars = outs.map { o =>
            val outArg = pe.args.find(_._1 == o._1).get
            if (!outArg._3 || !outArg._2.matches("(?s)^@\\w+$")) return None
            val v = outArg._2.substring(1).toLowerCase
            if (!vars.contains(v)) return None
            o._1 -> v
          }.toMap
          // IN arguments bind as typed literals (literal or declared
          // @var, the bindVars pass), with the parameter's char cap
          val inBind = pe.args.filterNot(a => outNames(a._1)).map {
            case (n, vTxt, _) =>
              val bound = bindVars(vTxt).trim
              val bm = SqlLex.mask(bound).trim
              if (ExecLiteralSqlCompiler.litArgMskRe.findFirstIn(bm).isEmpty)
                return None
              val (_, tpe, cap, _) = declsByName(n)
              val lit =
                if (bound.matches("(?is)^N?'.*'$")) {
                  val body = bound.replaceFirst("(?is)^N", "")
                  val v0 = body.substring(1, body.length - 1)
                    .replace("''", "'")
                  SqlText.sqlLitOrDecline(
                    cap.fold(v0)(c => SqlText.charTrunc(v0, c)))
                } else bound
              n -> s"CAST($lit AS $tpe)"
          }.toMap
          // the inner: one SELECT assigning every OUT param exactly
          // once (shape gates shared with the classification twin)
          val (assigns, fromTail) = ExecLiteralSqlCompiler
            .parseOutputInner(pe.inner).getOrElse(return None)
          if (assigns.map(_._1).toSet != outNames) return None
          // copy-in: each OUT param's occurrences read the caller's
          // current value, cast to the parameter's declared type WITH
          // its char(n) cap — T-SQL truncates at parameter assignment,
          // entry and exit alike
          val copyIns = outs.map { case (n, tpe, cap, _) =>
            n -> (castTo(vars(outVars(n)), tpe) match {
              case s: String => cap.fold[Any](s)(c => SqlText.charTrunc(s, c))
              case x => x
            })
          }.toMap
          val allBind = inBind ++ copyIns.map { case (n, v) =>
            n -> SqlText.sqlLitOrDecline(v) }
          def bindOut(txt: String): String =
            SqlLex.mapCode(txt)("@(\\w+)".r.replaceAllIn(_, rm =>
              allBind.get(rm.group(1).toLowerCase) match {
                case Some(b) => java.util.regex.Matcher.quoteReplacement(b)
                case None => rm.matched
              }))
          val boundRhs = assigns.map { case (nm, rhs) =>
            val b = bindOut(rhs)
            if ("@\\w+".r.findFirstIn(
                SqlLex.mask(b)).isDefined) return None
            nm -> b
          }
          def writeBack(outName: String, v: Any): Unit = {
            val (_, outTpe, outCap, _) = declsByName(outName)
            val pv = castTo(v, outTpe) match {
              case s: String => outCap.fold[Any](s)(c => SqlText.charTrunc(s, c))
              case x => x
            }
            val cv = outVars(outName)
            vars(cv) = capVal(cv, castTo(pv, varTypes(cv)))
          }
          fromTail match {
            case None =>
              // evalAssign, not bare evalScalar: a constant T-SQL `+`
              // string concatenation in the inner folds exactly as
              // every other assignment path folds it (SET/DECLARE/
              // SELECT-assign). Independent evaluation is EXACT here:
              // the no-cross-reference gate means every RHS reads only
              // copy-in state, never another assignment's result.
              boundRhs.foreach { case (nm, b) =>
                writeBack(nm, evalAssign(b, declsByName(nm)._2)) }
              lastAffected = Some(() => 1L)
            case Some(fromRaw) =>
              val boundFrom = bindOut(fromRaw)
              if ("@\\w+".r.findFirstIn(
                  SqlLex.mask(boundFrom)).isDefined) return None
              val rows = SqlPatternRewriter.runSelect(spark,
                  "SELECT " + boundRhs.map(_._2).mkString(", ") +
                    " " + boundFrom)
                .limit(2).collect()
              if (rows.length > 1) return None
              rows.headOption.foreach(r =>
                boundRhs.zipWithIndex.foreach { case ((nm, _), i) =>
                  writeBack(nm, r.get(i)) })
              val n = rows.length.toLong
              lastAffected = Some(() => n)
          }
          return Some(SqlOutcome(None, None))
        }: Unit
        // every other statement: bind declared @vars as typed literals;
        // an @reference that survives binding is undeclared — decline
        // the whole script rather than hand a compiler a bare @token
        val sV = if (vars.isEmpty) sRc else bindVars(sRc)
        // parameterized sp_executesql expands BEFORE the gate: its own
        // @params are named in the statement text by design (the gate
        // would read them as unbound), and with the script's @vars
        // already literal-bound above, `@p = @declaredVar` arguments
        // are literals by now — the expansion yields one fully-bound
        // inner statement that re-enters this sequencer
        val s = ExecLiteralSqlCompiler.bindParameterized(sV) match {
          case Some(inner) => inner
          case None => sV
        }
        if (scalarVarRe.findFirstIn(SqlLex.mask(s)).isDefined)
          return None
        dropTempRe.findFirstMatchIn(SqlLex.mask(s)) match {
          case Some(d) if tempNames(d.group(2).toLowerCase) =>
            val nm = d.group(2).toLowerCase
            // a plain DROP of a temp that is not live errors in T-SQL;
            // IF EXISTS makes it a no-op
            require(overlay.contains(nm) || d.group(1) != null,
              s"DROP TABLE ${nm}: cannot drop the table because it " +
                "does not exist (T-SQL error 3701) — use IF EXISTS")
            // early free: the name is reusable afterwards (2714 clears)
            overlay.remove(nm)
              .foreach(_ => spark.catalog.dropTempView(nm): Unit)
            lastAffected = Some(() => 0L) // DDL sets @@ROWCOUNT to 0
            return Some(SqlOutcome(None, None))
          case _ => ()
        }
        createTempRe.findFirstMatchIn(SqlLex.mask(s)) match {
          case Some(c) if tempNames(c.group(1).toLowerCase) =>
            val nm = c.group(1).toLowerCase
            require(!overlay.contains(nm),
              s"CREATE TABLE ${nm}: there is already an object named " +
                s"'${nm}' (T-SQL error 2714)")
            return emptyFrameFor(spark, s.substring(c.start(2), c.end(2)))
              .map { f =>
                lastAffected = Some(() => 0L)
                SqlOutcome(Some(f), Some(nm), SaveMode.Overwrite)
              }
          case _ => ()
        }
        val out = chain(bound.copy(sqlStatement = s), res)
        out.foreach(o => lastAffected = o.affected)
        out
      }
      try {
        // short-circuit on the first unconvertible statement: a later
        // statement may reference a table an earlier one creates, so
        // compiling past a failure is meaningless. With a CATCH
        // present, each statement's frames are FORCED before staging:
        // the lazy abort guards (the 8672 multi-match class rides
        // raise_error columns that only fire at materialization) must
        // surface AT their statement — T-SQL point-of-failure
        // semantics, and the failing statement stages nothing. Without
        // a CATCH the laziness is observable only as failure timing,
        // so the forcing cost is not paid.
        // the savepoint snapshot: overlay/outcome/@@ROWCOUNT state at
        // the SAVE TRAN point, captured when the TRY's sequencer
        // reaches savepointAt; None until then (an abort BEFORE the
        // savepoint leaves the CATCH's ROLLBACK TRAN sp with nothing
        // to roll back to — T-SQL error 6401, the task fails)
        var spState: Option[(Map[String, DataFrame], List[SqlOutcome],
          Option[() => Long])] = None
        def runSeq(ss: List[String], catching: Boolean,
            trySeq: Boolean = false): Boolean =
          ss.zipWithIndex.forall { case (s, i) =>
            forceFrames = catching
            // a taken RETURN leg ended the batch: the remaining
            // statements are skipped, staged state commits (q151)
            if (earlyExit) true
            else {
            if (trySeq && savepointAt.contains(i))
              spState = Some((overlay.toMap, outcomes.toList, lastAffected))
            (try compileOne(s) catch {
              // a bound variable with no safe literal form: decline
              case _: SqlText.UnbindableLiteral => None
            }) match {
              case Some(o) =>
                if (catching)
                  (o.side.map(_._2) ++ o.df).foreach(_.foreach(_ => ()))
                stage(o); outcomes += o; true
              case None => false
            }
            }
          }
        val allOk =
          if (catchStmts0.isEmpty) runSeq(stmts, catching = false)
          else
            try runSeq(stmts, catching = true, trySeq = true)
            catch {
              case e: Exception if caughtMsg(e).isDefined =>
                // a T-SQL-catchable abort (eager 2714/3701/arity…, or
                // a forced lazy guard — 8672 multi-match). Default:
                // keep the pre-failure staged state (T-SQL without
                // XACT_ABORT). With a CATCH-leading ROLLBACK, the
                // TRY's staged effects are DISCARDED first — the
                // all-or-nothing idiom: drop the overlay views,
                // restore anything they shadowed, and reset the
                // outcome ledger; script @variables persist across a
                // ROLLBACK exactly as in T-SQL, and @@ROWCOUNT reads 0
                if (catchRollsBack) {
                  overlay.keys.foreach(k =>
                    spark.catalog.dropTempView(k): Unit)
                  shadowed.foreach { case (k, f) =>
                    f.createOrReplaceTempView(k) }
                  overlay.clear()
                  outcomes.clear()
                  lastAffected = Some(() => 0L)
                } else if (savepointAt.isDefined) spState match {
                  // savepoint-suffix form: ROLLBACK TRAN sp discards
                  // only the effects staged AFTER the SAVE TRAN —
                  // restore the snapshot, keep the prefix
                  case Some((spO, spOut, _)) =>
                    overlay.keys.foreach(k =>
                      spark.catalog.dropTempView(k): Unit)
                    shadowed.foreach { case (k, f) =>
                      f.createOrReplaceTempView(k) }
                    overlay.clear(); overlay ++= spO
                    spO.foreach { case (k, f) =>
                      f.createOrReplaceTempView(k) }
                    outcomes.clear(); outcomes ++= spOut
                    // the prefix's @@ROWCOUNT is gone: ROLLBACK reads 0
                    lastAffected = Some(() => 0L)
                  case None =>
                    // the abort came BEFORE the savepoint existed: the
                    // CATCH's ROLLBACK TRAN sp raises T-SQL 6401 and
                    // the rest of the CATCH never runs — the task
                    // fails, nothing commits
                    throw new IllegalStateException(
                      "ROLLBACK TRANSACTION: cannot roll back to the " +
                        "savepoint — no savepoint of that name was " +
                        "reached before the abort (T-SQL error 6401)", e)
                }
                runSeq(catchStmts.map(substErrMsg(_, caughtMsg(e).get)),
                  catching = true)
            }
        if (!allOk) None
        else {
          // temp tables never commit: script end IS the T-SQL scope exit
          overlay.foreach { case (k, v) => if (!tempNames(k)) commit(k, v) }
          // writes are committed; hand the runner a write-free outcome
          // carrying the final statement's frame (result-set binding);
          // an empty-catch swallow can leave NO outcomes — still success
          Some(SqlOutcome(outcomes.lastOption.flatMap(_.df), None))
        }
      } finally {
        overlay.keys.foreach(k => spark.catalog.dropTempView(k): Unit)
        // restore any pre-existing temp views the overlay replaced
        shadowed.foreach { case (k, f) => f.createOrReplaceTempView(k) }
      }
    }

    bound => {
      def run(ss: List[String], allowEarlyExit: Boolean = false) =
        if (ss.isEmpty) Some(SqlOutcome(None, None)) // vacuous success
        else script(bound, ss, allowEarlyExit = allowEarlyExit)
      route(bound.sqlStatement) match {
        case Route.Decline(_) => None
        case Route.TryCatch(Nil, _, _) => Some(SqlOutcome(None, None))
        case Route.TryCatch(ts, cs, undo) =>
          script(bound, ts, Some(cs), catchRollsBack = undo == UndoAll,
            savepointAt = undo match {
              case UndoTo(k) => Some(k)
              case _ => None
            })
        case r: Route.Rewritten => run(r.stmts)
        // the driver evaluates the loop's control flow; the emitted body
        // statements run through the script overlay like any hand-written
        // batch (so #temp / @@ROWCOUNT compose); predicate false at entry
        // = vacuous success, T-SQL skips the body
        case Route.CounterWhile(l) =>
          WhileLoopSqlCompiler.unroll(spark, l).flatMap(run(_))
        // a statement text that DIVERGED from the whole stripped text
        // must be what the chain compiles; only a truly untouched task
        // keeps its ORIGINAL text (compilers strip comments themselves)
        case Route.Single(s, whole) =>
          chain(if (whole) bound else bound.copy(sqlStatement = s), resolveFrame)
        case Route.Refresh(ss) =>
          chain(bound.copy(sqlStatement = ss.mkString(";\n")), resolveFrame)
            .orElse(script(bound, ss))
        // an explicit transaction bracket anywhere bars the RETURN
        // early-exit leg: whether staged state commits at the exit point
        // is the bracket's call, not this replay's (q151)
        case s: Route.Script => run(s.stmts, allowEarlyExit = !s.hadTxn)
      }
    }
  }
}
