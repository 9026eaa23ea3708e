package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** `ALTER TABLE … ADD / DROP COLUMN` → Spark compile — the schema-
  * migration DDL every estate's upgrade scripts carry around their DML
  * (add the column, backfill it, drop the old one). The reference
  * classifies DDL to manual review wholesale; here the two mechanical
  * forms EXECUTE as state replacements, so a whole migration script
  * (ALTER → UPDATE backfill → ALTER DROP) runs end-to-end:
  *
  * {{{
  * ALTER TABLE t ADD <col> <type> [NULL | NOT NULL] [DEFAULT <lit>]
  * ALTER TABLE t DROP COLUMN <col>
  * ALTER TABLE t ALTER COLUMN <col> <type> [NULL | NOT NULL]
  * }}}
  *
  * ADD appends a typed column as one narrow projection (no shuffle at
  * any scale). The backfill follows T-SQL exactly: EXISTING rows take
  * the DEFAULT only for a `NOT NULL` add or an explicit `WITH VALUES`;
  * a plain nullable add — with or without a DEFAULT — backfills NULL
  * (T-SQL applies a nullable column's default to future inserts only). T-SQL parity errors
  * hold eagerly: adding a column that exists is error 2705; `NOT
  * NULL` without DEFAULT on a non-empty table is error 4901; DROP or
  * ALTER COLUMN of a missing column is error 4924.
  *
  * ALTER COLUMN re-types in place as the same narrow projection, and
  * T-SQL conversion parity holds LAZILY (the raise_error-column
  * convention of the 8672 multi-match guards): a non-NULL value the
  * new type cannot represent aborts the script at materialization —
  * T-SQL 245/8114 conversion failure / 8115 overflow — instead of
  * Spark's silent NULL; a char(n) target whose new length any
  * existing value exceeds aborts with the error-8152 contract
  * (string-to-string re-types can never fail the cast, so the length
  * guard is the only thing standing between a narrowing ALTER and a
  * silent divergence; trailing blanks trim SILENTLY first, per
  * T-SQL, and a numeric source that doesn't fit reports 8115
  * arithmetic overflow, not 8152); `NOT NULL` with an existing NULL aborts with
  * the error-515 contract. The cast itself is exactly what an
  * authored migration would write; what stays declined is anything
  * BEYOND the cast: COLLATE clauses, IDENTITY, constraints.
  *
  * Declined to manual review: multi-column ADDs, constraints
  * (PRIMARY KEY / FOREIGN KEY / CHECK / IDENTITY — relational
  * contracts this engine verifies at the validation plane instead),
  * non-literal defaults, and unmapped types. */
object AlterTableSqlCompiler {

  private val addRe =
    ("(?is)^\\s*alter\\s+table\\s+([^\\s;]+)\\s+add\\s+(\\w+)\\s+" +
      "([A-Za-z]\\w*(?:\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?)" +
      "(\\s+not\\s+null|\\s+null)?" +
      "(?:\\s+default\\s+('[^']*'|[^\\s;()]+))?" +
      "(\\s+with\\s+values)?\\s*;?\\s*$").r

  private val dropRe =
    ("(?is)^\\s*alter\\s+table\\s+([^\\s;]+)\\s+drop\\s+column\\s+" +
      "(\\w+)\\s*;?\\s*$").r

  private val alterColRe =
    ("(?is)^\\s*alter\\s+table\\s+([^\\s;]+)\\s+alter\\s+column\\s+(\\w+)\\s+" +
      "([A-Za-z]\\w*(?:\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?)" +
      "(\\s+not\\s+null|\\s+null)?\\s*;?\\s*$").r

  /** Parse-only classification twin (no frames touched). */
  private[graft] def shapeMatches(sqlRaw: String): Boolean = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    dropRe.findFirstMatchIn(msk).isDefined ||
      addRe.findFirstMatchIn(msk).exists(m =>
        ScriptedSqlExecutor.sparkDdlType(
          sql.substring(m.start(3), m.end(3))).isDefined) ||
      alterColRe.findFirstMatchIn(msk).exists(m =>
        ScriptedSqlExecutor.sparkDdlType(
          sql.substring(m.start(3), m.end(3))).isDefined)
  }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val sql = SqlText.stripComments(task.sqlStatement)
    val msk = SqlLex.mask(sql)
    dropRe.findFirstMatchIn(msk).map { m =>
      def g(i: Int): String = sql.substring(m.start(i), m.end(i))
      val (tgtName, colName) = (g(1), g(2))
      val tgt = resolve(tgtName)
      require(tgt.columns.exists(_.equalsIgnoreCase(colName)),
        s"ALTER TABLE $tgtName DROP COLUMN $colName: the column does " +
          "not exist (T-SQL error 4924)")
      val kept = tgt.columns.filterNot(_.equalsIgnoreCase(colName))
      // dropping the last column leaves no relation — T-SQL also errors
      require(kept.nonEmpty,
        s"ALTER TABLE $tgtName DROP COLUMN $colName: cannot drop the " +
          "only column")
      SqlOutcome(Some(tgt.select(kept.map(col): _*)), Some(tgtName),
        SaveMode.Overwrite, affected = Some(() => 0L)) // DDL: @@ROWCOUNT 0
    }.orElse {
      addRe.findFirstMatchIn(msk).flatMap { m =>
        def g(i: Int): String = sql.substring(m.start(i), m.end(i))
        def gOpt(i: Int): Option[String] =
          if (m.group(i) == null) None else Some(g(i))
        val (tgtName, colName, ddlType) = (g(1), g(2), g(3))
        val notNull = gOpt(4).exists(_.trim.equalsIgnoreCase("not null"))
        val defaultOpt = gOpt(5)
        ScriptedSqlExecutor.sparkDdlType(ddlType).map { tpe =>
          val tgt = resolve(tgtName)
          require(!tgt.columns.exists(_.equalsIgnoreCase(colName)),
            s"ALTER TABLE $tgtName ADD $colName: column names in each " +
              "table must be unique (T-SQL error 2705)")
          if (notNull && defaultOpt.isEmpty)
            // exact only when the table is empty — count is an action,
            // but an ALTER is a once-per-migration statement, not a
            // per-row path, and T-SQL 4901 is the alternative
            require(tgt.isEmpty,
              s"ALTER TABLE $tgtName ADD $colName NOT NULL: a NOT NULL " +
                "column needs a DEFAULT on a non-empty table (T-SQL " +
                "error 4901)")
          // T-SQL backfill rule: EXISTING rows take the DEFAULT only
          // for a NOT NULL add or an explicit WITH VALUES — a plain
          // nullable add with a DEFAULT leaves existing rows NULL (the
          // default applies to future inserts, which state replacement
          // expresses per-statement, not here)
          val withValues = gOpt(6).isDefined
          val value =
            if (defaultOpt.isDefined && (notNull || withValues))
              expr(defaultOpt.get).cast(tpe)
            else lit(null).cast(tpe)
          SqlOutcome(Some(tgt.withColumn(colName, value)), Some(tgtName),
            SaveMode.Overwrite, affected = Some(() => 0L))
        }
      }
    }.orElse {
      alterColRe.findFirstMatchIn(msk).flatMap { m =>
        def g(i: Int): String = sql.substring(m.start(i), m.end(i))
        def gOpt(i: Int): Option[String] =
          if (m.group(i) == null) None else Some(g(i))
        val (tgtName, colName, ddlType) = (g(1), g(2), g(3))
        val notNull = gOpt(4).exists(_.trim.equalsIgnoreCase("not null"))
        ScriptedSqlExecutor.sparkDdlType(ddlType).map { tpe =>
          val tgt = resolve(tgtName)
          val actual = tgt.columns.find(_.equalsIgnoreCase(colName))
            .getOrElse(throw new IllegalArgumentException(
              s"ALTER TABLE $tgtName ALTER COLUMN $colName: the column " +
                "does not exist (T-SQL error 4924)"))
          // the re-type is one narrow projection; conversion parity is
          // a LAZY raise_error column (the 8672 guard convention): a
          // non-NULL value the new type cannot represent must ABORT
          // like T-SQL (245/8114 conversion failure, 8115 overflow),
          // never become Spark's silent NULL — and under NOT NULL an
          // existing NULL violates the column contract (error 515)
          val src = col(actual)
          // try_cast, not cast: ANSI mode's own CAST_INVALID_INPUT
          // would fire first with a Spark-coded message — the guard
          // below owns the abort so it carries the T-SQL contract
          val casted = expr(s"try_cast(`$actual` AS $tpe)")
          val converted0 = when(src.isNotNull && casted.isNull,
            raise_error(concat(
              lit(s"ALTER TABLE $tgtName ALTER COLUMN $actual $ddlType: " +
                "conversion failed for value '"),
              src.cast("string"),
              lit("' (T-SQL error 245/8114)"))).cast(tpe))
            .otherwise(casted)
          // char(n) targets narrow: T-SQL raises 8152 ("string or
          // binary data would be truncated") when any existing value
          // exceeds the new length — the 245/8114 guard above can
          // never fire on string-to-string re-types (try_cast to
          // STRING never nulls), so the length contract needs its own
          // lazy guard, same raise_error-column convention. T-SQL
          // trims trailing blanks SILENTLY when narrowing (no 8152:
          // 'abc  ' → VARCHAR(3) stores 'abc'), so only the RTRIM'd
          // length gates the abort and the over-length pass path caps
          // at n — the first-n-characters value T-SQL keeps. A NUMERIC
          // source that doesn't fit reports T-SQL's 8115 arithmetic
          // overflow, not 8152. Lengths count characters: T-SQL
          // varchar(n) counts BYTES under the column code page —
          // exact on single-byte data, a documented boundary on
          // multi-byte codepages (the charTrunc convention).
          val converted = ExecLiteralSqlCompiler.charCap(ddlType) match {
            case Some(n) =>
              val srcStr = src.cast("string")
              val srcNumeric = tgt.schema.fields
                .find(_.name.equalsIgnoreCase(colName))
                .exists(_.dataType
                  .isInstanceOf[org.apache.spark.sql.types.NumericType])
              val (code, verb) =
                if (srcNumeric) ("8115", "arithmetic overflow converting")
                else ("8152", "string or binary data would be truncated for")
              when(src.isNotNull && length(rtrim(srcStr)) > n,
                raise_error(concat(
                  lit(s"ALTER TABLE $tgtName ALTER COLUMN $actual " +
                    s"$ddlType: $verb value '"),
                  srcStr,
                  lit(s"' (T-SQL error $code)"))).cast(tpe))
                .when(src.isNotNull && length(srcStr) > n,
                  substring(srcStr, 1, n).cast(tpe))
                .otherwise(converted0)
            case None => converted0
          }
          val guarded =
            if (!notNull) converted
            else when(src.isNull, raise_error(lit(
              s"ALTER TABLE $tgtName ALTER COLUMN $actual: cannot " +
                "declare NOT NULL over existing NULLs (T-SQL error 515)"))
              .cast(tpe)).otherwise(converted)
          SqlOutcome(Some(tgt.withColumn(actual, guarded)), Some(tgtName),
            SaveMode.Overwrite, affected = Some(() => 0L))
        }
      }
    }
  }
}
