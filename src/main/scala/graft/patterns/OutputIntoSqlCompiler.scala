package graft.patterns

import graft.ir.Ir.ExecuteSqlTask
import graft.pipeline.PackageRunner.SqlOutcome
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** T-SQL `OUTPUT … INTO` on the canonical single-table DML verbs — the
  * audit-trail UPDATE and archive-before-DELETE idioms a real SSIS
  * estate leans on for change capture (the reference's analyzer routes
  * every UPDATE/DELETE statement class to manual review, ssis-to-dbt
  * `src/agents/analyzer.py:137-156`; this engine executes the canonical
  * shapes):
  *
  * {{{
  * UPDATE <t> SET col = expr, ...
  *   OUTPUT deleted.c [AS a] | inserted.c [AS a] | deleted.* | inserted.*, ...
  *   INTO <audit> [(col, ...)] [WHERE <pred>]
  * DELETE FROM <t>
  *   OUTPUT deleted.c [AS a] | deleted.*, ...
  *   INTO <archive> [(col, ...)] [WHERE <pred>]
  * }}}
  *
  * Compiled over ONE pre-state scan, two frames: the audit frame is the
  * fired rows (`WHERE`-is-TRUE) projected through the OUTPUT items —
  * `deleted.c` is the pre-image value, `inserted.c` is the SET
  * expression evaluated on the PRE-update row (T-SQL OUTPUT semantics:
  * both images come from the atomic statement, so no self-reading) —
  * and the target frame is the usual CASE-projection / keep-NOT-TRUE
  * state replacement. The audit append rides [[SqlOutcome.side]] and is
  * applied BEFORE the target write. Zero shuffles, zero joins: both
  * frames are narrow projections of the same scan.
  *
  * T-SQL INSERT arity/typing rules hold eagerly: without a column list
  * the item count must equal the audit table's column count (error 213);
  * with one, the list is positional, unnamed audit columns take typed
  * NULLs, and every value casts to the audit column's type. `inserted`
  * references in a DELETE, `OUTPUT` without `INTO` (an app-consumed
  * result set), a FROM/JOIN leg, subqueries, quoted identifiers, and
  * OUTPUT into the statement's own target all decline to manual review.
  */
object OutputIntoSqlCompiler {

  private val updateRe =
    ("(?is)^\\s*update\\s+([^\\s;]+)\\s+set\\s+(.+?)\\s+" +
      "output\\s+(.+?)\\s+into\\s+([^\\s;(]+)\\s*(?:\\(([^)]*)\\))?" +
      "(?:\\s+where\\s+(.+?))?\\s*;?\\s*$").r

  private val deleteRe =
    ("(?is)^\\s*delete\\s+from\\s+([^\\s;]+)\\s+" +
      "output\\s+(.+?)\\s+into\\s+([^\\s;(]+)\\s*(?:\\(([^)]*)\\))?" +
      "(?:\\s+where\\s+(.+?))?\\s*;?\\s*$").r

  /** One OUTPUT item: image qualifier + column (or `*`) + optional
    * alias. `*` with an alias is not a shape. */
  private val itemRe =
    "(?i)^(deleted|inserted)\\s*\\.\\s*(\\*|[A-Za-z_]\\w*)(?:\\s+as\\s+([A-Za-z_]\\w*))?\\s*$".r

  /** `$action [AS alias]` — T-SQL allows it in MERGE's OUTPUT only;
    * [[parseItems]] admits it solely when the caller says so. */
  private val actionRe =
    "(?i)^\\$action(?:\\s+as\\s+([A-Za-z_]\\w*))?\\s*$".r

  private val setKeywordRe = "(?i)\\b(from|join|select|insert)\\b".r
  private val whereKeywordRe = "(?i)\\b(from|join|select|insert|output|into)\\b".r
  private val identRe = "^[A-Za-z_]\\w*$".r

  /** image ∈ deleted | inserted | action (colName empty for action). */
  private[patterns] final case class Item(image: String, colName: String,
      alias: Option[String])

  private[patterns] def parseItems(items: String,
      allowAction: Boolean = false): Option[List[Item]] = {
    val parsed = SqlLex.splitTop(items).map {
      case itemRe(img, c, al) =>
        val item = Item(img.toLowerCase, c, Option(al))
        // `deleted.* AS x` is not a shape
        if (c == "*" && item.alias.nonEmpty) None else Some(item)
      case actionRe(al) if allowAction => Some(Item("action", "", Option(al)))
      case _ => None
    }
    if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
    else Some(parsed.flatten)
  }

  /** Expand items over the target schema into (value over the PRE-image
    * row, output name). `setLc` is empty for DELETE — every `inserted`
    * reference was already declined there. */
  private[patterns] def itemColumns(items: List[Item], tgt: DataFrame,
      tgtName: String, setLc: Map[String, Column]): List[(Column, String)] = {
    val tgtCols = tgt.columns.map(_.toLowerCase).toSet
    def image(img: String, c: String): Column =
      if (img == "deleted") col(c) else setLc.getOrElse(c.toLowerCase, col(c))
    items.flatMap {
      case Item(img, "*", _) =>
        tgt.columns.toList.map(c => image(img, c) -> c)
      case Item(img, c, alias) =>
        require(tgtCols(c.toLowerCase),
          s"OUTPUT $img.$c: column absent from target $tgtName")
        List(image(img, c) -> alias.getOrElse(c))
    }
  }

  /** Align the expanded items with the audit table's schema — T-SQL
    * INSERT rules: positional, arity-exact without a column list
    * (error 213); with one, unnamed audit columns take typed NULLs. */
  private[patterns] def auditFrame(fired: DataFrame, itemCols: List[(Column, String)],
      audit: DataFrame, auditName: String,
      colList: Option[String]): DataFrame = {
    val fields = audit.schema.fields
    colList match {
      case None =>
        require(itemCols.size == fields.length,
          s"OUTPUT INTO $auditName: ${itemCols.size} output column(s) " +
            s"for ${fields.length} table column(s) (T-SQL error 213)")
        fired.select(itemCols.zip(fields).map { case ((c, _), f) =>
          c.cast(f.dataType).as(f.name)
        }: _*)
      case Some(cl) =>
        val names = SqlLex.splitTop(cl)
        require(names.size == itemCols.size,
          s"OUTPUT INTO $auditName(${names.mkString(", ")}): " +
            s"${itemCols.size} output column(s) for ${names.size} named " +
            "column(s) (T-SQL error 120/121)")
        val fLc = fields.map(f => f.name.toLowerCase -> f).toMap
        val bad = names.filterNot(n => fLc.contains(n.toLowerCase))
        require(bad.isEmpty,
          s"OUTPUT INTO $auditName: column(s) absent from table: " +
            bad.mkString(", "))
        val dup = names.groupBy(_.toLowerCase).filter(_._2.size > 1)
        require(dup.isEmpty,
          s"OUTPUT INTO $auditName: column(s) named more than once: " +
            dup.keys.mkString(", "))
        val byName = names.zip(itemCols)
          .map { case (n, (c, _)) => n.toLowerCase -> c }.toMap
        fired.select(fields.map { f =>
          byName.get(f.name.toLowerCase).map(_.cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }.toSeq: _*)
    }
  }

  /** Shared shape test: clause bodies expression-only, every item
    * parses, no `inserted` image on a DELETE, audit ≠ target. A column
    * list may be bracketed-free identifiers only. */
  private def shapeOk(isDelete: Boolean, tgtName: String, items: String,
      auditName: String, colList: Option[String],
      whereOpt: Option[String], setList: Option[String]): Boolean = {
    val bodiesOk = !setList.exists(
        MergeSqlCompiler.bodyDisqualified(_, setKeywordRe)) &&
      !whereOpt.exists(MergeSqlCompiler.bodyDisqualified(_, whereKeywordRe))
    val colsOk = colList.forall(cl =>
      SqlLex.splitTop(cl).forall(identRe.findFirstIn(_).isDefined))
    bodiesOk && colsOk && !auditName.equalsIgnoreCase(tgtName) &&
      parseItems(items).exists(is =>
        !(isDelete && is.exists(_.image == "inserted")))
  }

  /** Parse-only classification twin of [[rewrite]] (no frames touched). */
  private[graft] def shapeMatches(sqlRaw: String): Boolean = {
    val sql = SqlText.stripComments(sqlRaw)
    val msk = SqlLex.mask(sql)
    def g(m: scala.util.matching.Regex.Match, i: Int): Option[String] =
      Option(m.group(i)).map(_ => sql.substring(m.start(i), m.end(i)))
    updateRe.findFirstMatchIn(msk).exists { m =>
      shapeOk(isDelete = false, g(m, 1).get, g(m, 3).get, g(m, 4).get,
        g(m, 5), g(m, 6), g(m, 2))
    } || deleteRe.findFirstMatchIn(msk).exists { m =>
      shapeOk(isDelete = true, g(m, 1).get, g(m, 2).get, g(m, 3).get,
        g(m, 4), g(m, 5), None)
    }
  }

  def rewrite(spark: SparkSession, task: ExecuteSqlTask,
      resolve: String => DataFrame): Option[SqlOutcome] = {
    val sql = SqlText.stripComments(task.sqlStatement)
    val msk = SqlLex.mask(sql)
    def g(m: scala.util.matching.Regex.Match, i: Int): Option[String] =
      Option(m.group(i)).map(_ => sql.substring(m.start(i), m.end(i)))

    updateRe.findFirstMatchIn(msk).flatMap { m =>
      val (tgtName, setList, items) = (g(m, 1).get, g(m, 2).get, g(m, 3).get)
      val (auditName, colList, whereOpt) = (g(m, 4).get, g(m, 5), g(m, 6))
      if (!shapeOk(isDelete = false, tgtName, items, auditName, colList,
          whereOpt, Some(setList))) None
      else Some {
        val tgt = resolve(tgtName)
        val setLc = UpdateSqlCompiler.parsedAssignments(setList, tgt, tgtName)
        val pred = whereOpt.map(w => coalesce(expr(w), lit(false)))
          .getOrElse(lit(true))
        val fired = tgt.filter(pred)
        val itemCols = itemColumns(parseItems(items).get, tgt, tgtName, setLc)
        val audit = auditFrame(fired, itemCols, resolve(auditName),
          auditName, colList)
        val updated = tgt.select(tgt.columns.toSeq.map { c =>
          setLc.get(c.toLowerCase) match {
            case Some(e) => when(pred, e).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        SqlOutcome(Some(updated), Some(tgtName), SaveMode.Overwrite,
          affected = Some(() => tgt.filter(pred).count()),
          side = List((auditName, audit, SaveMode.Append)))
      }
    }.orElse(deleteRe.findFirstMatchIn(msk).flatMap { m =>
      val (tgtName, items) = (g(m, 1).get, g(m, 2).get)
      val (auditName, colList, whereOpt) = (g(m, 3).get, g(m, 4), g(m, 5))
      if (!shapeOk(isDelete = true, tgtName, items, auditName, colList,
          whereOpt, None)) None
      else Some {
        val tgt = resolve(tgtName)
        val pred = whereOpt.map(w => coalesce(expr(w), lit(false)))
          .getOrElse(lit(true))
        val fired = tgt.filter(pred)
        val kept = whereOpt match {
          case Some(w) => tgt.filter(!coalesce(expr(w), lit(false)))
          case None => tgt.filter(lit(false))
        }
        val itemCols = itemColumns(parseItems(items).get, tgt, tgtName,
          Map.empty)
        val archive = auditFrame(fired, itemCols, resolve(auditName),
          auditName, colList)
        SqlOutcome(Some(kept), Some(tgtName), SaveMode.Overwrite,
          affected = Some(() => fired.count()),
          side = List((auditName, archive, SaveMode.Append)))
      }
    })
  }
}
