package graft.parser

import graft.Json.{obj, q}
import graft.ir.Ir._
import graft.types.SsisTypes

/** JSON export of parsed packages — tooling parity with the reference's
  * `parsed_packages.json` / `schema_metadata.json` artifacts
  * (ssis-to-dbt `src/parser/ssis_parser.py:583-639`): connection strings
  * are credential-REDACTED on serialize, tasks keep declaration order,
  * dataflow components keep pipeline order. Hand-rolled writer — the
  * library adds no JSON dependency for one export.
  */
object PackageJson {

  private def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  private def columnJson(c: ColumnInfo): String = obj(
    "name" -> q(c.name),
    "ssis_type" -> q(SsisTypes.canonical(c.ssisType.name)),
    "sql_type" -> q(SsisTypes.toSqlServer(c.ssisType)),
    "spark_type" -> q(SsisTypes.toSpark(c.ssisType).simpleString),
    "nullable" -> c.nullable.toString)

  private def componentJson(c: DataFlowComponent): String = c match {
    case s: SourceComponent => obj(
      "kind" -> q("source"), "name" -> q(s.name),
      "component_type" -> q(s.componentType),
      "sql_command" -> s.sqlCommand.map(q).getOrElse("null"),
      "table" -> s.tableName.map(q).getOrElse("null"),
      "columns" -> arr(s.columns.map(columnJson)))
    case d: DestinationComponent => obj(
      "kind" -> q("destination"), "name" -> q(d.name),
      "table" -> d.tableName.map(q).getOrElse("null"),
      "fast_load" -> d.accessMode.contains(3).toString)
    case l: LookupComponent => obj(
      "kind" -> q("lookup"), "name" -> q(l.name),
      "sql_command" -> l.sqlCommand.map(q).getOrElse("null"),
      "cache_mode" -> q(l.cacheMode.toString),
      "no_match_behavior" -> q(l.noMatchBehavior.toString),
      "input_columns" -> arr(l.inputColumns.map(q)),
      "output_columns" -> arr(l.outputColumns.map(c => q(c.name))))
    case d: DerivedColumnComponent => obj(
      "kind" -> q("derived_column"), "name" -> q(d.name),
      "columns" -> arr(d.columns.map(dc => obj(
        "name" -> q(dc.name), "expression" -> q(dc.expression),
        "output_type" -> q(SsisTypes.toSqlServer(dc.outputType))))))
    case other => obj("kind" -> q(other.componentType), "name" -> q(other.name))
  }

  private def taskJson(t: Task): String = t match {
    case e: ExecuteSqlTask => obj(
      "task_type" -> q("ExecuteSQLTask"), "name" -> q(e.name),
      "sql_statement" -> q(e.sqlStatement), "result_set" -> q(e.resultSet))
    case d: DataFlowTask => obj(
      "task_type" -> q("DataFlowTask"), "name" -> q(d.name),
      "components" -> arr(d.components.map(componentJson)))
    case s: ScriptTask => obj(
      "task_type" -> q("ScriptTask"), "name" -> q(s.name),
      "manual_review_required" -> "true", "review_reason" -> q(s.reviewReason),
      "read_only_variables" -> arr(s.readOnlyVariables.map(q)),
      "read_write_variables" -> arr(s.readWriteVariables.map(q)))
    case m: SendMailTask => obj(
      "task_type" -> q("SendMailTask"), "name" -> q(m.name),
      "skip_reason" -> q(m.skipReason))
    case c: ContainerTask => obj(
      "task_type" -> q(s"${c.containerType}Container"), "name" -> q(c.name),
      "children" -> arr(c.children.map(taskJson)))
    case u: UnsupportedTask => obj(
      "task_type" -> q(u.executableType), "name" -> q(u.name),
      "review_reason" -> q(u.reviewReason))
  }

  def toJson(pkg: SsisPackage): String = obj(
    "name" -> q(pkg.name),
    "description" -> pkg.description.map(q).getOrElse("null"),
    "connection_managers" -> arr(pkg.connectionManagers.map(cm => obj(
      "name" -> q(cm.name),
      "connection_string" -> q(cm.redactedConnectionString),
      "server" -> cm.server.map(q).getOrElse("null"),
      "database" -> cm.database.map(q).getOrElse("null")))),
    "variables" -> arr(pkg.variables.map(v => obj(
      "name" -> q(v.qualifiedName), "type" -> q(v.ssisType), "value" -> q(v.value)))),
    "tasks" -> arr(pkg.tasks.map(taskJson)),
    "precedence_constraints" -> arr(pkg.constraints.map(pc => obj(
      "from" -> q(pc.fromTask), "to" -> q(pc.toTask), "kind" -> q(pc.kind.toString)))),
    "warnings" -> arr(pkg.warnings.map(q)))

  def toJson(pkgs: Seq[SsisPackage]): String = arr(pkgs.map(toJson))

  /** `schema_metadata.json` analog (reference `ssis_parser.py:532-580,
    * 620-639`, models.py:208-233): tables referenced by dataflow sources
    * (with their declared columns) and destinations, each carrying
    * `referenced_in` task lineage; containers recurse. With
    * `includeSqlTables` every `[schema].[table]` mentioned in a source/
    * lookup SqlCommand also joins the lineage (the reference only indexes
    * table-mode references; SQL-mode sources would otherwise vanish from
    * the lineage graph). */
  def schemaMetadataJson(pkgs: Seq[SsisPackage],
      includeSqlTables: Boolean = false): String = {
    val sqlTableRe = """\[(\w+)\]\.\[(\w+)\]""".r
    // full_name → (schema, table, tasks in first-seen order)
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, (Option[String], String, scala.collection.mutable.LinkedHashSet[String])]
    val columns = scala.collection.mutable.ListBuffer.empty[String]

    def add(raw: String, cols: List[ColumnInfo], taskName: String): Unit = {
      val clean = raw.replace("[", "").replace("]", "").trim
      if (clean.isEmpty) return
      val parts = clean.split('.')
      val (schema, table) =
        if (parts.length >= 2) (Some(parts(parts.length - 2)), parts.last)
        else (None, clean)
      val full = schema.fold(table)(s => s"$s.$table")
      val entry = seen.getOrElseUpdate(full,
        (schema, table, scala.collection.mutable.LinkedHashSet.empty[String]))
      entry._3 += taskName
      cols.foreach { c =>
        columns += obj(
          "table_full_name" -> q(full),
          "column_name" -> q(c.name),
          "ssis_type" -> q(SsisTypes.canonical(c.ssisType.name)),
          "sql_type" -> q(SsisTypes.toSqlServer(c.ssisType)),
          "length" -> c.ssisType.length.map(_.toString).getOrElse("null"),
          "precision" -> c.ssisType.precision.map(_.toString).getOrElse("null"),
          "scale" -> c.ssisType.scale.map(_.toString).getOrElse("null"))
      }
    }

    def fromSql(sql: Option[String], taskName: String): Unit =
      if (includeSqlTables)
        sql.toList.flatMap(sqlTableRe.findAllMatchIn(_)).foreach { m =>
          add(s"${m.group(1)}.${m.group(2)}", Nil, taskName)
        }

    def walk(tasks: List[Task]): Unit = tasks.foreach {
      case d: DataFlowTask =>
        d.sources.foreach { s =>
          s.tableName.foreach(add(_, s.columns, d.name))
          fromSql(s.sqlCommand, d.name)
        }
        d.lookups.foreach(l => fromSql(l.sqlCommand, d.name))
        d.destinations.foreach(dst => dst.tableName.foreach(add(_, Nil, d.name)))
      case c: ContainerTask => walk(c.children)
      case _ =>
    }
    pkgs.foreach(p => walk(p.tasks))

    obj(
      "tables" -> arr(seen.toSeq.map { case (full, (schema, table, tasks)) =>
        obj(
          "schema_name" -> schema.map(q).getOrElse("null"),
          "table_name" -> q(table),
          "full_name" -> q(full),
          "source_system" -> "null",
          "referenced_in" -> arr(tasks.toSeq.map(q)))
      }),
      "columns" -> arr(columns.toSeq),
      "source_systems" -> arr(Nil))
  }

  /** The `parsing_report.md` analog (reference `ssis_parser.py:641-739`):
    * per-package task/component inventory, conversion disposition
    * (auto-converted vs manual-review vs skipped), and parse warnings —
    * credential-redacted like every serialized artifact. */
  def markdownReport(pkgs: Seq[SsisPackage]): String = {
    def flat(ts: List[Task]): List[Task] = ts.flatMap {
      case c: ContainerTask => c :: flat(c.children)
      case t => List(t)
    }
    val sb = new StringBuilder
    sb ++= "# Parsing report\n\n"
    sb ++= s"Packages parsed: ${pkgs.length}\n\n"
    pkgs.foreach { p =>
      val tasks = flat(p.tasks)
      val manual = tasks.count {
        case _: ScriptTask | _: UnsupportedTask => true; case _ => false }
      val skipped = tasks.count { case _: SendMailTask => true; case _ => false }
      val auto = tasks.length - manual - skipped
      sb ++= s"## ${p.name}\n\n"
      p.description.foreach(d => sb ++= s"$d\n\n")
      sb ++= s"- connection managers: ${p.connectionManagers.length}"
      sb ++= p.connectionManagers.map(_.name).mkString(" (", ", ", ")\n")
      sb ++= s"- variables: ${p.variables.length}\n"
      sb ++= s"- tasks: ${tasks.length} (auto-convertible $auto, manual review $manual, skipped $skipped)\n"
      tasks.foreach { t =>
        val kind = t match {
          case d: DataFlowTask =>
            val comps = d.components.map(_.componentType).groupBy(identity)
              .toSeq.sortBy(_._1).map { case (k, v) => s"$k×${v.length}" }
            s"DataFlowTask [${comps.mkString(", ")}]" +
              (if (d.paths.nonEmpty) s" (${d.paths.length} paths)" else "")
          case e: ExecuteSqlTask => s"ExecuteSQLTask (${e.resultSet})"
          case s: ScriptTask => "ScriptTask — MANUAL REVIEW"
          case _: SendMailTask => "SendMailTask — skipped"
          case c: ContainerTask => s"${c.containerType} container (${c.children.length} children)"
          case u: UnsupportedTask => s"${u.executableType} — MANUAL REVIEW"
        }
        sb ++= s"  - ${t.name}: $kind\n"
      }
      sb ++= s"- precedence constraints: ${p.constraints.length}\n"
      if (p.warnings.nonEmpty) {
        sb ++= "- warnings:\n"
        p.warnings.foreach(w => sb ++= s"  - $w\n")
      }
      sb ++= "\n"
    }
    sb.result()
  }
}
