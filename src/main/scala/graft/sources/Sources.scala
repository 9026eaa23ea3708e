package graft.sources

import graft.ir.Ir.{ColumnInfo, ConnectionManager}
import graft.types.SsisTypes
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** Source/sink surface (SURVEY.md §2.1).
  *
  * S3 Flat File: CSV with an explicit declared schema — never
  * `inferSchema` (the reference's schemas are always declared,
  * §1.1 "Schema system"). S5/S6: catalog registration + schema assertion
  * on read. S7: connection-manager → reader-options mapping.
  */
object Sources {

  def schemaOf(columns: Seq[ColumnInfo]): StructType =
    StructType(columns.map(c =>
      StructField(c.name, SsisTypes.toSpark(c.ssisType), c.nullable)))

  /** Flat File Source: header CSV with declared columns. */
  def readCsv(spark: SparkSession, path: String, columns: Seq[ColumnInfo],
      delimiter: String = ",", header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schemaOf(columns))
      .csv(path)

  /** Flat File Destination. The timestampFormat MUST match [[readCsv]]'s:
    * Spark's default write format (ISO-8601 with sub-seconds) fails the
    * reader's pattern under PERMISSIVE mode, silently nulling every
    * timestamp on a write-then-read round trip. */
  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
      delimiter: String = ",", header: Boolean = true): Unit =
    df.write.mode(mode)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  /** ORC Source — the second columnar interchange format beside parquet
    * (warehouses hand off ORC exactly as often as parquet at migration
    * time). Declared schema, never inference; predicate pushdown and
    * column pruning work through the same DataSource V1 scan contract as
    * the parquet reads PlanShapeSpec pins. */
  def readOrc(spark: SparkSession, path: String, columns: Seq[ColumnInfo]): DataFrame =
    spark.read.schema(schemaOf(columns)).orc(path)

  /** ORC Destination. */
  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** JSON-Lines Source: one JSON object per line, declared schema — never
    * `inferSchema` (an inference pass is a second full scan at 100 TB, and
    * a type the sampler happened not to see silently widens/nulls). The
    * timestampFormat matches [[readCsv]]'s so a dataset can round-trip
    * between the two flat formats without re-declaring the contract. */
  def readJsonl(spark: SparkSession, path: String, columns: Seq[ColumnInfo]): DataFrame =
    spark.read
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schemaOf(columns))
      .json(path)

  /** JSON-Lines Destination (one object per line — the interchange format
    * training-data pipelines actually exchange; splittable, so a 100 TB
    * dataset still parallelizes the read by line ranges). */
  def writeJsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(path)

  /** Register an external parquet table in the session catalog
    * (`CREATE TABLE … USING parquet` — the dbt `source()` analog).
    * Identifier back-quoted, location single-quote-escaped: a path like
    * `/data/o'brien/` must not break (or inject into) the statement. */
  def registerParquetTable(spark: SparkSession, name: String, path: String): Unit = {
    val qName = name.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    val qPath = path.replace("'", "\\'")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $qName USING parquet LOCATION '$qPath'")
  }

  final case class SchemaMismatch(column: String, expected: String, actual: String)

  /** Schema assertion on read: declared columns must exist with the
    * declared Spark type (src_*.yml contract — extra physical columns are
    * allowed, missing/mistyped ones are violations). */
  def assertSchema(df: DataFrame, declared: Seq[ColumnInfo]): List[SchemaMismatch] = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
    declared.toList.flatMap { c =>
      val expected = SsisTypes.toSpark(c.ssisType)
      actual.get(c.name) match {
        case None => Some(SchemaMismatch(c.name, expected.simpleString, "<missing>"))
        case Some(t) if t != expected =>
          Some(SchemaMismatch(c.name, expected.simpleString, t.simpleString))
        case _ => None
      }
    }
  }

  /** Resolver backing a parsed package with parquet testdata: the
    * `[schema].[table]` in a component's `SqlCommand`/`OpenRowset` names
    * the parquet file under `dir`, and a `SELECT a, b FROM …` projection
    * in the SQL is honored (column pruning reaches the scan). This is the
    * S1/S2 runtime binding — swap the body for `spark.read.format("jdbc")`
    * against a live warehouse; the compiled plan is identical. */
  def testdataResolver(spark: SparkSession, dir: String,
      staged: String => Option[DataFrame] = _ => None)
      : graft.ops.DataFlowCompiler.Resolver = {
    val tableRe = """\[\w+\]\.\[(\w+)\]""".r
    val projRe = """(?is)\s*SELECT\s+(.*?)\s+FROM\s.*""".r
    val whereRe = """(?is).*\bWHERE\b.*""".r
    // a projection list the naive comma-split can't handle (function
    // calls, aliases, DISTINCT) must route through the full-SQL path
    val complexProjRe = """(?is)[(]|\bas\b|\bdistinct\b""".r
    def resolve(sql: Option[String], openRowset: Option[String]): DataFrame = {
      val text = openRowset.orElse(sql).getOrElse(
        throw new IllegalArgumentException("component names no table"))
      val tables = tableRe.findAllMatchIn(text).map(_.group(1)).toList.distinct
      val table = tables.headOption.getOrElse(
        throw new IllegalArgumentException(s"no [schema].[table] in: $text"))
      // intra-package tables (a prior task's destination) take precedence
      // over the external catalog — multi-task pipelines compose plans
      def scanOf(t: String) =
        staged(t).getOrElse(graft.Tables.load(spark, dir, t))
      val scan = scanOf(table)
      def fullSqlNeeded(stmt: String): Boolean =
        tables.length > 1 || (stmt match {
          case projRe(cols) => complexProjRe.findFirstIn(cols).isDefined
          case _ => false
        })
      sql match {
        case Some(stmt) if whereRe.matches(stmt) || fullSqlNeeded(stmt) =>
          // full-statement path (post `?`-binding): register EVERY
          // referenced table as its own temp view and rewrite EACH
          // [schema].[t] reference to t — a single-capture replaceAllIn
          // would rewrite every reference to the FIRST table and silently
          // self-join multi-table statements. Catalyst runs the whole
          // SELECT; projection AND predicate reach the scans pushed down.
          tables.foreach(t => scanOf(t).createOrReplaceTempView(t))
          spark.sql(tableRe.replaceAllIn(stmt,
            m => scala.util.matching.Regex.quoteReplacement(m.group(1))))
        case Some(projRe(cols)) if cols.trim != "*" =>
          scan.select(cols.split(",").map(c => col(c.trim)): _*)
        case _ => scan
      }
    }
    graft.ops.DataFlowCompiler.Resolver(
      source = {
        // Flat File source: the (already variable-resolved) OpenRowset
        // text IS the file path; read through the declared columns —
        // never inferSchema
        case s if s.componentType == "FlatFileSource" =>
          val path = s.tableName.orElse(s.sqlCommand).getOrElse(
            throw new IllegalArgumentException(
              s"Flat File source '${s.name}' names no file"))
          readCsv(spark, path, s.columns)
        case s => resolve(s.sqlCommand, s.tableName)
      },
      lookup = l => resolve(l.sqlCommand, None))
  }

  /** Connection manager → Spark reader options (S7). JDBC shape for SQL
    * Server-style managers; parquet/csv managers pass their path through.
    * Credentials never logged — use [[ConnectionManager.redactedConnectionString]]. */
  def readerOptions(cm: ConnectionManager): Map[String, String] = {
    val base = Map.newBuilder[String, String]
    cm.server.foreach(s => base += ("host" -> s))
    cm.database.foreach(d => base += ("database" -> d))
    cm.provider.foreach(p => base += ("provider" -> p))
    cm.server.zip(cm.database).foreach { case (s, d) =>
      base += ("url" -> s"jdbc:sqlserver://$s;databaseName=$d")
    }
    base.result()
  }
}
