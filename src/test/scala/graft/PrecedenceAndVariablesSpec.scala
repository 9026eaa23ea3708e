package graft

import graft.ir.Ir._
import graft.ops.DataFlowCompiler.Resolver
import graft.pipeline.{PackageRunner, PackageVariables}
import graft.pipeline.PackageRunner.{RuntimeEnv, TaskStatus}
import org.scalatest.funsuite.AnyFunSuite

/** Precedence-constraint algebra (reference `src/parser/models.py:158-163`,
  * `src/agents/analyzer.py:36-67`) and package-variable evaluation /
  * `?`-parameter binding (`constants.py:42-51`,
  * `samples/ssis_packages/SalesFactETL.dtsx:40-46,79-91`). */
class PrecedenceAndVariablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def sqlTask(name: String): ExecuteSqlTask =
    ExecuteSqlTask(name, None, connectionId = "", sqlStatement = s"SELECT 1 -- $name")

  private def pkg(tasks: List[Task], constraints: List[PrecedenceConstraint],
      vars: List[Variable] = Nil): SsisPackage =
    SsisPackage("p", None, Nil, vars, tasks, constraints)

  /** Env whose sqlExecutor fails for the named tasks, succeeds otherwise. */
  private def env(failing: Set[String]): RuntimeEnv = RuntimeEnv(
    resolver = Resolver(source = _ => sys.error("no source"),
      lookup = _ => sys.error("no lookup")),
    write = (_, _, _) => (),
    sqlExecutor = t =>
      if (failing.contains(t.name)) throw new RuntimeException(s"${t.name} boom")
      else Some(PackageRunner.SqlOutcome(None, None)))

  private def statusOf(run: PackageRunner.PackageRun): Map[String, TaskStatus] =
    run.tasks.map(t => t.taskName -> t.status).toMap

  private val diamond = List(
    sqlTask("Extract"), sqlTask("Transform"), sqlTask("Cleanup"), sqlTask("Notify"))
  private val diamondEdges = List(
    PrecedenceConstraint("Extract", "Transform", ConstraintKind.Success),
    PrecedenceConstraint("Extract", "Cleanup", ConstraintKind.Failure),
    PrecedenceConstraint("Extract", "Notify", ConstraintKind.Completion))

  test("OnFailure cleanup runs ONLY after a failed task; Success successor does not") {
    val run = PackageRunner.run(spark, pkg(diamond, diamondEdges), env(Set("Extract")))
    val st = statusOf(run)
    assert(st("Extract").isInstanceOf[TaskStatus.Failed])
    assert(st("Cleanup") === TaskStatus.Succeeded) // failure edge fired
    assert(st("Transform") === TaskStatus.NotRun) // success edge did not
    assert(st("Notify") === TaskStatus.Succeeded) // completion fires either way
    assert(run.failed) // the failure is still reported at package level
  }

  test("on success: cleanup does NOT run, success and completion edges fire") {
    val run = PackageRunner.run(spark, pkg(diamond, diamondEdges), env(Set.empty))
    val st = statusOf(run)
    assert(st("Extract") === TaskStatus.Succeeded)
    assert(st("Cleanup") === TaskStatus.NotRun)
    assert(st("Transform") === TaskStatus.Succeeded)
    assert(st("Notify") === TaskStatus.Succeeded)
    assert(!run.failed)
  }

  test("NotRun cascades through Success edges (no zombie downstream)") {
    val tasks = diamond :+ sqlTask("Load")
    val edges = diamondEdges :+
      PrecedenceConstraint("Transform", "Load", ConstraintKind.Success)
    val st = statusOf(PackageRunner.run(spark, pkg(tasks, edges), env(Set("Extract"))))
    assert(st("Transform") === TaskStatus.NotRun)
    assert(st("Load") === TaskStatus.NotRun)
  }

  test("Expression constraints gate on evaluated package variables") {
    val vars = List(
      Variable("User", "Threshold", "DT_I4", "5"),
      Variable("User", "Doubled", "DT_I4", "0",
        expression = Some("@[User::Threshold] * 2")))
    val tasks = List(sqlTask("A"), sqlTask("RunsWhenTrue"), sqlTask("RunsWhenFalse"))
    val edges = List(
      PrecedenceConstraint("A", "RunsWhenTrue",
        ConstraintKind.Expression("@[User::Doubled] == 10")),
      PrecedenceConstraint("A", "RunsWhenFalse",
        ConstraintKind.Expression("@[User::Doubled] > 100")))
    val st = statusOf(PackageRunner.run(spark, pkg(tasks, edges, vars), env(Set.empty)))
    assert(st("RunsWhenTrue") === TaskStatus.Succeeded)
    assert(st("RunsWhenFalse") === TaskStatus.NotRun)
  }

  test("parseValue honors the DT type codes") {
    assert(PackageVariables.parseValue("DT_I4", "42") === 42)
    assert(PackageVariables.parseValue("DT_I8", "9999999999") === 9999999999L)
    assert(PackageVariables.parseValue("DT_I2", "7") === 7.toShort)
    assert(PackageVariables.parseValue("DT_R8", "2.5") === 2.5)
    assert(PackageVariables.parseValue("DT_BOOL", "1") === true)
    assert(PackageVariables.parseValue("DT_BOOL", "false") === false)
    assert(PackageVariables.parseValue("DT_DBTIMESTAMP", "2024-01-01T10:30:00") ===
      java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))
    assert(PackageVariables.parseValue("DT_WSTR", "abc") === "abc")
  }

  test("expression variables resolve by fixpoint regardless of declaration order") {
    // C depends on B depends on A; declared most-dependent first
    val vars = List(
      Variable("User", "C", "DT_I4", "0", expression = Some("@[User::B] + 1")),
      Variable("User", "B", "DT_I4", "0", expression = Some("@[User::A] * 3")),
      Variable("User", "A", "DT_I4", "7"))
    val values = PackageVariables.evaluate(spark, vars)
    assert(values("User::A") === 7)
    assert(values("User::B") === 21)
    assert(values("User::C") === 22)
  }

  test("unresolvable variable expression is a deterministic error") {
    val vars = List(
      Variable("User", "X", "DT_I4", "0", expression = Some("@[User::Missing] + 1")))
    val e = intercept[IllegalArgumentException] {
      PackageVariables.evaluate(spark, vars)
    }
    assert(e.getMessage.contains("User::X"))
  }

  test("bindSql is positional and quote-aware; counts match") {
    val sql = "SELECT '?' AS q, c FROM t WHERE a >= ? AND b < ? AND note = 'is it?'"
    assert(PackageVariables.placeholderCount(sql) === 2)
    val bound = PackageVariables.bindSql(sql,
      Seq(java.sql.Timestamp.valueOf("1995-03-01 00:00:00"), 10))
    assert(bound.contains("a >= '1995-03-01 00:00:00.0'"))
    assert(bound.contains("b < 10"))
    assert(bound.contains("'?' AS q")) // quoted ? untouched
    assert(bound.contains("'is it?'"))
    // string params are escaped, not spliced
    val b2 = PackageVariables.bindSql("WHERE name = ?", Seq("O'Brien"))
    assert(b2 === "WHERE name = 'O''Brien'")
  }

  test("ForLoop container iterates init/eval/assign over the loop variable") {
    val vars = List(Variable("User", "i", "DT_I4", "99")) // init overrides 99
    val captured = scala.collection.mutable.ListBuffer.empty[String]
    val child = ExecuteSqlTask("Step", None, connectionId = "",
      sqlStatement = "INSERT INTO audit VALUES (?)")
    val loop = ContainerTask("Loop", None, "ForLoop", List(child),
      forLoop = Some(ForLoopSpec(
        initExpression = Some("@[User::i] = 0"),
        evalExpression = "@[User::i] < 3",
        assignExpression = Some("@[User::i] = @[User::i] + 1"))))
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = t => { captured += t.sqlStatement
        Some(PackageRunner.SqlOutcome(None, None)) })
    val run = PackageRunner.run(spark, pkg(List(loop), Nil, vars), e)
    assert(!run.failed)
    assert(captured.toList === List(
      "INSERT INTO audit VALUES (0)",
      "INSERT INTO audit VALUES (1)",
      "INSERT INTO audit VALUES (2)"))
    val container = run.tasks.find(_.taskName == "Loop").get
    assert(container.notes === List("Step#0: Succeeded", "Step#1: Succeeded",
      "Step#2: Succeeded"))
  }

  test("ForEach enumerator items + variable mappings parse from dtsx") {
    val in = getClass.getResourceAsStream("/dtsx/ForEachPriorityETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val parsed = graft.parser.DtsxParser.parseString(xml)
    val loop = parsed.tasks.collectFirst { case c: ContainerTask => c }.get
    assert(loop.containerType === "ForEachLoop")
    assert(loop.enumItems.map(_.head.raw) ===
      List("1-URGENT", "2-HIGH", "3-MEDIUM"))
    assert(loop.enumItems.forall(_.head.ssisType == "DT_WSTR"))
    assert(loop.variableMappings === List("User::Priority" -> 0))
    assert(loop.children.size === 1)
  }

  test("nested ForEach containers keep their OWN enumerator items and mappings") {
    // outer loop over 2 items, inner loop over 3 — a deep `\\` search from
    // the outer Executable would absorb the inner loop's items/mappings
    val xml =
      """<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts"
        |    DTS:ObjectName="Pkg" DTS:ExecutableType="Microsoft.Package">
        |  <DTS:Executables>
        |    <DTS:Executable DTS:ObjectName="Outer" DTS:ExecutableType="Microsoft.ForEachLoop">
        |      <DTS:ForEachEnumerator DTS:CreationName="Microsoft.ForEachItemEnumerator">
        |        <DTS:ObjectData><FEIEItems>
        |          <FEIEItem><FEIEItemValue Type="8" Value="A"/></FEIEItem>
        |          <FEIEItem><FEIEItemValue Type="8" Value="B"/></FEIEItem>
        |        </FEIEItems></DTS:ObjectData>
        |      </DTS:ForEachEnumerator>
        |      <DTS:ForEachVariableMappings>
        |        <DTS:ForEachVariableMapping DTS:VariableName="User::Outer" DTS:ValueIndex="0"/>
        |      </DTS:ForEachVariableMappings>
        |      <DTS:Executables>
        |        <DTS:Executable DTS:ObjectName="Inner" DTS:ExecutableType="Microsoft.ForEachLoop">
        |          <DTS:ForEachEnumerator DTS:CreationName="Microsoft.ForEachItemEnumerator">
        |            <DTS:ObjectData><FEIEItems>
        |              <FEIEItem><FEIEItemValue Type="8" Value="x"/></FEIEItem>
        |              <FEIEItem><FEIEItemValue Type="8" Value="y"/></FEIEItem>
        |              <FEIEItem><FEIEItemValue Type="8" Value="z"/></FEIEItem>
        |            </FEIEItems></DTS:ObjectData>
        |          </DTS:ForEachEnumerator>
        |          <DTS:ForEachVariableMappings>
        |            <DTS:ForEachVariableMapping DTS:VariableName="User::Inner" DTS:ValueIndex="0"/>
        |          </DTS:ForEachVariableMappings>
        |          <DTS:Executables/>
        |        </DTS:Executable>
        |      </DTS:Executables>
        |    </DTS:Executable>
        |  </DTS:Executables>
        |</DTS:Executable>""".stripMargin
    val parsed = graft.parser.DtsxParser.parseString(xml)
    val outer = parsed.tasks.collectFirst { case c: ContainerTask => c }.get
    assert(outer.name === "Outer")
    assert(outer.enumItems.map(_.head.raw) === List("A", "B"))
    assert(outer.variableMappings === List("User::Outer" -> 0))
    val inner = outer.children.collectFirst { case c: ContainerTask => c }.get
    assert(inner.name === "Inner")
    assert(inner.enumItems.map(_.head.raw) === List("x", "y", "z"))
    assert(inner.variableMappings === List("User::Inner" -> 0))
  }

  test("ForEach loop stops before the next iteration after a failed child") {
    val captured = scala.collection.mutable.ListBuffer.empty[String]
    val child = ExecuteSqlTask("Step", None, connectionId = "",
      sqlStatement = "INSERT INTO t VALUES (?)")
    val loop = ContainerTask("Loop", None, "ForEachLoop", List(child),
      enumItems = List("a", "boom", "c").map(v => List(EnumValue("DT_WSTR", v))),
      variableMappings = List("User::V" -> 0),
      enumeratorKind = Some("Microsoft.ForEachItemEnumerator"))
    val vars = List(Variable("User", "V", "DT_WSTR", ""))
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = t => {
        captured += t.sqlStatement
        if (t.sqlStatement.contains("boom")) throw new RuntimeException("boom")
        Some(PackageRunner.SqlOutcome(None, None))
      })
    val run = PackageRunner.run(spark, pkg(List(loop), Nil, vars), e)
    assert(run.failed)
    // iteration 2 ('c') never started — SSIS MaximumErrorCount=1 semantics
    assert(captured.toList ===
      List("INSERT INTO t VALUES ('a')", "INSERT INTO t VALUES ('boom')"))
  }

  test("ForLoop stops before the next iteration after a failed child") {
    val captured = scala.collection.mutable.ListBuffer.empty[String]
    val child = ExecuteSqlTask("Step", None, connectionId = "",
      sqlStatement = "INSERT INTO t VALUES (?)")
    val loop = ContainerTask("Loop", None, "ForLoop", List(child),
      forLoop = Some(ForLoopSpec(
        initExpression = Some("@[User::i] = 0"),
        evalExpression = "@[User::i] < 5",
        assignExpression = Some("@[User::i] = @[User::i] + 1"))))
    val vars = List(Variable("User", "i", "DT_I4", "0"))
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = t => {
        captured += t.sqlStatement
        if (t.sqlStatement.contains("(1)")) throw new RuntimeException("boom")
        Some(PackageRunner.SqlOutcome(None, None))
      })
    val run = PackageRunner.run(spark, pkg(List(loop), Nil, vars), e)
    assert(run.failed)
    assert(captured.toList ===
      List("INSERT INTO t VALUES (0)", "INSERT INTO t VALUES (1)"))
  }

  test("unsupported ForEach enumerator is a manual-review skip, not a silent pass") {
    val xml =
      """<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts"
        |    DTS:ObjectName="Pkg" DTS:ExecutableType="Microsoft.Package">
        |  <DTS:Executables>
        |    <DTS:Executable DTS:ObjectName="FileLoop" DTS:ExecutableType="Microsoft.ForEachLoop">
        |      <DTS:ForEachEnumerator DTS:CreationName="Microsoft.ForEachFileEnumerator">
        |        <DTS:ObjectData/>
        |      </DTS:ForEachEnumerator>
        |      <DTS:Executables>
        |        <DTS:Executable DTS:ObjectName="Child" DTS:ExecutableType="Microsoft.ExecuteSQLTask">
        |          <DTS:ObjectData><SQLTask:SqlTaskData
        |            xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask"
        |            SQLTask:SqlStatementSource="SELECT 1"/></DTS:ObjectData>
        |        </DTS:Executable>
        |      </DTS:Executables>
        |    </DTS:Executable>
        |  </DTS:Executables>
        |</DTS:Executable>""".stripMargin
    val parsed = graft.parser.DtsxParser.parseString(xml)
    assert(parsed.warnings.exists(w =>
      w.contains("FileLoop") && w.contains("ForEachFileEnumerator")))
    var childRan = false
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = _ => { childRan = true; Some(PackageRunner.SqlOutcome(None, None)) })
    val run = PackageRunner.run(spark, parsed, e)
    val st = statusOf(run)
    assert(st("FileLoop") === TaskStatus.SkippedManualReview)
    assert(!childRan, "child of an unsupported enumerator must not execute")
  }

  test("zero-item ForEach runs zero iterations (vacuous success)") {
    var childRan = false
    val child = ExecuteSqlTask("Step", None, connectionId = "", sqlStatement = "SELECT 1")
    val loop = ContainerTask("Loop", None, "ForEachLoop", List(child),
      enumItems = Nil, enumeratorKind = Some("Microsoft.ForEachItemEnumerator"))
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = _ => { childRan = true; Some(PackageRunner.SqlOutcome(None, None)) })
    val run = PackageRunner.run(spark, pkg(List(loop), Nil), e)
    assert(!run.failed)
    assert(!childRan)
    assert(statusOf(run)("Loop") === TaskStatus.Succeeded)
  }

  test("ForEach FILE enumerator parses, lists the folder, and binds paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fef_spec")
    java.nio.file.Files.write(dir.resolve("b.csv"), "x\n2".getBytes)
    java.nio.file.Files.write(dir.resolve("a.csv"), "x\n1".getBytes)
    java.nio.file.Files.write(dir.resolve("skip.txt"), "no".getBytes)
    val xml =
      s"""<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts"
         |    DTS:ObjectName="Pkg" DTS:ExecutableType="Microsoft.Package">
         |  <DTS:Variables>
         |    <DTS:Variable DTS:Namespace="User" DTS:ObjectName="F">
         |      <DTS:VariableValue DTS:DataType="8"></DTS:VariableValue>
         |    </DTS:Variable>
         |  </DTS:Variables>
         |  <DTS:Executables>
         |    <DTS:Executable DTS:ObjectName="FileLoop" DTS:ExecutableType="Microsoft.ForEachLoop">
         |      <DTS:ForEachEnumerator DTS:CreationName="Microsoft.ForEachFileEnumerator">
         |        <DTS:ObjectData>
         |          <ForEachFileEnumeratorProperties>
         |            <FEFEProperty Folder="$dir"/>
         |            <FEFEProperty FileSpec="*.csv"/>
         |            <FEFEProperty FileNameRetrieval="0"/>
         |          </ForEachFileEnumeratorProperties>
         |        </DTS:ObjectData>
         |      </DTS:ForEachEnumerator>
         |      <DTS:ForEachVariableMappings>
         |        <DTS:ForEachVariableMapping DTS:VariableName="User::F" DTS:ValueIndex="0"/>
         |      </DTS:ForEachVariableMappings>
         |      <DTS:Executables>
         |        <DTS:Executable DTS:ObjectName="Child" DTS:ExecutableType="Microsoft.ExecuteSQLTask">
         |          <DTS:ObjectData><SQLTask:SqlTaskData
         |            xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask"
         |            SQLTask:SqlStatementSource="INSERT INTO t VALUES (?)"/></DTS:ObjectData>
         |        </DTS:Executable>
         |      </DTS:Executables>
         |    </DTS:Executable>
         |  </DTS:Executables>
         |</DTS:Executable>""".stripMargin
    val parsed = graft.parser.DtsxParser.parseString(xml)
    // a parsed File enumerator is NOT a manual-review warning
    assert(!parsed.warnings.exists(_.contains("FileLoop")))
    val loop = parsed.tasks.collectFirst { case c: ContainerTask => c }.get
    assert(loop.fileEnum === Some(FileEnumSpec(dir.toString, "*.csv", 0, false)))
    val captured = scala.collection.mutable.ListBuffer.empty[String]
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = t => { captured += t.sqlStatement
        Some(PackageRunner.SqlOutcome(None, None)) })
    val run = PackageRunner.run(spark, parsed, e)
    assert(!run.failed)
    assert(statusOf(run)("FileLoop") === TaskStatus.Succeeded)
    // *.csv only, sorted, fully-qualified, bound through the `?` parameter
    assert(captured.toList === List(
      s"INSERT INTO t VALUES ('${dir.resolve("a.csv")}')",
      s"INSERT INTO t VALUES ('${dir.resolve("b.csv")}')"))
  }

  test("File enumerator retrieval types render name+ext and bare name") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fef_ret")
    java.nio.file.Files.write(dir.resolve("data.part1.csv"), "x".getBytes)
    def items(rt: Int): List[String] =
      PackageRunner.enumerateFiles(
        FileEnumSpec(dir.toString, "*.csv", rt), Map.empty).map(_.head.raw)
    assert(items(0) === List(dir.resolve("data.part1.csv").toString))
    assert(items(1) === List("data.part1.csv"))
    assert(items(2) === List("data.part1")) // last extension stripped
  }

  test("File enumerator recurses into subdirectories only when asked") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fef_rec")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.write(dir.resolve("top.csv"), "x".getBytes)
    java.nio.file.Files.write(sub.resolve("nested.csv"), "x".getBytes)
    def names(rec: Boolean): List[String] =
      PackageRunner.enumerateFiles(
        FileEnumSpec(dir.toString, "*.csv", 1, recurse = rec), Map.empty)
        .map(_.head.raw)
    assert(names(false) === List("top.csv"))
    assert(names(true).toSet === Set("top.csv", "nested.csv"))
  }

  test("ForEach ADO enumerator parses its recordset variable and result binding") {
    val in = getClass.getResourceAsStream("/dtsx/ForEachAdoRegionETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val parsed = graft.parser.DtsxParser.parseString(xml)
    assert(!parsed.warnings.exists(_.contains("Region Loop")))
    val sqlTask = parsed.tasks.collectFirst { case t: ExecuteSqlTask => t }.get
    assert(sqlTask.resultSet === "Full")
    assert(sqlTask.resultVariable === Some("User::Regions"))
    val loop = parsed.tasks.collectFirst { case c: ContainerTask => c }.get
    assert(loop.adoObjectVar === Some("User::Regions"))
    assert(loop.variableMappings === List("User::RegionKey" -> 0))
  }

  test("ForEach ADO with an UNBOUND recordset variable fails, never a silent pass") {
    val loop = ContainerTask("Loop", None, "ForEachLoop", List(sqlTask("Child")),
      variableMappings = List("User::K" -> 0),
      enumeratorKind = Some("Microsoft.ForEachADOEnumerator"),
      adoObjectVar = Some("User::Missing"))
    val run = PackageRunner.run(spark, pkg(List(loop), Nil), env(Set.empty))
    val st = statusOf(run)
    assert(st("Loop").isInstanceOf[TaskStatus.Failed])
    assert(st("Loop").asInstanceOf[TaskStatus.Failed].error.contains("User::Missing"))
  }

  test("ForEach NODELIST enumerator parses from the fixture and iterates node text") {
    val in = getClass.getResourceAsStream("/dtsx/ForEachNodeListETL.dtsx")
    val xml = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val parsed = graft.parser.DtsxParser.parseString(xml)
    // a parsed NodeText enumerator is NOT a manual-review warning
    assert(!parsed.warnings.exists(_.contains("Segment Loop")))
    val loop = parsed.tasks.collectFirst { case c: ContainerTask => c }.get
    val spec = loop.nodeListEnum.get
    assert(spec.enumerationType === "NodeText")
    assert(spec.sourceType === "DirectInput")
    assert(spec.outerXPath === "/segments/segment")
    assert(PackageRunner.nodeListItems(spec, Map.empty).map(_.head.raw) ===
      List("BUILDING", "AUTOMOBILE", "MACHINERY"))
  }

  test("nodeListItems resolves Variable and FileConnection document sources") {
    val doc = "<ks><k>1</k><k>2</k></ks>"
    val byVar = NodeListSpec("NodeText", "Variable", "@[User::Doc]", "/ks/k")
    assert(PackageRunner.nodeListItems(byVar, Map("User::Doc" -> doc))
      .map(_.head.raw) === List("1", "2"))
    // unbound / non-string variable fails loudly, never a silent empty loop
    val e1 = intercept[IllegalArgumentException](
      PackageRunner.nodeListItems(byVar, Map.empty))
    assert(e1.getMessage.contains("User::Doc"))
    val f = java.nio.file.Files.createTempFile("graft_nodelist", ".xml")
    java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
    val byFile = NodeListSpec("NodeText", "FileConnection", f.toString, "/ks/k")
    assert(PackageRunner.nodeListItems(byFile, Map.empty)
      .map(_.head.raw) === List("1", "2"))
    java.nio.file.Files.delete(f)
  }

  test("NodeList document with a DOCTYPE is rejected (XXE hardening)") {
    val hostile = """<!DOCTYPE x [<!ENTITY e SYSTEM "file:///etc/hostname">]>
      |<ks><k>&e;</k></ks>""".stripMargin
    val spec = NodeListSpec("NodeText", "DirectInput", hostile, "/ks/k")
    intercept[org.xml.sax.SAXParseException](
      PackageRunner.nodeListItems(spec, Map.empty))
  }

  test("NodeList Navigator enumeration mode stays manual-review") {
    val xml =
      """<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts"
        |    DTS:ObjectName="Pkg" DTS:ExecutableType="Microsoft.Package">
        |  <DTS:Executables>
        |    <DTS:Executable DTS:ObjectName="NavLoop" DTS:ExecutableType="Microsoft.ForEachLoop">
        |      <DTS:ForEachEnumerator DTS:CreationName="Microsoft.ForEachNodeListEnumerator">
        |        <DTS:ObjectData>
        |          <FEENODELIST EnumerationType="Navigator" SourceType="DirectInput"
        |                       SourceDocument="&lt;a/&gt;" OuterXPathString="/a"/>
        |        </DTS:ObjectData>
        |      </DTS:ForEachEnumerator>
        |      <DTS:Executables>
        |        <DTS:Executable DTS:ObjectName="Child" DTS:ExecutableType="Microsoft.ExecuteSQLTask">
        |          <DTS:ObjectData><SQLTask:SqlTaskData
        |            xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask"
        |            SQLTask:SqlStatementSource="SELECT 1"/></DTS:ObjectData>
        |        </DTS:Executable>
        |      </DTS:Executables>
        |    </DTS:Executable>
        |  </DTS:Executables>
        |</DTS:Executable>""".stripMargin
    val parsed = graft.parser.DtsxParser.parseString(xml)
    // Navigator has no scalar item to bind: warned at parse time AND
    // skipped (not silently run) at execution time
    assert(parsed.warnings.exists(w =>
      w.contains("NavLoop") && w.contains("manual review")))
    var childRan = false
    val e = RuntimeEnv(
      resolver = Resolver(source = _ => sys.error("no source"),
        lookup = _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = _ => { childRan = true; Some(PackageRunner.SqlOutcome(None, None)) })
    val run = PackageRunner.run(spark, parsed, e)
    assert(statusOf(run)("NavLoop") === TaskStatus.SkippedManualReview)
    assert(!childRan)
  }

  test("ForEachLoop with NO parsed enumerator is a manual-review skip, not vacuous success") {
    val loop = ContainerTask("Loop", None, "ForEachLoop",
      List(sqlTask("Child")), enumItems = Nil, enumeratorKind = None)
    val run = PackageRunner.run(spark, pkg(List(loop), Nil), env(Set.empty))
    assert(statusOf(run)("Loop") === TaskStatus.SkippedManualReview)
    assert(!run.failed)
  }

  test("control-flow evaluation launches ZERO Spark jobs") {
    // a 1000-iteration ForLoop (eval + assign per round) plus expression-
    // variable evaluation must never touch the cluster: scalar expressions
    // fold in-process over a one-row LocalRelation
    val vars = List(
      Variable("User", "i", "DT_I4", "0"),
      Variable("User", "Doubled", "DT_I4", "0",
        expression = Some("@[User::i] + 2")))
    val loop = ContainerTask("Loop", None, "ForLoop", List(sqlTask("Step")),
      forLoop = Some(ForLoopSpec(
        initExpression = Some("@[User::i] = 0"),
        evalExpression = "@[User::i] < 1000",
        assignExpression = Some("@[User::i] = @[User::i] + 1"))))
    val (run, jobs) = SparkTestSession.jobsIn("control-flow") {
      PackageRunner.run(spark, pkg(List(loop), Nil, vars), env(Set.empty))
    }
    assert(!run.failed)
    val container = run.tasks.find(_.taskName == "Loop").get
    assert(container.notes.length === 1000)
    assert(jobs === 0, s"control flow launched $jobs Spark job(s); expected none")
  }

  test("container-INTERNAL constraints order and gate children (not declaration order)") {
    // Sequence declares B before A, internal constraint A→B: A must run
    // first. C is gated on B's FAILURE and must be NotRun when B succeeds.
    val seq = ContainerTask("Seq", None, "Sequence",
      children = List(sqlTask("B"), sqlTask("A"), sqlTask("C")),
      constraints = List(
        PrecedenceConstraint("A", "B", ConstraintKind.Success),
        PrecedenceConstraint("B", "C", ConstraintKind.Failure)))
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val e = RuntimeEnv(
      resolver = Resolver(_ => sys.error("no source"), _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = t => { order += t.name; Some(PackageRunner.SqlOutcome(None, None)) })
    val run = PackageRunner.run(spark, pkg(List(seq), Nil), e)
    assert(order.toList === List("A", "B"), "internal constraint must reorder children")
    val byName = run.tasks.head.notes.mkString("; ")
    assert(byName.contains("C: NotRun"), s"failure-gated child must not run: $byName")
  }

  test("duplicate task names are a clear error, not a phantom cycle") {
    val p = pkg(List(sqlTask("X"), sqlTask("X")), Nil)
    val err = p.topoOrder.swap.getOrElse("")
    assert(err.contains("duplicate task name"), s"got: $err")
  }

  test("brace-quoted passwords redact fully (no tail leak past the embedded ';')") {
    val cm = ConnectionManager("r", "db", "id",
      "Data Source=S;Password={ab;cd};Initial Catalog=C;")
    val red = cm.redactedConnectionString
    assert(!red.contains("ab") && !red.contains("cd"),
      s"password fragments leaked: $red")
    assert(red.contains("Password=***"))
    assert(red.contains("Initial Catalog=C"))
  }

  test("a RowCount component's observation reaches TaskRun.observedCounts (runner path)") {
    import org.apache.spark.sql.SparkSession
    val sparkS: SparkSession = spark
    import sparkS.implicits._
    val flow = DataFlowTask("Flow", None, List(
      SourceComponent("Src", "OLEDBSource", None, None, Some("[dbo].[nums]"), None, Nil),
      RowCountComponent("Count Rows", "User::N")))
    val e = RuntimeEnv(
      resolver = Resolver(_ => Seq(1, 2, 3).toDF("x"), _ => sys.error("no lookup")),
      write = (_, _, _) => ())
    val run = PackageRunner.run(spark, pkg(List(flow), Nil), e)
    val tr = run.tasks.head
    assert(tr.status === TaskStatus.Succeeded,
      s"RowCount task failed: ${tr.status} (the Observation map access bug)")
    assert(tr.observedCounts === Map("User::N" -> 3L))
  }

  test("a '?' inside a SQL comment or literal never consumes a parameter") {
    import graft.pipeline.PackageVariables._
    assert(placeholderCount("-- retry?\nDELETE FROM t WHERE id = ?") === 1)
    assert(placeholderCount("/* what? */ SELECT ? , '?'") === 1)
    assert(bindSql("-- retry?\nDELETE FROM t WHERE id = ?", Seq(42)) ===
      "-- retry?\nDELETE FROM t WHERE id = 42")
    assert(bindSql("/* eh? */ SELECT ? AS a, '?' AS b", Seq("x")) ===
      "/* eh? */ SELECT 'x' AS a, '?' AS b")
  }

  test("resume re-executes a succeeded SQL task whose ResultBinding is in-memory only") {
    // the recordset a ForEach ADO enumerator iterates lives in the
    // VarStore, not the checkpoint — carrying the task over would leave
    // the Object variable's stale scalar and fail every resumed run
    val statePath = java.nio.file.Files.createTempDirectory("graft-rs")
      .resolve("state.json").toString
    var sqlRuns = 0
    val sqlT = ExecuteSqlTask("Load IDs", None, "conn",
      "SELECT 1 AS id", resultSet = "Full", resultVariable = Some("User::rs"))
    val e = RuntimeEnv(
      resolver = Resolver(_ => sys.error("no source"), _ => sys.error("no lookup")),
      write = (_, _, _) => (),
      sqlExecutor = _ => {
        sqlRuns += 1
        import spark.implicits._
        Some(PackageRunner.SqlOutcome(Some(Seq(1L).toDF("id")), None))
      })
    val p = pkg(List(sqlT), Nil,
      vars = List(Variable("User", "rs", "DT_WSTR", "")))
    assert(!PackageRunner.runResumable(spark, p, e, statePath).failed)
    assert(sqlRuns === 1)
    // second invocation: the binding task must RE-RUN, not carry over
    assert(!PackageRunner.runResumable(spark, p, e, statePath).failed)
    assert(sqlRuns === 2, "binding task was carried over; its recordset is lost on resume")
  }

  test("DATEADD expression variable produces the bound window end") {
    val vars = List(
      Variable("User", "StartDate", "DT_DBTIMESTAMP", "1995-03-01T00:00:00"),
      Variable("User", "EndDate", "DT_DBTIMESTAMP", "1995-03-01T00:00:00",
        expression = Some("DATEADD(\"day\", @[User::WindowDays], @[User::StartDate])")),
      Variable("User", "WindowDays", "DT_I4", "91"))
    val values = PackageVariables.evaluate(spark, vars)
    assert(values("User::EndDate") === java.sql.Timestamp.valueOf("1995-05-31 00:00:00"))
  }
}
