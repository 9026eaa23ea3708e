package graft

import graft.ir.Ir._
import graft.ops.DataFlowCompiler
import graft.ops.DataFlowCompiler.Resolver
import graft.parser.DtsxParser
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The components the reference only recognizes by class id
  * (constants.py:22-39) get full parse + executable semantics here
  * (SURVEY.md §7.4.4) — exercised through a synthetic package that uses
  * the documented SSIS XML shapes. */
class ExtendedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val syntheticDtsx =
    """<?xml version="1.0"?>
      |<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" DTS:ObjectName="Extended">
      |  <DTS:Executables>
      |    <DTS:Executable DTS:refId="Package\Flow" DTS:ExecutableType="Microsoft.Pipeline"
      |                    DTS:ObjectName="Flow">
      |      <DTS:ObjectData>
      |        <pipeline version="1">
      |          <components>
      |            <component refId="P\F\Src" componentClassID="Microsoft.OLEDBSource" name="Src">
      |              <properties><property name="OpenRowset">[dbo].[items]</property></properties>
      |              <outputs><output name="o">
      |                <outputColumns>
      |                  <outputColumn name="Id" dataType="i4"/>
      |                  <outputColumn name="Qty" dataType="i4"/>
      |                  <outputColumn name="Price" dataType="numeric" precision="12" scale="2"/>
      |                  <outputColumn name="Cat" dataType="wstr" length="10"/>
      |                </outputColumns>
      |              </output></outputs>
      |            </component>
      |            <component refId="P\F\Conv" componentClassID="Microsoft.DataConversion" name="Conv">
      |              <outputs><output name="o"><outputColumns>
      |                <outputColumn name="Qty_conv" dataType="i8">
      |                  <properties><property name="SourceInputColumn">Qty</property></properties>
      |                </outputColumn>
      |              </outputColumns></output></outputs>
      |            </component>
      |            <component refId="P\F\Split" componentClassID="Microsoft.ConditionalSplit" name="Split">
      |              <outputs>
      |                <output name="big">
      |                  <properties><property name="Expression">[Qty] &gt;= 10</property></properties>
      |                </output>
      |                <output name="mid">
      |                  <properties><property name="Expression">[Qty] &gt;= 5</property></properties>
      |                </output>
      |                <output name="rest" isDefault="true"/>
      |              </outputs>
      |            </component>
      |            <component refId="P\F\Cnt" componentClassID="Microsoft.RowCount" name="Cnt">
      |              <properties><property name="VariableName">User::N</property></properties>
      |            </component>
      |            <component refId="P\F\Agg" componentClassID="Microsoft.Aggregate" name="Agg">
      |              <outputs><output name="o"><outputColumns>
      |                <outputColumn name="Cat">
      |                  <properties><property name="AggregationType">groupby</property></properties>
      |                </outputColumn>
      |                <outputColumn name="TotalQty">
      |                  <properties>
      |                    <property name="AggregationType">sum</property>
      |                    <property name="AggregationColumn">Qty</property>
      |                  </properties>
      |                </outputColumn>
      |                <outputColumn name="N">
      |                  <properties><property name="AggregationType">count</property></properties>
      |                </outputColumn>
      |              </outputColumns></output></outputs>
      |            </component>
      |            <component refId="P\F\Sort" componentClassID="Microsoft.Sort" name="Sort">
      |              <inputs><input name="i"><inputColumns>
      |                <inputColumn cachedName="TotalQty" sortDescending="true"/>
      |              </inputColumns></input></inputs>
      |            </component>
      |          </components>
      |        </pipeline>
      |      </DTS:ObjectData>
      |    </DTS:Executable>
      |    <DTS:Executable DTS:refId="Package\Loop" DTS:ExecutableType="Microsoft.ForEachLoop"
      |                    DTS:ObjectName="Loop">
      |      <DTS:Executables>
      |        <DTS:Executable DTS:refId="Package\Loop\Inner" DTS:ExecutableType="Microsoft.ExecuteSQLTask"
      |                        DTS:ObjectName="Inner">
      |          <DTS:ObjectData>
      |            <SQLTask:SqlTaskData xmlns:SQLTask="www.microsoft.com/sqlserver/dts/tasks/sqltask"
      |              SQLTask:SqlStatementSource="SELECT 1"/>
      |          </DTS:ObjectData>
      |        </DTS:Executable>
      |      </DTS:Executables>
      |    </DTS:Executable>
      |  </DTS:Executables>
      |</DTS:Executable>""".stripMargin

  lazy val pkg: SsisPackage = DtsxParser.parseString(syntheticDtsx)

  private val items = Seq(
    (1, 12, BigDecimal("1.00"), "a"),
    (2, 7, BigDecimal("2.00"), "a"),
    (3, 2, BigDecimal("3.00"), "b"),
    (4, 20, BigDecimal("4.00"), "b"))
    .toDF("Id", "Qty", "Price", "Cat")

  test("parser: extended components fully parsed") {
    val flow = pkg.tasks.collectFirst { case d: DataFlowTask => d }.get
    val types = flow.components.map(_.componentType)
    assert(types === List("OLEDBSource", "DataConversion", "ConditionalSplit",
      "RowCount", "Aggregate", "Sort"))
    val split = flow.components.collectFirst { case c: ConditionalSplitComponent => c }.get
    assert(split.cases === List("big" -> "[Qty] >= 10", "mid" -> "[Qty] >= 5"))
    assert(split.defaultOutput === "rest")
    val agg = flow.components.collectFirst { case c: AggregateComponent => c }.get
    assert(agg.groupByCols === List("Cat"))
    // the fixture's count has no AggregationColumn → SSIS count-all
    assert(agg.aggs.map(_.fn).toSet ===
      Set(AggFunction.GroupBy, AggFunction.Sum, AggFunction.CountAll))
    val loop = pkg.tasks.collectFirst { case c: ContainerTask => c }.get
    assert(loop.containerType === "ForEachLoop")
    assert(loop.children.map(_.name) === List("Inner"))
  }

  test("compiler: conversion -> split routes -> observe -> aggregate -> sort") {
    val flow = pkg.tasks.collectFirst { case d: DataFlowTask => d }.get
    val compiled = DataFlowCompiler.compile(flow, Resolver(_ => items, _ => fail("no lookups")))
    // conditional split tag: ordered first-match-wins
    assert(compiled.routes.keySet === Set("big", "mid", "rest"))
    assert(compiled.routes("big").select("Id").collect().map(_.getInt(0)).toSet === Set(1, 4))
    assert(compiled.routes("mid").select("Id").collect().map(_.getInt(0)).toSet === Set(2))
    assert(compiled.routes("rest").select("Id").collect().map(_.getInt(0)).toSet === Set(3))
    // final frame: conversion column flowed through, aggregate + sort applied
    val out = compiled.df.collect()
    assert(compiled.df.columns.toSeq === Seq("Cat", "TotalQty", "N"))
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("b", 22L, 2L), ("a", 19L, 2L))) // sorted by TotalQty desc
    // row count observation fires with the action above
    val obs = compiled.observations("User::N")
    assert(obs.get("row_count") === 4L)
  }

  test("compiler: timestamp probe joins a DATE-typed dim on the derived date (J2)") {
    val facts = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-05 10:30:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-06 23:59:59")))
      .toDF("SaleID", "SaleDate")
    val dimDate = Seq(
      (20240105, java.sql.Date.valueOf("2024-01-05")),
      (20240106, java.sql.Date.valueOf("2024-01-06")))
      .toDF("DateKey", "FullDate")
    val lookup = LookupComponent("Lookup Date", None, None, CacheMode.Full,
      NoMatchBehavior.FailComponent, inputColumns = List("SaleDate"),
      outputColumns = List(ColumnInfo("DateKey",
        graft.types.SsisTypes.SsisColumnType("i4"))))
    val (joined, unmatched) = DataFlowCompiler.applyLookup(facts, lookup,
      Resolver(_ => fail("no source"), _ => dimDate))
    // FailComponent: the unmatched-rows frame is recorded and EMPTY here
    // (every probe date exists in the dim); the marker never leaks
    assert(unmatched.isDefined && unmatched.get.isEmpty)
    assert(!joined.columns.contains("__graft_lookup_matched"))
    assert(joined.select("DateKey").collect().map(_.getInt(0)).toSet ===
      Set(20240105, 20240106))
    // a probe date with NO dim row lands in the unmatched frame
    val badFacts = facts.union(Seq(
      (3L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))).toDF("SaleID", "SaleDate"))
    val (_, unmatched2) = DataFlowCompiler.applyLookup(badFacts, lookup,
      Resolver(_ => fail("no source"), _ => dimDate))
    assert(unmatched2.get.select("SaleID").collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("compiler: mergeJoin and unionAll helpers") {
    val l = Seq((1, "x"), (2, "y")).toDF("k", "lv")
    val r = Seq((1, 10), (3, 30)).toDF("k2", "rv")
    val mj = DataFlowCompiler.mergeJoin(l, r,
      MergeJoinComponent("mj", "LEFT", List("k"), List("k2")))
    assert(mj.count() === 2)
    assert(mj.filter(col("k") === 2).head().isNullAt(3))
    val u = DataFlowCompiler.unionAll(Seq(l, Seq((9, "z")).toDF("k", "lv")))
    assert(u.count() === 3)
  }

  test("dag compiler: split routes feed distinct branches, re-merge, aggregate") {
    val src = Seq((1L, "R", 10.0), (2L, "N", 20.0), (3L, "R", 30.0))
      .toDF("id", "flag", "v")
    val flow = DataFlowTask("branched", None, List(
      SourceComponent("Src", "OLEDBSource", None, None, None, None, Nil),
      ConditionalSplitComponent("Split", List("r" -> "[flag] == \"R\""), "other"),
      DerivedColumnComponent("TagR", List(DerivedColumnDef("lbl", "\"ret\"", None,
        graft.types.SsisTypes.SsisColumnType("wstr", Some(5))))),
      DerivedColumnComponent("TagO", List(DerivedColumnDef("lbl", "\"kept\"", None,
        graft.types.SsisTypes.SsisColumnType("wstr", Some(5))))),
      UnionAllComponent("Union"),
      AggregateComponent("Agg", List(
        AggSpec("lbl", "lbl", AggFunction.GroupBy),
        AggSpec("v", "total", AggFunction.Sum)))),
      paths = List(
        FlowPath("Src", None, "Split", None),
        FlowPath("Split", Some("r"), "TagR", None),
        FlowPath("Split", Some("other"), "TagO", None),
        FlowPath("TagR", None, "Union", None),
        FlowPath("TagO", None, "Union", None),
        FlowPath("Union", None, "Agg", None)))
    val dag = DataFlowCompiler.compileDag(flow,
      Resolver(_ => src, _ => fail("no lookup")))
    val out = dag.outputs("Agg").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("ret" -> 40.0, "kept" -> 20.0))
  }

  test("dag compiler: open diamond (side tap) falls back to plain union, same results") {
    val src = Seq((1L, "R", 10.0), (2L, "N", 20.0), (3L, "R", 30.0))
      .toDF("id", "flag", "v")
    val flow = DataFlowTask("sidetap", None, List(
      SourceComponent("Src", "OLEDBSource", None, None, None, None, Nil),
      ConditionalSplitComponent("Split", List("r" -> "[flag] == \"R\""), "other"),
      DerivedColumnComponent("TagR", List(DerivedColumnDef("lbl", "\"ret\"", None,
        graft.types.SsisTypes.SsisColumnType("wstr", Some(5))))),
      DerivedColumnComponent("TagO", List(DerivedColumnDef("lbl", "\"kept\"", None,
        graft.types.SsisTypes.SsisColumnType("wstr", Some(5))))),
      UnionAllComponent("Union"),
      SortComponent("Audit", List("id" -> true))), // side tap off TagR
      paths = List(
        FlowPath("Src", None, "Split", None),
        FlowPath("Split", Some("r"), "TagR", None),
        FlowPath("Split", Some("other"), "TagO", None),
        FlowPath("TagR", None, "Union", None),
        FlowPath("TagR", None, "Audit", None),
        FlowPath("TagO", None, "Union", None)))
    val dag = DataFlowCompiler.compileDag(flow,
      Resolver(_ => src, _ => fail("no lookup")))
    // side tap sees only the routed branch; union still carries all rows
    assert(dag.outputs("Audit").count() === 2)
    assert(dag.outputs("Union").count() === 3)
    assert(dag.outputs("Union").filter(col("lbl") === "ret").count() === 2)
  }

  test("dag compiler: two split routes feeding ONE union directly are not a false cycle") {
    // parallel edges (same from/to pair, different route) each count in
    // the in-degree — per-edge Kahn decrement must drain them
    val src = Seq((1L, "R", 10.0), (2L, "N", 20.0), (3L, "R", 30.0))
      .toDF("id", "flag", "v")
    val flow = DataFlowTask("par", None, List(
      SourceComponent("Src", "OLEDBSource", None, None, None, None, Nil),
      ConditionalSplitComponent("Split", List("r" -> "[flag] == \"R\""), "other"),
      UnionAllComponent("Union")),
      paths = List(
        FlowPath("Src", None, "Split", None),
        FlowPath("Split", Some("r"), "Union", None),
        FlowPath("Split", Some("other"), "Union", None)))
    val dag = DataFlowCompiler.compileDag(flow,
      Resolver(_ => src, _ => fail("no lookup")))
    assert(dag.outputs("Union").count() === 3)
  }

  test("dag compiler: merge join with ONE labeled edge binds the other side to the remaining edge") {
    val a = Seq((1, "a1"), (2, "a2")).toDF("k", "av")
    val b = Seq((1, "b1")).toDF("k2", "bv")
    val flow = DataFlowTask("mj1", None, List(
      SourceComponent("A", "OLEDBSource", None, None, None, None, Nil),
      SourceComponent("B", "OLEDBSource", None, None, None, None, Nil),
      MergeJoinComponent("Join", "LEFT", List("k"), List("k2"))),
      paths = List(
        // only the RIGHT edge is labeled, and it is ALSO the last edge —
        // a positional fallback would join B with itself and drop A
        FlowPath("A", None, "Join", None),
        FlowPath("B", None, "Join", Some("right"))))
    val dag = DataFlowCompiler.compileDag(flow,
      Resolver(s => if (s.name == "A") a else b, _ => fail("no lookup")))
    val out = dag.outputs("Join").collect()
    assert(out.length === 2, "left outer join must keep both A rows")
    assert(out.map(_.getString(1)).toSet === Set("a1", "a2"))
  }

  test("aggregate Count counts non-null values; CountAll counts rows") {
    import graft.ir.Ir.{AggSpec, AggregateComponent}
    val df = Seq(("a", Some("x")), ("a", None), ("a", Some("y")), ("b", None))
      .toDF("g", "email")
    val agg = AggregateComponent("Agg", List(
      AggSpec("g", "g", AggFunction.GroupBy),
      AggSpec("email", "n_emails", AggFunction.Count),
      AggSpec("", "n_rows", AggFunction.CountAll)))
    val out = DataFlowCompiler.applyAggregate(df, agg).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a") === ((2L, 3L)), "Count must skip NULLs; CountAll must not")
    assert(out("b") === ((0L, 1L)))
  }

  test("dag compiler: merge join honors left/right path annotations") {
    val a = Seq((1, "a1"), (2, "a2")).toDF("k", "av")
    val b = Seq((1, "b1")).toDF("k2", "bv")
    val flow = DataFlowTask("mj", None, List(
      SourceComponent("A", "OLEDBSource", None, None, None, None, Nil),
      SourceComponent("B", "OLEDBSource", None, None, None, None, Nil),
      MergeJoinComponent("Join", "LEFT", List("k"), List("k2"))),
      paths = List(
        // declared out of order: the annotations, not the order, decide
        FlowPath("B", None, "Join", Some("right")),
        FlowPath("A", None, "Join", Some("left"))))
    val dag = DataFlowCompiler.compileDag(flow,
      Resolver(s => if (s.name == "A") a else b, _ => fail("no lookup")))
    val out = dag.outputs("Join")
    assert(out.count() === 2) // LEFT join keeps both A rows
    assert(out.filter(col("k") === 2).head().isNullAt(3))
  }

  test("dag compiler: rejects cyclic paths") {
    val flow = DataFlowTask("cyc", None, List(
      SourceComponent("A", "OLEDBSource", None, None, None, None, Nil),
      SortComponent("S1", List("x" -> true)),
      SortComponent("S2", List("x" -> true))),
      paths = List(
        FlowPath("S1", None, "S2", None),
        FlowPath("S2", None, "S1", None)))
    val e = intercept[IllegalArgumentException] {
      DataFlowCompiler.compileDag(flow,
        Resolver(_ => Seq(1).toDF("x"), _ => fail("no lookup")))
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("compaction rewrites a fragmented dataset to few files, same rows; no-op when already compact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val rows = (1 to 10000).map(i => (i.toLong, s"v$i"))
    // fragment: 32 writer tasks → 32 small files
    rows.toDF("id", "v").repartition(32).write.mode("overwrite").parquet(dir)
    val frag = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(frag > 8)
    val stats = graft.ops.Compaction.compact(spark, dir, targetFileBytes = 512L * 1024)
    assert(stats.filesBefore === frag)
    assert(stats.filesAfter < frag && stats.filesAfter >= 1)
    // content identical after the rewrite (modulo order)
    val back = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(back.toSeq === rows.sortBy(_._1))
    // second pass: already at/below target count → byte-for-byte no-op
    val mtimes = new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified).toMap
    val again = graft.ops.Compaction.compact(spark, dir, targetFileBytes = 512L * 1024)
    assert(again.filesBefore === again.filesAfter)
    assert(new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified).toMap === mtimes)
  }

  test("compaction resolves its FileSystem from the path: a file: URI works end-to-end") {
    // the Hadoop-FS port's contract: listing, sizing, sidecar carry and
    // the generation swap all run through the scheme's FileSystem — a
    // qualified URI must behave exactly like the bare local path
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_uri").toString
    val rows = (1 to 4000).map(i => (i.toLong, s"v$i"))
    rows.toDF("id", "v").repartition(16).write.mode("overwrite").parquet(dir)
    val uri = "file:" + dir
    val stats = graft.ops.Compaction.compact(spark, uri, targetFileBytes = 512L * 1024)
    assert(stats.filesAfter < stats.filesBefore && stats.filesAfter >= 1)
    val back = spark.read.parquet(uri).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(back.toSeq === rows.sortBy(_._1))
    // the swap left no stranded generations beside the dataset
    val parent = new java.io.File(dir).getParentFile
    val strays = parent.listFiles().map(_.getName).filter(n =>
      n.startsWith(new java.io.File(dir).getName + ".compact-") ||
        n.startsWith(new java.io.File(dir).getName + ".old-"))
    assert(strays.isEmpty, s"stranded generations: ${strays.mkString(",")}")
  }

  test("compaction preserves evolved schemas, partition layout; refuses a streaming sink") {
    // schema-evolved dataset (q58 shape): the later column must survive
    val evolved = java.nio.file.Files.createTempDirectory("graft_compact_ev").toString
    (1 to 500).map(i => (i.toLong, s"a$i")).toDF("id", "a")
      .repartition(8).write.parquet(s"$evolved/b=1")
    (1 to 500).map(i => (i.toLong, s"a$i", i * 2L)).toDF("id", "a", "c")
      .repartition(8).write.parquet(s"$evolved/b=2")
    // trailing slash must not nest the scratch dir inside the dataset
    graft.ops.Compaction.compact(spark, evolved + "/", targetFileBytes = 64L * 1024): Unit
    val back = spark.read.option("mergeSchema", "true").parquet(evolved)
    assert(back.columns.toSet === Set("id", "a", "c", "b"))
    assert(back.count() === 1000)
    assert(back.filter(col("c").isNotNull).count() === 500)
    // partition layout survives: still hive directories, pruning still legal
    val parts = new java.io.File(evolved).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.toSet === Set("b=1", "b=2"))
    // streaming sink: refuse, never orphan the transaction log
    val sink = java.nio.file.Files.createTempDirectory("graft_compact_sink")
    java.nio.file.Files.createDirectory(sink.resolve("_spark_metadata"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Compaction.compact(spark, sink.toString)
    }
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("partitioned compaction with nOut > 1 reduces files; skewed partitions size independently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    // skew: partition b=1 carries 20k rows, b=2 .. b=4 carry 200 each;
    // 16 writer tasks fragment every partition value
    val rows = (1 to 20000).map(i => (i.toLong, 1, s"payload_$i" * 8)) ++
      (1 to 600).map(i => (i.toLong, 2 + i % 3, s"p$i"))
    rows.toDF("id", "b", "v").repartition(16)
      .write.partitionBy("b").mode("overwrite").parquet(dir)
    def files(sub: String) = Option(new java.io.File(dir, sub).listFiles())
      .getOrElse(Array.empty[java.io.File]).count(_.getName.endsWith(".parquet"))
    val fragTotal = (1 to 4).map(b => files(s"b=$b")).sum
    assert(fragTotal > 20, s"expected heavy fragmentation, got $fragTotal")
    // target small enough that the big partition still needs >1 file:
    // a round-robin rewrite would emit ~nOut files in EVERY partition
    val stats = graft.ops.Compaction.compact(spark, dir, targetFileBytes = 256L * 1024)
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction must reduce files: $stats")
    assert(files("b=1") >= 2, "big partition should split to multiple files")
    assert((2 to 4).forall(b => files(s"b=$b") === 1),
      s"small partitions must compact to ONE file each, got ${(2 to 4).map(b => files(s"b=$b"))}")
    // content survives, partition column included
    val back = spark.read.parquet(dir)
    assert(back.count() === rows.length)
    assert(back.filter(col("b") === 1).count() === 20000)
  }

  test("compaction carries sidecar files into the new generation; drops stale _metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_sc").toString
    (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(32).write.mode("overwrite").parquet(dir)
    val marker = new java.io.File(dir, "_graft_ingest_marker")
    java.nio.file.Files.write(marker.toPath, "batch-42".getBytes)
    // a REAL _metadata summary is valid parquet (Spark's mergeSchema read
    // consults it) — model it with a copy of one data file's bytes
    val staleMeta = new java.io.File(dir, "_metadata")
    val staleCommon = new java.io.File(dir, "_common_metadata")
    val aDataFile = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(aDataFile.toPath, staleMeta.toPath)
    java.nio.file.Files.copy(aDataFile.toPath, staleCommon.toPath)
    graft.ops.Compaction.compact(spark, dir, targetFileBytes = 512L * 1024): Unit
    assert(new java.io.File(dir, "_SUCCESS").isFile, "_SUCCESS must survive the rewrite")
    assert(marker.isFile, "custom sidecar must survive the rewrite")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath)) === "batch-42")
    assert(!staleMeta.exists,
      "_metadata indexes the replaced files and must NOT be carried forward")
    assert(!staleCommon.exists,
      "_common_metadata describes the replaced files' schema and must NOT be carried forward")
  }

  test("zero-padded partition values size correctly (dir text canonicalized through inferred type)") {
    // month=07 infers as int 7; the sizing join used to compare "7" ≠ "07",
    // miss, and push the whole big partition through ONE reducer/file
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_pad").toString
    val rows = (1 to 20000).map(i => (i.toLong, "07", s"payload_$i" * 8)) ++
      (1 to 300).map(i => (i.toLong, "08", s"p$i"))
    rows.toDF("id", "month", "v").repartition(16)
      .write.partitionBy("month").mode("overwrite").parquet(dir)
    val stats = graft.ops.Compaction.compact(spark, dir, targetFileBytes = 64L * 1024)
    assert(stats.filesAfter < stats.filesBefore)
    // the rewrite normalizes the dir name through the inferred int (07→7)
    val big = Option(new java.io.File(dir, "month=7").listFiles())
      .getOrElse(Array.empty[java.io.File]).count(_.getName.endsWith(".parquet"))
    assert(big >= 2,
      s"zero-padded big partition compacted to $big file(s) — sizing join missed it")
    assert(spark.read.parquet(dir).count() === rows.length)
  }

  test("two directory spellings of one partition value merge to ONE sizing row (no duplication)") {
    // month=07 and month=7 side by side: Spark's inference reads BOTH as
    // int 7 (one logical partition). The typed sizing frame must collapse
    // the two spellings before the left join, or every row of that
    // partition matches two sizing rows and the rewrite DOUBLES the data.
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_spell").toString
    val a = (1 to 8000).map(i => (i.toLong, "07", s"payload_$i" * 8))
    val b = (8001 to 16000).map(i => (i.toLong, "7", s"payload_$i" * 8))
    a.toDF("id", "month", "v").repartition(8)
      .write.partitionBy("month").mode("append").parquet(dir)
    b.toDF("id", "month", "v").repartition(8)
      .write.partitionBy("month").mode("append").parquet(dir)
    assert(new java.io.File(dir, "month=07").isDirectory
      && new java.io.File(dir, "month=7").isDirectory,
      "test setup: both spellings must exist on disk")
    val before = spark.read.parquet(dir).count()
    assert(before === 16000L)
    graft.ops.Compaction.compact(spark, dir, targetFileBytes = 64L * 1024): Unit
    assert(spark.read.parquet(dir).count() === before,
      "compaction duplicated rows of the double-spelled partition")
  }

  test("mixed partition layout fails fast with a clear message, before any rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_mix").toString
    (1 to 2000).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "b", "v").repartition(8)
      .write.partitionBy("b").mode("overwrite").parquet(dir)
    // a stray data file ABOVE the partition depth (partial layout)
    (1 to 10).map(i => (i.toLong, s"x$i")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$dir/stray")
    Option(new java.io.File(s"$dir/stray").listFiles()).getOrElse(Array.empty)
      .find(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        new java.io.File(dir, "stray.parquet").toPath))
    def rmRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
      f.delete(): Unit
    }
    rmRec(new java.io.File(s"$dir/stray"))
    val before = new java.io.File(dir).lastModified
    val e = intercept[IllegalArgumentException] {
      // target big enough that nOut < current file count — the validation
      // must fire on the REWRITE path, not be skipped by the no-op return
      graft.ops.Compaction.compact(spark, dir, targetFileBytes = 1024L * 1024)
    }
    assert(e.getMessage.contains("inconsistent partition layout"))
    assert(e.getMessage.contains("stray.parquet"))
    assert(new java.io.File(dir).lastModified === before, "dataset must be untouched")
  }

  test("datasetKey tolerates an unreadable file (vanished mid-walk) instead of aborting staging") {
    val d = java.nio.file.Files.createTempDirectory("graft_key")
    val t = java.nio.file.Files.createDirectory(d.resolve("t"))
    java.nio.file.Files.write(t.resolve("a.parquet"), "data".getBytes)
    // a dangling symlink models a file deleted between the walk and the
    // content-crc open: the open throws, the key must fold a sentinel
    java.nio.file.Files.createSymbolicLink(t.resolve("ghost.parquet"), t.resolve("gone"))
    val withGhost = graft.ops.Staged.datasetKey(d.toString, Seq("t"))
    assert(withGhost.nonEmpty)
    // the vanished file still participates in the key: removing it restages
    java.nio.file.Files.delete(t.resolve("ghost.parquet"))
    assert(graft.ops.Staged.datasetKey(d.toString, Seq("t")) !== withGhost)
  }

  test("bloom prefilter with mixed INT/BIGINT keys equals the plain join (no false negatives)") {
    // xxhash64 is type-sensitive: INT 7 and BIGINT 7 hash differently, so
    // an un-coerced bloom would drop every row the coercing equi-join keeps
    val fact = (1 to 1000).map(i => (i % 100, s"f$i")).toDF("k", "payload") // k: INT
    val dim = Seq((7L, "seven"), (42L, "forty-two")).toDF("dk", "name")     // dk: BIGINT
    val got = graft.ops.BloomJoin.prefilteredEquiJoin(fact, "k", dim, "dk")
    val want = fact.join(dim, fact("k") === dim("dk"))
    assert(got.count() === want.count())
    assert(got.count() === 20) // 10 each of k=7 and k=42
    // non-coercible key types fail fast instead of silently dropping rows
    val sdim = Seq(("7", "seven")).toDF("dk", "name")
    val err = intercept[IllegalArgumentException] {
      graft.ops.BloomJoin.prefilteredEquiJoin(fact, "k", sdim, "dk")
    }
    assert(err.getMessage.contains("matching"))
  }

  test("hierarchyClosure: a cyclic edge table raises the depth guard instead of looping forever") {
    // A→B→A: the frontier never empties; without the guard the driver
    // loop would spin until OOM. maxDepth=8 keeps the failing run fast.
    val cyclic = Seq((1L, 2L), (2L, 1L)).toDF("child", "parent")
    val e = intercept[IllegalStateException] {
      QueriesRelational.hierarchyClosure(cyclic, maxDepth = 8).count()
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("hierarchyClosure: an acyclic chain closes with full ancestor paths under the guard") {
    // 1←2←3←4 chain: node 4 has ancestors 3 (d1), 2 (d2), 1 (d3)
    val chain = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("child", "parent")
    val paths = QueriesRelational.hierarchyClosure(chain, maxDepth = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(paths === Set((2L, 1L, 1), (3L, 2L, 1), (4L, 3L, 1),
      (3L, 1L, 2), (4L, 2L, 2), (4L, 1L, 3)))
  }

  test("hierarchyClosure: a hierarchy of depth EXACTLY maxDepth completes (no off-by-one)") {
    // deepest path is (4,1,3): with maxDepth=3 the final join proves the
    // frontier empty instead of spuriously reporting a cycle
    val chain = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("child", "parent")
    val paths = QueriesRelational.hierarchyClosure(chain, maxDepth = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(paths.size === 6 && paths.contains((4L, 1L, 3)))
  }
}
