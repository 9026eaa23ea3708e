package graft

import graft.ir.Ir.{ColumnInfo, ConnectionManager}
import graft.sim.{IvfIndex, SimilarityOps}
import graft.sources.Sources
import graft.types.SsisTypes.SsisColumnType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SourcesAndIvfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val custCols = Seq(
    ColumnInfo("CustomerID", SsisColumnType("i4")),
    ColumnInfo("Email", SsisColumnType("wstr", Some(255))),
    ColumnInfo("Balance", SsisColumnType("numeric", None, Some(12), Some(2))))

  test("CSV round-trip with declared schema (S3): no inference, types honored") {
    val dir = java.nio.file.Files.createTempDirectory("csv-rt").toString + "/out"
    val df = Seq((1, "a@x.com", BigDecimal("10.50")), (2, "b@y.org", BigDecimal("0.25")))
      .toDF("CustomerID", "Email", "Balance")
    Sources.writeCsv(df, dir)
    val back = Sources.readCsv(spark, dir, custCols)
    assert(back.schema("CustomerID").dataType === IntegerType)
    assert(back.schema("Balance").dataType === DecimalType(12, 2))
    assert(back.count() === 2)
    assert(back.filter(col("CustomerID") === 1).head().getAs[java.math.BigDecimal]("Balance")
      .toPlainString === "10.50")
  }

  test("CSV round-trip preserves timestamps (writer format matches the reader's)") {
    val dir = java.nio.file.Files.createTempDirectory("csv-ts").toString + "/out"
    val cols = Seq(
      ColumnInfo("Id", SsisColumnType("i4")),
      ColumnInfo("LoadTime", SsisColumnType("DT_DBTIMESTAMP")))
    val df = Seq((1, java.sql.Timestamp.valueOf("2024-03-01 12:34:56")))
      .toDF("Id", "LoadTime")
    Sources.writeCsv(df, dir)
    val back = Sources.readCsv(spark, dir, cols)
    val got = back.head()
    assert(!got.isNullAt(1),
      "timestamp silently nulled: writer/reader timestampFormat mismatch")
    assert(got.getTimestamp(1) === java.sql.Timestamp.valueOf("2024-03-01 12:34:56"))
  }

  test("JSONL round-trip with declared schema: exact text incl. trailing spaces") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl-rt").toString + "/out"
    // trailing whitespace, embedded quotes, and a tab — the characters a
    // flat format must escape rather than lose
    val df = Seq((1L, "ends with spaces   "), (2L, "has \"quotes\" and\ttab"))
      .toDF("doc_id", "text")
    Sources.writeJsonl(df, dir)
    val back = Sources.readJsonl(spark, dir, Seq(
      ColumnInfo("doc_id", SsisColumnType("i8")),
      ColumnInfo("text", SsisColumnType("wstr", Some(100)))))
    assert(back.schema("doc_id").dataType === LongType)
    assert(back.as[(Long, String)].collect().toSet ===
      Set((1L, "ends with spaces   "), (2L, "has \"quotes\" and\ttab")))
  }

  test("resolver: a multi-table statement joins DISTINCT tables, never a self-join") {
    val resolver = Sources.testdataResolver(spark, "/root/testdata/sf0.001")
    val l = graft.ir.Ir.LookupComponent("L", None, Some(
      "SELECT o.o_orderkey, c.c_name FROM [dbo].[orders] o " +
        "JOIN [dbo].[customer] c ON o.o_custkey = c.c_custkey " +
        "WHERE o.o_orderkey < 100"),
      graft.ir.Ir.CacheMode.Full, graft.ir.Ir.NoMatchBehavior.IgnoreFailure, Nil, Nil)
    val out = resolver.lookup(l)
    assert(out.columns.toSeq === Seq("o_orderkey", "c_name"))
    // c_name comes from CUSTOMER — a single-capture rewrite would have
    // replaced both refs with `orders` and failed (or self-joined)
    assert(out.count() > 0)
    assert(out.head().getString(1).startsWith("Customer#"))
  }

  test("resolver: function calls and aliases in a WHERE-less projection compile via full SQL") {
    val resolver = Sources.testdataResolver(spark, "/root/testdata/sf0.001")
    val l = graft.ir.Ir.LookupComponent("L2", None, Some(
      "SELECT c_custkey, COALESCE(c_mktsegment, c_name) AS label FROM [dbo].[customer]"),
      graft.ir.Ir.CacheMode.Full, graft.ir.Ir.NoMatchBehavior.IgnoreFailure, Nil, Nil)
    val out = resolver.lookup(l)
    assert(out.columns.toSeq === Seq("c_custkey", "label"))
    assert(out.count() === 150)
  }

  test("catalog registration + schema assertion (S6)") {
    Sources.registerParquetTable(spark, "cust_ext", "/root/testdata/sf0.001/customer.parquet")
    val df = spark.table("cust_ext")
    assert(df.count() === 150)
    val declared = Seq(
      ColumnInfo("c_custkey", SsisColumnType("i8")),
      ColumnInfo("c_name", SsisColumnType("wstr", Some(50))))
    assert(Sources.assertSchema(df, declared) === Nil)
    val bad = Seq(
      ColumnInfo("c_custkey", SsisColumnType("i4")), // wrong width
      ColumnInfo("missing_col", SsisColumnType("wstr")))
    val mismatches = Sources.assertSchema(df, bad)
    assert(mismatches.map(_.column).toSet === Set("c_custkey", "missing_col"))
  }

  test("connection manager reader options (S7)") {
    val cm = ConnectionManager("r", "SalesDB", "id",
      "Data Source=SALESSRV;Initial Catalog=Sales_OLTP;Provider=SQLNCLI11.1;Password=x;")
    val opts = Sources.readerOptions(cm)
    assert(opts("host") === "SALESSRV")
    assert(opts("url") === "jdbc:sqlserver://SALESSRV;databaseName=Sales_OLTP")
    assert(!opts.values.exists(_.contains("Password")))
  }

  test("IVF index: builds k cells, search beats nothing and approximates brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .repartition(4).cache()
    // the unpersist is load-bearing beyond hygiene: a cache left behind
    // on repartition(4)-over-embeddings is canonically IDENTICAL to
    // x08's repartition(defaultParallelism=4) subtree, so a concurrent
    // PlanShapeSpec pin would see an InMemoryRelation (whose printed
    // schema carries the label column) swapped into x08's plan
    try {
      val model = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
      assert(model.centroids.length === 8)
      assert(model.assigned.select("cell").distinct().count() <= 8)
      val queries = emb.filter(col("vec_id") < 5)
      val approx = IvfIndex.search(spark, model, queries, "vec_id", "embedding",
        k = 3, nProbe = 3).collect()
      assert(approx.length === 15) // 5 queries × top-3
      assert(approx.forall(_.getInt(2) <= 3))
      // recall vs brute force with generous probes should be high
      val brute = SimilarityOps.knnBruteForce(queries, emb, "vec_id", "embedding", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wide = IvfIndex.search(spark, model, queries, "vec_id", "embedding",
        k = 3, nProbe = 8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wide === brute) // nProbe = k cells ⇒ exhaustive ⇒ exact
      // the approximate mode (nProbe < k, the 100 TB path: score 3/8 of the
      // corpus) must still recover most true neighbors; deterministic given
      // the seeded quantizer, so the bound is a regression gate
      val approxSet = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (approxSet intersect brute).size.toDouble / brute.size
      assert(recall >= 0.6, s"nProbe=3/8 recall@3 regressed: $recall")
    } finally emb.unpersist(): Unit
  }

  test("IVF persistence: save/load roundtrip is exact; cell filters partition-prune") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").repartition(4)
    val model = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString
    try {
      IvfIndex.save(model, dir)
      val loaded = IvfIndex.load(spark, dir)
      assert(loaded.centroids.sortBy(_._1).map(_._2.toSeq).toSeq ===
        model.centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
      val queries = emb.filter(col("vec_id") < 5)
      def run(m: IvfIndex.Model) =
        IvfIndex.search(spark, m, queries, "vec_id", "embedding", k = 3, nProbe = 8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(run(loaded) === run(model))
      // the on-disk inverted file: probing a cell subset reads ONLY those
      // cells' files — the filter must reach PartitionFilters, not scan
      val plan = spark.read.parquet(s"$dir/assigned")
        .filter(col("cell") === 3).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"cell filter did not prune partitions: ${plan.take(300)}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("ORC round-trip: declared schema honored; filters push to the ORC scan") {
    import graft.ir.Ir.ColumnInfo
    import graft.types.SsisTypes.SsisColumnType
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc-spec").toString
    try {
      val src = Tables.orders(spark, "/root/testdata/sf0.001")
        .select(col("o_orderkey"),
          col("o_totalprice").cast(DecimalType(12, 2)).as("o_totalprice"),
          col("o_orderpriority"))
      graft.sources.Sources.writeOrc(src, dir)
      val declared = List(
        ColumnInfo("o_orderkey", SsisColumnType("i8")),
        ColumnInfo("o_totalprice",
          SsisColumnType("numeric", precision = Some(12), scale = Some(2))),
        ColumnInfo("o_orderpriority", SsisColumnType("wstr", Some(15))))
      val back = graft.sources.Sources.readOrc(spark, dir, declared)
      assert(back.schema.map(f => f.name -> f.dataType) ===
        Seq("o_orderkey" -> LongType,
          "o_totalprice" -> DecimalType(12, 2),
          "o_orderpriority" -> StringType))
      assert(back.count() === src.count())
      // plan discipline carries over to the second columnar format
      val plan = back.filter(col("o_orderkey") > 100L)
        .select(col("o_orderkey")).queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,100)]"),
        s"ORC scan did not receive the pushed filter:\n${plan.take(500)}")
      assert(!plan.contains("o_orderpriority"), "ORC scan must prune unused columns")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("x48: persisted IVF staging reuses — second call never rebuilds (no KMeans)") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries("x48_ann_ivf_persisted")(spark, sf).count(): Unit
    val stage = QueriesTrainingData.x48Stage(sf).path
    assert(new java.io.File(stage, "_graft_stage").isFile,
      "first call must publish the index with its staging marker")
    assert(new java.io.File(stage, "centroids").isDirectory &&
      new java.io.File(stage, "assigned").isDirectory, "published index is incomplete")
    def mtimes() = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f.getAbsolutePath -> f.lastModified())
      walk(stage).sortBy(_._1)
    }
    val before = mtimes()
    SparkEntry.queries("x48_ann_ivf_persisted")(spark, sf).count(): Unit
    assert(mtimes() === before,
      "second call touched the staging dir — the KMeans build ran again " +
        "instead of the metadata-only reuse path")
  }

  test("x48 and x85: every cell dir of a persisted index holds exactly one parquet file") {
    val sf = "/root/testdata/sf0.001"
    Seq("x48_ann_ivf_persisted" -> QueriesTrainingData.x48Stage(sf),
      "x85_ivf_delta_append" -> QueriesTrainingData.x85Stage(sf)).foreach { case (q, st) =>
      SparkEntry.queries(q)(spark, sf).count(): Unit
      val cells = new java.io.File(st.path, "assigned").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
      assert(cells.length === 16, s"$q: ${cells.map(_.getName).mkString(", ")}")
      cells.foreach { d =>
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length === 1, s"$q ${d.getName}: ${files.mkString(", ")}")
      }
    }
  }

  test("x108: PQ recall audit vs exact L2, code-range and code-width facts") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    import graft.sim.PqIndex
    val emb = Tables.embeddings(spark, sf)
    // the shipped config: m=32 × 2-dim subspaces × 64 codewords
    val sub = PqIndex.subspaces(emb, "vec_id", "embedding", m = 32, subDim = 2)
    val cb = PqIndex.trainCodebooks(sub, "vec_id", nCw = 64, iters = 1)
    val codes = PqIndex.encode(sub, cb, "vec_id").cache()
    try {
      // every vector carries exactly m codes, all inside the codebook
      val widths = codes.groupBy("vec_id").count()
        .select("count").distinct().as[Long].collect().toList
      assert(widths === List(32L), s"code width drifted: $widths")
      val range = codes.agg(min(col("code")), max(col("code"))).head()
      assert(range.getLong(0) >= 0L && range.getLong(1) < 64L,
        s"codes left the codebook range: $range")
      // recall audit (the x77 rule: the audit decides, not the hope):
      // ADC top-5 vs exact integer-L2 top-5 over the same grid
      val got = SparkEntry.queries("x108_pq_ann")(spark, sf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val vecs = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
        .map { case (id, v) =>
          id -> v.toArray.map(x => math.round(x.toDouble * 10000))
        }.toMap
      // the exact ranking is the SHARED staged artifact (x111's ground
      // truth reads the same table) — validated here against a local
      // recompute before anything scores against it, so the staging
      // can never silently drift from the definition
      val staged = QueriesTrainingData.stagedExactTop5(spark, sf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = (0L until 10L).map { q =>
        val qv = vecs(q)
        val exact = vecs.view.filterKeys(_ != q).toSeq.map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) => val d = a - b; d * d }.sum)
        }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
        assert(staged(q) === exact,
          s"stagedExactTop5 drifted from the exact definition for query $q")
        (exact intersect got(q)).size / 5.0
      }
      val mean = recalls.sum / recalls.size
      // measured 0.68 on this corpus; 0.5 leaves noise margin. The iid
      // synthetic dims are PQ's worst case — the fine-subspace config
      // dial exists exactly because this audit rejected 8-dim × 16
      // codewords at 0.14 (PqIndex scaladoc records the sweep)
      assert(mean >= 0.5, s"PQ top-5 recall collapsed: $mean ($recalls)")
      // IVF-PQ (x109): the cell pruning must actually prune (each query
      // scores ~nProbe/nCells of the table) while keeping most of the
      // exhaustive-ADC answer — the nProbe dial, audited not assumed
      val sub1 = PqIndex.subspaces(emb, "vec_id", "embedding",
        m = 1, subDim = 64)
      val cb1 = PqIndex.trainCodebooks(sub1, "vec_id", nCw = 8, iters = 1)
      val cellSizes = PqIndex.encode(sub1, cb1, "vec_id")
        .groupBy("code").count().as[(Long, Long)].collect().toMap
      val total = cellSizes.values.sum
      assert(cellSizes.size > 1, "coarse quantizer collapsed to one cell")
      val ivf = SparkEntry.queries("x109_ivf_pq")(spark, sf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val adcOnly = SparkEntry.queries("x108_pq_ann")(spark, sf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val keep = (0L until 10L).map(q =>
        (ivf(q) intersect adcOnly(q)).size / 5.0)
      val meanKeep = keep.sum / keep.size
      // 2-of-8 probed cells keeps ~25% of arbitrary candidates but
      // MUCH more of the top-5 (near neighbors concentrate in near
      // cells): measured 0.84 mean keep on this corpus; 0.4 margin
      assert(meanKeep >= 0.4,
        s"IVF-PQ lost the exhaustive-ADC answer: $meanKeep ($keep)")
      assert(total === cellSizes.values.sum, s"cell accounting drifted")
    } finally codes.unpersist(): Unit
  }

  test("ivf √N-cells convention: probed candidate fraction shrinks as the corpus grows") {
    // the x109 GATE pins nCells=8 so the DuckDB oracle can replay the
    // deterministic quantizer — which makes the probed candidate set
    // Θ(N) (PERF.md "x109 re-probe": 2.1–2.4× at 10×, structural).
    // The PRODUCTION convention is nCells ∝ √N (the FAISS sizing);
    // this audit runs the same coarse plane at two corpus sizes with
    // √N cells and pins the sublinearity claim as a MEASURED fact:
    // the per-query candidate FRACTION must shrink, i.e. candidate
    // count grows ~√N while the corpus grows ~N.
    import spark.implicits._
    import graft.sim.PqIndex
    // the testdata embeddings table holds 500–2000 vectors across the
    // SFs — too close for a scaling audit, so the larger corpus is a
    // deterministic 16× replication with a per-replica jitter (every
    // replica is a distinct vector; no randomness, replayable)
    def corpus(times: Int): org.apache.spark.sql.DataFrame = {
      val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
      if (times == 1) base
      else base.crossJoin(spark.range(times.toLong).toDF("rep"))
        .withColumn("vec_id", col("vec_id") * times + col("rep"))
        .withColumn("embedding", transform(col("embedding"),
          x => x + (col("rep") * lit(0.001)).cast("float")))
        .drop("rep")
    }
    def candFrac(emb: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val n = emb.count()
      val nCells = math.max(2, math.sqrt(n.toDouble).round.toInt)
      val perQuery = PqIndex.coarseCandidates(emb, "vec_id", "embedding",
          col("vec_id") < 10, nCells = nCells, nProbe = 2,
          fullDim = 64, iters = 1)
        .groupBy("query_id").count().as[(Long, Long)].collect()
      assert(perQuery.length === 10, "query set drifted")
      val meanCand = perQuery.map(_._2).sum.toDouble / perQuery.length
      (n, meanCand / n.toDouble)
    }
    val (n1, f1) = candFrac(corpus(1))
    val (n2, f2) = candFrac(corpus(16))
    assert(n2 >= n1 * 5, s"corpus sizes too close to audit: $n1 vs $n2")
    // with ~√N cells and fixed nProbe the ideal fraction is
    // 2/√N — a 10× corpus should show ~0.32× the fraction; 0.6 leaves
    // margin for 1-iter k-means cell imbalance
    assert(f2 < f1 * 0.6,
      s"√N cells did not restore sublinearity: frac($n1)=$f1, frac($n2)=$f2")
  }

  test("x124 √N-cells convention: within-cell pair volume grows ~N^1.5, not N²") {
    // the x124 GATE pins nCells=8 for oracle replayability, making the
    // within-cell self-join Θ(N²/8); the PRODUCTION convention is
    // nCells ∝ √N (per-cell population √N → pair volume Θ(N^1.5)).
    // Same standard as the x109 audit above: measure it. Pair volume
    // is derived from cell POPULATIONS (Σ c·(c−1)/2 — exactly what the
    // within-cell equi-join produces before the distance filter), so
    // the audit measures the join's input volume without running it.
    import spark.implicits._
    // seeds are the nCells lowest ids, so the replicated corpus numbers
    // replicas BLOCK-WISE (vec_id + rep·n0): the seed range then covers
    // nCells DISTINCT original vectors — production seeds a sample of
    // the corpus, never one vector's jittered copies
    def corpus(times: Int): org.apache.spark.sql.DataFrame = {
      val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
      if (times == 1) base
      else {
        val n0 = base.count()
        base.crossJoin(spark.range(times.toLong).toDF("rep"))
          .withColumn("vec_id", col("vec_id") + col("rep") * n0)
          .withColumn("embedding", transform(col("embedding"),
            x => x + (col("rep") * lit(0.001)).cast("float")))
          .drop("rep")
      }
    }
    def pairFrac(emb: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val n = emb.count()
      val nCells = math.max(2, math.sqrt(n.toDouble).round.toInt)
      val pairs = QueriesTrainingData.semanticCells(emb, nCells)
        .groupBy("cell").count().select(col("count")).as[Long].collect()
        .map(c => c * (c - 1) / 2).sum
      (n, pairs.toDouble / (n.toDouble * n))
    }
    val (n1, f1) = pairFrac(corpus(1))
    val (n2, f2) = pairFrac(corpus(16))
    assert(n2 >= n1 * 5, s"corpus sizes too close to audit: $n1 vs $n2")
    // balanced cells give fraction ≈ 1/(2·√N): a 16× corpus should show
    // ~0.25× the fraction; 0.55 leaves margin for 1-iter k-means cell
    // imbalance. A fixed-cells (Θ(N²)) shape would hold the fraction
    // FLAT — the failure this audit exists to catch.
    assert(f2 < f1 * 0.55,
      s"√N cells did not bound pair volume: frac($n1)=$f1, frac($n2)=$f2")
  }

  /** `Tables.open` has Spark's inferred schema and runs no job. */
  private def footerParity(path: String): Unit = {
    val (df, jobs) = SparkTestSession.jobsIn("footer-open")(Tables.open(spark, path))
    assert(df.schema === spark.read.parquet(path).schema, path)
    assert(jobs === 0, s"opening $path ran $jobs Spark job(s)")
  }

  test("footer-schema opens: the ten testdata tables, events.ts both ways") {
    val sf = "/root/testdata/sf0.01"
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(nanos)
    spark.conf.unset(nanos)
    try {
      Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
        "events", "documents", "embeddings").foreach(t => footerParity(s"$sf/$t.parquet"))
      // eventsNs sets the legacy nanos conf before its read
      val events = Tables.eventsNs(spark, sf)
      assert(spark.conf.get(nanos) === "true")
      footerParity(s"$sf/events.parquet")
      assert(events.schema("ts").dataType ===
        spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType)
    } finally prior.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }

  test("footer-schema opens: a Spark-written artifact and the IVF partitioned dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer-spec").toString
    try {
      // nested, decimal, timestamp and non-nullable fields, several files
      spark.range(0, 40, 1, 4)
        .select(col("id"), (col("id") * 1.5).cast(DecimalType(12, 2)).as("amt"),
          timestamp_seconds(col("id")).as("ts"),
          struct(col("id").as("k"), array(lit("a"), col("id").cast(StringType)).as("tags"))
            .as("s"),
          map(lit("m"), col("id")).as("m"))
        .write.parquet(s"$dir/artifact")
      footerParity(s"$dir/artifact")
      // a missing path fails as Spark's own read does
      val missing = intercept[org.apache.spark.sql.AnalysisException](
        Tables.open(spark, s"$dir/absent"))
      assert(missing.getCondition === "PATH_NOT_FOUND", missing.getMessage)
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      IvfIndex.save(IvfIndex.build(emb, "vec_id", "embedding", k = 8), s"$dir/ivf")
      footerParity(s"$dir/ivf/centroids")
      footerParity(s"$dir/ivf/assigned")
      val cell = Tables.open(spark, s"$dir/ivf/assigned").schema("cell")
      assert(cell.dataType === IntegerType, "the partition column keeps its inferred type")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("x85: IVF delta append serves delta neighbors without re-training") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val out = SparkEntry.queries("x85_ivf_delta_append")(spark, sf)
      .select(col("query_id"), col("neighbor_id"), col("from_delta")).cache()
    try {
      // delta vectors (vec_id % 10 == 7) actually serve as neighbors —
      // an append that never surfaces delta rows would pass a weaker test
      assert(out.filter(col("from_delta")).count() > 0,
        "no delta vector appeared in any top-5 — the append is inert")
      assert(out.filter(col("from_delta") &&
        pmod(col("neighbor_id"), lit(10L)) =!= 7).count() === 0)
      // the assign path is the KMeans L2 rule: every delta vector lands
      // in the cell of its nearest centroid
      val stage = QueriesTrainingData.x85Stage(sf).path
      val model = graft.sim.IvfIndex.load(spark, stage.getAbsolutePath)
      val delta = Tables.embeddings(spark, sf)
        .filter(pmod(col("vec_id"), lit(10L)) === 7)
      val got = graft.sim.IvfIndex.assign(delta, "embedding", model)
        .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
      val cents = model.centroids.toMap
      val vecs = delta.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      vecs.foreach { case (id, v) =>
        val expect = cents.map { case (c, arr) =>
          c -> v.zip(arr).map { case (a, b) => val d = a.toDouble - b; d * d }.sum
        }.toSeq.minBy { case (c, d) => (d, c) }._1
        assert(got(id) === expect, s"vec $id assigned to ${got(id)}, nearest is $expect")
      }
    } finally out.unpersist(): Unit
  }
}
