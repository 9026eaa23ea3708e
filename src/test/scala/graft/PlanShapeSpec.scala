package graft

import graft.ops.Skew
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests (the 100 TB discipline): filters must reach
  * the parquet scan, lookup dims must broadcast, aggregates must partial-
  * combine, and scans must prune columns. A refactor that silently loses
  * one of these properties fails here, not at the bench. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q03: filters pushed to parquet, columns pruned") {
    val plan = executedPlan("q03_source_filter_params")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"))
    // projection pruning: only the 6 needed columns in ReadSchema
    assert(!plan.contains("l_returnflag"))
  }

  test("q04: all three dimension lookups broadcast; fact side never exchanges") {
    val plan = executedPlan("q04_lookup_chain")
    assert("BroadcastHashJoin".r.findAllIn(plan).length === 3)
    assert(!plan.contains("SortMergeJoin"))
    // the p_size dim predicate is pushed into the dim scan
    assert(plan.contains("GreaterThan(p_size,0)"))
  }

  test("q01/q17: hash aggregates partial-combine before the exchange") {
    val plan = executedPlan("q17_agg_refresh_daily")
    assert(plan.contains("partial_sum"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1)
  }

  test("q11: IN-subquery plans as a semi join, not an aggregate+filter") {
    val plan = executedPlan("q11_semi_join")
    assert(plan.contains("LeftSemi"))
  }

  test("salted join spreads a hot key and preserves results") {
    val hot = (1 to 2000).map(_ => (1, "h")) ++ Seq((2, "x"), (3, "y"))
    val left = hot.toDF("k", "v")
    val right = Seq((1, "dim1"), (2, "dim2")).toDF("rk", "dv")
    val out = Skew.saltedJoin(left, right, "k", "rk", saltFactor = 8)
    assert(out.count() === 2001)
    assert(out.filter(col("k") === 1).count() === 2000)
    // same result as the plain join
    val plain = left.join(right, col("k") === col("rk")).count()
    assert(out.count() === plain)
  }

  test("null-bypass join keeps null-key rows without shuffling them") {
    val fact = Seq((Some(1), 10.0), (None, 99.0), (Some(2), 20.0))
      .toDF("fk", "amt")
    val dim = Seq((1, "a"), (2, "b")).toDF("dk", "dname")
    val out = Skew.joinWithNullBypass(fact, dim, "fk", "dk")
    assert(out.count() === 3)
    val nullRow = out.filter(col("fk").isNull).head()
    assert(nullRow.getAs[Double]("amt") === 99.0)
    assert(nullRow.isNullAt(out.columns.indexOf("dname")))
  }

  test("key histogram surfaces the heavy hitter") {
    val df = ((1 to 500).map(_ => 7) ++ Seq(1, 2, 3)).toDF("k")
    val top = Skew.keyHistogram(df, col("k"), 1).head()
    assert(top.getInt(0) === 7)
    assert(top.getLong(1) === 500L)
  }

  test("q30: tumbling-window aggregate partial-combines before one exchange") {
    val plan = executedPlan("q30_tumbling_window")
    assert(plan.contains("partial_"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1)
  }

  test("q32: pivot stays a single hash aggregate pair (no per-value scans)") {
    val plan = executedPlan("q32_pivot")
    assert("FileScan|Scan parquet".r.findAllIn(plan).length === 1)
    assert(plan.contains("pivotfirst") || plan.contains("partial_"))
  }

  test("q133/q137: translated T-SQL PIVOT stays one scan + one aggregate pair") {
    // q133 now carries the r15 collation fold (upper() source wrap) and
    // q137 the typed numeric IN values — both must still plan as ONE
    // orders scan feeding Spark's native partial-aggregating pivot;
    // the wrap is a projection, never a second scan or an extra shuffle
    for (q <- Seq("q133_dtsx_pivot", "q137_dtsx_pivot_year",
        "q138_dtsx_pivot_ci")) {
      val plan = executedPlan(q)
      assert("Scan parquet".r.findAllIn(plan).length === 1,
        s"$q must scan orders exactly once:\n$plan")
      assert(plan.contains("pivotfirst") || plan.contains("partial_"),
        s"$q lost the partial-aggregating pivot:\n$plan")
    }
  }

  test("q141: chained PIVOT+UNPIVOT plans one scan + pivot pair + narrow Expand") {
    // the chain must cost what the two statements written separately
    // would, MINUS the intermediate materialization: one orders scan
    // into the partial-aggregating pivot, the unpivot leg a narrow
    // Expand over the pivoted rows — no second scan, no extra exchange
    val plan = executedPlan("q141_dtsx_pivot_unpivot")
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"q141 must scan orders exactly once:\n$plan")
    assert(plan.contains("pivotfirst") || plan.contains("partial_"),
      s"q141 lost the partial-aggregating pivot:\n$plan")
    assert(plan.contains("Expand"),
      s"q141 lost the Expand unpivot leg:\n$plan")
  }

  test("q146: chained UNPIVOT+PIVOT with CI fold keeps one scan + Expand + pivot") {
    // the r17 collation wrap subsumes the whole unpivot chain in an
    // upper() projection — a projection, not a barrier: the composed
    // lineage must still be ONE orders scan → partial-agg (wide stage)
    // → narrow Expand (unpivot) → partial-aggregating pivot
    val plan = executedPlan("q146_dtsx_pivot_chain_ci")
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"q146 must scan orders exactly once:\n$plan")
    assert(plan.contains("Expand"),
      s"q146 lost the Expand unpivot leg:\n$plan")
    assert(plan.contains("pivotfirst") || plan.contains("partial_"),
      s"q146 lost the partial-aggregating pivot:\n$plan")
  }

  test("q152: dynamic pivot plans the static spelling's lineage — one scan + partial-agg pivot") {
    // the STRING_AGG-built column list is driver-side text (the @cols
    // probe is its own one-off scalar job); the EMITTED insert must
    // plan exactly what a hand-written static PIVOT would — one orders
    // scan into the partial-aggregating pivot, no extra exchange
    val plan = executedPlan("q152_dtsx_dynamic_pivot")
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"q152 must scan orders exactly once:\n$plan")
    assert(plan.contains("pivotfirst") || plan.contains("partial_"),
      s"q152 lost the partial-aggregating pivot:\n$plan")
  }

  test("q33: dtsx-compiled full-cache lookups broadcast; source projection prunes") {
    val plan = executedPlan("q33_dtsx_dataflow")
    assert("BroadcastHashJoin".r.findAllIn(plan).length === 2)
    assert(!plan.contains("SortMergeJoin"))
    // the SELECT projection in the source SqlCommand reaches the scan
    assert(!plan.contains("l_comment"))
  }

  test("q35: split→branches→union diamond fuses to ONE scan (no per-branch rescan)") {
    val plan = executedPlan("q35_dtsx_branched")
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"expected single lineitem scan after diamond fusion:\n$plan")
    assert(!plan.contains("Union"))
  }

  test("q40: correlated EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    val plan = executedPlan("q40_exists_subquery")
    assert(plan.contains("LeftSemi"))
    assert(plan.contains("LeftAnti"))
  }

  test("x13: LSH join is a bucket equi-join, never a cross product") {
    val plan = SparkEntry.queries("x13_knn_lsh")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"))
  }

  test("q31: set-op cohorts run as ONE orders scan and one aggregate exchange") {
    val plan = executedPlan("q31_set_ops")
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"expected a single orders scan:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      s"expected a single aggregate exchange:\n$plan")
  }

  test("q45: cube is one scan + one expand + partial-combining aggregate") {
    val plan = executedPlan("q45_cube")
    assert("Scan parquet".r.findAllIn(plan).length === 1)
    assert(plan.contains("Expand"))
    assert(plan.contains("partial_"))
  }

  test("x16: tf and df aggregates partial-combine; corpus size broadcasts") {
    val plan = executedPlan("x16_tfidf")
    assert(plan.contains("partial_count"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastExchange"))
  }

  test("x19/x22: sampling and repetition signals stay narrow (zero exchanges)") {
    for (q <- Seq("x19_stratified_sample", "x22_repetition_filter")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
    }
  }

  test("x26/x27: chunking and PII scrub are embarrassingly parallel (zero exchanges)") {
    for (q <- Seq("x26_chunk_windows", "x27_pii_scrub")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
    }
  }

  test("x28: substring-dup aggregates partial-combine; no window over the gram key") {
    val plan = executedPlan("x28_substring_dup")
    assert(plan.contains("partial_count"), s"expected partial (doc,gram) counts:\n$plan")
    assert(plan.contains("partial_sum"), s"expected partial gram sums:\n$plan")
    // the global gram count must be a hash aggregate + equi-join, never a
    // gram-partitioned window: a boilerplate gram at scale would put its
    // whole occurrence set into ONE WindowExec sort partition, while the
    // aggregate partial-combines it to one scalar per map task
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      s"gram counting must not use a window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // two corpus scans are DELIBERATE (recompute-over-cache: the shared
    // (doc,gram) branch is corpus-token-sized and must not be cached)
    assert("Scan parquet".r.findAllIn(plan).length === 2,
      s"expected the two-narrow-scan recompute shape:\n$plan")
  }

  test("x25: quota window input is threshold-pre-filtered, never the full corpus") {
    val plan = executedPlan("x25_source_quota")
    // the |sources|-row threshold frame broadcasts back onto the corpus …
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast threshold join:\n$plan")
    // … and the draw ≤ thr pre-filter sits BELOW the rank window (Catalyst
    // fuses it into the join condition), so the per-source sort only ever
    // sees the ~overdraw-row survivor set
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0, s"expected a window:\n$plan")
    val filterRe = raw"draw#\d+L? <= thr#\d+L?".r
    val filterAt = filterRe.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(filterAt > winAt,
      s"expected the threshold pre-filter below the window:\n$plan")
    // Spark 4 additionally inserts a Partial WindowGroupLimit: each map
    // partition keeps only its quota rows per source before the exchange
    assert(plan.contains("WindowGroupLimit"), s"expected rank-limit pushdown:\n$plan")
    // the per-source count aggregate partial-combines before its exchange
    assert(plan.contains("partial_count"), s"expected partial counts:\n$plan")
  }

  test("x20: bigram counts partial-combine; top-k is TakeOrdered, not a global sort") {
    val plan = executedPlan("x20_ngram_stats")
    assert(plan.contains("partial_count"))
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
  }

  test("x21: decontamination anti-join broadcasts; the corpus never shuffles") {
    val plan = executedPlan("x21_decontaminate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("x23: centroid frame broadcasts into the scoring join") {
    val plan = executedPlan("x23_centroid_assign")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast centroid join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q57: bloom probe filters the fact scan before the join") {
    val plan = executedPlan("q57_bloom_join")
    val probe = plan.indexOf("might_contain")
    assert(probe >= 0, s"expected a bloom might_contain probe:\n$plan")
    // the probe is a Filter on the scan side, not post-join
    val joinAt = math.max(plan.indexOf("BroadcastHashJoin"),
      plan.indexOf("SortMergeJoin"))
    assert(joinAt >= 0 && probe > joinAt,
      "probe filter must sit under (after, in tree print order) the join")
  }

  test("x24: gram probe broadcasts; overlap counts partial-combine; ONE train scan") {
    val plan = executedPlan("x24_ngram_overlap")
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("partial_sum"))
    // one scan per side (train + eval) — never a third to re-attach
    // zero-overlap docs
    assert("Scan parquet".r.findAllIn(plan).length === 2, s"expected 2 scans:\n$plan")
  }

  test("q56: month filter prunes partitions at planning time") {
    val plan = executedPlan("q56_partition_pruning")
    // the month predicate must sit INSIDE the PartitionFilters bracket —
    // three independent contains() would also pass if it survived only
    // as a post-scan Filter next to an empty PartitionFilters: [...]
    assert(
      """PartitionFilters: \[[^\]]*o_month#[^\]]*= 1997-03[^\]]*\]""".r
        .findFirstIn(plan).isDefined,
      s"expected the o_month predicate inside PartitionFilters:\n$plan")
    // the pruned partition predicate must NOT survive as a post-scan filter
    assert(!plan.contains("PushedFilters: [IsNotNull(o_month"))
  }

  test("x15: label-propagation round joins are equi-joins, never cross products") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val verts = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val out = graft.dedup.DedupOps.connectedComponents(pairs, verts, "doc_id")
    assert(!out.queryExecution.optimizedPlan.toString.contains("Cross"))
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("q50: bucketed-staged join plans with ZERO exchange (co-located)") {
    // force the sort-merge path (no broadcast) to prove the bucket layout
    // alone co-locates the join — the property that removes the per-run
    // fact shuffle at 100 TB
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      QueriesRelational.q50_bucketed_join(spark, sf).count() // stages tables
      val stage = QueriesRelational.q50Stage(sf)
      val join = graft.ops.Bucketing.bucketedJoin(
        spark, stage.table("lineitem"), stage.table("orders"), "l_orderkey", "o_orderkey")
      val plan = join.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q50 and x45: stages sized to several buckets still join with ZERO exchange") {
    // small file splits in this session size both stages past one bucket;
    // every table of a stage gets the same count, so the joins co-locate
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    def noExchange(df: DataFrame, what: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$what shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"$what: ${plan.take(400)}")
    }
    def numBuckets(t: String) = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.map(_.numBuckets)
    val q50 = QueriesRelational.q50Stage(sf)
    val x45 = graft.ops.Staged.Stage("diffstage", sf, Seq("documents.parquet"))
    val expect50 = rows(QueriesRelational.q50_bucketed_join(spark, sf))
    val expect45 = rows(SparkEntry.queries("x45_bucketed_snapshot_diff")(spark, sf))
    val keys = Seq("spark.sql.files.maxPartitionBytes" -> "32k",
      "spark.sql.files.openCostInBytes" -> "4k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val n50 = graft.ops.Staged.buckets(spark, q50.bytes)
      val n45 = graft.ops.Staged.buckets(spark, x45.bytes)
      assert(n50 > 1 && n45 > 1, s"q50 $n50, x45 $n45 buckets")
      assert(rows(QueriesRelational.q50_bucketed_join(spark, sf)) === expect50)
      Seq("lineitem", "orders").foreach(t => assert(numBuckets(q50.table(t)) === Some(n50)))
      noExchange(graft.ops.Bucketing.bucketedJoin(spark, q50.table("lineitem"),
        q50.table("orders"), "l_orderkey", "o_orderkey"), "q50's staged join")
      val diff = SparkEntry.queries("x45_bucketed_snapshot_diff")(spark, sf)
      assert(rows(diff) === expect45)
      Seq("old", "new").foreach(t => assert(numBuckets(x45.table(t)) === Some(n45)))
      noExchange(diff, "x45's diff")
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q50: staged files survive catalog loss — fresh app reuses them metadata-only") {
    // simulate a NEW application over unchanged data: same staged files on
    // disk, empty catalog. Staged must register an external bucketed
    // table over the existing files (no rewrite) and the join must still
    // plan with zero Exchange and produce the same rows.
    val before = QueriesRelational.q50_bucketed_join(spark, sf)
      .collect().map(_.toSeq).toSet
    val staged = QueriesRelational.q50Stage(sf)
    val (lTable, oTable, stage) =
      (staged.table("lineitem"), staged.table("orders"), staged.path)
    val lMtime = new java.io.File(stage, "lineitem/_SUCCESS").lastModified
    spark.sql(s"DROP TABLE IF EXISTS `$lTable`")
    spark.sql(s"DROP TABLE IF EXISTS `$oTable`")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val after = QueriesRelational.q50_bucketed_join(spark, sf)
      assert(after.collect().map(_.toSeq).toSet === before)
      // staged data was NOT rewritten (metadata-only re-registration)
      assert(new java.io.File(stage, "lineitem/_SUCCESS").lastModified === lMtime)
      val join = graft.ops.Bucketing.bucketedJoin(
        spark, lTable, oTable, "l_orderkey", "o_orderkey")
      val plan = join.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"reused bucketed join shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q50: a different build's staging is neither served nor left on disk") {
    // another build published q50's tables for the SAME data — with
    // different content, as a changed staged query would. The current
    // build must restage under its own key, return the true join, and
    // evict the other build's generation.
    val mine = QueriesRelational.q50Stage(sf)
    val other = mine.copy(build = "another-build")
    assert(other.path != mine.path, "the build must be part of the staging key")
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val od = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
    graft.ops.Staged.tables(spark, other)(
      new graft.ops.Staged.Table("lineitem", "l_orderkey", li.limit(3)),
      new graft.ops.Staged.Table("orders", "o_orderkey", od.limit(3))): Unit
    assert(other.path.isDirectory)
    Seq(mine.table("lineitem"), mine.table("orders")).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(mine.path)
    val got = QueriesRelational.q50_bucketed_join(spark, sf)
      .select(col("o_orderpriority"), col("n_lines")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = li.join(od, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect, "served another build's staged rows")
    assert(mine.path.isDirectory, "the current build did not publish its own staging")
    assert(!other.path.exists, "another build's staging for the same data was left on disk")
    Seq(other.table("lineitem"), other.table("orders")).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("q50: staging for a changed dataset replaces the stale staging dir") {
    // a stale generation for the SAME dataset (an older content key) must
    // be deleted by the next run — tmpdir holds one staging per dataset.
    // Its inputs list names a file absent from the dataset, so it digests
    // to a different key, as changed data would.
    val stage = QueriesRelational.q50Stage(sf)
    val stale = stage.copy(inputs = stage.inputs :+ "gone.parquet")
    graft.ops.Staged.artifact(stale)(_ => ()): Unit
    assert(stale.path.isDirectory && stale.path != stage.path)
    QueriesRelational.q50_bucketed_join(spark, sf).count()
    assert(!stale.path.exists, "stale staging dir for the same dataset not cleaned up")
    assert(stage.path.exists)
  }

  test("x18: ordering test leads the join condition, ahead of the levenshtein bound") {
    // the pushed-down join condition must short-circuit `doc_a < doc_b`
    // BEFORE the banded-DP levenshtein — evaluated the other way round,
    // every block pays the DP for both orderings of every pair
    val q = SparkEntry.queries("x18_fuzzy_levenshtein")(spark, sf)
    // AQE materializes exchange reuse only in the FINAL adaptive plan, and
    // only for an action on THIS Dataset (count() wraps a new plan)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val cond = plan.linesIterator.find(_.contains("Join")).getOrElse("")
    val ltPos = cond.indexOf(" < ")
    val levPos = cond.indexOf("levenshtein")
    assert(ltPos >= 0 && levPos >= 0, s"unexpected join line: $cond")
    assert(ltPos < levPos, s"levenshtein evaluated before the ordering test: $cond")
    // one hash exchange on the block key, REUSED by the other join side:
    // the md5-heavy signature must be computed once per doc, never once
    // per side
    assert(plan.contains("Exchange hashpartitioning"),
      "signature frame lost its block-key hash exchange")
    assert(plan.contains("ReusedExchange"),
      "join sides no longer share the one signature exchange — simhash is recomputed per side")
  }

  test("x08: pair join keys on the corpus-scaled LSH bucket, never the label column") {
    // a semantic block column has bounded cardinality → membership grows
    // O(n), within-block pairs O(n²); the embedding-derived bucket count
    // scales with COUNT(*) (Blocking contract), so pairs grow linearly
    val q = SparkEntry.queries("x08_embedding_near_dup")(spark, sf)
    q.collect() // final adaptive plan (exchange reuse), as in the x18 test
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("label"),
      "x08 references the semantic label column — fixed-cardinality blocking is back")
    val cond = plan.linesIterator.find(l => l.contains("Join") && l.contains("blk"))
      .getOrElse("")
    assert(cond.contains("blk"), s"pair join does not key on the derived bucket: $cond")
    // the 1-row scaled-count frame rides a broadcast, not a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    // both self-join sides read ONE bucket-key exchange: the 16-qdot
    // signature is computed once per vector, never once per side
    assert(plan.contains("ReusedExchange"),
      "x08 join sides no longer share the signature exchange")
  }

  test("x18: block key includes the corpus-scaled simhash slice") {
    val plan = executedPlan("x18_fuzzy_levenshtein")
    val cond = plan.linesIterator.find(l => l.contains("Join") && l.contains("lang_"))
      .getOrElse("")
    assert(cond.contains("shs_"),
      s"join no longer keys on the simhash slice — length bands alone grow O(n²) pairs: $cond")
  }

  test("q61: mixed-width keys still probe the fact scan; both hash sides widen to BIGINT") {
    val plan = executedPlan("q61_bloom_mixed_keys")
    val probe = plan.indexOf("might_contain")
    assert(probe >= 0, "mixed-key variant lost its bloom probe")
    val joinAt = math.max(plan.indexOf("BroadcastHashJoin"),
      plan.indexOf("SortMergeJoin"))
    assert(joinAt >= 0 && probe > joinAt,
      "probe filter must sit under the join")
    // the probe hashes the INT fact key through a cast to BIGINT — the
    // type-sensitivity fix that keeps xxhash64 from silently dropping rows
    val probeLine = plan.linesIterator.find(_.contains("might_contain")).getOrElse("")
    assert(probeLine.contains("as bigint"),
      s"fact-side bloom hash no longer widens to the common BIGINT type: $probeLine")
  }

  test("x29: span frequency is a partial-combining aggregate; source totals broadcast; no window") {
    val plan = executedPlan("x29_boilerplate_spans")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      "boilerplate span counting must never window over the span key (x28 rule)")
    assert(plan.contains("partial_count"), "span document-frequency lost its map-side combine")
    assert(plan.contains("BroadcastHashJoin"), "per-source doc totals should broadcast")
  }

  test("x30: two-phase prefix sum — row cumsum windows on (source, bucket), offsets broadcast") {
    val plan = executedPlan("x30_sequence_packing")
    // the corpus-sized cumsum must key its window by the derived bucket
    // (bounded sort partitions) — never by source alone (one task per
    // source at 100×, the x25 scale-killer class)
    val rowWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("sum(n_tokens"))
      .getOrElse(fail("row-level cumsum window not found in plan"))
    assert(rowWin.contains("__graft_bucket"),
      s"row cumsum must partition by (source, bucket), got: $rowWin")
    // the only source-alone window runs over the ~n/bucketRows totals frame
    val offWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("__graft_tot"))
      .getOrElse(fail("offset-scan window not found in plan"))
    assert(!offWin.contains("n_tokens#"),
      "offset scan must run on the totals frame, not corpus rows")
    // the tiny offset table broadcasts back onto the bucket key
    assert(plan.contains("BroadcastHashJoin"),
      "offsets should join back via broadcast")
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      "bucket totals lost their map-side combine")
  }

  test("x32: corpus never shuffles — threshold table broadcasts onto one filtered scan") {
    val plan = executedPlan("x32_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"),
      "per-source keep thresholds must broadcast onto the corpus scan")
    // the only hash exchange is the tiny per-source counts aggregate; the
    // corpus branch reaches the broadcast join unshuffled
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      "corpus side of the mix filter must not shuffle")
  }

  test("x33: survivorship is ONE partial-combining aggregate — no window, no join") {
    val plan = executedPlan("x33_dedup_survivor")
    assert(!plan.contains("Window"), "struct-max argmax must not use a window")
    assert(!plan.contains("Join"), "struct-max argmax must not self-join")
    assert(plan.contains("partial_max"),
      "survivor max(struct) lost its map-side combine")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1)
  }

  test("x34: global rank is two-phase — row_number on hash buckets, offsets broadcast") {
    val plan = executedPlan("x34_global_shuffle")
    // the 1L rank increment constant-folds to sum(1) in the window spec
    val rowWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("sum(1)"))
      .getOrElse(fail("row-level rank window not found in plan"))
    assert(rowWin.contains("__graft_bucket"),
      s"global rank must window over hash buckets, not one global partition: $rowWin")
    val offWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("__graft_tot"))
      .getOrElse(fail("offset-scan window not found in plan"))
    assert(!offWin.contains("__graft_one#"),
      "offset scan must run on the bucket-counts frame, not corpus rows")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-count offsets should join back via broadcast")
  }

  test("x36/x37: split and quantization are map-only — zero exchanges, zero joins") {
    for (q <- Seq("x36_leakage_safe_split", "x37_embed_quantize")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q must not shuffle")
      assert(!plan.contains("Join"), s"$q must not join")
    }
  }

  test("x35: LM join shuffles on term; corpus total derives from the vocab frame") {
    val plan = executedPlan("x35_rare_token_score")
    // token->LM join must be a real shuffle join on term (the vocabulary
    // at 100 TB is not broadcastable), and the single-row corpus total
    // must reach rows via broadcast, never a third corpus aggregate
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "1-row corpus total should broadcast")
    assert(plan.contains("partial_count"), "LM count lost its map-side combine")
  }

  test("q65: interval join is equi-keyed on the bin — no nested-loop, no cartesian") {
    val plan = executedPlan("q65_interval_join")
    assert(!plan.contains("CartesianProduct"), "interval join degenerated to a cartesian")
    val joinLine = plan.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.contains("__graft") && joinLine.contains("bin"),
      s"join is not keyed on the bin column: $joinLine")
  }

  test("x41: bottom-k sample is TakeOrdered, never a global sort exchange") {
    val plan = executedPlan("x41_bottomk_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      "orderBy().limit() no longer plans as a per-task heap + driver merge")
    assert(!plan.contains("Exchange rangepartitioning"),
      "bottom-k sample materialized a global sort exchange")
  }

  test("x39: semantic-dedup pair join keys on (cluster, corpus-scaled LSH bucket)") {
    // the cluster id alone is a bounded-cardinality block key (the x08
    // flaw); the sub-bucket must appear beside it in the join key
    val plan = executedPlan("x39_semantic_dedup")
    val cond = plan.linesIterator.find(l => l.contains("Join") && l.contains("blk"))
      .getOrElse("")
    assert(cond.contains("lab_") && cond.contains("blk_"),
      s"pair join does not key on (cluster, LSH sub-bucket): $cond")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q63: every funnel stage scan is event_type-pruned at the source") {
    val plan = executedPlan("q63_funnel")
    // three stages → three scans, each with its type predicate pushed:
    // at 100 TB each stage reads a type-pruned slice, never the full log
    val pushed = "PushedFilters: \\[[^\\]]*EqualTo\\(event_type".r.findAllIn(plan).length
    assert(pushed >= 3, s"funnel stages lost their scan-level type pruning ($pushed)")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q66: day de-dup partial-combines; streak rollups reuse the window partitioning") {
    val plan = executedPlan("q66_activity_streaks")
    // first exchange carries day-granular rows (map-side distinct ran),
    // and nothing after the window shuffles again
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 2,
      "streak plan shuffles more than (user,day) de-dup + window")
    val winIdx = plan.indexOf("Window")
    assert(winIdx > 0 && !plan.substring(0, winIdx).contains("Exchange"),
      "streak rollups above the window introduced their own exchange")
  }

  test("x44: source totals broadcast; gram pair counts partial-combine; no cartesian") {
    val plan = executedPlan("x44_source_overlap")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count"), "pair counts lost their map-side combine")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      "per-source totals no longer broadcast into the matrix")
  }

  test("x45: bucketed snapshot diff plans with ZERO exchange") {
    val q = SparkEntry.queries("x45_bucketed_snapshot_diff")(spark, sf)
    q.collect() // staging happens on first use; assert the final plan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "bucketed generations no longer co-locate — the diff join shuffles")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a co-located join in: ${plan.take(400)}")
  }

  test("x49: HLL registers partial-combine; no window; estimate acts on registers only") {
    val plan = executedPlan("x49_hll_distinct")
    assert(plan.contains("partial_max"),
      "register max lost its map-side combine — raw rows reach the shuffle")
    assert(!plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("x50: novelty probe is a gram-keyed join; per-doc dedup stays narrow") {
    val plan = executedPlan("x50_bigram_novelty")
    // array_distinct runs inside the projection (narrow), never as a
    // row-level Aggregate keyed by (doc, gram)
    assert(plan.contains("array_distinct"))
    assert(plan.contains("partial_count"), "per-doc roll-up lost its combine")
    assert(!plan.contains("CartesianProduct"))
  }

  test("x51: per-key counts partial-combine under the single-row rollup") {
    val plan = executedPlan("x51_skew_profile")
    assert(plan.contains("partial_count"))
    assert(!plan.contains("Window"))
  }

  test("q72: ONE event-scale exchange — the user_id window; matrix window is post-agg") {
    val plan = executedPlan("q72_transition_matrix")
    // sequence window shuffles on user_id; the per-from normalization
    // shuffles only the ≤|types|² matrix — both allowed, nothing more
    assert(plan.contains("hashpartitioning(user_id"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 3)
  }

  test("q73: trend window is RANGE-framed over the aggregated daily frame") {
    val plan = executedPlan("q73_volume_anomaly")
    assert(plan.contains("RangeFrame"), "trailing frame degraded to ROWS")
    assert(plan.contains("partial_count"), "daily counts lost their combine")
    // the event-scale aggregate sits BELOW the window (plan text prints
    // root-first, so the aggregate must appear after Window)
    val winIdx = plan.indexOf("Window")
    assert(winIdx > 0 && plan.substring(winIdx).contains("HashAggregate"),
      "trend window no longer runs over the aggregated daily frame")
  }

  test("x52: content-defined chunking is fully narrow — zero exchanges") {
    val plan = executedPlan("x52_cdc_chunking")
    assert(!plan.contains("Exchange"),
      "per-document chunking must not shuffle at any corpus size")
    assert(plan.contains("Generate"), "chunk explode disappeared")
  }

  test("q74: every closure iteration is an equi-join — no cartesian, no nested loop") {
    val plan = executedPlan("q74_hierarchy_closure")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("x53: df gate bounds posting lists BEFORE collection; no window, no cartesian") {
    val plan = executedPlan("x53_inverted_index")
    assert(plan.contains("partial_count"), "df computation lost its combine")
    assert(!plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("x54: histogram registers partial-combine; cumulative window runs over registers") {
    val plan = executedPlan("x54_histogram_quantiles")
    assert(plan.contains("partial_count"), "bin counts lost their combine")
    val winIdx = plan.indexOf("Window")
    assert(winIdx > 0 && plan.substring(winIdx).contains("HashAggregate"),
      "cumulative window no longer runs over the register frame")
  }

  test("x38: the leakage audit aggregates the STAGED pair frame — no minhash recompute") {
    val plan = executedPlan("x38_split_leakage_audit")
    // the audit must scan the content-keyed staging, not re-run the LSH
    // pipeline: no signature expression, no shingle explode, no LSH
    // bucket self-join anywhere in its executed plan
    assert(plan.contains("graft_lshpairs_pairs_"),
      s"expected a scan of the staged pair table:\n$plan")
    assert(!plan.contains("graft_minhash_sig"), s"minhash recomputed:\n$plan")
    assert(!plan.contains("explode"), s"shingle explode in audit plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"audit must be join-free (one aggregate over pair rows):\n$plan")
  }

  test("x55: BPE pair counts are two partial-combining aggregates, no window") {
    val plan = executedPlan("x55_bpe_merge_pairs")
    assert(plan.contains("partial_count"), s"word-frequency agg must partial-combine:\n$plan")
    assert(plan.contains("partial_sum"), s"pair-count agg must partial-combine:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      s"no window belongs in a pair-count plan:\n$plan")
    // one shuffle per aggregate (word table, then pair table) — a third
    // would mean the explode stopped running map-side over distinct words
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 2, plan)
  }

  test("x62: span removal — gram totals hash-aggregate (no window), linear reconstruction") {
    val plan = executedPlan("x62_substring_clean")
    // the x28 discipline carried into the removal: the gram count must
    // partial-combine map-side, never window over the gram key (a
    // boilerplate gram in 10^8 docs would single-sort otherwise), and
    // the rebuild must be the complement-slice HOF, not a per-position
    // join back onto exploded corpus tokens
    assert(plan.contains("partial_count"), s"gram totals lost map-side combine:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      s"no window belongs in the span-removal plan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("zip_with"),
      s"reconstruction should be the complement-gap slice HOF:\n$plan")
    assert(plan.contains("collect_set"),
      s"covered positions should aggregate per doc (bounded by doc length):\n$plan")
  }

  test("x61: encode reads the STAGED vocabulary — zero corpus tokenize, zero exchanges") {
    val plan = executedPlan("x61_bpe_encode")
    // the pair-stat reuse pin: the registered query's executed plan must
    // be ONE map-only projection over the staged word-frequency table —
    // the corpus (documents.parquet) is never scanned and the token
    // stream is never re-exploded at encode time; merge learning ran as
    // a separate bounded job over the same staging
    assert(plan.contains("graft_wordfreq_wf_"),
      s"expected a scan of the staged word-frequency table:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"encode must not rescan the corpus:\n$plan")
    assert(!plan.contains("explode"),
      s"token stream re-exploded at encode time:\n$plan")
    assert(!plan.contains("Exchange"),
      s"encode must be map-only over the staged vocabulary:\n$plan")
    assert(plan.contains("replace"),
      s"learned merges should appear as literal replace calls:\n$plan")
  }

  test("x56: the staged pair frame the audit consumes carries no minhash recompute") {
    // x56's returned frame is checkpoint-materialized (cache-lifecycle
    // rule), so pin the INPUT it consumes: the staged pairs must be a
    // plain scan of the published staging, not a pipeline re-run
    val plan = QueriesTrainingData.stagedLshScoredPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_lshpairs_pairs_"),
      s"expected a scan of the staged pair table:\n$plan")
    assert(!plan.contains("graft_minhash_sig"), s"minhash recomputed:\n$plan")
    assert(!plan.contains("explode"), s"shingle explode in staged read:\n$plan")
  }

  test("x58: the rank window runs over the sketch-pruned frame, not the corpus") {
    val plan = executedPlan("x58_topk_per_source")
    // the cutoff filter must sit on the doc scan side feeding the rank
    // window — without it the window sorts every source's full doc set
    assert("""n_chars#\d+L? >= cutoff""".r.findFirstIn(plan).isDefined,
      s"cutoff prune missing from the rank window's input:\n$plan")
    // cutoffs broadcast (per-source scalars); histograms partial-combine
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q79: deletion keys ride broadcasts into semi probes — no fact-to-fact shuffle join") {
    // the public query checkpoint-materializes (cache lifecycle), so pin
    // the un-checkpointed cascade it is built from
    val (audit, keySets) = QueriesRelational.deleteCascadeAudit(spark, sf)
    try {
      val plan = audit.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(plan).length >= 2,
        s"cascade probes must be broadcast semi joins:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"fact-to-fact shuffle crept in:\n$plan")
    } finally keySets.foreach(_.unpersist())
  }

  test("x59: the global serpentine rank is two-phase — no partition-less corpus window") {
    val plan = executedPlan("x59_balanced_shards")
    // the corpus-level rank window must key by the derived bucket; the
    // only partition-less window runs over the bucket-totals frame
    val rowWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("sum(1)"))
      .getOrElse(fail("row-level rank window not found in plan"))
    assert(rowWin.contains("__graft_bucket"),
      s"rank must window over buckets, not one global partition: $rowWin")
    val offWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("__graft_tot"))
      .getOrElse(fail("offset-scan window not found in plan"))
    assert(!offWin.contains("__graft_one#"),
      "offset scan must run on the bucket-totals frame, not corpus rows")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets should join back via broadcast")
  }

  test("x60: per-source percentile rank is two-phase — no source-alone corpus window") {
    val plan = executedPlan("x60_quality_calibration")
    val rowWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("sum(1)"))
      .getOrElse(fail("row-level rank window not found in plan"))
    assert(rowWin.contains("__graft_bucket"),
      s"per-source rank must window over (source, bucket), got: $rowWin")
    val offWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("__graft_tot"))
      .getOrElse(fail("offset-scan window not found in plan"))
    assert(!offWin.contains("__graft_one#"),
      "offset scan must run on the bucket-totals frame, not corpus rows")
    assert(plan.contains("BroadcastHashJoin"),
      "offsets and per-source totals should broadcast back")
  }

  test("x64/x66: epoch-mix plan and code-switch audit stay narrow (zero exchanges)") {
    for (q <- Seq("x64_epoch_mix_plan", "x66_code_switch")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
    }
  }

  test("x65: vocab top-k is TakeOrdered and broadcasts; doc counts partial-combine") {
    val plan = executedPlan("x65_oov_rate")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-24 vocab must be a TakeOrdered over the vocabulary, not a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the 24-word vocab must broadcast into the token join")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "per-doc counts must map-side combine")
  }

  test("x67: subword budget broadcasts the encoded vocab; doc sums partial-combine") {
    val plan = executedPlan("x67_subword_budget")
    assert(plan.contains("BroadcastHashJoin"),
      "per-word subword counts must broadcast into the corpus token join")
    assert(plan.contains("partial_sum"),
      "per-doc subword sums must map-side combine")
  }

  test("x63: URL dedup is ONE hash shuffle on the canonical key, no UDFs") {
    // pin the UN-checkpointed pipeline: the public query localCheckpoints
    // the flagged frame (so the PSL/canonicalization chain runs once, r18
    // opt), which erases the dedup aggregate from its plan — the x106
    // exposure pattern
    val plan = QueriesTrainingData
      .x63UrlDedupPipeline(spark, sf, dedupeFlagged = false)
      .queryExecution.executedPlan.toString
    // the PUBLIC query must still be UDF-free
    val publicPlan = executedPlan("x63_url_domain_dedup")
    assert(!publicPlan.contains("BatchEvalPython") &&
      !publicPlan.contains("ScalaUDF"),
      "public x63 plan must stay codegen'd built-ins")
    // canonicalization (regexp_extract/replace + array_sort) fuses into
    // the scan-side codegen; the dedup min partial-combines before the
    // single url_canon exchange
    assert(plan.contains("partial_min"),
      "URL-dedup min must map-side combine")
    assert("Exchange hashpartitioning\\(url_canon".r.findAllIn(plan).nonEmpty,
      "dedup aggregate must shuffle on the canonical-URL key")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "canonicalization must stay codegen'd built-ins")
    // per-domain cap ranks over (domain, bucket), never the bare domain
    val rowWin = plan.linesIterator
      .find(l => l.contains("Window") && l.contains("sum(1)"))
      .getOrElse(fail("domain-cap rank window not found in plan"))
    assert(rowWin.contains("__graft_bucket"),
      s"domain cap must window over (domain, bucket), got: $rowWin")
  }

  test("x82/x83: subword budgets reuse ONE corpus tokenize + broadcast vocab") {
    // the subword-denominated budget/shard gates must ride x67's staged
    // vocabulary encode ONCE: the two-phase machinery's local/offsets
    // branches both reference the x67 subtree, so the dedup happens at
    // runtime via exchange reuse — pin the FINAL adaptive plan (one
    // corpus token explode executing, the sibling branch on a
    // ReusedExchange), not the pre-reuse initial plan
    Seq("x82_subword_budget_mix", "x83_subword_shards").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val explodes = "Generate explode".r.findAllIn(plan).length
      assert(explodes === 1,
        s"$q: expected exactly one executed corpus token explode, got $explodes")
      assert(plan.contains("ReusedExchange"),
        s"$q: the second two-phase branch must reuse the tokenize exchange")
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: encoded vocabulary must broadcast into the token join")
    }
  }

  test("x85: narrow delta assign; a full probe joins no cell, a partial one does") {
    def cellJoin(plan: String) = plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("HashJoin")) &&
        l.contains("cell"))
    // every nested-loop line must be a broadcast Cross: the full probe's
    // index × broadcast queries, or the partial probe's queries × the
    // broadcast centroid table; an Inner/conditioned BNLJ would mean a
    // data-side join regressed off its equi-join
    def crossOnly(plan: String) = {
      assert(!plan.contains("CartesianProduct"), "candidate scoring must never cartesian")
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .foreach(l => assert(l.contains("BuildRight, Cross"), s"nested-loop join crept in: $l"))
    }
    // x85 probes all 16 cells: the index is scored against the broadcast
    // queries, with no cell join and no pruning subquery re-running them
    val plan = executedPlan("x85_ivf_delta_append")
    crossOnly(plan)
    assert(!cellJoin(plan) && !plan.contains("dynamicpruning"), plan)
    // a partial probe still joins its ranked cells to the index on cell
    val twoCells = graft.sim.IvfIndex.Model(
      Array(0 -> Array.fill(8)(0.0), 1 -> Array.fill(8)(1.0)),
      Tables.embeddings(spark, sf).withColumn("cell", (col("vec_id") % 2).cast("int")))
    val partial = graft.sim.IvfIndex.search(spark, twoCells,
      Tables.embeddings(spark, sf).filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nProbe = 1).queryExecution.executedPlan.toString
    crossOnly(partial)
    assert(cellJoin(partial), "candidate scoring must be an equi-join keyed on cell")
    val delta = graft.sim.IvfIndex.assign(
      Tables.embeddings(spark, sf).filter(col("vec_id") % 10 === 7),
      "embedding",
      graft.sim.IvfIndex.Model(
        Array(0 -> Array.fill(8)(0.0), 1 -> Array.fill(8)(1.0)),
        Tables.embeddings(spark, sf)))
    val dPlan = delta.queryExecution.executedPlan.toString
    assert(!dPlan.contains("Exchange"),
      "centroid assignment must be a narrow map — plan literals, no shuffle")
  }

  test("x48: a full probe ranks no cells — no crank window, one top-k window") {
    val plan = executedPlan("x48_ann_ivf_persisted")
    assert(!plan.contains("crank"), "a full probe must not score or rank centroids")
    assert("(?m)^\\W*Window ".r.findAllIn(plan).length === 1,
      s"only the neighbor top-k window may remain: ${plan.take(2000)}")
  }

  test("x48: a full probe scores the index against the broadcast queries, one job fewer") {
    SparkEntry.queries("x48_ann_ivf_persisted")(spark, sf).count(): Unit
    val df = SparkEntry.queries("x48_ann_ivf_persisted")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("dynamicpruning") && plan.contains("BroadcastNestedLoopJoin"), plan)
    // 4 with the cell join, whose dynamic-pruning subquery re-ran the
    // query side
    val (rows, jobs) = SparkTestSession.jobsIn("x48-search")(df.collect())
    assert(jobs === 3 && rows.length === 50)
  }

  test("q86: the compiled DELETE is a narrow filter over the staged frame") {
    // the state replacement is filter + overwrite: the returned frame's
    // plan must carry the NOT-TRUE predicate and no join
    val plan = executedPlan("q86_dtsx_delete")
    assert(!plan.contains("Join"), s"DELETE compile grew a join:\n$plan")
    assert(plan.toLowerCase.contains("o_orderstatus"),
      "purge predicate missing from the kept-rows filter")
  }

  test("q83: frontend ROW_NUMBER lowers to bucket-keyed windows") {
    // the executed package SQL carries PARTITION BY c_mktsegment
    // (cardinality 5) — the raw window would sort ~N/5 rows per task;
    // the lowering must rank over (segment, range-bucket) instead
    val plan = executedPlan("q83_dtsx_window_sql")
    assert(plan.contains("__graft_rk_b"),
      "frontend rank window must be bucket-keyed (RankLowering)")
    val rankWin = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number"))
      .toList
    assert(rankWin.nonEmpty, "rank window not found in plan")
    rankWin.foreach { l =>
      assert(l.contains("__graft_rk_b"),
        s"raw low-cardinality rank window survived the lowering: $l")
    }
  }

  test("q93: frontend RANK ranks the distinct key frame, never the raw window") {
    // 3 statuses × 5 priorities over the orders fact: the raw window
    // would sort ~N/3 rows per task and the two-phase bucket rank alone
    // would split tie groups — rankLike's key frame does neither
    val plan = executedPlan("q93_dtsx_rank_sql")
    assert(plan.contains("__graft_rkk_"),
      "frontend RANK must route through RankLowering.rankLike")
    val rawRank = plan.linesIterator.filter(l =>
      l.contains("Window") && l.contains("rank("))
    assert(rawRank.isEmpty, "a raw rank window survived the lowering")
    assert(plan.contains("partial_count"),
      "the tie-group collapse must map-side combine")
  }

  test("q75: sort-component position rank is bucket-keyed, not one task") {
    val plan = executedPlan("q75_sort_component")
    assert(plan.contains("__graft_rk_b"),
      "global position rank must route through RankLowering")
  }

  test("x72: delta probes the corpus bands as an EQUI-join; no cartesian") {
    // pin the un-checkpointed audit frame — localCheckpoint erases the
    // probe shape from the public query's plan (the q79 pattern)
    val (audit, caches) = QueriesTrainingData
      .incrementalNearDedupAudit(spark, sf)
    val plan = audit.queryExecution.executedPlan.toString
    caches.foreach(_.unpersist())
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "band candidate generation must stay an equi-join")
    assert(plan.contains("band_key"),
      "candidate join must key on the minhash band")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "the per-delta verdict rollup must map-side combine")
  }

  test("x106: entering-term backfill probes the store via BROADCAST; no cartesian") {
    // pin the un-checkpointed update frame — localCheckpoint erases the
    // probe shape from the public query's plan (the q79/x72 pattern)
    val (updated, caches) = QueriesTrainingData
      .incrementalIndexUpdate(spark, sf)
    val plan = updated.queryExecution.executedPlan.toString
    caches.foreach(_.unpersist())
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "index maintenance must stay equi-joined")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "the entering-term set must ride a broadcast into the forward index")
    assert(plan.contains("partial_count"),
      "df tables must map-side combine")
    // the incremental result must EQUAL x53's full rebuild (the oracle
    // certifies it against DuckDB; this pins it in-engine too)
    val inc = QueriesTrainingData.x106_incremental_index(spark, sf)
      .orderBy("term").collect().map(_.toSeq).toList
    val full = QueriesTrainingData.x53_inverted_index(spark, sf)
      .orderBy("term").collect().map(_.toSeq).toList
    assert(inc === full, "incremental index drifted from the full rebuild")
  }

  test("x107: probe terms TakeOrdered + broadcast; candidates stay df-bounded") {
    val (ranked, caches) = QueriesTrainingData.sparseRetrievalRanked(spark, sf)
    val plan = ranked.queryExecution.executedPlan.toString
    val nCand = ranked.count() // ≤ 4 queries × 10 ranks by construction
    caches.foreach(_.unpersist())
    assert(nCand <= 40, s"rank output overflowed the df-band bound: $nCand")
    assert(plan.contains("TakeOrdered"),
      "probe-term selection must be a TakeOrdered over the df table")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "query terms must ride a broadcast into the tf table")
    assert(!plan.contains("CartesianProduct"),
      "only the 1-row stats frame may cross-join (broadcast)")
    assert(plan.contains("partial_count"),
      "tf/df tables must map-side combine")
    // the exploded bigram tf table is the staged inverted-index
    // artifact, shared with x113/x120 — never re-exploded per consumer
    assert(plan.contains("graft_bigramtf_tf_"),
      s"x107 not reading the staged bigram tf:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"x107 must not re-tokenize the documents corpus:\n$plan")
  }

  test("q101/q106: frontend scripts compile to ONE join+agg DAG, no extra scans") {
    // the #temp (q101) and CTE (q106) are NAMED CATALYST PLANS, not
    // materializations — each mart must be exactly one aggregate + one
    // join over two scans, the same DAG a hand-written query builds
    def shape(name: String): (Int, Int, Int) = {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.toString
      (plan.linesIterator.count(_.contains("Join ")),
        plan.linesIterator.count(_.contains("Aggregate [")),
        plan.linesIterator.count(_.contains("Relation")))
    }
    val (j1, a1, r1) = shape("q101_dtsx_temp_table")
    assert(j1 === 1 && a1 === 1 && r1 === 2,
      s"q101 mart DAG drifted: joins=$j1 aggs=$a1 scans=$r1")
    val (j6, a6, r6) = shape("q106_dtsx_cte_insert")
    assert(j6 === 1 && a6 === 1 && r6 === 2,
      s"q106 mart DAG drifted: joins=$j6 aggs=$a6 scans=$r6")
    // q103's unrolled loop: three pruned scans of orders union'd — no
    // join, no window, nothing per-iteration beyond the branch
    val p103 = SparkEntry.queries("q103_dtsx_while_loop")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p103.linesIterator.count(_.contains("Join ")) === 0 &&
      !p103.contains("Window"),
      s"q103 loop plan grew structure beyond the union of branches")
  }

  test("x71: quantization happens once per row, before the pair fan-out") {
    val plan = SparkEntry.queries("x71_hard_negatives")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // the quantize transform must not appear inside the join condition
    // or above the join — each side carries qvec/qn2 computed pre-join
    val joinLine = plan.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(!joinLine.contains("transform("),
      s"quantization leaked into the join: $joinLine")
  }

  test("x80/x81: budget ledger queries stay cheap — no cartesian, partial-combined") {
    val p80 = executedPlan("x80_vision_token_budget")
    assert(!p80.contains("Exchange"),
      s"vision-token arithmetic must stay narrow over x10's frame:\n$p80")
    val p81 = executedPlan("x81_softdedup_weights")
    assert(p81.contains("partial_count"),
      "dup-group sizes must map-side combine")
    assert(!p81.contains("CartesianProduct") &&
      !p81.contains("BroadcastNestedLoopJoin"),
      "group-size join must stay an equi-join on the content key")
  }

  test("x94: bigram-LM tables partial-combine; no corpus window; scalar broadcast") {
    val plan = executedPlan("x94_bigram_lm_quality")
    assert(plan.contains("partial_count"),
      "bigram/context count tables must map-side combine")
    assert(!plan.contains("Window"),
      "LM scoring must not window the corpus")
    // the only nested-loop join is the 1-row vocabulary scalar broadcast
    assert(!plan.contains("CartesianProduct"),
      "vocabulary scalar must ride a broadcast, never a cartesian")
    val probeJoins = plan.linesIterator.filter(_.contains("Join")).toList
    assert(probeJoins.exists(l => l.contains("SortMergeJoin") ||
      l.contains("ShuffledHashJoin") || l.contains("BroadcastHashJoin")),
      "pair scoring must be term-keyed equi-joins")
  }

  test("MERGE compiles to ONE target×source join carrying guard + all three verbs") {
    // the r11 shape ran FOUR target×source joins (eager 8672 guard,
    // matched inner, two antis); the fused compile must shuffle the
    // merge key once — a full-outer join whose window guard and
    // per-column CASEs ride the same frame
    import spark.implicits._
    val tgt = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "bal")
    val feed = Seq((2L, "b2", 25.0, "U"), (9L, "z", 5.0, "I"))
      .toDF("id", "name", "bal", "op")
    val task = graft.ir.Ir.ExecuteSqlTask("m", None, "c",
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal)")
    val out = graft.patterns.MergeSqlCompiler
      .rewrite(spark, task, Map("dim" -> tgt, "feed" -> feed)).get.df.get
    val plan = out.queryExecution.optimizedPlan.toString
    val joins = plan.linesIterator.count(_.contains("Join "))
    assert(joins === 1, s"MERGE must shuffle target×source ONCE, saw $joins:\n$plan")
    assert(plan.contains("__graft_mcnt"),
      "the 8672 guard window must ride the same joined frame")
    // and the verbs still land: 1 untouched + 1 updated + 1 inserted
    assert(out.orderBy("id").as[(Long, String, Double)].collect().toList ===
      List((1L, "a", 10.0), (2L, "b2", 25.0), (9L, "z", 5.0)))
    // the BY SOURCE leg rides the SAME frame: still exactly one join
    val taskBs = graft.ir.Ir.ExecuteSqlTask("m", None, "c",
      "MERGE INTO dim AS t USING feed AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET name = s.name, bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (id, name, bal) VALUES (s.id, s.name, s.bal) " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    val outBs = graft.patterns.MergeSqlCompiler
      .rewrite(spark, taskBs, Map("dim" -> tgt, "feed" -> feed)).get.df.get
    val planBs = outBs.queryExecution.optimizedPlan.toString
    val joinsBs = planBs.linesIterator.count(_.contains("Join "))
    assert(joinsBs === 1,
      s"BY SOURCE must ride the one full-outer join, saw $joinsBs:\n$planBs")
    // id 1 (source-absent) retired, 2 updated, 9 inserted
    assert(outBs.orderBy("id").as[(Long, String, Double)].collect().toList ===
      List((2L, "b2", 25.0), (9L, "z", 5.0)))
  }

  test("no gated plan contains a trivially-true self-equality predicate") {
    // `a#12 = a#12` (same exprId on both sides) means a join condition was
    // written against two frames that resolve to the SAME attribute — the
    // written predicate is not the executed one (the x14 bug class)
    val selfEq = """\(([A-Za-z_]\w*#\d+)L? = \1L?\)""".r
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan.toString
      val hits = selfEq.findAllIn(plan).toList
      assert(hits.isEmpty, s"$name has trivially-true predicate(s): $hits")
    }
  }

  test("x111: frontier legs read content-keyed staging (x108 config + exact GT shared)") {
    // force the stagings (idempotent when an earlier test already did)
    SparkEntry.queries("x111_pq_frontier")(spark, sf).collect()
    // x108 IS the fine frontier config: after staging, its plan must be
    // a bucketed scan of the artifact — no codebook training, no ADC
    // aggregation, no join
    val plan = executedPlan("x108_pq_ann")
    assert(plan.contains("graft_adc_m32_d2_k64_k100_topk_"),
      s"x108 not reading the staged ADC artifact:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"PQ pipeline recomputed instead of the staged read:\n$plan")
    // the exact ground truth every recall consumer scores against is
    // the one staged table, not a re-ranked cross join
    val exactPlan = QueriesTrainingData.stagedExactTop5(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("graft_exacttop5_top5_"),
      s"exact GT not reading its staging:\n$exactPlan")
    assert(!exactPlan.contains("Window") && !exactPlan.contains("Join"),
      s"exact ranking recomputed instead of the staged read:\n$exactPlan")
  }

  test("q117: the cursor rewrite is one join per DML leg, never per-row work") {
    val plan = executedPlan("q117_dtsx_cursor_loop")
    // the UPDATE-body loop became ONE left_outer join-update against
    // the staged cursor rows; the DELETE-body loop ONE anti join
    assert(plan.contains("LeftOuter"), s"join-update leg missing:\n$plan")
    assert(plan.contains("LeftAnti"), s"anti-join delete leg missing:\n$plan")
    assert(!plan.contains("Cross"), s"cartesian in the cursor rewrite:\n$plan")
  }

  test("q118: the batched purge fixpoint is join-free projections") {
    val plan = executedPlan("q118_dtsx_batched_purge")
    // one CASE projection (the UPDATE fixpoint) + one keep-filter (the
    // DELETE fixpoint) over the staged scan — TOP(n) chunking must
    // leave NO trace in the plan
    assert(!plan.contains("Join"), s"fixpoint plan grew a join:\n$plan")
  }

  test("q123: ALTER COLUMN re-types are narrow projections, no join/shuffle") {
    val plan = executedPlan("q123_dtsx_alter_column")
    // two re-types + a literal-predicate backfill: projection work
    // fused over the staged scan — a schema migration must never
    // shuffle or join at any scale
    assert(!plan.contains("Join"), s"retype plan grew a join:\n$plan")
    assert(!plan.contains("Exchange"), s"retype plan shuffles:\n$plan")
  }

  test("q129: positioned cursor DML plans plain one-shot DML, no join/shuffle") {
    val plan = executedPlan("q129_dtsx_positioned_cursor")
    // WHERE CURRENT OF compiles to the same UPDATE/DELETE the inline
    // spelling produces: predicate + projection over the staged scan.
    // No staged temp, no join on a row identity, no exchange — the
    // cheapest cursor rewrite must stay that way at any scale.
    assert(!plan.contains("Join"), s"positioned plan grew a join:\n$plan")
    assert(!plan.contains("Exchange"), s"positioned plan shuffles:\n$plan")
  }

  test("q119: LEFT correlated DML rides left_outer frames, no cartesian") {
    val plan = executedPlan("q119_dtsx_correlated_left")
    assert(plan.contains("LeftOuter"),
      s"LEFT forms must plan left_outer joins:\n$plan")
    assert(!plan.contains("Cross"), s"cartesian in the LEFT DML:\n$plan")
    // the canonical orphan purge (IS NULL on the join key) takes the
    // window-free SEMI fast path — no row-identity shuffle
    assert(plan.contains("LeftSemi"),
      s"orphan purge must plan a semi join, not the windowed form:\n$plan")
  }

  test("x113: the dense leg reads the staged ADC artifact, never the PQ pipeline") {
    // ensure the staging exists (first toucher builds it)
    SparkEntry.queries("x108_pq_ann")(spark, sf).collect()
    // after staging, the dense leg is a bucketed scan of the artifact
    // plus a rank filter — no codebook training, no ADC aggregation,
    // no join, no embeddings scan
    val plan = QueriesTrainingData.x113dense(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_adc_m32_d2_k64_k100_topk_"),
      s"x113 dense leg not reading the staged ADC artifact:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"x113 dense leg recomputed the PQ pipeline:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"x113 dense leg must not rescan the embeddings corpus:\n$plan")
  }

  test("x53: the inverted index reads the staged bigram-tf, never re-explodes") {
    // ensure the staging exists (first toucher builds it)
    SparkEntry.queries("x107_sparse_retrieval")(spark, sf).collect()
    val plan = executedPlan("x53_inverted_index")
    assert(plan.contains("graft_bigramtf_tf_"),
      s"x53 not reading the staged bigram-tf artifact:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"x53 must not re-tokenize the corpus:\n$plan")
    assert(!plan.toLowerCase.contains("explode"),
      s"x53 must not re-explode bigrams:\n$plan")
  }

  test("x121: re-rank reads the staged ADC pool and fetches vectors by broadcast") {
    // ensure the staging exists (first toucher builds it)
    SparkEntry.queries("x108_pq_ann")(spark, sf).collect()
    val plan = executedPlan("x121_ann_rerank")
    assert(plan.contains("graft_adc_m32_d2_k64_k100_topk_"),
      s"candidates must come from the staged artifact:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |Q|x100 candidate frame must broadcast into the corpus scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the candidate fetch:\n$plan")
  }
}
