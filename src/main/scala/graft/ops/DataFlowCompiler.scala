package graft.ops

import graft.expr.SsisExprCompiler
import graft.expr.SsisExprCompiler.Env
import graft.ir.Ir._
import graft.types.SsisTypes
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Compiles a parsed [[DataFlowTask]] into a single declarative DataFrame
  * plan — Catalyst then owns physical strategy (SURVEY.md §4: no custom
  * Rule/SparkStrategy needed; every SSIS component lands on built-ins).
  *
  * Operator mapping (SURVEY.md §2):
  *  - OLE DB Source (table/SQL mode) → resolver-provided scan; declared
  *    output columns become an explicit select+cast (never inferSchema)
  *  - Lookup → hash equi-join; Full cache → `broadcast()` hint (the
  *    full-cache contract IS a broadcast), Partial → shuffled join;
  *    IgnoreFailure → left join; FailComponent → left join + the
  *    unmatched-rows frame recorded in
  *    [[CompiledDataFlow.failComponentChecks]], enforced by the
  *    validation suite (SSIS fails the component on no-match — dropping
  *    rows like an inner join would is NOT the semantic)
  *  - Derived Column → SSIS expression compiler → `withColumn` + cast
  *  - Conditional Split → single-pass CASE tag (ordered, mutually
  *    exclusive, first-match-wins) + per-route filters via [[routes]]
  *  - Aggregate → groupBy/agg (partial aggregation comes free)
  *  - Sort → global orderBy (SSIS Sort is a full sort)
  *  - Row Count → `observe` metric — zero extra action or pass
  *  - Data Conversion → `<col>_conv` cast columns
  */
object DataFlowCompiler {

  /** How sources/lookups resolve to DataFrames at runtime (parquet dirs,
    * catalog tables, JDBC — the engine doesn't care). */
  final case class Resolver(
      source: SourceComponent => DataFrame,
      lookup: LookupComponent => DataFrame)

  final case class CompiledDataFlow(
      df: DataFrame,
      destination: Option[DestinationComponent],
      observations: Map[String, Observation],
      /** route name → filtered frame (Conditional Split outputs). */
      routes: Map[String, DataFrame],
      /** lookup name → frame of probe rows with NO dim match
        * (NoMatchBehavior=FailComponent). Must be empty for the task to
        * succeed — the runner enforces it before writing. Built from an
        * internal dim-side marker, so it is exact even for zero-output
        * existence checks and lookups whose output columns are
        * legitimately NULL on matched rows. */
      failComponentChecks: Map[String, DataFrame],
      warnings: List[String])

  /** Literal binding for `@[ns::name]` refs in component expressions from
    * evaluated package variables (see graft.pipeline.PackageVariables). */
  def varBinding(vars: Map[String, Any]): (String, String) => Column =
    (ns, n) => vars.get(s"$ns::$n") match {
      case Some(null) => lit(null)
      case Some(v) => lit(v)
      case None => throw new IllegalArgumentException(s"unbound SSIS variable @[$ns::$n]")
    }

  def compile(task: DataFlowTask, resolver: Resolver,
      vars: Map[String, Any] = Map.empty): CompiledDataFlow = {
    val warnings = scala.collection.mutable.ListBuffer.empty[String]
    val observations = scala.collection.mutable.Map.empty[String, Observation]
    val failChecks = scala.collection.mutable.Map.empty[String, DataFrame]
    var routes = Map.empty[String, DataFrame]
    var destination: Option[DestinationComponent] = None

    val sourceComp = task.components.collectFirst { case s: SourceComponent => s }
      .getOrElse(throw new IllegalArgumentException(s"dataflow ${task.name} has no source"))

    var df = applySourceSchema(resolver.source(sourceComp), sourceComp, warnings += _)

    task.components.foreach {
      case _: SourceComponent => // consumed above
      case d: DestinationComponent => destination = Some(d)
      case l: LookupComponent =>
        val (joined, unmatched) = applyLookup(df, l, resolver)
        df = joined
        unmatched.foreach(f => failChecks(l.name) = f)
      case dc: DerivedColumnComponent =>
        df = applyDerivedColumns(df, dc, vars)
      case cs: ConditionalSplitComponent =>
        df = applySplitTag(df, cs, vars)
        routes = splitRoutes(df, cs)
      case a: AggregateComponent =>
        df = applyAggregate(df, a)
      case s: SortComponent =>
        df = df.orderBy(s.sortColumns.map { case (c, asc) =>
          if (asc) col(c).asc else col(c).desc }: _*)
      case rc: RowCountComponent =>
        val obs = new Observation(rc.name)
        df = df.observe(obs, count(lit(1)).as("row_count"))
        observations(rc.variableName) = obs
      case conv: DataConversionComponent =>
        df = conv.conversions.foldLeft(df) { case (acc, (src, t)) =>
          acc.withColumn(s"${src}_conv", col(src).cast(SsisTypes.toSpark(t)))
        }
      case mj: MergeJoinComponent =>
        warnings += s"MergeJoin '${mj.name}' is binary; use DataFlowCompiler.mergeJoin"
      case u: UnionAllComponent =>
        warnings += s"UnionAll '${u.name}' is n-ary; use DataFlowCompiler.unionAll"
      case u: UnparsedComponent =>
        warnings += s"component '${u.name}' (${u.componentType}) skipped"
    }

    // a LINEAR chain continuing past a ConditionalSplit has no <paths>
    // wiring to say which route flows on — the tagged union of ALL routes
    // continues in `df` (q33 deliberately surfaces the tag; per-route
    // frames are in `routes`). The runner drops the internal tag column
    // at the destination boundary so it never lands in a written table.
    if (df.columns.contains(SplitTagColumn) && destination.isDefined)
      warnings += s"dataflow ${task.name}: linear chain writes past a " +
        "ConditionalSplit — ALL routes flow to the destination (no <paths> " +
        "wiring); wire explicit paths or use CompiledDataFlow.routes"
    CompiledDataFlow(df, destination, observations.toMap, routes, failChecks.toMap,
      warnings.toList)
  }

  /** Declared output columns → explicit select + cast (P1/P4). An empty
    * declaration passes the scan through untouched. A declared column the
    * scan doesn't carry is WARNED about, never silently dropped (schema
    * drift should surface here, not as an unrelated unresolved-column
    * error three components later); if nothing matches, fail loud. */
  def applySourceSchema(scan: DataFrame, src: SourceComponent,
      warn: String => Unit = _ => ()): DataFrame =
    if (src.columns.isEmpty) scan
    else {
      val available = scan.columns.toSet
      val (kept, missing) = src.columns.partition(c => available.contains(c.name))
      missing.foreach(c => warn(
        s"source ${src.name}: declared column '${c.name}' absent from the scan " +
          s"(have: ${scan.columns.mkString(", ")}) — dropped"))
      require(kept.nonEmpty,
        s"source ${src.name}: none of the declared output columns " +
          s"(${src.columns.map(_.name).mkString(", ")}) exist in the scan — schema drift?")
      scan.select(kept.map(c =>
        col(c.name).cast(SsisTypes.toSpark(c.ssisType)).as(c.name)): _*)
    }

  /** Join-key inference: probe input column ↔ same-named lookup column
    * when present, else the first lookup column that is NOT an appended
    * output (reproduces the sample packages' Date lookup, where SaleDate
    * probes FullDate). Returns (joined, appended key column). */
  def applyLookup(probe: DataFrame, l: LookupComponent, resolver: Resolver)
      : (DataFrame, Option[DataFrame]) = {
    val dim0 = resolver.lookup(l)
    val outputNames = l.outputColumns.map(_.name)
    val dimCols = dim0.columns.toList
    val joinPairs: List[(String, String)] =
      if (l.inputColumns.nonEmpty)
        l.inputColumns.map { in =>
          if (dimCols.contains(in)) in -> in
          else {
            val candidates = dimCols.filterNot(outputNames.contains)
            in -> candidates.headOption.getOrElse(
              throw new IllegalArgumentException(
                s"lookup ${l.name}: cannot infer join column for input $in"))
          }
        }
      else {
        // no declared input columns (InventorySync.dtsx shape): every dim
        // column that isn't an appended output is a join column; probe side
        // pairs by exact name, else by suffix (ProductSKU probes SKU)
        val probeCols = probe.columns.toList
        val pairs = dimCols.filterNot(outputNames.contains).flatMap { d =>
          probeCols.find(_ == d)
            .orElse(probeCols.find(_.toLowerCase.endsWith(d.toLowerCase)))
            .map(_ -> d)
        }
        if (pairs.isEmpty) throw new IllegalArgumentException(
          s"lookup ${l.name}: no join columns could be inferred")
        pairs
      }
    // keep only join + appended columns from the dim side; drop the dim's
    // copy of same-named join columns after the join. FailComponent adds
    // an internal always-true marker on the dim side: its nullness after
    // the left join is the EXACT no-match signal — an appended output
    // column is the wrong proxy (zero-output existence-check lookups have
    // none, and a legitimately-NULL output on a matched row would read as
    // a false no-match). The marker never reaches the caller's frame.
    val isFail = l.noMatchBehavior == NoMatchBehavior.FailComponent
    val marker = "__graft_lookup_matched"
    val needed = (joinPairs.map(_._2) ++ outputNames).distinct
    val dimSelect: List[Column] =
      if (isFail) needed.map(col) :+ lit(true).as(marker) else needed.map(col)
    val dim = dim0.select(dimSelect: _*)
    val probeTypes = probe.schema.fields.map(f => f.name -> f.dataType).toMap
    val dimTypes = dim.schema.fields.map(f => f.name -> f.dataType).toMap
    val cond = joinPairs.map { case (p, d) =>
      // J2's cast-join shape (fct_sales.sql:75): a timestamp probing a
      // date dimension joins on the derived date — still an equi join
      (probeTypes.get(p), dimTypes.get(d)) match {
        case (Some(org.apache.spark.sql.types.TimestampType),
            Some(org.apache.spark.sql.types.DateType)) =>
          to_date(probe(p)) === dim(d)
        case _ => probe(p) === dim(d)
      }
    }.reduce(_ && _)
    val dimSide = if (l.cacheMode == CacheMode.Full) broadcast(dim) else dim
    val joinType = "left" // see scaladoc: FailComponent validates, never drops
    val joined = joinPairs.foldLeft(probe.join(dimSide, cond, joinType)) {
      case (acc, (p, d)) if p != d => acc.drop(dim(d))
      case (acc, (p, _)) => acc.drop(dim(p))
    }
    if (isFail) (joined.drop(marker), Some(joined.filter(col(marker).isNull)))
    else (joined, None)
  }

  def applyDerivedColumns(df: DataFrame, dc: DerivedColumnComponent,
      vars: Map[String, Any] = Map.empty): DataFrame = {
    val types: Map[String, DataType] = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val env = Env(col = n => col(n), colType = types.get, variable = varBinding(vars))
    dc.columns.foldLeft(df) { (acc, d) =>
      acc.withColumn(d.name,
        SsisExprCompiler.compile(d.expression, env).cast(SsisTypes.toSpark(d.outputType)))
    }
  }

  val SplitTagColumn = "__route"

  /** Ordered first-match-wins CASE tag — one pass, no per-route rescan. */
  def applySplitTag(df: DataFrame, cs: ConditionalSplitComponent,
      vars: Map[String, Any] = Map.empty): DataFrame = {
    val types: Map[String, DataType] = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val env = Env(col = n => col(n), colType = types.get, variable = varBinding(vars))
    val tagged = cs.cases.foldLeft(None: Option[Column]) { case (acc, (out, expr)) =>
      val cond = SsisExprCompiler.compile(expr, env)
      Some(acc.fold(when(cond, out))(_.when(cond, out)))
    }.fold(lit(cs.defaultOutput))(_.otherwise(cs.defaultOutput))
    df.withColumn(SplitTagColumn, tagged)
  }

  def splitRoutes(tagged: DataFrame, cs: ConditionalSplitComponent): Map[String, DataFrame] =
    (cs.cases.map(_._1) :+ cs.defaultOutput).map { out =>
      out -> tagged.filter(col(SplitTagColumn) === out).drop(SplitTagColumn)
    }.toMap

  def applyAggregate(df: DataFrame, a: AggregateComponent): DataFrame = {
    import AggFunction._
    val keys = a.aggs.filter(_.fn == GroupBy)
      .map(s => col(s.inputColumn).as(s.outputName))
    val measures = a.aggs.filterNot(_.fn == GroupBy).map { s =>
      val in = col(s.inputColumn)
      (s.fn match {
        case Sum => sum(in)
        // SSIS Aggregate Count counts NON-NULL values of its
        // AggregationColumn (T-SQL COUNT(col)); COUNT(*) is the separate
        // CountAll aggregation type
        case Count => count(in)
        case CountAll => count(lit(1))
        case CountDistinct => countDistinct(in)
        case Avg => avg(in)
        case Min => min(in)
        case Max => max(in)
        case GroupBy => throw new IllegalStateException("unreachable")
      }).as(s.outputName)
    }
    require(measures.nonEmpty, s"aggregate ${a.name} needs at least one measure")
    df.groupBy(keys: _*).agg(measures.head, measures.tail: _*)
  }

  /** Merge Join (J3): Spark picks sort-merge for large sides on its own. */
  def mergeJoin(left: DataFrame, right: DataFrame, mj: MergeJoinComponent): DataFrame = {
    val cond = mj.leftKeys.zip(mj.rightKeys)
      .map { case (l, r) => left(l) === right(r) }.reduce(_ && _)
    val jt = mj.joinType.toLowerCase match {
      case "left" => "left"; case "full" => "full"; case _ => "inner"
    }
    left.join(right, cond, jt)
  }

  /** Union All (J4/W4): n-ary by-name union. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  final case class CompiledDag(
      /** terminal (no outgoing edge, non-destination) component → frame. */
      outputs: Map[String, DataFrame],
      /** destination component name → (component, frame flowing into it). */
      destinations: Map[String, (DestinationComponent, DataFrame)],
      observations: Map[String, Observation],
      failComponentChecks: Map[String, DataFrame],
      warnings: List[String])

  /** Branched-dataflow compiler: the `<paths>` graph decides wiring, so a
    * Conditional Split can feed DIFFERENT downstream branches per route,
    * and Merge Join / Union All are true multi-input nodes — the general
    * SSIS pipeline topology, beyond [[compile]]'s linear document-order
    * flow. Still one declarative plan per terminal: branches share the
    * source scan subtree and Catalyst owns physical strategy.
    *
    * Route resolution: an edge leaving a Conditional Split names its
    * route in `fromOutput` (the SSIS `Outputs[route]` refId form); edges
    * entering a Merge Join carry "left"/"right" in `toInput`, else the
    * path order decides. */
  def compileDag(task: DataFlowTask, resolver: Resolver,
      vars: Map[String, Any] = Map.empty): CompiledDag = {
    require(task.paths.nonEmpty, s"dataflow ${task.name} has no paths; use compile()")
    val warnings = scala.collection.mutable.ListBuffer.empty[String]
    val observations = scala.collection.mutable.Map.empty[String, Observation]
    val failChecks = scala.collection.mutable.Map.empty[String, DataFrame]
    val destinations = scala.collection.mutable.Map.empty[String, (DestinationComponent, DataFrame)]

    val byName = task.components.map(c => c.name -> c).toMap
    val incoming = task.paths.groupBy(_.to)
    val hasOutgoing = task.paths.map(_.from).toSet

    // Kahn topo order over the path graph (components not on any path are
    // ignored — they're dead nodes in a branched flow)
    val onGraph = (task.paths.map(_.from) ++ task.paths.map(_.to)).distinct
    val indeg = scala.collection.mutable.Map(
      onGraph.map(n => n -> incoming.getOrElse(n, Nil).length): _*)
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val queue = scala.collection.mutable.Queue(
      onGraph.filter(indeg(_) == 0).sorted: _*)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      // one decrement PER EDGE, not per distinct target: parallel edges
      // (a split's two routes feeding one UnionAll, a self-join feeding
      // both MergeJoin inputs) each contributed to the in-degree, so a
      // distinct here would strand the target at indeg > 0 and falsely
      // report a cycle on a valid dataflow
      task.paths.filter(_.from == n).foreach { p =>
        indeg(p.to) -= 1
        if (indeg(p.to) == 0) queue.enqueue(p.to)
      }
    }
    require(order.length == onGraph.length,
      s"dataflow ${task.name} paths contain a cycle")

    // (component, route) → produced frame; non-split components publish
    // under route None
    val produced = scala.collection.mutable.Map.empty[(String, Option[String]), DataFrame]
    def frameFor(p: graft.ir.Ir.FlowPath): DataFrame = {
      val fromComp = byName(p.from)
      val key = fromComp match {
        case _: ConditionalSplitComponent => (p.from, p.fromOutput)
        case _ => (p.from, None)
      }
      produced.getOrElse(key, throw new IllegalArgumentException(
        s"path ${p.from}→${p.to}: no output ${p.fromOutput.getOrElse("<default>")} produced"))
    }

    order.foreach { name =>
      val comp = byName.getOrElse(name, throw new IllegalArgumentException(
        s"path references unknown component '$name'"))
      val ins: List[(graft.ir.Ir.FlowPath, DataFrame)] =
        incoming.getOrElse(name, Nil).map(p => p -> frameFor(p))
      def single: DataFrame = ins match {
        case (_, df) :: Nil => df
        case _ => throw new IllegalArgumentException(
          s"component '$name' needs exactly one input, got ${ins.length}")
      }
      comp match {
        case s: SourceComponent =>
          produced((name, None)) = applySourceSchema(resolver.source(s), s, warnings += _)
        case d: DestinationComponent =>
          destinations(name) = (d, single)
        case l: LookupComponent =>
          val (joined, unmatched) = applyLookup(single, l, resolver)
          produced((name, None)) = joined
          unmatched.foreach(f => failChecks(l.name) = f)
        case dc: DerivedColumnComponent =>
          produced((name, None)) = applyDerivedColumns(single, dc, vars)
        case cs: ConditionalSplitComponent =>
          val tagged = applySplitTag(single, cs, vars)
          produced((name, None)) = tagged
          produced((name, Some(SplitInputKey))) = single
          splitRoutes(tagged, cs).foreach { case (route, df) =>
            produced((name, Some(route))) = df
          }
        case a: AggregateComponent =>
          produced((name, None)) = applyAggregate(single, a)
        case s: SortComponent =>
          produced((name, None)) = single.orderBy(s.sortColumns.map {
            case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
        case rc: RowCountComponent =>
          val obs = new Observation(s"${task.name}/$name")
          produced((name, None)) = single.observe(obs, count(lit(1)).as("row_count"))
          observations(rc.variableName) = obs
        case conv: DataConversionComponent =>
          produced((name, None)) = conv.conversions.foldLeft(single) {
            case (acc, (src, t)) =>
              acc.withColumn(s"${src}_conv", col(src).cast(SsisTypes.toSpark(t)))
          }
        case mj: MergeJoinComponent =>
          require(ins.length == 2, s"MergeJoin '$name' needs 2 inputs, got ${ins.length}")
          // when only ONE edge carries a left/right label, the other side
          // must bind to the REMAINING edge — a positional fallback
          // (head/last) could bind the labeled edge to both sides and
          // silently join a frame with itself
          val leftIn = ins.find(_._1.toInput.contains("left"))
          val rightIn = ins.find(_._1.toInput.contains("right"))
          val (left, right) = (leftIn, rightIn) match {
            case (Some(l), Some(r)) => (l._2, r._2)
            case (Some(l), None) => (l._2, ins.find(_ != l).get._2)
            case (None, Some(r)) => (ins.find(_ != r).get._2, r._2)
            case (None, None) => (ins.head._2, ins.last._2)
          }
          produced((name, None)) = mergeJoin(left, right, mj)
        case u: UnionAllComponent =>
          require(ins.nonEmpty, s"UnionAll '$name' has no inputs")
          produced((name, None)) =
            fuseSplitUnionDiamond(task, byName, incoming, name, produced, vars)
              .getOrElse(unionAll(ins.map(_._2)))
        case u: UnparsedComponent =>
          warnings += s"component '${u.name}' (${u.componentType}) skipped; passing input through"
          produced((name, None)) = single
      }
    }

    val terminals = onGraph.filterNot(hasOutgoing.contains)
      .filterNot(destinations.contains)
      .flatMap(n => produced.get((n, None)).map(n -> _)).toMap
    CompiledDag(terminals, destinations.toMap, observations.toMap,
      failChecks.toMap, warnings.toList)
  }

  /** Internal key under which a split's *input* frame is published. */
  private val SplitInputKey = "__split_input"

  /** Split→branches→union diamond fusion — the 100 TB rewrite: a naive
    * union of per-route branches scans the shared source subtree once PER
    * BRANCH (Spark has no automatic CTE reuse across union inputs). When
    * every union input is a chain of DerivedColumn components hanging off
    * a distinct route of one Conditional Split — and the diamond is
    * closed (all routes consumed exactly here, no side taps) — the whole
    * shape collapses to ONE pass over the split's input: each branch's
    * derived expression evaluates behind a `CASE WHEN route = r` gate.
    * Returns None when the pattern doesn't hold (fallback: plain union).
    */
  private def fuseSplitUnionDiamond(
      task: DataFlowTask,
      byName: Map[String, DataFlowComponent],
      incoming: Map[String, List[graft.ir.Ir.FlowPath]],
      unionName: String,
      produced: scala.collection.Map[(String, Option[String]), DataFrame],
      vars: Map[String, Any] = Map.empty)
      : Option[DataFrame] = {
    val outDegree = task.paths.groupBy(_.from).map { case (k, v) => k -> v.length }
    // walk each union input back through DerivedColumn-only chains to a
    // split route; None if anything else is in the way
    final case class Chain(route: String, defs: List[DerivedColumnDef])
    def walk(p: graft.ir.Ir.FlowPath, acc: List[DerivedColumnDef])
        : Option[(String, Chain)] = byName.get(p.from) match {
      case Some(d: DerivedColumnComponent) if outDegree.getOrElse(d.name, 0) == 1 =>
        incoming.getOrElse(d.name, Nil) match {
          case up :: Nil => walk(up, d.columns ++ acc)
          case _ => None
        }
      case Some(s: ConditionalSplitComponent) =>
        p.fromOutput.map(route => s.name -> Chain(route, acc))
      case _ => None
    }
    val walked = incoming.getOrElse(unionName, Nil).map(walk(_, Nil))
    if (walked.exists(_.isEmpty)) return None
    val bySplit = walked.flatten.groupBy(_._1)
    if (bySplit.size != 1) return None
    val (splitName, chains0) = bySplit.head
    val chains = chains0.map(_._2)
    val cs = byName(splitName).asInstanceOf[ConditionalSplitComponent]
    val allRoutes = (cs.cases.map(_._1) :+ cs.defaultOutput).toSet
    // closed diamond: every route consumed exactly once, split feeds only
    // these chains, and all chains derive the identical (name, type) set
    if (chains.map(_.route).toSet != allRoutes) return None
    if (chains.map(_.route).distinct.length != chains.length) return None
    if (outDegree.getOrElse(splitName, 0) != chains.length) return None
    val nameTypes = chains.map(_.defs.map(d => d.name -> d.outputType))
    if (nameTypes.distinct.length != 1) return None

    val splitInput = produced.getOrElse((splitName, Some(SplitInputKey)),
      return None)
    val tagged = applySplitTag(splitInput, cs, vars)
    val fused = chains.head.defs.map(_.name).zipWithIndex
      .foldLeft(tagged) { case (acc, (colName, idx)) =>
        val types = acc.schema.fields.map(f => f.name -> f.dataType).toMap
        val env = SsisExprCompiler.Env(col = n => col(n), colType = types.get,
          variable = varBinding(vars))
        val branches = chains.map { c =>
          val d = c.defs(idx)
          c.route -> SsisExprCompiler.compile(d.expression, env)
            .cast(SsisTypes.toSpark(d.outputType))
        }
        val gated = branches.tail.foldLeft(
          when(col(SplitTagColumn) === branches.head._1, branches.head._2)) {
          case (w, (route, e)) => w.when(col(SplitTagColumn) === route, e)
        }
        acc.withColumn(colName, gated)
      }
    Some(fused.drop(SplitTagColumn))
  }
}
