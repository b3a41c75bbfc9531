package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.execution.{
  ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Analytics, Joins, Relational, Tables}
import graft.text.TextAnalysis

/** Physical-plan regression tests: the scale-critical properties the
  * round-3 operators were designed around, pinned so a refactor can't
  * silently lose them (a wrong-but-correct plan passes every value
  * check; only the plan text shows the 100 TB story).
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Every node of a physical plan, inner plans included: an adaptive
    * plan's current plan, a cached relation's plan.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** The first operator under `p` that computes rows rather than moving,
    * sorting, filtering or projecting them.
    */
  private def producer(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => producer(a.executedPlan)
    case m: InMemoryTableScanExec => producer(m.relation.cachedPlan)
    case _: SortExec | _: ShuffleExchangeExec | _: ProjectExec | _: FilterExec |
        _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec => producer(p.children.head)
    case _ => p
  }

  test("regressionOutliers broadcasts the moment table back onto the facts") {
    val p = plan(Relational.regressionOutliers(Tables.lineitem(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    // no window, no sort of the fact table
    assert(!p.contains("Window"), p)
  }

  test("coOrderEdges plans two aggregates and no join") {
    val p = plan(graft.engine.Graph.coOrderEdges(Tables.lineitem(spark, sfDir)))
    assert(!p.toLowerCase.contains("join"), p)
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size >= 2, p)
  }

  test("piiScrub is a pure per-row projection: no exchange anywhere") {
    val p = plan(TextAnalysis.piiScrub(Tables.documents(spark, sfDir)))
    assert(!p.contains("Exchange"), p)
  }

  test("sourceHhi and mixWeights keep integer sums until one closing division") {
    for (df <- Seq(
        TextAnalysis.sourceHhi(Tables.documents(spark, sfDir)),
        TextAnalysis.sourceMixWeights(Tables.documents(spark, sfDir)))) {
      val p = plan(df)
      // partial + final aggregate layers (map-side combine on the shuffle)
      assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size >= 2, p)
    }
  }

  test("bloom prefilter evaluates might_contain under the scan, before the semi-join") {
    val p = plan(Joins.bloomPrefilteredSemiJoin(
      Tables.lineitem(spark, sfDir),
      Tables.supplier(spark, sfDir).filter(col("s_acctbal") >= 5000),
      col("l_suppkey"), col("s_suppkey"), 1000L))
    assert(p.contains("might_contain"), p)
    val filterAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("LeftSemi")
    assert(joinAt >= 0 && joinAt < filterAt,
      "semi-join must sit ABOVE the bloom filter in the operator tree (filter runs first)")
  }

  test("latestByKey partial-aggregates max_by before the exchange") {
    val p = plan(Relational.latestByKey(Tables.events(spark, sfDir)))
    // two aggregate layers (partial below the shuffle, final above)
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("max_by"), p)
  }

  /** Names the queries whose plan lacks `operator`, all at once. */
  private def assertEveryPlanHas(operator: String, queries: (String, DataFrame)*): Unit = {
    val missing = queries.collect { case (name, df) if !plan(df).contains(operator) => name }
    assert(missing.isEmpty, s"no $operator in: ${missing.mkString(", ")}")
  }

  test("global top-k queries use TakeOrderedAndProject, not a full-input window") {
    val events = Tables.events(spark, sfDir)
    val queries = Seq(
      "transitionsTopK" -> Analytics.transitionsTopK(events, 15),
      "termFrequency" -> TextAnalysis.termFrequency(Tables.documents(spark, sfDir), 20),
      "starRevenueTopK" -> Relational.starRevenueTopK(
        Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
        Tables.lineitem(spark, sfDir), "BUILDING", 10),
      "grubbsOutlier" -> Analytics.grubbsOutlier(events),
      "eventStudy" -> Analytics.eventStudy(events))
    assertEveryPlanHas("TakeOrderedAndProject", queries: _*)
    // a filter on a row_number is a hand-written top-k (Spark adds its
    // own limit under such a window, so the plan holds a
    // TakeOrderedAndProject either way)
    def readsRowNumber(condition: Expression, w: WindowExec): Boolean = w.windowExpression.exists(e =>
      e.exists(_.isInstanceOf[RowNumber]) && condition.references.contains(e.toAttribute))
    val rankFilters = queries.collect {
      case (name, df) if nodes(df.queryExecution.executedPlan).exists {
        case FilterExec(condition, w: WindowExec) => readsRowNumber(condition, w)
        case FilterExec(condition, InputAdapter(w: WindowExec)) => readsRowNumber(condition, w)
        case _ => false
      } => name
    }
    assert(rankFilters.isEmpty, s"a row_number filter in: ${rankFilters.mkString(", ")}")
  }

  test("per-group top-k gets WindowGroupLimit rank pushdown") {
    val docs = Tables.documents(spark, sfDir)
    val embeddings = Tables.embeddings(spark, sfDir)
    assertEveryPlanHas("WindowGroupLimit",
      "tfidfTopTerms" -> TextAnalysis.tfidfTopTerms(docs, 3),
      "dailyTopSpenders" -> Analytics.dailyTopSpenders(Tables.events(spark, sfDir), 3),
      "itemRecommendations" -> graft.engine.Graph.itemRecommendations(Tables.lineitem(spark, sfDir)),
      "quotaSample" -> Relational.quotaSample(docs, 5),
      "screenSlicesAgainst" -> graft.multimodal.Multimodal.sliceScreen(docs),
      "knnClassify" -> graft.similarity.Similarity.knnClassify(embeddings, 10, 5),
      "bitextMine" -> graft.similarity.Similarity.bitextMine(embeddings, docs),
      "screenSigs" -> graft.text.Dedup.incrementalBestMatch(docs))
  }

  test("stratified sample is a scan-stage filter: no shuffle, no join") {
    val p = plan(Relational.stratifiedHashSample(
      Tables.events(spark, sfDir), Map("error" -> 10, "purchase" -> 4), 1, 20))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("Join"), s"sampling must not join:\n$p")
  }

  test("skewedDistinct plans the three-layer salted aggregation") {
    val p = plan(Relational.skewedDistinct(Tables.events(spark, sfDir)))
    assert("Exchange hashpartitioning".r.findAllIn(p).size >= 2,
      s"expected (key,salt) then (key) exchanges:\n$p")
  }

  test("decontaminate broadcasts the eval gram set; corpus grams never shuffle") {
    val p = plan(graft.text.Dedup.decontaminate(Tables.documents(spark, sfDir), 10, 5))
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one hash exchange (the final per-doc groupBy; countDistinct
    // adds its partial layers above it) — the corpus postings reach the
    // broadcast join scan-direct, unshuffled
    assert("Exchange hashpartitioning\\(gram".r.findAllIn(p).isEmpty,
      s"corpus postings must not shuffle on gram:\n$p")
  }

  test("ANN top-k family broadcasts the query side and rank-limits per group") {
    Seq(
      graft.similarity.Similarity.sq8TopK(Tables.embeddings(spark, sfDir), 5, 3),
      graft.similarity.Similarity.hardNegatives(Tables.embeddings(spark, sfDir), 5, 3)
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
      assert(p.contains("WindowGroupLimit"), p)
    }
  }

  test("packSequences windows by source partition, never unpartitioned") {
    val p = plan(TextAnalysis.packSequences(Tables.documents(spark, sfDir), 512))
    assert(p.contains("windowspecdefinition(source"),
      s"pack prefix-sum must be partitioned by source:\n$p")
  }

  test("bitmapIndex and firstTouch partial-aggregate before their one exchange") {
    Seq(
      Relational.bitmapIndex(Tables.events(spark, sfDir)),
      Relational.firstTouch(Tables.events(spark, sfDir)),
      Analytics.cdcMerge(Tables.events(spark, sfDir))
    ).foreach { df =>
      val p = plan(df)
      assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2,
        s"expected partial+final aggregate layers:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"expected exactly one hash exchange:\n$p")
    }
  }

  test("snowflake chain broadcasts the small dimensions") {
    val p = plan(Relational.snowflakeRevenue(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.nation(spark, sfDir), Tables.region(spark, sfDir)))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation and region must broadcast:\n$p")
  }

  test("interleave has no corpus-wide window: the only window partitions by source") {
    val p = plan(Relational.interleaveSources(Tables.documents(spark, sfDir)))
    assert(p.contains("windowspecdefinition(source"),
      s"per-source rank must partition by source:\n$p")
    // the src_idx window runs over the distinct-source dimension, not the corpus
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"source index map must broadcast:\n$p")
  }

  test("skyline compresses to the dollar grid before its bounded window") {
    val df = Relational.skyline(Tables.lineitem(spark, sfDir))
    val p = plan(df)
    // grid aggregate (partial+final) sits below the dominance window
    val aggAt = p.lastIndexOf("Aggregate")
    val winAt = p.indexOf("Window")
    assert(winAt >= 0 && aggAt > winAt,
      s"grid aggregate must run before (below) the dominance window:\n$p")
  }

  test("featureHash explodes the constructing expression inline") {
    val p = plan(TextAnalysis.featureHash(Tables.documents(spark, sfDir), 256))
    assert(p.contains("Generate explode(split("),
      s"tokens must explode inline (not from a materialized array column):\n$p")
  }

  test("dailyTopSpenders windows over the aggregate with rank pushdown") {
    val p = plan(Analytics.dailyTopSpenders(Tables.events(spark, sfDir), 3))
    assert(p.contains("WindowGroupLimit"), p)
    // the window input is the (day, user) aggregate, not raw events:
    // aggregate layers appear below the window in the tree
    val winAt = p.indexOf("WindowGroupLimit")
    assert(p.indexOf("HashAggregate", winAt) > winAt,
      s"expected aggregate below the leaderboard window:\n$p")
  }

  test("pageRank's corpus pass is the one edge aggregation") {
    // the driver-side path materializes edges once; its input plan is the
    // lag window + aggregate, nothing iterative
    val edges = Analytics.pageRank(Tables.events(spark, sfDir), 5)
    assert(edges.collect().length > 0) // driver path executes (no iterative lineage)
  }

  // ---- round 4 ----

  test("mathFuncs is a pure per-row projection: no exchange anywhere") {
    val p = plan(Relational.mathFuncs(Tables.lineitem(spark, sfDir)))
    assert(!p.contains("Exchange"), p)
  }

  test("brownForsythe broadcasts the k medians onto the facts, no corpus window") {
    val p = plan(graft.engine.Inference.brownForsythe(Tables.events(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("ebShrinkage ships the 1-row prior by broadcast, never a shuffle join") {
    val p = plan(graft.engine.Inference.ebShrinkage(Tables.lineitem(spark, sfDir)))
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("rollingCorr windows per return flag — never an unpartitioned window") {
    val df = graft.engine.Inference.rollingCorr(Tables.lineitem(spark, sfDir))
    val p = plan(df)
    assert(p.contains("Window"), p)
    // partition spec present: the window operator lists l_returnflag in
    // its partitionBy clause (an empty spec would move all data to one
    // partition, the WindowExec warning)
    val winLine = p.linesIterator.find(_.contains("Window")).get
    assert(winLine.contains("l_returnflag"), winLine)
  }

  test("discQuantiles windows over the value grid per flag, not the corpus") {
    val queries = Seq("q_session_percentiles", "q_qq", "q_boot_median", "q_qte", "q_conformal",
      "q_segmented", "q_hodges_lehmann").map(q => q -> SparkEntry.queries(q)(spark, sfDir))
    val inputs = ("discQuantiles" -> Relational.discQuantiles(Tables.lineitem(spark, sfDir))) +: queries
    val problems = inputs.flatMap { case (name, df) =>
      // the cumulative windows: the running weight is named `cum`
      val windows = nodes(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.windowExpression.exists(_.name == "cum") => w
      }
      // the optimizer drops a constant partition key, so the spec the
      // builder asked for is read off the analyzed plan; an empty one
      // (`Window.orderBy`) gathers the grid with no key at all
      val unpartitioned = df.queryExecution.analyzed.collect {
        case w: LogicalWindow if w.windowExpressions.exists(_.name == "cum") && w.partitionSpec.isEmpty => w
      }
      // each cumulative window reads the grid aggregate's rows
      (if (windows.isEmpty) Seq(s"$name: no cumulative window") else Nil) ++
        windows.filterNot(w => producer(w.child).isInstanceOf[HashAggregateExec])
          .map(w => s"$name: no value-grid aggregate below ${w.simpleString(200)}") ++
        unpartitioned.map(w => s"$name: no partition spec in ${w.simpleString(200)}")
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("fullOuterActivity pre-aggregates both sides below the full-outer join") {
    val p = plan(Joins.fullOuterActivity(
      Tables.orders(spark, sfDir), Tables.events(spark, sfDir)))
    assert(p.contains("FullOuter"), p)
    val joinAt = p.indexOf("FullOuter")
    // both inputs reach the join already aggregated: aggregate operators
    // appear below (after, in text order) the join node
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p.substring(joinAt)).size >= 2,
      s"expected per-key aggregates below the full-outer join:\n$p")
  }

  test("prefixClusters is two aggregate layers and no join or window") {
    val p = plan(graft.text.Dedup.prefixClusters(Tables.documents(spark, sfDir)))
    assert(!p.toLowerCase.contains("join"), p)
    assert(!p.contains("Window"), p)
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size >= 2, p)
  }
}
