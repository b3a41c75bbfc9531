package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Scale anti-pattern sweep over EVERY query in [[SparkEntry.queries]]:
  * builds each physical plan (no execution) and fails on
  *
  *  - `CartesianProductExec` — an accidental all-pairs join (intentional
  *    tiny cross joins plan as BroadcastNestedLoopJoin and are fine);
  *  - `WindowExec` with an EMPTY partition spec — the "Moving all data
  *    to a single partition" shape. Constant-key windows
  *    (`partitionBy(lit(1))`) over pre-bounded inputs are the sanctioned
  *    spelling and pass, because their partitionSpec is non-empty.
  *  - `WindowExec` partitioned ONLY by low-cardinality dimension columns
  *    over un-compressed input — corpus/|keys| rows per task, the same
  *    skew bug with a non-empty spec (see [[PlanAudit.offenders]]).
  *
  * Usage: `runMain graft.PlanAudit [sfDir]`. Exit 1 on any hit — run it
  * per round like Verify; it is the automated form of the
  * `.explain("formatted")` inspection the round notes document.
  * The checks themselves are pure plan functions ([[offenders]]) so
  * `PlanAuditSpec` can pin their semantics on synthetic plans.
  */
object PlanAudit {

  /** A windowed pass with no partition key is sanctioned ONLY when its
    * input was already compressed below corpus scale — an aggregate,
    * limit, or TakeOrdered below it bounds the rows reaching the single
    * partition (the rankedTopK / grid-statistics spelling;
    * `partitionBy(lit(1))` constant-folds to an empty spec, so intent
    * can't be read off the spec itself). Pinned views
    * (InMemoryTableScan) and AQE stages count as bounded when the plan
    * behind them is — the grid histograms are aggregates.
    */
  def boundedBelow(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    p match {
      case _ if p.nodeName.contains("Aggregate") ||
        p.nodeName.contains("Limit") ||
        p.nodeName.contains("TakeOrdered") => true
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        boundedBelow(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => boundedBelow(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        boundedBelow(q.plan)
      // A bounding node only counts when it dominates the row count: the
      // build side of a broadcast join is a dimension leg (this codebase
      // cross-joins 1-row aggregate anchors onto corpus-scale facts all
      // over), so an Aggregate sitting THERE says nothing about the
      // streamed side's size — recurse into the streamed side only.
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        boundedBelow(j.buildSide match { case BuildLeft => j.right; case BuildRight => j.left })
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        boundedBelow(j.buildSide match { case BuildLeft => j.right; case BuildRight => j.left })
      // Shuffled joins have no cheap side: output can be as large as
      // either input, so a bounded DIMENSION leg says nothing about the
      // corpus leg — the generic children.exists below would let an
      // Aggregate on one leg of a SortMergeJoin mark a corpus-scale
      // window input "bounded" (audit false negative). Semi/anti joins
      // emit a subset of the left side only, so the left leg decides.
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        shuffledJoinBounded(j.joinType, j.left, j.right)
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        shuffledJoinBounded(j.joinType, j.left, j.right)
      // a Union is corpus-scale if ANY branch is
      case u: org.apache.spark.sql.execution.UnionExec =>
        u.children.forall(boundedBelow)
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => false
      // Literal-cardinality leaves never grow with the corpus: a small
      // Range (the generated 0..255 bucket grids) or a LocalTableScan
      // (literal rows) bounds the window input like an aggregate does.
      case r: org.apache.spark.sql.execution.RangeExec
          if r.numElements <= BigInt(1L << 20) => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case other => other.children.exists(boundedBelow)
    }
  }

  /** Row-count bound for a SHUFFLED join's output: inner/outer joins can
    * emit up to |left|·|matches|, so both legs must be bounded; semi and
    * anti joins emit a subset of the left side, so only it decides.
    */
  private def shuffledJoinBounded(
      joinType: org.apache.spark.sql.catalyst.plans.JoinType,
      left: SparkPlan,
      right: SparkPlan): Boolean = joinType match {
    case org.apache.spark.sql.catalyst.plans.LeftSemi |
        org.apache.spark.sql.catalyst.plans.LeftAnti => boundedBelow(left)
    case _ => boundedBelow(left) && boundedBelow(right)
  }

  /** Dimension columns whose cardinality does not grow with the corpus:
    * a window partitioned only by these holds corpus/|keys| rows per
    * task. Fixture-schema-aware by design — extend alongside the data
    * model.
    */
  val lowCardCols: Set[String] = Set(
    "l_returnflag", "l_linestatus", "event_type", "source", "lang",
    "rel_week", "rel", "arm", "split", "resample", "feature", "par")

  def fewKeyOnly(w: WindowExec): Boolean =
    w.partitionSpec.nonEmpty &&
      w.partitionSpec.forall(_.references.forall(a => lowCardCols(a.name)))

  /** Frames of the shape `[x, unboundedFollowing]` with
    * `x ≠ unboundedPreceding`: Spark's
    * `UnboundedFollowingWindowFunctionFrame` recomputes the aggregate
    * FROM SCRATCH for every row — O(rows²) per partition — because
    * aggregates can't retract rows. The entire-partition frame
    * ([unboundedPreceding, unboundedFollowing], computed once) and the
    * growing frame ([unboundedPreceding, x], incremental) are both
    * O(rows), and every shrinking use has an exact growing-frame rewrite
    * over the REVERSED ordering (see [[graft.engine.Analytics
    * .gapInterpolate]]), so any appearance is a plan bug. Flagged
    * regardless of input boundedness: `boundedBelow` cannot see through
    * value-range-driven explodes (`sequence(min_ts, max_ts)` re-inflates
    * an aggregate's bound), which is exactly how the one live instance
    * survived nine rounds of fixture-green boards.
    */
  def shrinkingFrame(w: WindowExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
    w.windowExpression.exists(ne => ne.collect {
      case WindowExpression(_, spec) => spec.frameSpecification
    }.exists {
      case SpecifiedWindowFrame(_, lower, UnboundedFollowing) =>
        lower != UnboundedPreceding
      case _ => false
    })
  }

  /** `row_number() <= k` plans get Catalyst's WindowGroupLimit pushdown,
    * capping what any partition forwards — exempt.
    */
  def groupLimited(p: SparkPlan): Boolean =
    p.collectFirst {
      case g if g.nodeName.contains("WindowGroupLimit") => true
    }.isDefined

  /** The scale anti-patterns present in a physical plan (empty = clean).
    * Recurses through AQE wrappers and INTO pinned materialized views
    * (Views.pinned persists → InMemoryTableScan): the build plan behind
    * the cache must meet the same bar as inline plans, or a scale-killer
    * could hide inside a pin.
    */
  def offenders(p: SparkPlan): Seq[String] = {
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    root.collect {
      case _: CartesianProductExec => Seq("CartesianProduct")
      // A node can carry several anti-patterns; `collect` stops at the
      // first matching case, so the WindowExec arm reports all three.
      case w: WindowExec
          if shrinkingFrame(w) ||
            (w.partitionSpec.isEmpty && !boundedBelow(w.child)) ||
            (fewKeyOnly(w) && !boundedBelow(w.child) && !groupLimited(w.child)) =>
        (if (shrinkingFrame(w)) Seq("ShrinkingWindowFrame") else Nil) ++
          (if (w.partitionSpec.isEmpty && !boundedBelow(w.child))
             Seq("UnpartitionedWindowOverUnboundedInput") else Nil) ++
          (if (fewKeyOnly(w) && !boundedBelow(w.child) && !groupLimited(w.child))
             Seq("FewKeyWindowOverUnboundedInput") else Nil)
      case a: AdaptiveSparkPlanExec => offenders(a.executedPlan)
      // executed AQE plans park subtrees inside QueryStageExec leaves
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => offenders(q.plan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        offenders(s.relation.cachedPlan)
    }.flatten
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")

    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val hits = offenders(fn(spark, sfDir).queryExecution.executedPlan).distinct
        if (hits.nonEmpty) { bad += 1; println(s"FLAG $name: ${hits.mkString(", ")}") }
      } catch {
        case e: Throwable => bad += 1; println(s"FAIL $name: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    println(s"== plan audit: ${SparkEntry.queries.size - bad} clean / $bad flagged")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
