package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Physical-plan audit over the FULL query registry: exchange counts +
  * join-strategy flags per query, so a shuffle regression or an
  * accidental BroadcastNestedLoopJoin/CartesianProduct is visible at a
  * glance. The target list is DERIVED from `SparkEntry.specs` minus the
  * specs that carry an `auditSkip` reason — a newly registered query
  * cannot silently skip the audit, and a skip reason cannot name a
  * query that does not exist. Keep the skips few and justified.
  *
  * BNLJ boundedness is ASSERTED, not just flagged (r11 verdict
  * item 3 — "zero BNLJ" drifted into the r10 record while ~15
  * bounded-broadcast shapes existed, because the flag carried no
  * build-side judgment): every BroadcastNestedLoopJoin's build side
  * must be a PROVABLY bounded subtree — a LocalTableScan, a global
  * (no-grouping-key) aggregate, a small literal Range spine, or a
  * limit — or the query's spec must carry a `bnljAllowed` reason
  * (printed with the audit): a build side bounded BY CONSTRUCTION but
  * not provable from the plan shape, typically a parquet read of a
  * k-row model file. Any other BNLJ build side — one that scans a data
  * table — fails the audit, and an allowance its query no longer needs
  * fails it too.
  *
  * Reading the output: `veiled` flags a plan whose root is a
  * `Scan ExistingRDD` — iterative operators (PageRank, label
  * propagation, reachability, gap-fill spines) localCheckpoint per
  * round, so the audited plan hides their per-iteration exchanges;
  * their exchange counts read LOW, not wrong, and their physical
  * behavior is asserted in the operator specs. Queries with write
  * side effects (q_sink_*, q_stream_*, ingest) EXECUTE those effects
  * during plan construction, exactly as they do under Verify — the
  * audit sweep costs roughly one Verify pass.
  *
  * Honors SPARK_GRAFT_ONLY for subset iteration. Exit 1 on any
  * audit error (a query whose plan cannot even be constructed).
  */
object PlanAudit {

  /** True when `p` provably produces a BOUNDED (O(k), data-independent)
    * row count from the plan shape alone: local/literal leaves, global
    * aggregates (1 row), small literal Range spines, limits — or any
    * composition of bounded children. A file/table scan leaf is NOT
    * bounded, whatever its actual size: boundedness here means "cannot
    * grow with the data", the property that keeps a broadcast build
    * side scale-safe at 100 TB.
    */
  private[graft] def boundedSubtree(p: SparkPlan): Boolean = p match {
    case _: LocalTableScanExec => true
    case r: RangeExec => r.range.numElements <= BigInt(1000000)
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    case _: GlobalLimitExec | _: CollectLimitExec |
        _: TakeOrderedAndProjectExec => true
    case a: AdaptiveSparkPlanExec => boundedSubtree(a.executedPlan)
    case q: QueryStageExec => boundedSubtree(q.plan)
    case r: ReusedExchangeExec => boundedSubtree(r.child)
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(boundedSubtree)
  }

  /** Every BNLJ in `p` (wrappers and subqueries included) whose build
    * side is not [[boundedSubtree]]-provable, rendered as a one-line
    * description for the audit log.
    */
  private[graft] def unboundedBnljs(p: SparkPlan): Seq[String] = {
    def expand(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => n.children
    }
    def walk(n: SparkPlan): Seq[BroadcastNestedLoopJoinExec] = {
      val here = n match {
        case j: BroadcastNestedLoopJoinExec => Seq(j)
        case _ => Nil
      }
      here ++ (expand(n) ++ n.subqueries).flatMap(walk)
    }
    walk(p).flatMap { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      }
      if (boundedSubtree(build)) None
      else Some(s"BNLJ build side not provably bounded: " +
        build.nodeName + " <- " +
        build.collectLeaves().map(_.nodeName).distinct.mkString("/"))
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"

    val specs = SparkEntry.specs.map(q => q.name -> q).toMap
    val targets = Harness.selectedNames("planaudit")
      .filter(specs(_).auditSkip.isEmpty)
    var errs = 0
    val usedAllowances = scala.collection.mutable.Set[String]()
    // the ONE session recipe and recycle cadence (Harness.sweep): a
    // hand-inlined builder here once drifted from the verified mains,
    // so the audited exchange counts reflected plans they never run
    Harness.sweep(targets, cpus) { (spark, n) =>
      try {
        val planTree = SparkEntry.queries(n)(spark, dir)
          .queryExecution.executedPlan
        val plan = planTree.toString
        val ex = "Exchange".r.findAllIn(plan).size
        // BNLJ verdict per query (r11 item 3): bounded build sides
        // print as a flag; an unprovable build side is an ERROR
        // unless the query carries an allowance (printed with its
        // reason, so the allowed set can never drift from the log).
        val unbounded = unboundedBnljs(planTree)
        val bnljFlag =
          if (unbounded.isEmpty)
            if (plan.contains("BroadcastNestedLoopJoin"))
              Seq("BNLJ-bounded") else Nil
          else specs(n).bnljAllowed match {
            case Some(reason) =>
              usedAllowances += n
              println(s"$n ALLOWED-BNLJ: $reason")
              Seq("BNLJ-allowed")
            case None =>
              errs += 1
              unbounded.foreach(u => println(s"$n AUDIT-ERR $u"))
              Seq("BNLJ-UNBOUNDED")
          }
        val flags = bnljFlag ++ Seq(
          "cartesian" -> plan.contains("CartesianProduct"),
          "bcast" -> plan.contains("BroadcastHashJoin"),
          "window" -> plan.contains("Window"),
          "veiled" -> plan.contains("ExistingRDD")).collect { case (k, true) => k }
        println(f"$n%-26s exchanges=$ex%-3d ${flags.mkString(",")}")
      } catch { case e: Throwable =>
        errs += 1
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replace('\n', ' ').take(160)
        println(f"$n%-26s AUDIT-ERR $msg")
      }
    }
    // an allowance that no audited query needed is stale — it would
    // silently green a FUTURE unbounded BNLJ under that name. Only
    // enforced on full sweeps (a SPARK_GRAFT_ONLY subset legitimately
    // skips the allowed queries).
    val unused = targets.filter(specs(_).bnljAllowed.isDefined).toSet
      .diff(usedAllowances)
    if (!Harness.isSubsetRun && unused.nonEmpty) {
      unused.foreach(n => println(
        s"$n AUDIT-ERR stale BNLJ allowance (no unprovable BNLJ in plan)"))
      errs += unused.size
    }
    println(s"[planaudit] audited=${targets.size} " +
      s"excluded=${specs.values.count(_.auditSkip.isDefined)} errors=$errs " +
      s"bnlj_allowed=${usedAllowances.toSeq.sorted.mkString(",")}")
    if (errs > 0) sys.exit(1)
  }
}
