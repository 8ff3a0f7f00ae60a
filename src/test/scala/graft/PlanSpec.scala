package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the "is this the plan you'd want at
  * 100 TB" checks: shuffle counts, broadcast choices, filter/column
  * pushdown into the parquet scans. A regression here is a performance
  * bug even when results stay correct. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** The query's INITIAL physical plan (inside AdaptiveSparkPlanExec,
    * unexecuted). NB a `df.write...save()` would NOT finalize this df's
    * own adaptive plan — the write runs a separate QueryExecution — so
    * the old "finalize AQE" noop-write here was a full query execution
    * whose results were thrown away while the assertions read the same
    * initial plan this returns directly. Tests that need the RUNTIME
    * adaptive plan (exchange reuse) collect() the df and deep-traverse
    * query stages themselves (see the q40/q41 test). */
  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectAll) ++ p.subqueries.flatMap(collectAll)
  }

  private def countNodes(p: SparkPlan, pred: SparkPlan => Boolean): Int =
    collectAll(p).count(pred)

  /** Every node of a plan, descending into AQE query stages and reused
    * exchanges as well as children and subqueries. */
  private def deep(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(deep)
  }

  test("merge epoch plan has exactly one shuffle (repartition doubles as agg distribution)") {
    // the merge's own executed plans: one exchange, passing the planned
    // task ids through, and the window's sort is the only sort
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    val work = TestSpark.tmpDir("planspec")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 2000L), s"$work/log", nBatches = 2,
      partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    // the data write's executed plan, for each epoch: the first builds the
    // table, the second merges onto it through the touched scan's plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "save") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ingest.BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4,
        saltBuckets = 2, recordMeta = false)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(plans.size == 2, s"expected the two epochs' data writes, saw ${plans.size}")
    plans.asScala.foreach { plan =>
      val nodes = deep(plan)
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
        .distinctBy(System.identityHashCode)
      assert(exchanges.size == 1, s"expected exactly 1 exchange, plan:\n${plan.toString.take(3000)}")
      assert(exchanges.head.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough],
        s"the exchange hashes instead of passing task ids through:\n${exchanges.head}")
      // the window's sort serves the writer too: it starts with the
      // bucket column the write partitions by, so the writer adds none
      assert(nodes.collect { case s: SortExec => s }.distinctBy(System.identityHashCode).size == 1,
        s"expected only the window's sort:\n${plan.toString.take(3000)}")
      // the writer sorts unless its input, the FINAL adaptive plan, is
      // ordered by the bucket column first
      val ordering = (plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).outputOrdering
      assert(ordering.headOption.exists(_.child.references.toSeq.map(_.name) == Seq("b")),
        s"write input is not ordered by bucket: $ordering")
    }
  }

  test("preimage CDC feed is one pass: a single key join, no union, no re-scan per variant") {
    val work = TestSpark.tmpDir("planspec-pre")
    val cfg = GenConfig(nEvents = 2000L)
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 2, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    ingest.BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4,
      saltBuckets = 2, recordMeta = false)
    val v = table.currentSnapshot().get.version
    val feed = lake.Maintenance.changesBetween(table, v - 1, v, includePreimages = true)
    val plan = executed(feed)
    // the four change variants come from ONE explode over ONE join — not
    // a union of per-variant joins (which would re-scan both sides 4×)
    assert(countNodes(plan, _.getClass.getSimpleName.contains("Join")) == 1,
      s"expected exactly 1 join:\n${plan.toString.take(2000)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("Union")) == 0,
      s"expected no union:\n${plan.toString.take(2000)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("Generate")) == 1,
      s"expected exactly 1 explode:\n${plan.toString.take(2000)}")
  }

  test("small-dimension join broadcasts (q2)") {
    val plan = executed(SparkEntry.queries("q2_revenue_by_nation")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastHashJoin")) >= 1,
      s"nation/customer join should broadcast:\n${plan.toString.take(1500)}")
  }

  test("filter and column pruning reach the parquet scan (q8-style projection)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 40.0)
      .select(col("l_orderkey"), col("l_quantity"))
    val scans = collectAll(executed(df)).filter(_.getClass.getSimpleName.contains("FileSourceScan"))
    assert(scans.nonEmpty)
    val s = scans.head.toString
    assert(s.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)"),
      s"filter not pushed: ${s.take(600)}")
    assert(s.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned: ${s.take(600)}")
  }

  test("whole-stage codegen covers the custom expressions (no interpreted fallback)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.fns.hashedWordShingles(col("text"), 3).as("sh"),
        graft.functions.fns.simhash64(graft.functions.fns.wsTokens(col("text"))).as("sim"))
    val plan = executed(df)
    assert(countNodes(plan, _.getClass.getSimpleName.contains("WholeStageCodegen")) >= 1,
      s"custom expressions fell out of codegen:\n${plan.toString.take(1200)}")
  }

  test("ANN query broadcasts the query side, not the corpus") {
    val plan = executed(SparkEntry.queries("q18_ann_bruteforce")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastHashJoin")) +
      countNodes(plan, _.getClass.getSimpleName.contains("BroadcastNestedLoop")) >= 1)
  }

  test("q31 mask classification broadcasts the arms table") {
    val plan = executed(SparkEntry.queries("q31_tag_mask")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastHashJoin")) +
      countNodes(plan, _.getClass.getSimpleName.contains("BroadcastNestedLoop")) >= 1,
      s"arms join should broadcast:\n${plan.toString.take(1500)}")
  }

  test("q34 license early-reject is a broadcast anti-join (no corpus shuffle)") {
    val plan = executed(SparkEntry.queries("q34_license_filter")(spark, sf))
    assert(countNodes(plan, p => p.getClass.getSimpleName.contains("BroadcastHashJoin") &&
      p.toString.contains("LeftAnti")) >= 1,
      s"expected broadcast LEFT ANTI:\n${plan.toString.take(1500)}")
  }

  test("q29 covering join is an equi-join on (cell, cat) — no cartesian anywhere") {
    val plan = executed(SparkEntry.queries("q29_best_match_join")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("CartesianProduct")) == 0,
      s"cartesian product in q29:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastNestedLoop")) == 0,
      s"nested-loop join in q29:\n${plan.toString.take(1500)}")
  }

  test("q17 near-dup candidates come from equi-joins — no cross join anywhere") {
    val plan = executed(SparkEntry.queries("q17_embedding_neardup")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("CartesianProduct")) == 0,
      s"cartesian product in q17:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastNestedLoop")) == 0,
      s"nested-loop join in q17:\n${plan.toString.take(1500)}")
  }

  test("q41 broadcasts the DF vocabulary (corpus shuffles for counts, never for the join)") {
    val plan = executed(SparkEntry.queries("q41_tfidf_topk")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastHashJoin")) >= 1,
      s"vocabulary join should broadcast:\n${plan.toString.take(1500)}")
  }

  test("q44 broadcasts the eval-gram vocabulary (training corpus never shuffles for the join)") {
    val plan = executed(SparkEntry.queries("q44_decontaminate")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("BroadcastHashJoin")) >= 1,
      s"eval-gram join should broadcast:\n${plan.toString.take(1500)}")
  }

  test("q40/q41 explode the corpus ONCE: the DF branch reuses the per-doc exchange") {
    // distinct scan INSTANCES tell reuse (one shared subtree) from
    // recompute (two)
    Seq("q40_doc_freq", "q41_tfidf_topk").foreach { q =>
      // collect(), not the noop-write helper: AQE reuses exchanges at
      // RUNTIME, so only this df's own finalized adaptive plan shows it
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan
      val scans = deep(plan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.nonEmpty, s"$q: no parquet scan found")
      assert(scans.map(System.identityHashCode).distinct.size == 1,
        s"$q re-scans the corpus for the DF vocabulary — the derived-from-perDoc " +
          s"branch stopped canonicalizing to the probe side:\n${plan.toString.take(2000)}")
    }
  }

  test("q42 stratified sample is a shuffle-free codegen'd scan-filter") {
    val plan = executed(SparkEntry.queries("q42_stratified_sample")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("ShuffleExchange")) == 0,
      s"sampling must not shuffle:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("WholeStageCodegen")) >= 1,
      s"mix64 fell out of codegen:\n${plan.toString.take(1500)}")
  }

  test("q50 PPS sample is a shuffle-free codegen'd scan-filter") {
    val plan = executed(SparkEntry.queries("q50_weighted_sample")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("ShuffleExchange")) == 0,
      s"weighted sampling must not shuffle:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("WholeStageCodegen")) >= 1,
      s"mix64/shift fell out of codegen:\n${plan.toString.take(1500)}")
  }

  test("q52 funnel is a single exchange: windows and final agg share the user_id partitioning") {
    val plan = executed(SparkEntry.queries("q52_funnel")(spark, sf))
    // three chained window aggregates + groupBy all ride ONE shuffle on
    // user_id — a second exchange means the groupBy stopped reusing the
    // window partitioning (catastrophic at 10^10 events)
    assert(countNodes(plan, _.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"funnel must shuffle exactly once:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("CartesianProduct")) == 0)
  }

  test("q51 line dedup: ONE corpus scan, exactly two shuffles, no join") {
    // the dense_rank→max window pair computes the per-line distinct-doc
    // count inside the line exchange; a groupBy+join-back formulation
    // plans a SECOND scan+tokenize+explode of the corpus (the shape a
    // review caught in the first version of this query)
    val plan = executed(SparkEntry.queries("q51_line_dedup")(spark, sf))
    assert(countNodes(plan,
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
      s"corpus scanned more than once:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.isInstanceOf[ShuffleExchangeExec]) == 2,
      s"expected exactly line + doc_id exchanges:\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("Join")) == 0,
      s"no join should remain:\n${plan.toString.take(1500)}")
  }

  test("q49 KMV consumers read the checkpointed survivors, not the gram pipeline") {
    // the heavy scan+explode+distinct+window pipeline runs ONCE (inside
    // the localCheckpoint job at construction); the final plan's two
    // branches must both read the checkpointed frame — zero Generate
    // (explode) nodes may remain
    val plan = executed(SparkEntry.queries("q49_kmv_distinct")(spark, sf))
    assert(countNodes(plan, _.getClass.getSimpleName.contains("Generate")) == 0,
      s"the gram explode leaked into the final plan (runs per consumer):\n${plan.toString.take(1500)}")
    assert(countNodes(plan, _.getClass.getSimpleName.contains("CartesianProduct")) == 0)
  }
}
