package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Physical-plan regression net for the 100 TB posture, complementing
  * QueriesSpec's no-cartesian sweep: filters must reach the parquet
  * scan (PushedFilters), projections must prune the read schema
  * (ReadSchema), star joins must broadcast the small side, and
  * aggregates must keep their map-side partial step. Asserted on the
  * INITIAL physical plan at sf0.001 — these properties are scale-
  * invariant plan shapes, and a refactor that loses one (a filter
  * hidden behind an opaque UDF, a select * sneaking a fat column into
  * the scan) costs nothing at test scale but dominates at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] =
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec whose collect() does not descend into the
    // (mutable) inner plan; scan pruning/pushdown are fixed before AQE
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }

  private def scanOf(df: DataFrame, table: String): FileSourceScanExec = {
    val hits = scansOf(df).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(table)))
    assert(hits.nonEmpty, s"no parquet scan of $table in plan")
    hits.head
  }

  test("q_pricing_summary: lineitem scan is pruned and filter is pushed") {
    val scan = scanOf(query("q_pricing_summary"), "lineitem")
    val read = scan.requiredSchema.fieldNames.toSet
    // 7 of lineitem's 16 columns; the fat l_comment must never be read
    assert(!read.contains("l_comment"), s"read=$read")
    assert(read.size <= 8, s"read=$read")
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      scan.metadata("PushedFilters"))
  }

  test("q_token_stats: documents scan reads only lang/n_chars/text") {
    val read = scanOf(query("q_token_stats"), "documents")
      .requiredSchema.fieldNames.toSet
    assert(read === Set("lang", "n_chars", "text"), s"read=$read")
  }

  test("q_dedup_exact: documents scan never reads the text column " +
    "(fingerprints only need the hash input)") {
    // dedup groups by xxhash64(text) — text IS needed; what must be
    // pruned is everything this query doesn't project
    val read = scanOf(query("q_dedup_exact"), "documents")
      .requiredSchema.fieldNames.toSet
    assert(read.subsetOf(Set("doc_id", "text", "source", "lang", "n_chars")),
      s"read=$read")
  }

  test("q_cosine_topk: embeddings scan prunes the label column") {
    val scans = scansOf(query("q_cosine_topk"))
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("embeddings")))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(!read.contains("label"), s"read=$read")
    }
  }

  test("q_region_revenue: star joins broadcast the dimension side") {
    val plan = query("q_region_revenue").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // region/nation/customer dims must not shuffle the fact table into
    // a sort-merge join at the initial plan
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q_pricing_summary: aggregate keeps its map-side partial step") {
    val plan = query("q_pricing_summary").queryExecution.executedPlan
    val hashAggs = plan.toString.split("HashAggregate").length - 1
    // partial + final (adaptive plans may add more, never fewer)
    assert(hashAggs >= 2, s"HashAggregate count=$hashAggs")
  }

  test("q_hourly_stats: events scan prunes the fat props column") {
    val read = scanOf(query("q_hourly_stats"), "events")
      .requiredSchema.fieldNames.toSet
    assert(!read.contains("props"), s"read=$read")
  }

  test("q_pipeline_funnel: documents scan reads only the funnel's inputs") {
    val scans = scansOf(query("q_pipeline_funnel")).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("documents")))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "source", "lang", "text")),
        s"read=$read")
    }
  }

  test("q_winnow: documents scan never reads lang/source/n_chars") {
    scansOf(query("q_winnow")).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("documents")))
      .foreach { s =>
        val read = s.requiredSchema.fieldNames.toSet
        assert(read.subsetOf(Set("doc_id", "text")), s"read=$read")
      }
  }

  test("q_late_orders: year filter is pushed into the orders scan") {
    val scan = scanOf(query("q_late_orders"), "orders")
    // year(o_orderdate)=1997 converts to a date range the scan can push
    assert(scan.metadata("PushedFilters").contains("o_orderdate"),
      scan.metadata("PushedFilters"))
  }

  test("q_hourly_anomaly: moment table broadcasts, no sort-merge join") {
    val plan = query("q_hourly_anomaly").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q_mix_temperature: rate table broadcasts onto the scan") {
    val plan = query("q_mix_temperature").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_bm25_topk: query terms broadcast, top-k is TakeOrdered, " +
    "documents scan reads only doc_id/text") {
    val df = query("q_bm25_topk")
    val plan = df.queryExecution.sparkPlan.toString
    // the 8-term query frame must broadcast into the tf probe — a
    // shuffled join here would move the whole posting universe
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // orderBy+limit must plan as per-partition heaps, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    val read = scanOf(df, "documents").requiredSchema.fieldNames.toSet
    assert(read === Set("doc_id", "text"), s"read=$read")
  }

  test("q_nullsafe_join: aggregate-pushdown keeps the join at tier " +
    "cardinality (a broadcast 11-row self-join, no corpus-sized side)") {
    val df = query("q_nullsafe_join")
    val plan = df.queryExecution.sparkPlan.toString
    // both join inputs are per-tier aggregates → broadcastable; the
    // 60×-super-linear enumerated form planned a corpus×corpus SMJ
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    val read = scanOf(df, "customer").requiredSchema.fieldNames.toSet
    assert(read === Set("c_acctbal"), s"read=$read")
  }

  test("q_hll_distinct: 2-column pruned scan feeding a map-side partial " +
    "object aggregate (the constant-state sketch contract)") {
    val df = query("q_hll_distinct")
    val read = scanOf(df, "lineitem").requiredSchema.fieldNames.toSet
    assert(read === Set("l_returnflag", "l_orderkey"), s"read=$read")
    val plan = df.queryExecution.executedPlan.toString
    val objAggs = plan.split("ObjectHashAggregate").length - 1
    // partial + final (× the countDistinct expansion's extra levels —
    // never fewer than one partial/final pair)
    assert(objAggs >= 2, s"ObjectHashAggregate count=$objAggs")
  }

  test("q_sketch_overlap: the corpus token pass hides behind ONE cached " +
    "sketch frame — no join input re-derives it") {
    val df = query("q_sketch_overlap")
    // all four references to the sketches frame must resolve to the
    // memoized InMemoryRelation: a raw documents FileSourceScan in this
    // plan means the corpus pass is re-run per reference
    val corpusScans = scansOf(df).filter(_.relation.location.rootPaths
      .exists(_.toString.contains("documents")))
    assert(corpusScans.isEmpty,
      "corpus scan must sit inside the cached sketch frame")
    // The sketch frame is materialized by Caches.pin (eager
    // localCheckpoint — lineage cut so upstream shuffle files stay
    // ContextCleaner-eligible; see Caches.scala). Its plan leaf is a
    // checkpoint RDD scan, not the pre-r17 InMemoryRelation.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD") ||
      plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"), plan.take(1500))
  }

  test("q_stratified_sample: the key-hash Bernoulli filter runs in the " +
    "scan stage (map-only draw, no pre-filter shuffle)") {
    val df = query("q_stratified_sample")
    // Count shuffles POST-EnsureRequirements — sparkPlan is pre-
    // requirements, so requirement-driven exchanges (the group-by, the
    // sort) never appear there and a bound on it is vacuous (ADVICE
    // r14). AQE hides the final plan inside a leaf AdaptiveSparkPlanExec,
    // so apply EnsureRequirements to the bare plan directly. Budget: the
    // post-filter group-by (hash) + the output orderBy (range) = 2; the
    // map-only draw itself adds none.
    val prepared = org.apache.spark.sql.execution.exchange
      .EnsureRequirements().apply(df.queryExecution.sparkPlan)
    val exchanges = prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(exchanges <= 2,
      s"exchange count=$exchanges\n${prepared.toString.take(2000)}")
    // and the filter sits directly on the scan stage, below the agg
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("Filter (shiftrightunsigned(xxhash64"),
      plan.take(2000))
  }

  test("QualityFilter.featurize: documents scan reads only " +
    "doc_id/n_chars/text — the map-only inference contract (r15: this " +
    "is now the oracle-replayed feature path, so a fat column sneaking " +
    "into the scan costs the 100 TB scoring pass, not just this test)") {
    val df = graft.ml.QualityFilter.featurize(spark, sf("sf0.001"))
    val read = scanOf(df, "documents").requiredSchema.fieldNames.toSet
    assert(read === Set("doc_id", "n_chars", "text"), s"read=$read")
    // ONE projection chain over the scan — featurize must not shuffle
    val prepared = org.apache.spark.sql.execution.exchange
      .EnsureRequirements().apply(df.queryExecution.sparkPlan)
    val exchanges = prepared.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(exchanges === 0, s"featurize must be map-only, got $exchanges")
  }

  test("q_similarity_join_p2: one documents scan and one round-robin " +
    "exchange, over (doc_id, text), serve the dup probe AND the join") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      // the call runs the input build and the dup probe; collect the join
      query("q_similarity_join_p2").collect()
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // AdaptiveSparkPlanHelper descends into AQE's final plans and stages
    val aqe = new AdaptiveSparkPlanHelper {}
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    val docScans = all.flatMap(p => aqe.collect(p) {
      case sc: FileSourceScanExec if sc.relation.location.rootPaths
        .exists(_.toString.contains("documents")) => sc
    })
    assert(docScans.size === 1, s"documents scans=${docScans.size}")
    val roundRobin = all.flatMap(p => aqe.collect(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    })
    assert(roundRobin.size === 1, s"round-robin exchanges=${roundRobin.size}")
    val moved = roundRobin.head.child.output.map(_.name)
    assert(moved === Seq("doc_id", "text"), s"exchange child output=$moved")
  }

  test("multisetPairs pair-mass gate (r15, pinned r16): fires past " +
    "budget naming the banded tiers, BEFORE any pair-join work is " +
    "scheduled (VERDICT r15 #5: a refactor that moves the require " +
    "after an eager action on the blocked join must fail here)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException] {
        graft.queries.Extended.multisetPairs(spark, sf("sf0.001"),
          maxPairEstimate = 0L)
      }
      assert(e.getMessage.contains("q_minhash_neardup"))
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
      // only the analytic probes may run first: the dup probe (one
      // agg, possibly session-memoized to zero) and the block-mass
      // count (one agg head) — under AQE each agg is 3-4 stage-jobs,
      // measured 8 total; the salted pair join plus the multiset
      // expression pipeline would add well past this bound
      assert(jobs.get() <= 10, s"jobs before the gate = ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the shipped budget admits the sf0.001 corpus untouched
    assert(graft.queries.Extended.multisetPairs(spark, sf("sf0.001"))
      .limit(1).count() >= 0)
  }
}
