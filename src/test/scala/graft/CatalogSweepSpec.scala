package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Catalog-wide plan anti-pattern sweep (shared by the spec below and the
  * dev `CatalogSweep` main).
  *
  * The per-query specs pin individual plan shapes (bucketed joins stay
  * exchange-free, the interval join never falls back to a nested loop,
  * payloads never shuffle in the dedup family, ...). This sweep pins the
  * CATALOG-level scale invariant in one place, against every batch query
  * the driver verifies:
  *
  *   1. `CartesianProductExec` appears in NO compiled plan. A cartesian
  *      is the one join strategy with no bounded side — O(|L|·|R|) work
  *      that no partitioning saves at 100 TB.
  *   2. Every `BroadcastNestedLoopJoinExec` broadcasts a side whose row
  *      count is bounded by a CONSTANT — either provably from the plan
  *      (a global aggregate, a literal VALUES table, a constant LIMIT or
  *      Range, and compositions thereof: the scalar-attach and
  *      grid-sweep idioms), or by documented DESIGN
  *      ([[PlanSweep.boundedByDesign]]: ANN query/centroid seed sets
  *      keyed by a fixed interval of the embeddings PK, and d45's
  *      broadcast-by-premise benchmark). A BNLJ against anything
  *      corpus-proportional would stream the whole build side through
  *      every task — the catalog must not contain one, and the design
  *      list is asserted EXACT in both directions so it can't rot.
  *
  * Streaming queries (s*) are excluded: their returned DataFrame is a
  * sink read-back whose plan says nothing about the micro-batch plans,
  * which the streaming specs pin individually (state bounds, per-batch
  * broadcasts, exchange-freeness of the stored-index probe).
  *
  * The proof is static — strategy choice happens at compile time, and
  * AQE never introduces a cartesian/BNLJ that was not already possible —
  * so the sweep costs one plan compilation per query (plus whatever
  * eager materialization the query's own builder performs at sf0.001).
  */
object PlanSweep {

  /** Every plan node reachable from `p`: children, AQE stages, cached
    * plans, and plan-embedded subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val extra: Seq[SparkPlan] = p match {
      case ad: AdaptiveSparkPlanExec => Seq(ad.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ extra ++ p.subqueries).flatMap(nodes)
  }

  /** Conservative static proof that `p`'s row count is bounded by a
    * constant independent of the input data size. Unknown node types
    * return false (never true by default): a failure means the sweep
    * found a build side it cannot bound, not that the checker guessed.
    *
    * Sources of constant bounds: a FINAL/COMPLETE global aggregate
    * (1 row; a PARTIAL one is per-task — rejected, the final comes first
    * top-down), a plan-literal table (LocalTableScan/Range — their size
    * is fixed at plan time, it cannot grow with the data), a constant
    * LIMIT. Preserved by: row-preserving unary ops (project/filter/sort/
    * window/exchange/cache), GROUPED aggregation (groups ≤ input rows),
    * Expand (constant multiplier), and joins/unions of bounded inputs
    * (product/sum of constants). NOT preserved by Generate (explode's
    * multiplier is data, not a constant) — which therefore falls to the
    * default false. */
  def constantBounded(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec =>
      finalMode(a.aggregateExpressions) &&
        (a.groupingExpressions.isEmpty || constantBounded(a.child))
    case a: ObjectHashAggregateExec =>
      finalMode(a.aggregateExpressions) &&
        (a.groupingExpressions.isEmpty || constantBounded(a.child))
    case a: SortAggregateExec =>
      finalMode(a.aggregateExpressions) &&
        (a.groupingExpressions.isEmpty || constantBounded(a.child))
    case _: LocalTableScanExec => true
    case _: RangeExec => true
    case _: GlobalLimitExec => true
    case _: TakeOrderedAndProjectExec => true
    case m: InMemoryTableScanExec => constantBounded(m.relation.cachedPlan)
    case r: ReusedExchangeExec => constantBounded(r.child)
    case ad: AdaptiveSparkPlanExec => constantBounded(ad.executedPlan)
    case q: QueryStageExec => constantBounded(q.plan)
    case j: BaseJoinExec => constantBounded(j.left) && constantBounded(j.right)
    case c: CartesianProductExec =>
      constantBounded(c.left) && constantBounded(c.right)
    case u: UnionExec => u.children.forall(constantBounded)
    case e: ExpandExec => constantBounded(e.child)
    // row-preserving (or reducing) unary wrappers pass through; anything
    // that can grow rows data-dependently (Generate, scans, shuffles of
    // unknown relations) falls to the default false
    case w: WholeStageCodegenExec => constantBounded(w.child)
    case i: InputAdapter => constantBounded(i.child)
    case pr: ProjectExec => constantBounded(pr.child)
    case f: FilterExec => constantBounded(f.child)
    case s: SortExec => constantBounded(s.child)
    case w: WindowExec => constantBounded(w.child)
    case w: WindowGroupLimitExec => constantBounded(w.child)
    case e: BroadcastExchangeExec => constantBounded(e.child)
    case e: ShuffleExchangeExec => constantBounded(e.child)
    case r: AQEShuffleReadExec => constantBounded(r.child)
    case c: CoalesceExec => constantBounded(c.child)
    case c: ColumnarToRowExec => constantBounded(c.child)
    case d: DeserializeToObjectExec => constantBounded(d.child)
    case s: SerializeFromObjectExec => constantBounded(s.child)
    case _ => false
  }

  private def finalMode(
      aggs: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]): Boolean =
    aggs.isEmpty || aggs.exists(ae =>
      ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final ||
        ae.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete)

  private def buildSideOf(j: BroadcastNestedLoopJoinExec): SparkPlan =
    j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
    }

  /** Queries whose BNLJ build side is bounded by DESIGN rather than by a
    * plan-visible constant. Two idioms, both documented at the operator:
    *
    *   - "PK interval": the ANN family's query/centroid seed sets select
    *     a fixed integer interval of `embeddings.vec_id` (a unique key),
    *     so the broadcast carries ≤ interval-width rows no matter the
    *     corpus size. The bound lives in the table contract (vec_id
    *     unique), which a static plan checker cannot see.
    *   - "benchmark premise": d45 broadcasts the benchmark embedding set
    *     under d10/d13's documented tiny-benchmark contract (the fixture
    *     synthesizes it as corpus/37, a real deployment's eval suite is
    *     constant-sized).
    *
    * The sweep asserts this map EXACTLY matches the queries whose BNLJ
    * the prover cannot bound: an entry for a query that no longer needs
    * it fails (rot), and a new unproven BNLJ anywhere else fails
    * (regression). */
  val boundedByDesign: Map[String, String] = {
    val pk = "PK interval: query/centroid seed set = fixed vec_id range"
    Map(
      "d05_embed_cosine_topk" -> pk,
      "d07_embed_ivf_topk" -> pk,
      "d12_ann_recall" -> pk,
      "d14_semantic_dedup" -> pk,
      "d16_hyperplane_ann_recall" -> pk,
      "d26_pq_recall" -> pk,
      "d29_diversified_topk" -> pk,
      "d30_matryoshka_recall" -> pk,
      "d32_knn_graph" -> pk,
      "d33_stored_ivf_topk" -> pk,
      "d35_ivf_probe_sweep" -> pk,
      "d59_ann_takedown" -> pk,
      "d60_ivf_append" -> pk,
      "d61_ivf_drift_census" -> pk,
      "d63_ivfpq_index" -> pk,
      "d72_index_tier_migration" -> pk,
      // d73/d74 re-seed centroids from the STORE: `cid < cells_post` is
      // the same fixed-PK-interval contract (cid = vec_id, unique), just
      // read back from the stored generation instead of the fixture
      "d73_cell_growth_gate" ->
        "PK interval: centroid seed set = fixed cid range of the stored index",
      "d74_pq_tier_growth_gate" ->
        "PK interval: centroid seed set = fixed cid range of the stored index",
      "d75_cell_local_refine" ->
        "PK interval: centroid seed set = fixed cid range of the stored index",
      "d76_multiprobe_recall" ->
        "PK interval: centroid seed set = fixed cid range of the stored index",
      "d77_nprobe_autotune" ->
        "PK interval: centroid seed set = fixed cid range of the stored index",
      "d62_drift_retrain" ->
        "PK interval seeds + 8-row centroid-update aggregate (k bounded by the cell domain)",
      "d36_banding_curve" -> "PK interval: one banding config's signature set (config = '8x1')",
      "d40_hard_negatives" -> pk,
      "x01_custom_expression" -> pk,
      "d45_semantic_decontaminate" ->
        "benchmark premise: eval-suite embeddings broadcast (d10/d13 contract, documented at d45)")
  }

  final case class Offence(query: String, node: String, detail: String)

  /** Sweep every non-streaming catalog query at `sfDir`; returns
    * (offences, queries-with-design-bounded-BNLJ). Clean catalog =
    * no offences AND the design set equals [[boundedByDesign]]. */
  def sweep(spark: SparkSession, sfDir: String,
      report: String => Unit = _ => ()): (Seq[Offence], Set[String]) = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.matches("s\\d.*"))
    var design = Set.empty[String]
    val offences = names.flatMap { name =>
      report(name)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val all = nodes(castToImpl(df).queryExecution.executedPlan)
      val out =
        all.collect {
          case c: CartesianProductExec
              if !(constantBounded(c.left) && constantBounded(c.right)) =>
            Offence(name, "CartesianProduct", c.simpleStringWithNodeId())
        } ++
          all.collect {
            case j: BroadcastNestedLoopJoinExec if !constantBounded(buildSideOf(j)) =>
              if (boundedByDesign.contains(name)) { design += name; Nil }
              else Seq(Offence(name, "BroadcastNestedLoopJoin(build side not constant-bounded)",
                buildSideOf(j).treeString.linesIterator.take(8).mkString("\n")))
          }.flatten
      spark.catalog.clearCache()
      out
    }
    (offences, design)
  }
}

class CatalogSweepSpec extends SparkTestBase {
  test("catalog sweep: no cartesian product, and every broadcast " +
      "nested-loop join's build side is constant-bounded (provably or by " +
      "documented design, the design list exact in both directions)") {
    val (offences, design) = PlanSweep.sweep(spark, sf0001)
    assert(offences.isEmpty, offences.map(o =>
      s"\n[${o.query}] ${o.node}\n${o.detail}").mkString("\n"))
    val stale = PlanSweep.boundedByDesign.keySet -- design
    assert(stale.isEmpty,
      s"boundedByDesign entries no longer exercised (rot): $stale")
  }

  test("the constant-bound prover is not vacuously permissive: it " +
      "rejects a data-proportional broadcast side and accepts the " +
      "scalar-attach and constant-limit idioms") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.functions._
    def bnljs(df: org.apache.spark.sql.DataFrame) =
      PlanSweep.nodes(castToImpl(df).queryExecution.executedPlan)
        .collect { case j: BroadcastNestedLoopJoinExec => j }
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // scalar-attach: crossJoin(broadcast(global agg)) — must be accepted
    val good = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
    assert(bnljs(good).nonEmpty, "scalar-attach idiom did not plan as BNLJ")
    assert(bnljs(good).forall(j =>
      PlanSweep.constantBounded(j.left) || PlanSweep.constantBounded(j.right)),
      "prover rejected the global-aggregate scalar attach")
    // constant-limit grid: crossJoin(broadcast(limit k)) — accepted
    val grid = docs.crossJoin(broadcast(
      docs.select(col("doc_id").as("d2")).orderBy("d2").limit(100)))
    assert(bnljs(grid).nonEmpty && bnljs(grid).forall(j =>
      PlanSweep.constantBounded(j.left) || PlanSweep.constantBounded(j.right)),
      "prover rejected a constant-LIMIT broadcast side")
    // data-proportional: crossJoin(broadcast(corpus)) — must be rejected
    val bad = docs.crossJoin(broadcast(docs.select(col("doc_id").as("d2"))))
    assert(bnljs(bad).nonEmpty, "corpus crossJoin did not plan as BNLJ")
    assert(bnljs(bad).exists(j =>
      !(PlanSweep.constantBounded(j.left) && PlanSweep.constantBounded(j.right))),
      "prover accepted a data-proportional broadcast side — it proves nothing")
    // explode over a bounded side is NOT bounded (the multiplier is data)
    val expl = docs.crossJoin(broadcast(
      docs.limit(3).select(explode(split(col("text"), " ")).as("w"))))
    assert(bnljs(expl).exists(j =>
      !(PlanSweep.constantBounded(j.left) && PlanSweep.constantBounded(j.right))),
      "prover accepted an explode over a bounded side")
  }
}

/** Dev loop: `sbt "Test/runMain graft.CatalogSweep [sfDir]"` prints every
  * offence instead of failing on the first. */
object CatalogSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Engine.session(parallelism = 4, appName = "graft-catalog-sweep")
    val (offences, design) = PlanSweep.sweep(spark, sfDir,
      n => System.err.println(s"[sweep] $n"))
    offences.foreach(o => println(s"[OFFENCE] ${o.query} ${o.node}\n${o.detail}"))
    println(s"[sweep] design-bounded exercised: ${design.toSeq.sorted.mkString(",")}")
    println(s"[sweep] stale design entries: ${(PlanSweep.boundedByDesign.keySet -- design).toSeq.sorted.mkString(",")}")
    println(s"[sweep] done: ${offences.size} offence(s)")
    spark.stop()
  }
}
