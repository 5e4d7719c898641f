package graft.operators

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec

/** Catch-all physical-plan audit over the ENTIRE query catalog — the
  * regression classes the round-1 review flagged (single-task global
  * windows; accidental cartesians) can never come back silently, because
  * every current and future `SparkEntry.queries` entry is checked here.
  * AQE is disabled for the traversal so the plan tree is walkable
  * (AdaptiveSparkPlanExec hides its subtree from collect). */
class CatalogPlanSpec extends SparkSpec {

  // The only sanctioned nested-loop joins by NAME: the brute-force ANN
  // baselines broadcast a tiny query set over the corpus by design. A BNL
  // whose broadcast side is a no-grouping-key aggregate (a computed 1-row
  // scalar, e.g. q20's avg price or q34's corpus doc count) is sanctioned
  // structurally — that shape is really a filter against a constant.
  // q112 scores all cross-label pairs (q50's shape + label predicate);
  // q116 is brute ADC over the full corpus — the IVF-pruned q117 is its
  // scale tier and joins on the list id (equi, not BNL). The recall
  // audits q124/q129 embed the exact brute baseline on purpose — the
  // audit's whole job is to compare an index tier against it. q135's
  // contingency grid is the margin-table cross product — the one query
  // whose SEMANTICS is a cross join, and both sides are
  // attribute-cardinality-sized aggregates, never corpus rows.
  // q142 embeds the exact brute tier AND a per-dim truncated brute tier —
  // an audit in the q124/q129 mold, brute by definition.
  // q148 grades label purity OVER the exact q50 list — an audit in the
  // same mold; its own additions are broadcast equi joins.
  // q155's all-pairs scaffold is the q135 margin-grid mold: a cross of two
  // source-cardinality aggregates (#sources² rows) so pairs with EMPTY
  // vocabulary intersection still emit; the corpus-scale intersection leg
  // itself is a term-keyed equi self-join, never part of the BNL.
  // q203's broadcast build is the Lloyd centroid frame: a groupBy(cid)
  // aggregate whose cardinality is bounded by the constant KmK (= 8), i.e.
  // model state like q52's centroid LocalTableScan — it is grouped (so the
  // scalar-build sanction below can't see the bound), but corpus size
  // cannot leak into it.
  private val bnlAllowed =
    Set("q50_knn_brute", "q54_knn_quantized", "q82_knn_projected",
      "q112_hard_negatives", "q116_pq_adc",
      "q124_ann_recall", "q129_ivf_recall", "q135_chi_square",
      "q142_matryoshka_recall", "q148_knn_purity", "q155_vocab_overlap",
      "q203_kmeans_lloyd")

  // Sanctioned build sides: a no-grouping-key aggregate (1-row scalar) or a
  // LocalTableScan (driver-local literal model state, e.g. q52's learned
  // centroid table) — both are O(model) small by construction, never data.
  // Only pass-through wrappers are unwrapped (exchange/project/filter/
  // codegen shells); a corpus-sized build that merely CONTAINS a scalar
  // somewhere beneath a join must NOT count, so no whole-subtree search.
  @annotation.tailrec
  private def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
    p match {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => unwrap(e.child)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => unwrap(r.child)
      case pr: org.apache.spark.sql.execution.ProjectExec => unwrap(pr.child)
      case f: org.apache.spark.sql.execution.FilterExec => unwrap(f.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => unwrap(c.child)
      case other => other
    }

  private def isScalarBuild(j: BroadcastNestedLoopJoinExec): Boolean =
    unwrap(if (j.buildSide == BuildLeft) j.left else j.right) match {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      // A LIMIT 1 build side (argmax row broadcast back over the corpus,
      // e.g. q178's top merge pair) is a computed scalar as well — the
      // literal-key equi join the query writes constant-folds to a BNL.
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
          if t.limit == 1 => true
      case g: org.apache.spark.sql.execution.GlobalLimitExec
          if g.limit == 1 => true
      case _ => false
    }

  // Built once and shared by the tests: planning q46/q47 executes the
  // eager connected-components loop and q52 its k-means training, so
  // re-invoking every query per test would double a meaningfully slow pass.
  //
  // Built in a FRESH newSession(): the Dedup lineage memos are keyed by
  // (session, dir), and a memo another suite already materialized collapses
  // its consumers' plans to checkpoint-RDD scans — the shapes would then
  // depend on suite EXECUTION ORDER. A virgin session pins the memo state,
  // so every query plans from its full lineage in sorted-name order and the
  // manifest signatures are order-independent (suite-alone == full-suite).
  private lazy val catalogPlans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    CatalogPlanSpec.queryExecutions(sfDir).map { case (name, qe) => name -> qe.executedPlan }

  /** Aggregation-boundedness walk shared by the BNL and global-window
    * rules: true when every path from this node reaches an aggregate (or
    * local literal data) before any corpus-sized source — the frame's row
    * count is then group-cardinality, not corpus, no matter the SF. */
  private def aggBounded(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    p match {
      case _: BaseAggregateExec => true
      case _: GenerateExec => false
      case _: LocalTableScanExec => true
      case _: RangeExec => false
      case _: LeafExecNode => false // file/RDD/memory scans: corpus-sized
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        aggBounded(j.left) && aggBounded(j.right)
      case other => other.children.nonEmpty && other.children.forall(aggBounded)
    }
  }

  test("no query plans a cartesian product; BNL only in the brute-force baselines") {
    catalogPlans.foreach { case (name, plan) =>
      assert(!plan.toString.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      if (!bnlAllowed(name)) {
        // A nested-loop join is sanctioned when its build side is a
        // computed scalar, OR when BOTH sides are aggregation-bounded —
        // a dimension × dimension grid (q206's source-pairs × langs) is
        // group-cardinality work at any corpus size, the same boundedness
        // standard the global-window rule applies.
        val bad = plan.collect {
          case j: BroadcastNestedLoopJoinExec
              if !isScalarBuild(j) && !(aggBounded(j.left) && aggBounded(j.right)) => j
        }
        assert(bad.isEmpty, s"$name plans a non-scalar nested-loop join")
      }
    }
  }

  test("no query uses a partition-less window (the single-task sort killer)") {
    // A no-partition window is safe only when its INPUT is provably
    // bounded by aggregation-group cardinality, not corpus rows — the
    // shape q197's histogram cumulative uses. The walk goes from the
    // window TOWARD its sources: an aggregate bounds everything above it
    // (grouped = group cardinality; ungrouped = 1 row); a JOIN is bounded
    // only if EVERY input branch is (the r7 guard searched the whole
    // subtree with collectFirst, so an aggregate re-joined against
    // corpus-sized input — the exact killer — passed); a Generate
    // (explode) can re-expand a bounded frame and a data-source scan is
    // corpus-sized, so both are unbounded.
    catalogPlans.foreach { case (name, plan) =>
      val global = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !aggBounded(w.child) => w
      }
      assert(global.isEmpty,
        s"$name sorts all rows in one task via a no-partition window")
    }
  }

  /** Canonical shape of a physical plan: per-node-kind counts with join
    * types — exactly the facets whose silent drift is a perf regression
    * (a broadcast join flipping to shuffle, an extra exchange, a sort
    * appearing). Node order and expression details are deliberately NOT
    * part of the signature: those change benignly with column renames. */
  private def shape(plan: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange._
    import org.apache.spark.sql.execution.joins._
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    plan.foreach {
      case _: ShuffleExchangeExec => counts("shuffle") += 1
      case _: BroadcastExchangeExec => counts("bcast") += 1
      case _: ReusedExchangeExec => counts("reuse") += 1
      case j: SortMergeJoinExec => counts(s"smj_${j.joinType.sql.replace(' ', '_')}") += 1
      case j: BroadcastHashJoinExec => counts(s"bhj_${j.joinType.sql.replace(' ', '_')}") += 1
      case j: ShuffledHashJoinExec => counts(s"shj_${j.joinType.sql.replace(' ', '_')}") += 1
      case _: BroadcastNestedLoopJoinExec => counts("bnl") += 1
      case _: SortExec => counts("sort") += 1
      case _: WindowExec => counts("window") += 1
      case _: BaseAggregateExec => counts("agg") += 1
      case _ =>
    }
    counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  test("plan shapes match the committed manifest (silent join/exchange drift fails here)") {
    // 139 queries: a broadcast silently degrading to a shuffle join, or an
    // exchange sneaking into a zero-shuffle pipeline, would previously only
    // surface as a bench delta one round later. The committed manifest pins
    // each query's plan signature; an INTENTIONAL plan change updates the
    // manifest in the same commit (current shapes are always written to
    // /tmp/plan_shapes_current.txt — copy it over the resource on a
    // deliberate change).
    val current = catalogPlans.map { case (name, plan) => s"$name|${shape(plan)}" }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/plan_shapes_current.txt"),
      current.mkString("", "\n", "\n").getBytes("UTF-8"))
    val res = getClass.getResourceAsStream("/plan-shapes.manifest")
    assert(res != null,
      "plan-shapes.manifest missing from test resources — bootstrap it from /tmp/plan_shapes_current.txt")
    val manifest = scala.io.Source.fromInputStream(res, "UTF-8")
      .getLines().filter(_.nonEmpty).toSeq
    // split with limit −1: a zero-shuffle narrow query (q01) has an EMPTY
    // shape string, and that emptiness is itself the pinned property
    val manifestMap = manifest.map { l =>
      val Array(n, s) = l.split("\\|", -1); n -> s
    }.toMap
    val currentMap = current.map { l =>
      val Array(n, s) = l.split("\\|", -1); n -> s
    }.toMap
    val missing = manifestMap.keySet.diff(currentMap.keySet)
    val added = currentMap.keySet.diff(manifestMap.keySet)
    assert(missing.isEmpty && added.isEmpty,
      s"catalog changed: removed=$missing added=$added — update plan-shapes.manifest " +
        "from /tmp/plan_shapes_current.txt in the same commit")
    val drifted = currentMap.collect {
      case (n, s) if manifestMap(n) != s => s"$n:\n  manifest: ${manifestMap(n)}\n  current:  $s"
    }
    assert(drifted.isEmpty,
      s"plan shape drift (intentional? update the manifest):\n${drifted.mkString("\n")}")
  }
}

object CatalogPlanSpec {
  private val built = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, org.apache.spark.sql.execution.QueryExecution)]]

  /** Every catalog query's execution over `sfDir`, built once per test JVM
    * in one fresh session (see above) and shared with [[LambdaSplitLintSpec]]. */
  def queryExecutions(sfDir: String): Seq[(String, org.apache.spark.sql.execution.QueryExecution)] =
    built.getOrElseUpdate(sfDir, {
      val fresh = graft.SparkSpec.session.newSession()
      graft.functions.GraftFunctions.register(fresh)
      fresh.conf.set("spark.sql.adaptive.enabled", "false")
      graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val qe = fn(fresh, sfDir).queryExecution
        qe.executedPlan // planned now, while this session's context is live
        name -> qe
      }
    })
}
