package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

import graft.functions.{DotProductExpr, L2DistanceSqExpr}
import graft.operators.{CellSnapshot, Ivf, Retrieval}

/** Index-aware planning: rewrites the NAIVE exact top-k and range plan
  * shapes over a table with a current IVF registration
  * ([[IndexCatalog]]) into the IVF probe. The layout's recorded kind
  * (`_graft_kind`) picks the metric it serves: L2 plans (distance
  * ascending, score contains the native [[L2DistanceSqExpr]]) need a
  * `plain` layout, COSINE plans (similarity descending, cross
  * [[DotProductExpr]] normalized by the scan side's own norm) a `cosine`
  * one and MIPS plans (bare cross [[DotProductExpr]]) a `mips` one,
  * whose cells live in the normalized / augmented geometry the query is
  * transformed into before probing. The ORIGINAL score expression is
  * preserved — the rewrite only restricts the candidate set, so
  * nprobe = C is bit-exact. The layout is read through its
  * [[CellSnapshot.Snapshot]]; the rule never writes.
  *
  * Shape 1 — single query (TakeOrderedAndProject form):
  * {{{
  *   GlobalLimit k
  *     LocalLimit k
  *       Sort [dist ASC, ...]
  *         Project [..., round(l2_distance(embedding, query_vec), _) AS dist]
  *           Join Cross/Inner (no condition)
  *             <scan of indexed table>       -- vectors
  *             <query-vector side>           -- 1 row
  * }}}
  *
  * Shape 2 — query batch (per-query top-k window form, the
  * `Knn.topKBatch` plan):
  * {{{
  *   Filter (rn <= k)
  *     Window [row_number() over (partitionBy query_id orderBy dist ASC) AS rn]
  *       [WindowGroupLimit]                  -- inserted by InferWindowGroupLimit
  *         Project [..., l2-distance AS dist]
  *           Join Cross/Inner (no condition)
  * }}}
  *
  * In both shapes only the vector rows whose cell is among their
  * query's `nprobe` nearest centroids survive: the scan is swapped for
  * the layout itself (L2) or joined with the layout's `(vec_id, cell)`
  * projection. The probe set is computed AT PLAN TIME by executing the
  * query side (small by the same contract that makes it the broadcast
  * side): shape 1 lands as a `cell IN (<nprobe literals>)` partition
  * filter, shape 2 as the union of probed cells plus an equi-join
  * against a `(query_id, cell)` local relation of Q·nprobe rows.
  *
  * If the query side cannot be executed or is unexpectedly large, the
  * rewrite falls back to a per-row membership predicate (the CASE rank
  * over centroid distances — correct for any batch, O(C) per row). The
  * query side is executed AT MOST ONCE per rewrite, and if the executed
  * rows contain null ids or vectors the rule declines entirely (the
  * naive plan's null-distance semantics have no probe analog).
  * Everything above the join — projection, window, sort, limit — is
  * preserved untouched, so output attributes and exprIds are unchanged
  * and the rewrite composes with TakeOrderedAndProject.
  *
  * Correctness contract: registering an index declares the
  * approximation budget — results are EXACT for `nprobe >= C`
  * (spec-pinned) and standard IVF recall below that; a registration
  * that is not current for the scanned table is never served. The rule
  * only fires on the engine's native distance kernels (the Column API
  * and SQL functions lower to them), never on arbitrary user arithmetic.
  *
  * Wire up via [[IndexRewriteRule.setup]] on a live session, or
  * `GraftExtensions` (`spark.sql.extensions`).
  */
case class IndexRewriteRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(glk,
        LocalLimit(llk, sort @ Sort(orders, true, Project(projList, join: Join), _))) =>
      tryRewrite(orders, projList, join)
        .map(r => GlobalLimit(glk,
          LocalLimit(llk, sort.copy(child = Project(projList, r)))))
        .getOrElse(gl)
    case f @ Filter(cond, w: Window) =>
      tryRewriteBatch(cond, w).map(r => f.copy(child = r)).getOrElse(f)
    case f @ Filter(cond, join: Join) =>
      tryRewriteRange(cond, join).map(r => f.copy(child = r)).getOrElse(f)
    // PushPredicateThroughJoin moves the cross-side range predicate
    // INTO the join condition before user rules run — the same naive
    // radius query surfaces as a conditioned cross join, no Filter node
    case j @ Join(_, _, Cross | Inner, Some(cond), _) =>
      tryRewriteRange(cond, j).getOrElse(j)
    // LEXICAL tier: the posting-build subplan of any naive tf-idf /
    // BM25 / df plan is served from the registered posting layout
    case agg: Aggregate =>
      tryRewritePostingBuild(agg).getOrElse(agg)
    // ... and token-membership predicates become pruned posting
    // semi-joins (general Filter shapes; the Window/Join forms above
    // are tried first)
    case f @ Filter(cond, child) =>
      tryRewriteTokenContains(cond, child).getOrElse(f)
  }

  // ------------------------------------------------------------------
  // Shape 3: radius / range search
  // ------------------------------------------------------------------

  /** The naive RANGE plan — `Filter(l2_distance(emb, q) <= r, Join)` in
    * any of its lowered spellings (the optimizer pushes the filter
    * through the user's Project, substituting the alias):
    * {{{
    *   Filter round(SQRT(l2sq(embedding, query_vec)), s) <= lit(r)
    *     Join Cross/Inner (no condition)
    *       <scan of indexed table>
    *       <query-vector side>                 -- 1 row
    * }}}
    * rewrites to the triangle-inequality pruned path of
    * [[graft.operators.Ivf.rangeSearch]]: a cell whose centroid
    * satisfies `‖q−c‖ − rad(cell) > r` can hold NO result, so pruning
    * to the eligible cells is LOSSLESS — unlike the top-k shapes this
    * rewrite is exact for ANY nprobe setting, not an approximation
    * budget. Per-cell covering radii come from the layout's `_radii`
    * sidecar, built with the registration. The threshold carries the
    * score's rounding margin (`round(d, s) <= r` admits true distances
    * up to `r + 10^-s`), and a squared-distance spelling compares
    * against `sqrt(r)`. Declines on a non-deterministic query side (the
    * probe would prune against a different vector than the one the
    * runtime join scores).
    */
  private def tryRewriteRange(cond: Expression, join: Join): Option[LogicalPlan] =
    join match {
      // any condition slot: the rewrite goes through join.copy(left = …),
      // which preserves an existing condition (the pushed range conjunct
      // keeps evaluating over the pruned scan — restriction, not removal)
      case Join(left, right, Cross | Inner, _, _) =>
        for {
          (score, metric, bound) <- {
            // distance-CAP spellings (radius search, L2): score <= r
            val cap = splitConjunctivePredicates(cond).iterator.flatMap {
              case LessThanOrEqual(e, Literal(v, _)) => rangeScore(e, numeric(v))
              case LessThan(e, Literal(v, _)) => rangeScore(e, numeric(v))
              case GreaterThanOrEqual(Literal(v, _), e) => rangeScore(e, numeric(v))
              case GreaterThan(Literal(v, _), e) => rangeScore(e, numeric(v))
              case _ => None
            }.nextOption().map { case (l2sq, t) =>
              (l2sq: Expression, L2Metric: Metric, BallBound(t): RangeBound) }
            // similarity-FLOOR spellings (the embedding metrics):
            // cos_sim >= s (cosine) / dot >= t (MIPS)
            def floor = splitConjunctivePredicates(cond).iterator.flatMap {
              case GreaterThanOrEqual(e, Literal(v, _)) => floorScore(e, numeric(v), join)
              case GreaterThan(e, Literal(v, _)) => floorScore(e, numeric(v), join)
              case LessThanOrEqual(Literal(v, _), e) => floorScore(e, numeric(v), join)
              case LessThan(Literal(v, _), e) => floorScore(e, numeric(v), join)
              case _ => None
            }.nextOption()
            cap.orElse(floor)
          }
          if score.references.exists(left.outputSet.contains) &&
            score.references.exists(right.outputSet.contains)
          (qAttr, idAttr, idx) <- indexedSides(score, left, right, metric)
          if !right.exists(_.expressions.exists(!_.deterministic))
          // single query AND batch alike: unlike top-k, range pruning
          // never needs the query ids — removing a cell is safe iff NO
          // executed query's ball intersects it, so the UNION of
          // eligible cells is lossless for any batch size (the
          // per-(query, cell) equi-join of Ivf.rangeSearch is a
          // further optimization, not a correctness requirement: the
          // preserved original predicate evaluates in full)
          queries <- executeQuerySide(Project(Seq(qAttr), right), maxRows = 100000) match {
            case Some(rows) if rows.nonEmpty && rows.forall(!_.isNullAt(0)) =>
              scala.util.Try(rows.map(r =>
                transformQuery(vecOf(r.getArray(0), qAttr.dataType), metric))).toOption
            case _ => None
          }
          cells <- eligibleCellsUnion(queries, bound, idx)
        } yield serve(join, left, idAttr, qAttr, idx, None, SingleCells(cells), metric)
      case _ => None
    }

  private def numeric(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }

  /** Decompose a range-predicate score into its cross [[L2DistanceSqExpr]]
    * and the equivalent TRUE-L2 threshold for radius `r`: plain sqrt
    * compares in distance units, a Round admits `10^-s` more, and the
    * squared spellings take the root. The tiny additive epsilon only
    * ever keeps MORE cells — pruning stays lossless at ulp boundaries.
    */
  private def rangeScore(e: Expression, r: Option[Double])
      : Option[(L2DistanceSqExpr, Double)] = r.flatMap { radius =>
    val eps = 1e-9
    e match {
      case Round(Sqrt(d: L2DistanceSqExpr), Literal(s: Int, _), _) =>
        Some((d, radius + math.pow(10.0, -s) + eps))
      case Sqrt(d: L2DistanceSqExpr) => Some((d, radius + eps))
      case Round(d: L2DistanceSqExpr, Literal(s: Int, _), _) =>
        Some((d, math.sqrt(math.max(radius + math.pow(10.0, -s), 0.0)) + eps))
      case d: L2DistanceSqExpr => Some((d, math.sqrt(math.max(radius, 0.0)) + eps))
      case _ => None
    }
  }

  /** The cell-pruning bound a range shape carries, evaluated in the
    * INDEX geometry (queries already transformed by [[transformQuery]]).
    */
  private sealed trait RangeBound
  /** L2 ball: cell eligible iff `‖q̂−c‖ − rad(cell) <= r`. Serves the
    * L2 radius cap directly AND the cosine floor (on the normalized
    * layout `cos >= s` is the ball of radius `√(2(1−s))` around the
    * unit query — the [[graft.operators.Ivf.rangeSearch]] math on a
    * `cosine` layout).
    */
  private case class BallBound(rL2: Double) extends RangeBound
  /** MIPS dot floor: in the augmented space `d(q̂,x̂)² = ‖q̂‖² + ‖x̂‖² −
    * 2·dot(q,x)`, so `dot >= t` confines members to a ball bounded per
    * cell by its max squared norm — eligible iff `‖q̂−c‖ <= rad` or
    * `(‖q̂−c‖ − rad)² <= ‖q̂‖² + maxnormsq(cell) − 2t` (the
    * [[graft.operators.Ivf.rangeSearch]] bound on a `mips` layout).
    */
  private case class DotBound(minDot: Double) extends RangeBound

  /** Decompose a similarity-FLOOR predicate score into its metric and
    * bound. Unlike the top-k shapes, range pruning claims LOSSLESSNESS,
    * so the match is structurally EXACT — `round(expr, s)` around
    * either form widens the bound by the rounding margin:
    *  - cosine: `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` with the
    *    cross dot over both join sides and one self-dot per side (the
    *    engine's `cosineSimilarity` lowering) → the normalized-space
    *    L2 ball of radius `√(2(1−s) + 2·margin)`;
    *  - MIPS: a bare cross `dot(a,b)` → the augmented-space
    *    [[DotBound]] with the margin folded into the floor.
    * Anything else — arbitrary arithmetic AROUND a dot, a shifted
    * score — declines: a floor on `f(dot)` is not a floor on `dot`.
    */
  private def floorScore(e: Expression, v: Option[Double], join: Join)
      : Option[(Expression, Metric, RangeBound)] = v.flatMap { floor =>
    val eps = 1e-9
    val (inner, margin) = e match {
      case Round(x, Literal(s: Int, _), _) => (x, math.pow(10.0, -s))
      case x => (x, 0.0)
    }
    def cross(d: DotProductExpr): Boolean =
      d.references.exists(join.left.outputSet.contains) &&
        d.references.exists(join.right.outputSet.contains)
    def selfDot(x: Expression, side: LogicalPlan): Boolean = x match {
      case Sqrt(d: DotProductExpr) =>
        d.left.semanticEquals(d.right) && d.references.nonEmpty &&
          d.references.subsetOf(side.outputSet)
      case _ => false
    }
    inner match {
      case d: DotProductExpr if cross(d) =>
        Some((d, MipsMetric, DotBound(floor - margin - eps)))
      case Divide(d: DotProductExpr, Multiply(na, nb, _), _)
          if cross(d) &&
            ((selfDot(na, join.left) && selfDot(nb, join.right)) ||
              (selfDot(na, join.right) && selfDot(nb, join.left))) =>
        Some((d, CosMetric,
          BallBound(math.sqrt(math.max(2.0 * (1.0 - floor) + 2.0 * margin, 0.0)) + eps)))
      case _ => None
    }
  }

  /** The cells whose covering ball can intersect ANY executed query's
    * range — the lossless per-metric bound of [[RangeBound]], unioned
    * across the batch. Radii (and per-cell max squared norms) are the
    * snapshot's `_radii` rows (≤ C rows, memoized on the sidecar's file
    * set; a maintenance write drops the sidecar and invalidates the
    * registration, so a stale bound is never served). A centroid with
    * no radii row has no members — prunable outright; a NaN radius
    * (degenerate members, e.g. a vector with a NaN component) keeps
    * the cell — pruning must only ever drop provably-empty cells. None
    * (decline the rewrite, keep the naive plan) without the sidecar.
    */
  private def eligibleCellsUnion(queries: Seq[Array[Double]], bound: RangeBound,
                                 idx: Served): Option[Seq[Long]] =
    idx.snap.sidecar("_radii").map { sc =>
      val Seq(c, rd, ns) = Seq("cell", "radius", "normsq").map(sc.schema.fieldIndex)
      val radii = sc.rows
        .map(r => r.getAs[Number](c).longValue -> (r.getDouble(rd), r.getDouble(ns))).toMap
      idx.cents.toSeq.collect { case (cid, v)
          if radii.contains(cid) && queries.exists { q =>
            val (rad, maxNormSq) = radii(cid)
            var s = 0.0; var i = 0
            val n = math.min(q.length, v.length)
            while (i < n) { val d = q(i) - v(i); s += d * d; i += 1 }
            val dqc = math.sqrt(s)
            rad.isNaN || (bound match {
              case BallBound(r) => dqc - rad <= r
              case DotBound(t) =>
                var qq = 0.0; var j = 0
                while (j < q.length) { qq += q(j) * q(j); j += 1 }
                val lb = dqc - rad
                lb <= 0.0 || lb * lb <= qq + maxNormSq - 2.0 * t
            })
          } => cid }
    }

  // ------------------------------------------------------------------
  // Shape 1: single-query Sort+Limit
  // ------------------------------------------------------------------

  private def tryRewrite(orders: Seq[SortOrder], projList: Seq[NamedExpression],
                         join: Join): Option[LogicalPlan] = join match {
    case Join(left, right, Cross | Inner, None, _) =>
      for {
        (distAlias, metric) <- findScore(projList, left, right)
        // primary sort key must be that score: distance ascending for
        // L2 (top-k-nearest), similarity DESCENDING for cosine/MIPS
        head <- orders.headOption
        if head.direction == expectedDirection(metric) &&
          head.child.semanticEquals(distAlias.toAttribute)
        (qAttr, idAttr, idx) <- indexedSides(distAlias.child, left, right, metric)
        probe <- computeProbe(right, qAttr, None, idx, metric)
      } yield serve(join, left, idAttr, qAttr, idx, None, probe, metric)
    case _ => None
  }

  // ------------------------------------------------------------------
  // Shape 2: batch per-query top-k window
  // ------------------------------------------------------------------

  /** `Filter(rn <= k)` over `Window(row_number over (partitionBy qid
    * orderBy dist))` over (optionally WindowGroupLimit over)
    * `Project(join)`: rewrite the join underneath, preserving every
    * node above it.
    */
  private def tryRewriteBatch(cond: Expression, w: Window): Option[LogicalPlan] = {
    for {
      rnAttr <- w.windowExpressions.collectFirst {
        case a @ Alias(WindowExpression(_: RowNumber, _), _) => a.toAttribute
      }
      if splitConjunctivePredicates(cond).exists {
        case LessThanOrEqual(e, _: Literal) => e.semanticEquals(rnAttr)
        case LessThan(e, _: Literal) => e.semanticEquals(rnAttr)
        case _ => false
      }
      // primary window order: the l2 distance, ascending
      headOrder <- w.orderSpec.headOption
      (projList, join, rebuildChild) <- childProjectJoin(w.child)
      sides <- join match {
        case Join(l, r, Cross | Inner, None, _) => Some((l, r))
        case _ => None
      }
      (left, right) = sides
      (distAlias, metric) <- findScore(projList, left, right)
      if headOrder.direction == expectedDirection(metric)
      if headOrder.child.semanticEquals(distAlias.toAttribute) ||
        headOrder.child.semanticEquals(distAlias.child)
      // per-query ranking: every partition key must come from the query side
      if w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall(_.references.subsetOf(right.outputSet))
      qidAttr <- w.partitionSpec match {
        case Seq(a: AttributeReference) => Some(a)
        case _ => None
      }
      (qAttr, idAttr, idx) <- indexedSides(distAlias.child, left, right, metric)
      probe <- computeProbe(right, qAttr, Some(qidAttr), idx, metric)
    } yield w.copy(child = rebuildChild(Project(projList,
      serve(join, left, idAttr, qAttr, idx, Some(qidAttr), probe, metric))))
  }

  /** Unwraps `w.child` down to `Project(projList, join)`, tolerating an
    * interposed [[WindowGroupLimit]] (inserted by InferWindowGroupLimit
    * before user rules run). Returns the pieces plus a function that
    * re-wraps a replacement Project subtree into the original chain.
    */
  private def childProjectJoin(child: LogicalPlan)
      : Option[(Seq[NamedExpression], Join, LogicalPlan => LogicalPlan)] = child match {
    case Project(projList, join: Join) =>
      Some((projList, join, identity))
    case wgl @ WindowGroupLimit(_, _, _, _, Project(projList, join: Join)) =>
      Some((projList, join, (p: LogicalPlan) => wgl.copy(child = p)))
    case _ => None
  }

  // ------------------------------------------------------------------
  // Metric classification
  // ------------------------------------------------------------------

  /** The three score shapes the rule recognizes. Classification is
    * structural: L2 plans contain the native [[L2DistanceSqExpr]];
    * similarity plans contain a CROSS [[DotProductExpr]] (one side from
    * each join input) — cosine when the score also normalizes by the
    * SCAN side's own norm (a left-only self-dot, `‖a‖ =
    * sqrt(dot(a, a))`), plain MIPS otherwise.
    */
  private sealed trait Metric
  private case object L2Metric extends Metric
  private case object CosMetric extends Metric
  private case object MipsMetric extends Metric

  private def expectedDirection(m: Metric): SortDirection = m match {
    case L2Metric => Ascending            // smallest distance first
    case CosMetric | MipsMetric => Descending // highest similarity first
  }

  /** The layout kind (`_graft_kind`) that serves a metric. */
  private def layoutKind(m: Metric): String = m match {
    case L2Metric => "plain"
    case CosMetric => "cosine"
    case MipsMetric => "mips"
  }

  /** The score alias in `projList` and its metric, if the expression is
    * one of the recognized shapes over this join's sides.
    */
  private def findScore(projList: Seq[NamedExpression], left: LogicalPlan,
                        right: LogicalPlan): Option[(Alias, Metric)] =
    projList.iterator.collect { case a: Alias => a }.flatMap { a =>
      if (a.child.exists(_.isInstanceOf[L2DistanceSqExpr]))
        Some((a, L2Metric: Metric))
      else {
        val dots = a.child.collect { case e: DotProductExpr => e }
        val cross = dots.exists(d =>
          d.references.exists(left.outputSet.contains) &&
            d.references.exists(right.outputSet.contains))
        val leftSelf = dots.exists(d =>
          d.references.nonEmpty && d.references.subsetOf(left.outputSet))
        if (!cross) None
        else Some((a, if (leftSelf) CosMetric else MipsMetric: Metric))
      }
    }.nextOption()

  // ------------------------------------------------------------------
  // Shared probe machinery
  // ------------------------------------------------------------------

  /** A current registration opened for serving: its layout's snapshot,
    * the snapshot's serving centroids (doubles, ascending by id) and the
    * probe budget.
    */
  private case class Served(snap: CellSnapshot.Snapshot,
                            cents: Array[(Long, Array[Double])], nprobe: Int)

  /** From the distance expression and join sides: the query-vector
    * attribute (right), the vec_id attribute (left), and the layout
    * registered for the left scan — only when it is current for the
    * scanned table and its recorded kind serves the plan's metric
    * (pruning a cosine query with an L2 layout's cells would be a
    * different approximation than the one the registration declared).
    */
  private def indexedSides(distExpr: Expression, left: LogicalPlan, right: LogicalPlan,
                           metric: Metric)
      : Option[(Attribute, Attribute, Served)] =
    for {
      crossExpr <- distExpr.collectFirst {
        case e: L2DistanceSqExpr => e: Expression
        case e: DotProductExpr
            if e.references.exists(left.outputSet.contains) &&
              e.references.exists(right.outputSet.contains) => e: Expression
      }
      attrs = crossExpr.collect { case a: AttributeReference => a }
      embAttr <- attrs.find(left.outputSet.contains)
      qAttr <- attrs.find(right.outputSet.contains)
      idAttr <- left.output.find(_.name == "vec_id")
      table <- leafTable(left)
      reg <- IndexCatalog.lookup(table)
      snap = CellSnapshot.open(spark, reg.dir)
      if snap.kind == layoutKind(metric)
      cents <- scala.util.Try(Ivf.centroidVectors(Ivf.servingCentroids(snap))).toOption
    } yield (qAttr, idAttr, Served(snap, cents, reg.nprobe))

  /** Plan-time probe set — computed ONCE per rewrite and shared by the
    * layout-swap and layout-join forms (executing the query side is a
    * Spark job; running it twice per optimization would double the
    * plan-time cost).
    */
  private sealed trait Probe
  /** Single query: the nprobe nearest centroid ids. */
  private case class SingleCells(cells: Seq[Long]) extends Probe
  /** Batch: each executed query id (all non-null) with its probed cells. */
  private case class BatchCells(rows: Seq[(Any, Seq[Long])]) extends Probe
  /** Query side not executable at plan time → per-row predicate. */
  private case object PerRow extends Probe

  /** Serve a probe ([[computeProbe]]) from the layout. Preferred form:
    * swap the scan for the layout itself with the probe as a PARTITION
    * filter (unprobed cells' files are never opened) — sound only when
    * the layout holds the raw vectors the ORIGINAL score expression
    * reads, i.e. the L2 (`plain`) layout. Otherwise (cosine/MIPS
    * layouts hold transformed vectors; cells were computed in that space
    * and the raw-vector score stays untouched), or when the scan shape
    * cannot be swapped: join the original scan with the layout's
    * `(vec_id, cell)` projection and keep only rows whose cell is in
    * their query's nprobe nearest centroids — as literal membership when
    * the query side is executable at plan time, as a per-row predicate
    * fallback otherwise.
    */
  private def serve(join: Join, left: LogicalPlan, idAttr: Attribute, qAttr: Attribute,
                    idx: Served, qidAttr: Option[Attribute], probe: Probe,
                    metric: Metric): LogicalPlan =
    (if (metric == L2Metric) rewriteToLayout(join, left, idx, qidAttr, probe) else None)
      .getOrElse(rewriteWithLayoutJoin(join, left, idAttr, qAttr, idx, qidAttr, probe))

  /** Execute the query side (once). None — NO rewrite, original plan
    * kept — when any executed query id/vector is null or malformed: a
    * null query vector has defined naive semantics (null distance, sorts
    * per null ordering) that no probe set can reproduce, and silently
    * dropping those queries would be wrong results, not approximation.
    */
  private def computeProbe(right: LogicalPlan, qAttr: Attribute,
                           qidAttr: Option[Attribute], idx: Served,
                           metric: Metric): Option[Probe] = {
    // The per-row predicate fallback exists only for L2 (probeFilter
    // ranks with L2DistanceSqExpr); for cosine/MIPS an inexecutable
    // query side simply declines the rewrite (keep the naive plan).
    def fallback: Option[Probe] = if (metric == L2Metric) Some(PerRow) else None
    // A non-deterministic query side (e.g. a rand()-perturbed vector)
    // must NOT be executed at plan time: the probe set would prune
    // against a different vector than the one the runtime join scores —
    // silently wrong results, not IVF approximation. The per-row
    // predicate evaluates the SAME joined row the distance sees.
    if (right.exists(_.expressions.exists(!_.deterministic))) return fallback
    qidAttr match {
    case None =>
      executeQuerySide(Project(Seq(qAttr), right), maxRows = 2) match {
        case Some(rows) if rows.length == 1 =>
          if (rows.head.isNullAt(0)) None
          else scala.util.Try(SingleCells(probedCells(Seq(
            transformQuery(vecOf(rows.head.getArray(0), qAttr.dataType), metric)), idx).head))
            .toOption
        case _ => fallback
      }
    case Some(qid) =>
      // InternalRow in probeRelation carries qid verbatim — only
      // primitive-backed ids
      if (!Seq[DataType](LongType, IntegerType).contains(qid.dataType)) fallback
      else executeQuerySide(Project(Seq(qid, qAttr), right), maxRows = 100000) match {
        case Some(rows) =>
          if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
          else scala.util.Try(BatchCells(rows.map(_.get(0, qid.dataType)).zip(probedCells(
            rows.map(r => transformQuery(vecOf(r.getArray(1), qAttr.dataType), metric)), idx))))
            .toOption
        case None => fallback
      }
    }
  }

  /** Map an executed query vector into the index's probe geometry:
    * unit-normalize for cosine (the normalized-table centroids' space;
    * a zero vector passes through — every naive score for it is
    * NaN/null anyway, any probe set is as good as any other), zero-
    * augment for MIPS (the augmented centroids are d+1-dimensional and
    * a query's extra coordinate is 0 by the reduction).
    */
  private def transformQuery(q: Array[Double], metric: Metric): Array[Double] =
    metric match {
      case L2Metric => q
      case CosMetric =>
        var s = 0.0; var i = 0
        while (i < q.length) { s += q(i) * q(i); i += 1 }
        val n = math.sqrt(s)
        if (n == 0.0) q else q.map(_ / n)
      case MipsMetric => q :+ 0.0
    }

  /** Replace the scan side with the layout, filtered to the probed
    * cells (a partition filter), with every original output attribute
    * re-aliased onto the layout's columns under its ORIGINAL exprId —
    * everything above the join is untouched. Sound when the scan side
    * is a bare relation, a column-pruning projection, or a FILTER chain
    * over one ("top-k among eligible rows"): collected filter
    * conditions are re-applied above the re-aliasing Project, where the
    * original exprIds resolve unchanged. Other shapes (or a
    * non-deterministic eligibility predicate, which must evaluate
    * against the ORIGINAL scan's rows) → None → layout join.
    */
  private def rewriteToLayout(join: Join, left: LogicalPlan, idx: Served,
                              qidAttr: Option[Attribute],
                              probe: Probe): Option[LogicalPlan] = {
    val residual = prunableScanFilters(left).getOrElse(return None)
    if (residual.exists(!_.deterministic)) return None
    val scan = layoutScan(idx)
    val byName = scan.output.map(a => a.name -> a).toMap
    val cellAttr = byName.getOrElse("cell", return None)
    // re-alias every attribute the join OR the eligibility predicate
    // needs (a pushed filter may reference a column the final
    // projection pruned) onto the copy, under the ORIGINAL exprIds
    val needed = AttributeSet(left.output ++ residual.flatMap(_.references)).toSeq
    val mapped = needed.map(a => byName.get(a.name).map(na =>
      Alias(na, a.name)(exprId = a.exprId): NamedExpression))
    if (mapped.exists(_.isEmpty)) return None
    val aliases = mapped.flatten
    // the eligibility predicate re-applies over the re-aliased copy —
    // original exprIds are reproduced by the Project, so the untouched
    // condition resolves as-is; a final Project restores the original
    // left output shape (dropping filter-only columns again)
    def filteredShape(pruned: LogicalPlan, extra: Seq[NamedExpression]): LogicalPlan = {
      val base = Project(aliases ++ extra, pruned)
      val filtered = residual.reduceOption(And).fold(base: LogicalPlan)(Filter(_, base))
      Project(left.output ++ extra.map(_.toAttribute), filtered)
    }
    (qidAttr, probe) match {
      case (None, SingleCells(cells)) =>
        val pruned = Filter(In(cellAttr, cells.map(typedLit(_, cellAttr.dataType))), scan)
        Some(join.copy(left = filteredShape(pruned, Nil)))
      case (Some(qid), BatchCells(qrows)) =>
        val rel = probeRelation(qrows, qid.dataType, cellAttr.dataType)
        // partition-prune to the UNION of all queries' probed cells,
        // then the per-query (query_id, cell) equi-join restores
        // per-query exactness of the probe set
        val pruned = Filter(In(cellAttr, unionLiterals(qrows, cellAttr.dataType)), scan)
        val crossed = join.copy(left = filteredShape(pruned, Seq(cellAttr)))
        val Seq(pQid, pCell) = rel.output
        Some(Join(crossed, rel, Inner,
          Some(And(EqualTo(qid, pQid), EqualTo(cellAttr, pCell))), JoinHint.NONE))
      // PerRow has no literal cells — nothing to partition-prune with;
      // fall through to the layout join + per-row predicate
      case _ => None
    }
  }

  /** The filter conditions along a prunable scan chain — Some(Nil) for
    * a bare relation or pure column-pruning projection, Some(conds)
    * when Filters interpose, None for any other shape (the layout swap
    * would drop semantics).
    */
  private def prunableScanFilters(plan: LogicalPlan): Option[Seq[Expression]] =
    plan match {
      case _: LogicalRelation => Some(Nil)
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        prunableScanFilters(child)
      case Filter(cond, child) =>
        prunableScanFilters(child).map(splitConjunctivePredicates(cond) ++ _)
      case SubqueryAlias(_, child) => prunableScanFilters(child)
      case _ => None
    }

  /** The layout's live rows as an analyzed plan (a fresh relation per
    * call, so two uses never share attribute ids).
    */
  private def layoutScan(idx: Served): LogicalPlan =
    idx.snap.read("", "cell").queryExecution.analyzed

  /** The layout-join form: the scan joins the layout's `(vec_id, cell)`
    * projection — partition-pruned to the probed cells whenever they
    * are literal — and keeps the rows of their query's probed cells.
    */
  private def rewriteWithLayoutJoin(join: Join, left: LogicalPlan, idAttr: Attribute,
                                    qAttr: Attribute, idx: Served,
                                    qidAttr: Option[Attribute],
                                    probe: Probe): LogicalPlan = {
    val scan = layoutScan(idx)
    val Seq(aVecId, aCell) = Seq("vec_id", "cell").map(n => scan.output.find(_.name == n)
      .getOrElse(sys.error(s"layout ${idx.snap.dir} lacks $n")))
    def crossed(cells: Option[Seq[Literal]]): LogicalPlan = {
      val pruned = cells.fold(scan)(ls => Filter(In(aCell, ls), scan))
      join.copy(left = Join(left, Project(Seq(aVecId, aCell), pruned), Inner,
        Some(EqualTo(idAttr, aVecId)), JoinHint.NONE))
    }
    (qidAttr, probe) match {
      case (None, SingleCells(cells)) => // single query: cell IN (<nprobe literals>)
        crossed(Some(cells.map(typedLit(_, aCell.dataType))))
      case (Some(qid), BatchCells(qrows)) =>
        // batch: equi-join against the (query_id, cell) probe table
        val rel = probeRelation(qrows, qid.dataType, aCell.dataType)
        val Seq(pQid, pCell) = rel.output
        Join(crossed(Some(unionLiterals(qrows, aCell.dataType))), rel, Inner,
          Some(And(EqualTo(qid, pQid), EqualTo(aCell, pCell))), JoinHint.NONE)
      case _ => Filter(probeFilter(qAttr, aCell, idx), crossed(None))
    }
  }

  /** The distinct probed cells of a batch, as `cellType` literals. */
  private def unionLiterals(qrows: Seq[(Any, Seq[Long])], cellType: DataType): Seq[Literal] =
    qrows.flatMap(_._2).distinct.map(typedLit(_, cellType))

  /** Materialize a batch probe set as a `(query_id, cell)` local
    * relation of Q·nprobe rows. `nullable = false` is sound:
    * [[computeProbe]] aborts the whole rewrite when the executed batch
    * contains null ids or vectors.
    */
  private def probeRelation(qrows: Seq[(Any, Seq[Long])],
                            qidType: DataType, cellType: DataType): LocalRelation = {
    val qidOut = AttributeReference("graft_probe_qid", qidType, nullable = false)()
    val cellOut = AttributeReference("graft_probe_cell", cellType, nullable = false)()
    val data = qrows.flatMap { case (qid, cells) =>
      cells.map(c => InternalRow(qid, typedLit(c, cellType).value))
    }
    LocalRelation(Seq(qidOut, cellOut), data)
  }

  /** Run a plan-time subquery (a fresh QueryExecution — the same
    * nested-execution mechanism Spark itself uses for scalar
    * subqueries). None if execution fails or the row cap is exceeded
    * (contract violation → per-row predicate fallback).
    */
  private def executeQuerySide(plan: LogicalPlan, maxRows: Int): Option[Seq[InternalRow]] =
    try {
      val qe = new org.apache.spark.sql.execution.QueryExecution(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Limit(Literal(maxRows + 1), plan))
      val rows = qe.executedPlan.executeCollect().toSeq
      if (rows.length > maxRows) None else Some(rows)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def vecOf(a: ArrayData, dt: DataType): Array[Double] = dt match {
    case ArrayType(DoubleType, _) => a.toDoubleArray()
    case _ => a.toFloatArray().map(_.toDouble)
  }

  /** Each query's nprobe nearest centroid ids, ranked by the fold every
    * IVF probe uses ([[Ivf.rankCells]]: sqrt of the in-order squared
    * difference fold, ascending, NaN last, ties by centroid id). It
    * throws on a query whose dimension is not the layout's; callers run
    * it inside a `Try` and decline.
    */
  private def probedCells(qs: Seq[Array[Double]], idx: Served): Seq[Seq[Long]] =
    Ivf.rankCells(idx.cents, qs.toArray, idx.nprobe, i => s"query $i").map(_.toSeq).toSeq

  private def typedLit(cid: Long, dt: DataType): Literal = dt match {
    case LongType => Literal(cid)
    case IntegerType => Literal(cid.toInt)
    case other => Literal.create(cid, other)
  }

  /** `cell ∈ (query's nprobe nearest centroids)` as a row-level
    * predicate over resolved Catalyst nodes only — the FALLBACK when
    * the query side cannot be executed at plan time: the row's cell is
    * in the probe set iff FEWER THAN nprobe centroids rank strictly
    * ahead of it. Ranking uses SQUARED l2 (same order as l2 — sqrt is
    * monotone) with ties broken by centroid id exactly as
    * [[graft.operators.Ivf.assignWith]] breaks them. ~2C fused
    * primitive-loop distance evals per row, all inside whole-stage
    * codegen — fine at small C, which is why the executed probe-set
    * forms above are preferred.
    */
  private def probeFilter(qAttr: Attribute, aCell: Attribute, idx: Served): Expression = {
    val dists = idx.cents.toSeq.map { case (cid, v) =>
      (typedLit(cid, aCell.dataType),
        L2DistanceSqExpr(qAttr, Literal.create(v.toSeq, ArrayType(DoubleType))): Expression)
    }
    // distance from the query to the centroid of THIS row's cell
    val dCell = CaseKeyWhen(aCell, dists.flatMap { case (cidLit, d) => Seq(cidLit, d) })
    val rank = dists.map { case (cidLit, d) =>
      If(Or(LessThan(d, dCell), And(EqualTo(d, dCell), LessThan(cidLit, aCell))),
        Literal(1), Literal(0)): Expression
    }.reduce(Add(_, _))
    LessThan(rank, Literal(idx.nprobe))
  }

  // ------------------------------------------------------------------
  // Lexical tier: posting-layout rewrites
  // ------------------------------------------------------------------

  /** Materialized-view rewrite of the POSTING BUILD: the subplan
    * {{{
    *   Aggregate [doc_id, term] [doc_id, term, count(1) AS tf]
    *     Generate explode(split(text, ' ')) AS term
    *       <scan of a table with a registered TF-IDF layout>
    * }}}
    * is exactly how [[graft.operators.Retrieval.writeTfidfLayout]]
    * derives `dir/postings` (same tokenizer, same tf), so it is served
    * FROM the layout: the corpus-scale explode disappears, and any
    * term predicate above now pushes into the TERM-CLUSTERED postings
    * files (footer min/max skip). This covers the naive tf-idf / BM25
    * top-k join shapes in one stroke — their expensive node IS the
    * posting build; all idf/norm arithmetic above is preserved under
    * the original exprIds, so scores stay bit-identical and the naive
    * plan's oracle applies verbatim. Declines when a Filter interposes
    * below the explode (a filtered corpus's postings are not the
    * layout's), when the split delimiter is not the engine tokenizer's
    * single space, or when no layout is registered for the scan.
    */
  private def tryRewritePostingBuild(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.size != 2) return None
    val gAttrs = agg.groupingExpressions.collect { case a: Attribute => a }
    if (gAttrs.size != 2) return None
    val gIds = gAttrs.map(_.exprId).toSet
    def isCount1(ae: AggregateExpression): Boolean =
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) => true
        case _ => false
      })
    // the output may be both keys + count(1) (the tf build), or any
    // subset of the keys alone (the column-pruned DISTINCT (doc,term)
    // shape the optimizer leaves under a df/idf aggregate)
    val shapeOk = agg.aggregateExpressions.forall {
      case a: Attribute => gIds.contains(a.exprId)
      case Alias(ae: AggregateExpression, _) => isCount1(ae)
      case _ => false
    }
    if (!shapeOk ||
        agg.aggregateExpressions.count(!_.isInstanceOf[Attribute]) > 1) return None
    postingSource(agg.child).flatMap { case (docId, term, table, residual) =>
      if (gIds != Set(docId.exprId, term.exprId)) None
      // any residual filter must be decidable from the posting keys
      // alone — a predicate touching a corpus column has no layout twin
      else if (residual.exists(f => !f.deterministic ||
          !f.references.subsetOf(AttributeSet(Seq(docId, term))))) None
      else IndexCatalog.lookupTfidf(table).map { idx =>
        val scan = Retrieval.readPostings(spark, idx.dir).queryExecution.analyzed
        val byName = scan.output.map(a => a.name -> a).toMap
        // re-key the stored posting columns under the ORIGINAL exprIds,
        // re-apply any residual (doc_id/term-only) filters, then
        // restore the aggregate's exact output shape
        val base = Project(Seq(
          Alias(byName("doc_id"), docId.name)(exprId = docId.exprId),
          Alias(byName("term"), term.name)(exprId = term.exprId),
          byName("tf")), scan)
        val filtered = residual.reduceOption(And)
          .fold(base: LogicalPlan)(Filter(_, base))
        val out = agg.aggregateExpressions.map {
          case a: Attribute => a: NamedExpression
          case al: Alias =>
            Alias(byName("tf").withNullability(false), al.name)(exprId = al.exprId)
        }
        Project(out, filtered)
      }
    }
  }

  /** The `(doc_id attr, term attr, scanned table, residual filters)` of a
    * posting-build child: attribute-only projections and Filters over
    * an inner `Generate(explode(split(text, ' ')))` over a pure
    * (filterless) chain to one parquet relation carrying `doc_id`.
    * Filters ABOVE the Generate are returned for the caller to
    * validate and re-apply; Filters BELOW it (on corpus columns)
    * decline via [[leafTable]] `pure`.
    */
  private def postingSource(plan: LogicalPlan)
      : Option[(Attribute, Attribute, org.apache.spark.sql.DataFrame, Seq[Expression])] =
    plan match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        postingSource(child)
      case SubqueryAlias(_, child) => postingSource(child)
      case Filter(cond, child) =>
        postingSource(child).map { case (d, t, p, fs) =>
          (d, t, p, splitConjunctivePredicates(cond) ++ fs)
        }
      case Generate(Explode(StringSplit(text: Attribute,
            Literal(sep: UTF8String, org.apache.spark.sql.types.StringType),
            Literal(-1, _))),
          _, false, _, Seq(term: Attribute), child) if sep.toString == " " =>
        for {
          table <- leafTable(child, pure = true)
          docId <- child.output.find(_.name == "doc_id")
        } yield (docId, term, table, Nil)
      case _ => None
    }

  /** Token-membership prune: each
    * `array_contains(split(text, ' '), 'term')` conjunct over a
    * registered documents scan is EXACTLY posting membership (the
    * layout is built with the same single-space tokenizer over the
    * same corpus — the registration contract), so it becomes a
    * left-semi join against that term's pruned posting list: the term
    * literal pushes into the term-clustered files, candidates are
    * df(term)-bounded, and the corpus stops paying a per-row
    * tokenize-and-search. Non-token conjuncts stay as a residual
    * Filter. Bare substring `contains(text, 'term')` is deliberately
    * NOT rewritten: substring matches cross token boundaries
    * ("oo b" inside "foo bar"), so a posting prune would be lossy —
    * the rule declines rather than approximate.
    */
  private def tryRewriteTokenContains(cond: Expression,
                                      child: LogicalPlan): Option[LogicalPlan] = {
    def isTokenPred(e: Expression): Boolean = e match {
      case ArrayContains(StringSplit(t: Attribute,
            Literal(sep: UTF8String, org.apache.spark.sql.types.StringType),
            Literal(-1, _)),
          Literal(_: UTF8String, org.apache.spark.sql.types.StringType))
          if sep.toString == " " && child.outputSet.contains(t) => true
      case _ => false
    }
    val conjuncts = splitConjunctivePredicates(cond)
    val (tokenPreds, rest) = conjuncts.partition(isTokenPred)
    if (tokenPreds.isEmpty) return None
    val table = leafTable(child).getOrElse(return None)
    val idx = IndexCatalog.lookupTfidf(table).getOrElse(return None)
    val docId = child.output.find(_.name == "doc_id").getOrElse(return None)
    val rewritten = tokenPreds.foldLeft(child) { (acc, p) =>
      val termLit = p.asInstanceOf[ArrayContains].right
      // a FRESH read per term: two semi-joins must not share attr ids
      val scan = Retrieval.readPostings(spark, idx.dir).queryExecution.analyzed
      val pDoc = scan.output.find(_.name == "doc_id")
        .getOrElse(sys.error(s"${idx.dir}/postings lacks doc_id"))
      val pTerm = scan.output.find(_.name == "term")
        .getOrElse(sys.error(s"${idx.dir}/postings lacks term"))
      val pruned = Project(Seq(pDoc), Filter(EqualTo(pTerm, termLit), scan))
      Join(acc, pruned, LeftSemi, Some(EqualTo(docId, pDoc)), JoinHint.NONE)
    }
    Some(rest.reduceOption(And).fold(rewritten: LogicalPlan)(Filter(_, rewritten)))
  }

  /** The single file table a Project/Filter chain scans, as a frame
    * over the plan's own relation (its file listing is the one the
    * query runs on — the registry checks currency against it). `pure`
    * DECLINES on Filters and computed projections: a TF-IDF layout holds
    * whole-corpus postings, so a pre-filtered build must not be served
    * from it.
    */
  private def leafTable(plan: LogicalPlan, pure: Boolean = false)
      : Option[org.apache.spark.sql.DataFrame] = plan match {
    case Project(pl, child) if !pure || pl.forall(_.isInstanceOf[AttributeReference]) =>
      leafTable(child, pure)
    case Filter(_, child) if !pure => leafTable(child, pure)
    case SubqueryAlias(_, child) => leafTable(child, pure)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => Some(spark.baseRelationToDataFrame(fs))
      case _ => None
    }
    case _ => None
  }
}

object IndexRewriteRule {

  /** Install the rule on `spark` once: a session that already runs it
    * is left as it is (check, then append).
    */
  def setup(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[IndexRewriteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IndexRewriteRule(spark)
  }
}
