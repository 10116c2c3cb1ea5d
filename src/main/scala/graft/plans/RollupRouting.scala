package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, TimestampNTZType, TimestampType}

import graft.cube.{CubeCatalog, RegisteredCube, RollupMeta}

/** Serve a grouped aggregate over the flat cube from its pre-aggregated
  * rollup table when every part of the query translates:
  *
  *   - grouping columns ⊆ rollup dimensions (+ the time bucket),
  *   - filters reference only those columns,
  *   - aggregates are `count(1)`, `sum/min/max/avg(metric)` over stored
  *     rollup metrics (no DISTINCT, no FILTER clauses).
  *
  * Merge semantics (reference `PostAggregate.scala:39-60` +
  * `AggregateTransform.scala:331-347,426-442`): `count → sum(cnt)`,
  * `sum → sum(sum_x)` (DECIMAL, exact), `min/max → min(min_x)/max(max_x)`,
  * `avg → sum(sum_x)/sum(cnt)`. Combined with [[StarJoinElimination]] in
  * the same fixed-point batch, a star-join aggregate collapses to the flat
  * cube in one iteration and onto the rollup in the next — at 100 TB the
  * final scan is |dims|×buckets rows instead of the fact table.
  */
object RollupRouting {
  /** One priced route of a cost-routing decision: the node's path and the
    * query's post-pruning (files, rows, bytes) — -1 = unmeasured.
    */
  final case class NodePrice(path: String, files: Long, rows: Long,
                             bytes: Long, verdict: String)
  /** The full pricing table of one routing decision: every candidate, the
    * fact route's own pruned price, and the chosen node (None = route
    * declined, fact wins). `seq` is the JVM-global decision number
    * ([[pricingSeq]]) — consumers that must not inherit a PREVIOUS
    * query's numbers (CostReport) snapshot the counter before planning
    * and accept only records stamped after it.
    */
  final case class Pricing(chosenPath: Option[String], fact: NodePrice,
                           nodes: Seq[NodePrice], seq: Long = 0L)

  // Observability only (EXPLAIN GRAFT COST's lattice section): the most
  // recent decisions in this JVM — a bounded ring, because one plan with
  // several routed aggregates (or several cubes) records one decision
  // EACH, and keeping only the last would mislabel the others
  // 'unservable'. Concurrent sessions may interleave, so consumers must
  // check both the seq stamp and the recorded chosen path against the
  // plan they are reporting on before trusting the numbers.
  private val recent =
    new java.util.concurrent.atomic.AtomicReference[List[Pricing]](Nil)
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Current decision counter; records stamped later have `seq` > this. */
  def pricingSeq: Long = seqCounter.get()

  private[plans] def recordPricing(p0: Pricing): Unit = {
    val p = p0.copy(seq = seqCounter.incrementAndGet())
    recent.updateAndGet(l => (p :: l).take(32))
  }
  def latestPricing: Option[Pricing] = recent.get().headOption

  /** Decisions recorded after counter snapshot `since`, newest first. */
  def pricingsSince(since: Long): Seq[Pricing] =
    recent.get().filter(_.seq > since)

  /** The route choice given measured and unmeasured candidate prices —
    * pure, so the refusal/fallback contract is unit-lockable. Measured
    * candidates pricing above the fact route's own pruned rows are
    * refused; among survivors the cheapest (rows, bytes, registration
    * order) wins. Unmeasured candidates (transient listing/footer
    * failure) are a fallback ONLY when nothing measured at all: when
    * measurements exist and all were refused, the route declines rather
    * than picking a node every actual measurement said should lose.
    */
  private[graft] def choose[A](
      measured: Seq[(A, Int, (Long, Long, Long))],
      unmeasured: Seq[(A, Int)],
      factRows: Option[Long]): Option[A] = {
    val pool = measured.filter { case (_, _, (_, rows, _)) =>
      factRows.forall(rows <= _)
    }
    if (pool.nonEmpty)
      Some(pool.minBy { case (_, i, (_, r, b)) => (r, b, i) }._1)
    else if (measured.isEmpty) unmeasured.sortBy(_._2).headOption.map(_._1)
    else None
  }

  /** The served plan's parquet scan + every conjunct above it. Collected
    * through any Project/Filter chain (`PhysicalOperation`, which also
    * substitutes aliases into the conjuncts), not just a Filter sitting
    * directly on the relation — an interposed Project must not silently
    * degrade a candidate to whole-node pricing, which is exactly the
    * mis-ranking post-pruning pricing exists to kill.
    */
  private[graft] def scanWithFilters(p: LogicalPlan)
      : Option[(org.apache.spark.sql.execution.datasources.HadoopFsRelation,
                Seq[Expression])] = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    p.collectFirst {
      case PhysicalOperation(_, conjuncts, lr: LogicalRelation)
          if lr.relation.isInstanceOf[HadoopFsRelation] =>
        (lr.relation.asInstanceOf[HadoopFsRelation], conjuncts)
    }
  }
}

case class RollupRouting(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (CubeCatalog.isEmpty) return plan
    if (!spark.conf.get("spark.graft.rollupRouting.enabled", "true").toBoolean)
      return plan
    RewriteStats.counted("rollupRouting", plan)(_.transformDown {
      case agg: Aggregate => route(agg).getOrElse(agg)
    })
  }

  /** This rule runs in the `extraOptimizations` batch, AFTER ColumnPruning
    * has reached its fixed point — so the optimizer never prunes the scan a
    * served plan introduces, and the physical rollup scan would read every
    * metric and sketch column of the node (measured: 21-column readSchema
    * for a 5-column query). Emit the pruning Project ourselves: keep only
    * the rollup-scan attributes the served plan references. File-source
    * planning (`FileSourceStrategy`) collapses the Project into the scan's
    * requiredSchema, so parquet reads just those columns.
    */
  private def pruneScan(plan: LogicalPlan): LogicalPlan = {
    val refs = AttributeSet(plan.collect {
      case p if !p.isInstanceOf[LogicalRelation] => p.expressions
    }.flatten.flatMap(_.references))
    plan.transformUp {
      case lr: LogicalRelation if lr.output.exists(a => !refs.contains(a)) =>
        org.apache.spark.sql.catalyst.plans.logical.Project(
          lr.output.filter(refs.contains), lr)
    }
  }

  private def route(agg: Aggregate): Option[LogicalPlan] = {
    // global (ungrouped) aggregates serve too: the count merge is
    // `coalesce(sum(cnt), 0)`, so a filter that empties the rollup still
    // yields count()=0 / sum()=NULL / min()=NULL — exactly Spark's global
    // aggregate semantics over zero rows. `SELECT count(*) FROM fact`
    // becomes a scan of |dims|×buckets pre-aggregated rows.
    // match [Project/Filter]* over the materialized flat-cube scan — bare,
    // or under the Expand a grouping-sets/cube/rollup query plans to (the
    // reference's per-grouping-set path, `AggregateTransform.scala:98-167`:
    // one rolled-up query per Expand projection). The projections may be
    // bare attributes or the exprId-preserving aliases StarJoinElimination
    // emits
    val (projects, filters, lr, expandOpt) = agg.child match {
      case PhysicalOperation(p, f, rel: LogicalRelation) => (p, f, rel, None)
      case ex @ Expand(_, _, PhysicalOperation(p, f, rel: LogicalRelation)) =>
        (p, f, rel, Some(ex))
      case _ => return None
    }
    val cube: RegisteredCube = CubeCatalog.cubeOfRelation(lr).getOrElse(return None)
    if (cube.rollups.isEmpty) return None
    // Lattice walk, COST-PRICED: every node that can serve is a correct
    // route, so the choice among them is pure cost — and the cost is
    // MEASURED and POST-PRUNING, not positional. The reference prices its
    // competing routes on the query's actual slice of each index —
    // interval ratio × segment stats (`DruidQueryCostModel.scala:345-414`,
    // `estimateInput` `:660-689`) — and so does [[pickCheapest]]: each
    // candidate's served plan already carries the translated bucket /
    // partition-dim predicates, so its price is the partition-pruned
    // listing's footer rows (bytes tiebreak, registration order last).
    // Whole-directory pricing would over-price a well-partitioned node by
    // the inverse of its pruned fraction — exactly the case where a user
    // declares a broad partitioned node next to a narrow specialized one.
    // A node pricing above the fact route's own pruned scan is refused —
    // serving from it beats the fact route on nothing and forfeits the
    // fact cube's layout. lazy when the positional walk decides (flag
    // off): stop at the first servable node instead of planning all
    val fromLattice =
      if (!spark.conf.get("spark.graft.costRouting.enabled", "true").toBoolean)
        cube.rollups.view
          .flatMap(ru => serveFrom(agg, projects, filters, cube, ru, expandOpt))
          .headOption
      else pickCheapest(cube, lr, filters,
        cube.rollups.zipWithIndex.flatMap { case (ru, i) =>
          serveFrom(agg, projects, filters, cube, ru, expandOpt)
            .map(p => (ru, i, p))
        })
    fromLattice
      .orElse(
        if (expandOpt.nonEmpty) None
        else cube.rollups.view
          .flatMap(ru => serveTopN(agg, projects, filters, cube, ru))
          .headOption)
      .map(pruneScan)
  }

  /** Choose among servable lattice nodes by the query's measured
    * POST-PRUNING scan cost (`spark.graft.costRouting.enabled=false`
    * short-circuits in [[route]] before candidates are even gathered).
    *
    * Each candidate's served plan carries its own translated filter, whose
    * partition-column conjuncts (time bucket + declared partition dims)
    * prune the node's listing exactly as `FileSourceStrategy` will — the
    * price is the footer rows/bytes of the surviving files
    * ([[org.apache.spark.sql.graft.ScanBytes.prunedCost]]). The fact route
    * is priced the same way from the original scan's filters (which, by
    * this point in the batch, include [[TimeBucketPruning]]'s derived
    * bucket bounds), so the node-vs-fact refusal compares like with like:
    * a node whose pruned slice still exceeds the pruned fact scan is
    * refused — uniformly, for one candidate or many.
    *
    * Unmeasurable candidates (listing/footer hiccup — [[ScanBytes]] never
    * memoizes failures) are a fallback ONLY when nothing measured at all
    * (registration order, the documented positional fallback). When
    * measured candidates exist and every one priced above the fact scan,
    * the route DECLINES — routing to a node of unknown cost when every
    * actual measurement said the fact route wins would let one transient
    * failure override the measurements ([[RollupRouting.choose]] locks
    * this contract).
    *
    * Footer opens per pricing call are bounded by
    * `spark.graft.costRouting.footerCap` (default 64): past the cap a
    * node's bytes come free from the pruned listing and rows from a
    * sampled rows-per-byte ratio ([[ScanBytes.prunedCost]]) — first
    * contact with a 100k-file artifact stays O(cap) on the driver.
    *
    * Every pricing decision is recorded ([[RollupRouting.latestPricing]])
    * so `EXPLAIN GRAFT COST`'s lattice section can show the per-candidate
    * pruned numbers the choice was actually made on.
    */
  private def pickCheapest(
      cube: RegisteredCube,
      factLr: LogicalRelation,
      factFilters: Seq[Expression],
      candidates: Seq[(RollupMeta, Int, LogicalPlan)]): Option[LogicalPlan] = {
    if (candidates.isEmpty) return None
    import org.apache.spark.sql.graft.ScanBytes
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation

    val footerCap =
      spark.conf.get("spark.graft.costRouting.footerCap", "64").toInt
    def priceOf(p: LogicalPlan): Option[(Long, Long, Long)] =
      RollupRouting.scanWithFilters(p).flatMap { case (rel, preds) =>
        ScanBytes.prunedCost(spark, rel, preds, footerCap)
      }

    val factPrice: Option[(Long, Long, Long)] = factLr.relation match {
      case fs: HadoopFsRelation =>
        ScanBytes.prunedCost(spark, fs, factFilters, footerCap)
      case _ => None
    }
    val priced = candidates.map { case c @ (_, _, plan) => (c, priceOf(plan)) }
    val measured = priced.collect {
      case ((ru, i, p), Some(cost)) => ((ru, p), i, cost)
    }
    val unmeasured = priced.collect { case ((ru, i, p), None) => ((ru, p), i) }
    // fact-grain refusal only applies between two MEASURED prices
    val chosen: Option[(RollupMeta, LogicalPlan)] =
      RollupRouting.choose(measured, unmeasured, factPrice.map(_._2))
    val chosenMeasured = chosen.exists { case (ru, _) =>
      measured.exists(_._1._1.path == ru.path)
    }

    RollupRouting.recordPricing(RollupRouting.Pricing(
      chosenPath = chosen.map(_._1.path),
      fact = RollupRouting.NodePrice(cube.cubePath,
        factPrice.map(_._1).getOrElse(-1L), factPrice.map(_._2).getOrElse(-1L),
        factPrice.map(_._3).getOrElse(-1L),
        // "chosen": the route declined, fact wins. "outpriced": a node's
        // MEASURED pruned price beat the fact's. "baseline": a node was
        // taken on the unmeasured fallback — the fact price was never
        // actually beaten, only bypassed.
        if (chosen.isEmpty) "chosen"
        else if (chosenMeasured) "outpriced"
        else "baseline"),
      nodes = priced.map { case ((ru, _, _), cost) =>
        val verdict =
          if (chosen.exists(_._1.path == ru.path)) "chosen"
          else cost match {
            case None => "unmeasured"
            case Some((_, rows, _)) =>
              if (factPrice.exists(_._2 < rows)) "refused" else "candidate"
          }
        RollupRouting.NodePrice(ru.path,
          cost.map(_._1).getOrElse(-1L), cost.map(_._2).getOrElse(-1L),
          cost.map(_._3).getOrElse(-1L), verdict)
      }))
    chosen.map(_._2)
  }

  /** Serve `GROUP BY <sketched dim> ... count(*)` from the stored
    * heavy-hitters sketches — the reference's approximate-TopN rewrite
    * (`TopNQueryTransform`, `QuerySpecTransforms.scala:279-332`; IR
    * `DruidQuerySpec.scala:767-868`), made *lossless*: it fires only under
    * the measured proofs that (a) the dimension's true NDV fits the
    * counter budget (no Misra-Gries decrement can ever have happened, so
    * every stored count is exact and the merged sketch holds EVERY value,
    * not just the top k) and (b) the column has no NULLs (sketch updates
    * skip them, a NULL group would be lost). Unlike Druid there is no
    * opt-in flag and no threshold cap — beyond the proofs the rewrite
    * simply doesn't fire and the aggregate runs on the cube.
    *
    * The emitted plan is scan(rollup cells) → merge per group (global, or
    * per surviving rollup-dim/bucket group — Druid topN's granularity ×
    * dimension form) → explode — any Sort/Limit/Window above the original
    * aggregate re-parents unchanged (output attr ids are preserved), so
    * `ORDER BY cnt DESC LIMIT k` becomes a TakeOrderedAndProject over
    * |NDV| pre-counted rows, and a per-group `row_number() <= k` ranks
    * |groups × NDV| of them.
    */
  private def serveTopN(agg: Aggregate, projects: Seq[NamedExpression],
                        filters: Seq[Expression], cube: RegisteredCube,
                        ru: RollupMeta): Option[LogicalPlan] = {
    if (!spark.conf.get("spark.graft.topNFromSketch.enabled", "true").toBoolean)
      return None
    if (ru.freqSketches.isEmpty) return None

    val colName: Map[ExprId, String] = projects.collect {
      case a: Attribute                => a.exprId -> a.name.toLowerCase
      case al @ Alias(u: Attribute, _) => al.exprId -> u.name.toLowerCase
    }.toMap
    def nameOf(a: Attribute): String = colName.getOrElse(a.exprId, a.name.toLowerCase)

    // grouping keys: bare attributes only — exactly one is the sketched
    // dimension (not a rollup dim), the rest must be rollup dims / the
    // bucket (Druid topN's dimension + granularity form: the per-cell
    // sketches merge per surviving group instead of globally)
    val groupAttrs: Seq[Attribute] = agg.groupingExpressions.map {
      case a: Attribute => a
      case _            => return None
    }
    val servable: Set[String] =
      (ru.dims :+ ru.timeBucketColumn).map(_.toLowerCase).toSet
    val (extras, dimCands) = groupAttrs.partition(a => servable(nameOf(a)))
    val dimAttr = dimCands match {
      case Seq(a) => a
      case _      => return None
    }
    if (!Seq(org.apache.spark.sql.types.StringType, LongType, IntegerType)
        .contains(dimAttr.dataType)) return None
    val src = nameOf(dimAttr)
    // exactness proofs (measured at build, not estimated)
    if (!ru.kmvExactNdv.get(src).exists(_ <= ru.freqK)) return None
    if (!ru.exactNullCount.get(src).contains(0L)) return None

    // outputs: the dimension and exactly one metric — count(*) (plain
    // sketch) or sum(metric) (weighted sketch) — Druid topN's surface of
    // one dimension + one metric aggregator
    def isCountStar(e: Expression): Boolean = e match {
      case ae: AggregateExpression if ae.filter.isEmpty && !ae.isDistinct =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) => l.value != null
          case _                      => false
        }
      case _ => false
    }
    // the engine's exact-sum convention (`CAST(sum(CAST(x AS DECIMAL(28,6)))
    // AS DOUBLE)`) or a bare sum over a double metric — both merge from the
    // weighted sketch's exact micros (serving the bare double sum from
    // deterministic micros is the same liberty the decimal-merged rollup
    // sums already take)
    val DsumType = org.apache.spark.sql.types.DecimalType(28, 6)
    def sumMetricOf(e: Expression): Option[String] = {
      def ofAgg(ae: AggregateExpression): Option[String] =
        if (ae.filter.nonEmpty || ae.isDistinct) None
        else ae.aggregateFunction match {
          case Sum(Cast(a: Attribute, DsumType, _, _), _) => Some(nameOf(a))
          case Sum(a: Attribute, _) if a.dataType == DoubleType => Some(nameOf(a))
          case _ => None
        }
      e match {
        case Cast(ae: AggregateExpression, DoubleType, _, _) => ofAgg(ae)
        case ae: AggregateExpression                         => ofAgg(ae)
        case _                                               => None
      }
    }

    // pick the sketch column from the value outputs' shape; several value
    // aliases are fine as long as they are all the SAME metric (a window's
    // order expression gets pulled into the aggregate as a duplicate)
    val groupIds: Set[ExprId] = (dimAttr +: extras).map(_.exprId).toSet
    val valAliases: Seq[Alias] = {
      val vals = agg.aggregateExpressions.filter {
        case a: Attribute                => !groupIds.contains(a.exprId)
        case al @ Alias(u: Attribute, _) => !groupIds.contains(u.exprId)
        case _                           => true
      }
      if (vals.isEmpty) return None
      vals.map { case al: Alias => al; case _ => return None }
    }
    val valIds: Set[ExprId] = valAliases.map(_.exprId).toSet
    val isWeighted = !isCountStar(valAliases.head.child)
    val sketchCol: String =
      if (!isWeighted) {
        if (!valAliases.forall(al => isCountStar(al.child))) return None
        ru.freqSketches.getOrElse(src, return None)
      } else (for {
        metric <- sumMetricOf(valAliases.head.child)
        if valAliases.forall(al => sumMetricOf(al.child).contains(metric))
        // weight-NULL soundness: an all-NULL-weight group sums to NULL but
        // never enters the sketch — require the metric provably null-free
        if ru.exactNullCount.get(metric).contains(0L)
        hit <- ru.freqWeighted.find(t =>
          t._1.toLowerCase == src && t._2.toLowerCase == metric)
      } yield hit._3).getOrElse(return None)

    val rollupPlan = CubeCatalog.rollupPlan(spark, ru)
    val rAttr: Map[String, Attribute] =
      rollupPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val skAttr = rAttr.getOrElse(sketchCol.toLowerCase, return None)
    def substitute(e: Expression): Expression = e.transformUp {
      case a: Attribute => rAttr(nameOf(a))
    }
    val newFilters: Seq[Expression] = filters.map { c =>
      if (c.deterministic && c.references.forall(a => servable(nameOf(a))))
        substitute(c)
      else return None
    }
    val child: LogicalPlan =
      if (newFilters.isEmpty) rollupPlan
      else Filter(newFilters.reduce(And), rollupPlan)

    val FS = org.apache.spark.sql.graft.FreqSketch
    val itemsAlias = Alias(
      FS.FreqMergeItems(skAttr, ru.freqK).toAggregateExpression(), "g_items")()
    // merge per surviving group (global when no extra dims): the rollup
    // attrs pass through bare so the outer project can re-alias them
    val extraRAttrs: Seq[Attribute] = extras.map(a => rAttr(nameOf(a)))
    val mergeAgg = Aggregate(extraRAttrs,
      extraRAttrs.map(a => a: NamedExpression) :+ itemsAlias, child)
    val eAttr = AttributeReference("g_e", FS.ItemType, nullable = false)()
    val gen = org.apache.spark.sql.catalyst.plans.logical.Generate(
      Explode(itemsAlias.toAttribute),
      unrequiredChildIndex = Seq(extraRAttrs.size),
      outer = false, qualifier = None, generatorOutput = Seq(eAttr),
      child = mergeAgg)
    val itemExpr: Expression = {
      val s = GetStructField(eAttr, 0, Some("item"))
      if (dimAttr.dataType == org.apache.spark.sql.types.StringType) s
      else Cast(s, dimAttr.dataType)
    }
    // weighted sketches store exact micros: DECIMAL(38,6) from the unscaled
    // long then cast — the identical correctly-rounded conversion the
    // decimal-sum path performs, so the doubles match bit for bit
    val cntField = GetStructField(eAttr, 1, Some("cnt"))
    val cntExpr: Expression =
      if (!isWeighted) cntField
      else Cast(
        org.apache.spark.sql.catalyst.expressions.MakeDecimal(cntField, 38, 6),
        DoubleType)

    val extraIds: Set[ExprId] = extras.map(_.exprId).toSet
    def bodyOf(ne: NamedExpression): Option[Attribute] = ne match {
      case a: Attribute           => Some(a)
      case Alias(u: Attribute, _) => Some(u)
      case _                      => None
    }
    val newOut: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      bodyOf(ne) match {
        case Some(u) if u.exprId == dimAttr.exprId =>
          Alias(itemExpr, ne.name)(exprId = ne.exprId)
        case Some(u) if extraIds.contains(u.exprId) =>
          Alias(rAttr(nameOf(u)), ne.name)(exprId = ne.exprId)
        case _ if valIds.contains(ne.exprId) =>
          Alias(cntExpr, ne.name)(exprId = ne.exprId)
        case _ => return None
      }
    }
    Some(org.apache.spark.sql.catalyst.plans.logical.Project(newOut, gen))
  }

  private def serveFrom(agg: Aggregate, projects: Seq[NamedExpression],
                        filters: Seq[Expression], cube: RegisteredCube,
                        ru: RollupMeta,
                        expandOpt: Option[Expand] = None): Option[LogicalPlan] = {

    // attr (by exprId) -> underlying cube column name, through one alias hop
    val colName: Map[ExprId, String] = projects.collect {
      case a: Attribute                => a.exprId -> a.name.toLowerCase
      case al @ Alias(u: Attribute, _) => al.exprId -> u.name.toLowerCase
    }.toMap
    def nameOf(a: Attribute): String = colName.getOrElse(a.exprId, a.name.toLowerCase)

    // Complex project aliases (e.g. the `_groupingexpression#N` columns the
    // analyzer's PullOutGroupingExpressions extracts for non-trivial
    // grouping keys) are inlined back into the referencing expressions, so
    // the translation below sees the real `date_trunc(...)`/`year(...)`
    // trees over scan attributes.
    val aliasExpr: Map[ExprId, Expression] = projects.collect {
      case al @ Alias(e, _) if !e.isInstanceOf[Attribute] => al.exprId -> e
    }.toMap
    def inline(e: Expression): Expression = e.transformUp {
      case a: Attribute if aliasExpr.contains(a.exprId) => aliasExpr(a.exprId)
    }

    val servable: Set[String] = (ru.dims :+ ru.timeBucketColumn).map(_.toLowerCase).toSet

    val rollupPlan = CubeCatalog.rollupPlan(spark, ru)
    val rAttr: Map[String, Attribute] =
      rollupPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val cntAttr = rAttr.getOrElse(ru.countColumn.toLowerCase, return None)
    val bucketAttr = rAttr.getOrElse(ru.timeBucketColumn.toLowerCase, return None)
    // secondary-time nodes bucket a different cube column (month-of-
    // o_orderdate instead of ship date): time translation targets THAT
    // column, and the cube-level proofs (data-interval vacuity, day
    // quantization) — measured for the primary column only — don't apply
    val timeColL = ru.timeColumn.getOrElse(cube.info.timeColumn).toLowerCase
    val primaryTime = timeColL == cube.info.timeColumn.toLowerCase

    // safe: filter references were checked servable, and servable ⊆ rAttr
    def substitute(e: Expression): Expression = e.transformUp {
      case a: Attribute => rAttr(nameOf(a))
    }

    // The ONLY cast an aggregate argument may carry and still merge from
    // stored sums is the exact per-row cast the rollup build itself applied
    // (`sum(CAST(x AS DECIMAL(28,6)))` — the dsum shape): then re-summing
    // the stored partial sums reproduces the original arithmetic. Any other
    // cast (narrowing to BIGINT, to STRING, a different decimal scale)
    // changes per-row values BEFORE aggregation and must refuse the route.
    val DsumType = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsumCastOf(e: Expression): Option[Attribute] = e match {
      case Cast(a: Attribute, DsumType, _, _) => Some(a)
      case _ => None
    }
    def metricOf(e: Expression, table: Map[String, String],
                 allowDsumCast: Boolean): Option[String] = {
      val attr = e match {
        case a: Attribute => Some(a)
        case _ if allowDsumCast => dsumCastOf(e)
        case _ => None
      }
      attr.flatMap(a => table.get(nameOf(a)).map(_.toLowerCase).filter(rAttr.contains))
    }

    // Sum/Average merge semantics assume the stored rollup sums were built
    // from a double metric: a decimal one changes result types, checked
    // statically here. Average also needs the metric NULL-free — sum(cnt)
    // counts all rows, Average ignores NULLs — and parquet attrs are always
    // `nullable`, so that is a proof the node carries instead: the
    // metric's exact NULL count, recorded from the cube's footers at build
    // and at every refresh (RollupBuild, CubeRefresh), must be 0.
    def nullFree(e: Expression): Boolean =
      (e match {
        case a: Attribute => Some(a)
        case _ => dsumCastOf(e)
      }).exists(a => ru.exactNullCount.exists { case (c, n) =>
        n == 0L && c.equalsIgnoreCase(nameOf(a)) })
    def isDouble(e: Expression): Boolean = e match {
      case a: Attribute => a.dataType == DoubleType
      case _ => dsumCastOf(e).exists(_.dataType == DoubleType)
    }

    // `sum(<derived expr>)` — match the aggregated expression structurally
    // against each registered derived-metric definition built over the
    // scan's own attribute instances (Druid's ingestion-time computed
    // metrics, stored here as re-aggregable DECIMAL sums). The outer
    // decimal cast a `dsum` adds is stripped first; literals have been
    // constant-folded by the time this rule runs, so both the SQL and the
    // DataFrame spelling of e.g. `x * (1.0 - y)` arrive as the same tree.
    def derivedOf(e: Expression): Option[String] = {
      val stripped = e match {
        case Cast(x, _: org.apache.spark.sql.types.DecimalType, _, _) => x
        case x => x
      }
      if (stripped.dataType != DoubleType) return None
      val attrOf: Map[String, Attribute] =
        stripped.references.toSeq.map(a => nameOf(a) -> a).toMap
      // a definition referencing an attribute the expression doesn't use
      // skips THAT key only (sentinel + catch, not a non-local return that
      // would abort the remaining candidates)
      final case class MissingAttr() extends RuntimeException
      ru.derivedSums.keys.find { key =>
        try {
          val cand = graft.cube.RollupCube.derivedExpr(key,
            n => attrOf.getOrElse(n, throw MissingAttr()))
          stripped.semanticEquals(cand)
        } catch { case _: MatchError | _: MissingAttr => false }
      }.map(k => ru.derivedSums(k).toLowerCase).filter(rAttr.contains)
    }

    // ---- filtered aggregation (the reference's `FilteredAggregationSpec`,
    // `DruidQuerySpec.scala:362-377` — `sum(if dim = v then m end)` —
    // declared in its IR but never wired to Catalyst; wired here): a
    // DETERMINISTIC predicate over rollup dimensions is CONSTANT within a
    // cell, so a conditionally-summed metric re-aggregates as the same
    // conditional over the stored per-cell sums. Covers both spellings —
    // `sum(CASE WHEN p THEN m ELSE 0|NULL END)` and `agg(..) FILTER (WHERE p)`.
    def servablePred(p: Expression): Option[Expression] =
      if (p.deterministic && p.references.forall(a => servable(nameOf(a))))
        Some(substitute(p))
      else None
    def stripCasts(e: Expression): Expression = e match {
      case Cast(u, _, _, _) => stripCasts(u)
      case u                => u
    }
    /** `sum(CASE WHEN p THEN m ELSE else END)` → merged CaseWhen child over
      * the stored sum column. ELSE must be zero (contributes 0 per row ⇒ 0
      * per cell) or NULL/absent (row skipped by Sum ⇒ cell skipped).
      */
    def filteredSumChild(e: Expression): Option[Expression] = {
      // the SQL dsum spelling puts the decimal cast OUTSIDE the CASE; it
      // distributes over the branches (cast of each branch), restoring the
      // `Cast(m, DECIMAL(28,6))` shape metricOf/derivedOf expect
      val (pred, thenRaw, elseRaw) = e match {
        case Cast(CaseWhen(Seq((p, t)), el), DsumType, _, _) =>
          (p, Cast(t, DsumType), el)
        case CaseWhen(Seq((p, t)), el) => (p, t, el)
        case If(p, t, el)              => (p, t, Some(el))
        case _                         => return None
      }
      val zeroElse: Boolean = elseRaw match {
        case None => false
        case Some(x) => stripCasts(x) match {
          case Literal(null, _) => false
          case Literal(v, _) =>
            try { if (BigDecimal(v.toString).signum == 0) true else return None }
            catch { case _: NumberFormatException => return None }
          case _ => return None
        }
      }
      val storedSum =
        (if (isDouble(thenRaw)) metricOf(thenRaw, ru.sums, allowDsumCast = true)
         else None).orElse(derivedOf(thenRaw))
      for {
        p <- servablePred(pred)
        c <- storedSum
      } yield {
        val stored = rAttr(c)
        val branches = Seq((p, stored: Expression))
        if (zeroElse) CaseWhen(branches, Some(Cast(Literal(0L), stored.dataType)))
        else CaseWhen(branches, None)
      }
    }
    /** `af FILTER (WHERE p)` with a dim predicate: rows excluded by the
      * filter are exactly the rows of cells where p is false, so the merge
      * conditionally includes whole cells (NULL else — Sum/Min/Max skip).
      */
    def mergedFiltered(af: AggregateFunction, predR: Expression): Option[Expression] = {
      def onlyIf(e: Expression): Expression = CaseWhen(Seq((predR, e)), None)
      af match {
        case Count(Seq(l: Literal)) if l.value != null =>
          Some(Coalesce(Seq(
            Sum(CaseWhen(Seq((predR, cntAttr: Expression)),
              Some(Literal(0L)))).toAggregateExpression(),
            Literal(0L))))
        case s @ Sum(child, _) if isDouble(child) =>
          metricOf(child, ru.sums, allowDsumCast = true).map(c =>
            Cast(Sum(onlyIf(rAttr(c))).toAggregateExpression(), s.dataType))
        case s @ Sum(child, _) =>
          derivedOf(child).map(c =>
            Cast(Sum(onlyIf(rAttr(c))).toAggregateExpression(), s.dataType))
        case Min(child: Attribute) if servable(nameOf(child)) =>
          Some(Min(onlyIf(rAttr(nameOf(child)))).toAggregateExpression())
        case Max(child: Attribute) if servable(nameOf(child)) =>
          Some(Max(onlyIf(rAttr(nameOf(child)))).toAggregateExpression())
        case Min(child) => metricOf(child, ru.mins, allowDsumCast = false).map(c =>
          Min(onlyIf(rAttr(c))).toAggregateExpression())
        case Max(child) => metricOf(child, ru.maxs, allowDsumCast = false).map(c =>
          Max(onlyIf(rAttr(c))).toAggregateExpression())
        case _ => None
      }
    }

    def mergedAgg(af: AggregateFunction): Option[Expression] = af match {
      // count(NULL) is 0 per group, not the group row count — exclude it.
      // coalesce: a GLOBAL aggregate over zero surviving rollup rows must
      // yield 0 like count() does, not sum's NULL (per-group rows are
      // never empty, so the coalesce is inert for grouped serves)
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(Coalesce(Seq(Sum(cntAttr).toAggregateExpression(), Literal(0L))))
      case s @ Sum(child, _) if isDouble(child) =>
        metricOf(child, ru.sums, allowDsumCast = true).map(c =>
          Cast(Sum(rAttr(c)).toAggregateExpression(), s.dataType))
      case s @ Sum(child, _) =>
        derivedOf(child).map(c =>
          Cast(Sum(rAttr(c)).toAggregateExpression(), s.dataType))
          .orElse(filteredSumChild(child).map(merged =>
            Cast(Sum(merged).toAggregateExpression(), s.dataType)))
      // min/max over a DIMENSION need no stored metric: every distinct
      // (dims × bucket) combination survives rollup with its dim values,
      // so the extreme over rollup rows IS the extreme over fact rows
      case Min(child: Attribute) if servable(nameOf(child)) =>
        Some(Min(rAttr(nameOf(child))).toAggregateExpression())
      case Max(child: Attribute) if servable(nameOf(child)) =>
        Some(Max(rAttr(nameOf(child))).toAggregateExpression())
      case Min(child) => metricOf(child, ru.mins, allowDsumCast = false).map(c =>
        Min(rAttr(c)).toAggregateExpression())
      case Max(child) => metricOf(child, ru.maxs, allowDsumCast = false).map(c =>
        Max(rAttr(c)).toAggregateExpression())
      case Average(child, _) if isDouble(child) && nullFree(child) =>
        metricOf(child, ru.sums, allowDsumCast = true).map(c =>
          Divide(
            Cast(Sum(rAttr(c)).toAggregateExpression(), DoubleType),
            Cast(Sum(cntAttr).toAggregateExpression(), DoubleType)))
      // `percentile(metric, p)` from the stored quantile sketches — only
      // under the measured saturation proof: totalRows <= sketch capacity
      // means EVERY merged subset of cells still holds its full value
      // multiset, so the served percentile is exact (the sketch's NULL
      // refusal can never fire). Beyond the proof the route declines and
      // the percentile runs on the fact rows.
      // `approx_count_distinct(dim)` from the stored HLL sketch union — the
      // reference's ApproximateCountAggregate push (`pushHLLTODruid`,
      // `AggregateTransform.scala:454-479`: HLL++ swapped for the index's
      // hyperUnique column). Approximate-for-approximate, so unlike the
      // exact KMV serve no measured proof is needed — but the estimator
      // changes (HLL++ → DataSketches HLL), so it IS flag-gated like the
      // reference's, and the flag documents the drift.
      case HyperLogLogPlusPlus(child: Attribute, _, _, _)
          if spark.conf.get("spark.graft.approxDistinctFromSketch.enabled", "true").toBoolean =>
        ru.hllSketches.get(nameOf(child))
          .flatMap(c => rAttr.get(c.toLowerCase))
          .map { sk =>
            val union = new org.apache.spark.sql.catalyst.expressions.aggregate
              .HllUnionAgg(sk).toAggregateExpression()
            org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(union)
          }
      case per: Percentile
          if !per.reverse && per.dataType == DoubleType &&
            ru.totalRows.exists(_ <= ru.quantileK) &&
            spark.conf.get("spark.graft.percentileFromSketch.enabled", "true").toBoolean =>
        val freqIsOne = per.frequencyExpression match {
          case Literal(v, _) => v == 1L
          case _             => false
        }
        val pLit = per.percentageExpression match {
          case l @ Literal(_, DoubleType) => Some(l)
          case _                          => None
        }
        if (!freqIsOne) None
        else for {
          p <- pLit
          c <- metricOf(per.child, ru.quantileSketches, allowDsumCast = false)
        } yield org.apache.spark.sql.graft.QuantileSketch
          .QskPercentile(rAttr(c), p, ru.quantileK).toAggregateExpression()
      case _ => None
    }

    /** `count(DISTINCT dim)` from the stored KMV sketch union — only when
      * the EXACT distinct count measured at rollup build proves the sketch
      * cannot have saturated (true NDV <= k ⇒ every sketch and every union
      * holds all its hashes ⇒ the "estimate" is the exact distinct count).
      * The reference serves this approximately behind an opt-in
      * (`pushHLLTODruid`, `AggregateTransform.scala:454-479`); the
      * measured-exactness gate makes ours a lossless rewrite, so it needs
      * no flag. Beyond the gate the rewrite simply doesn't fire and the
      * distinct count runs exactly on the cube.
      */
    def mergedDistinct(af: AggregateFunction): Option[Expression] = af match {
      // count(DISTINCT <rollup dim>) needs no sketch at all: the rollup
      // preserves every distinct dim combination, so a distinct count over
      // rollup rows equals the fact-grain one exactly (no proof needed)
      case Count(Seq(a: Attribute)) if servable(nameOf(a)) =>
        Some(AggregateExpression(Count(Seq(rAttr(nameOf(a)))),
          org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
          isDistinct = true))
      case Count(Seq(a: Attribute))
          if spark.conf.get("spark.graft.distinctFromSketch.enabled", "true").toBoolean =>
        for {
          sketchCol <- ru.kmvSketches.get(nameOf(a))
          sk <- rAttr.get(sketchCol.toLowerCase)
          ndv <- ru.kmvExactNdv.get(nameOf(a))
          if ndv <= ru.kmvK
        } yield org.apache.spark.sql.graft.KmvSketch
          .KmvMergeEstimate(sk, ru.kmvK).toAggregateExpression()
      case _ => None
    }

    def mergeAggExpr(ae: AggregateExpression): Option[Expression] =
      if (ae.isDistinct) {
        if (ae.filter.nonEmpty) None else mergedDistinct(ae.aggregateFunction)
      } else ae.filter match {
        case None    => mergedAgg(ae.aggregateFunction)
        case Some(p) => servablePred(p).flatMap(pr =>
          mergedFiltered(ae.aggregateFunction, pr))
      }

    // ---- time granularity over the bucket column (reference
    // `GranularitySpec`, `DruidQuerySpec.scala:140-150`, served from a
    // rolled-up index): month-or-coarser truncations and field extractions
    // of the time dimension are pure functions of `g_tbucket`
    // (months-since-epoch, UTC), so time-bucketed aggregates group the
    // small rollup instead of the fact table. All arithmetic is
    // floor-based, valid for negative (pre-1970) buckets too.
    // Calendar-valued translations (year/month/trunc groupings,
    // cast-to-date comparisons) equate session-TZ calendar fields with
    // UTC bucket numbers — sound only when the session zone IS UTC.
    // Instant-based comparisons on the bare time attribute stay servable
    // in any zone (bucket boundaries are instants), so only the cast
    // unwrap and timeGrouping are gated, mirroring the reference's
    // tz-threaded extraction (`DruidPlanner.scala:73-76`).
    val tzServable = graft.Graft.sessionIsUtc(spark)
    def isTimeRef(e: Expression): Boolean = e match {
      case a: Attribute     => nameOf(a) == timeColL
      case Cast(u, _, _, _) => tzServable && isTimeRef(u)
      case _                => false
    }
    // date_trunc unit -> months per group (month=1, quarter=3, year=12)
    def monthsOf(fmt: Any): Option[Int] = String.valueOf(fmt).toLowerCase match {
      case "month" | "mon" | "mm"  => Some(1)
      case "quarter"               => Some(3)
      case "year" | "yyyy" | "yy"  => Some(12)
      case _                       => None
    }
    val epochDate = Literal(0, DateType)
    def bucketFloor(n: Int): Expression =
      if (n == 1) bucketAttr
      else Subtract(bucketAttr, Pmod(bucketAttr, Literal(n)))
    // floorDiv(b, n) with exact division after subtracting pmod
    def floorDiv(e: Expression, n: Int): Expression =
      Cast(IntegralDivide(Cast(Subtract(e, Pmod(e, Literal(n))), LongType),
        Literal(n.toLong)), IntegerType)
    // constructed post-analysis: timezone-aware nodes need the zone set
    // explicitly (ResolveTimeZone has already run); the session is UTC
    val tzId = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // day-grain nodes (Druid queryGranularity=DAY): the bucket IS
    // days-since-epoch, so the calendar date is epoch + bucket and every
    // date function applies natively on it
    val isDayGrain = ru.grain == "day"
    def dayDate: Expression = DateAdd(epochDate, bucketAttr)
    def truncOf(fmt: Any): Option[Expression] =
      String.valueOf(fmt).toLowerCase match {
        case "day" | "dd" if isDayGrain => Some(dayDate)
        // sub-day truncations are IDENTITIES on day-quantized data (every
        // value is midnight), so the day node answers them exactly under
        // the measured proof — Druid's queryGranularity=DAY semantics for
        // a finer query granularity, gated instead of silently truncating
        case "hour" | "minute" | "second"
            if isDayGrain && primaryTime && cube.info.timeDayQuantized => Some(dayDate)
        // week is not month-aligned, so only the day-grain node can serve it
        // (Druid granularity WEEK requires queryGranularity <= DAY the same
        // way); trunc-to-Monday applies natively on the reconstructed date
        case "week" if isDayGrain => Some(TruncDate(dayDate, Literal("week")))
        case f if monthsOf(f).isDefined =>
          if (isDayGrain) Some(TruncDate(dayDate, Literal(String.valueOf(fmt))))
          else Some(AddMonths(epochDate, bucketFloor(monthsOf(f).get)))
        case _ => None
      }
    def timeGrouping(e: Expression): Option[Expression] = if (!tzServable) None else e match {
      case TruncTimestamp(f: Literal, t, _) if isTimeRef(t) =>
        truncOf(f.value).map(d => Cast(d, TimestampType, tzId))
      case TruncDate(t, f: Literal) if isTimeRef(t) => truncOf(f.value)
      case Cast(t, DateType, _, _) if isDayGrain && isTimeRef(t) =>
        Some(dayDate)
      case Year(t) if isTimeRef(t) =>
        if (isDayGrain) Some(Year(dayDate))
        else Some(Add(Literal(1970), floorDiv(bucketAttr, 12)))
      case Quarter(t) if isTimeRef(t) =>
        if (isDayGrain) Some(Quarter(dayDate))
        else Some(Add(floorDiv(Pmod(bucketAttr, Literal(12)), 3), Literal(1)))
      case Month(t) if isTimeRef(t) =>
        if (isDayGrain) Some(Month(dayDate))
        else Some(Add(Pmod(bucketAttr, Literal(12)), Literal(1)))
      case DayOfMonth(t) if isDayGrain && isTimeRef(t) => Some(DayOfMonth(dayDate))
      case DayOfYear(t) if isDayGrain && isTimeRef(t)  => Some(DayOfYear(dayDate))
      case _ => None
    }

    /** Rewrite an aggregate-list or grouping expression: embedded
      * aggregates merge per [[mergeAggExpr]]; bare attribute references
      * must be grouping dimensions; month-granularity time expressions
      * derive from the bucket column; literals and arithmetic over the
      * above pass through (the reference's post-aggregation surface,
      * `DruidQuerySpec.scala:379-430` — e.g. `sum(x)/count(*)` or a
      * double-cast decimal sum).
      */
    def mergeBody(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => mergeAggExpr(ae)
      case _ => timeGrouping(e).orElse(e match {
        case a: Attribute => if (servable(nameOf(a))) Some(rAttr(nameOf(a))) else None
        case l: Literal => Some(l)
        case other if other.children.nonEmpty =>
          val kids = other.children.map(mergeBody)
          if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
          else None
        case _ => None
      })
    }

    // Filters: dimension predicates substitute directly; time-column
    // comparisons translate to bucket predicates ONLY when the literal sits
    // exactly on a month boundary (otherwise the rollup cannot answer the
    // query and the whole route is refused). Mirrors the reference's
    // interval-to-segment alignment.
    def litMicros(l: Literal): Option[Long] = l.dataType match {
      case TimestampType | TimestampNTZType => Some(l.value.asInstanceOf[Long])
      case DateType => Some(l.value.asInstanceOf[Int].toLong * 86400000000L)
      case _        => None
    }
    def alignedBucket(us: Long): Option[Int] =
      if (isDayGrain) {
        if (Math.floorMod(us, 86400000000L) == 0L)
          Some(Math.floorDiv(us, 86400000000L).toInt)
        else None
      } else {
        val b = graft.cube.TpchCube.bucketOfMicros(us)
        if (graft.cube.TpchCube.monthStartMicros(b) == us) Some(b) else None
      }
    def timeFilter(c: Expression): Option[Expression] = {
      // normalize `time <op> literal` (either operand order) to (op, us)
      val norm: Option[(String, Long)] = c match {
        case GreaterThanOrEqual(t, l: Literal) if isTimeRef(t) => litMicros(l).map((">=", _))
        case GreaterThan(t, l: Literal) if isTimeRef(t)        => litMicros(l).map((">", _))
        case LessThanOrEqual(t, l: Literal) if isTimeRef(t)    => litMicros(l).map(("<=", _))
        case LessThan(t, l: Literal) if isTimeRef(t)           => litMicros(l).map(("<", _))
        case EqualTo(t, l: Literal) if isTimeRef(t)            => litMicros(l).map(("=", _))
        case GreaterThanOrEqual(l: Literal, t) if isTimeRef(t) => litMicros(l).map(("<=", _))
        case GreaterThan(l: Literal, t) if isTimeRef(t)        => litMicros(l).map(("<", _))
        case LessThanOrEqual(l: Literal, t) if isTimeRef(t)    => litMicros(l).map((">=", _))
        case LessThan(l: Literal, t) if isTimeRef(t)           => litMicros(l).map((">", _))
        case EqualTo(l: Literal, t) if isTimeRef(t)            => litMicros(l).map(("=", _))
        // the bucket expression is null-preserving (year/month of NULL is
        // NULL), so time-NULL rows are exactly the bucket-NULL rollup rows
        case IsNotNull(t) if isTimeRef(t) => return Some(IsNotNull(bucketAttr))
        case _ => return None
      }
      val dataLo = if (primaryTime) cube.info.timeIntervalMicros.map(_._1) else None
      val dataHi = if (primaryTime) cube.info.timeIntervalMicros.map(_._2) else None
      val DayUs = 86400000000L
      norm.flatMap { case (op, u) =>
        // vacuity against the cube's covered data interval (the reference's
        // QueryIntervals vs index intervals): a bound the data cannot
        // violate is dropped entirely
        val vacuous = op match {
          case ">=" => dataLo.exists(u <= _)
          case ">"  => dataLo.exists(u < _)
          case "<=" => dataHi.exists(u >= _)
          case "<"  => dataHi.exists(u > _)
          case _    => false
        }
        // a vacuous bound still excludes NULL-time rows (NULL fails every
        // comparison), and NULL times land in the bucket-NULL rollup rows —
        // so the drop must keep the not-null constraint, not become TRUE
        if (vacuous) Some(IsNotNull(bucketAttr))
        else if (isDayGrain && primaryTime && cube.info.timeDayQuantized) {
          // every time value is midnight UTC (measured at build), so t is
          // exactly bucket*DayUs and ANY literal translates exactly
          def fl(x: Long) = Math.floorDiv(x, DayUs)
          // Day-grain nodes lay their files inside MONTH partition dirs
          // (the cube's own bucket column, kept as a dim). A day-bucket
          // predicate skips their row groups via footer stats, but only a
          // predicate on the month column prunes at DIRECTORY level — at
          // scale that's the difference between listing-and-opening every
          // file's footer and never listing the dir. Emit the implied
          // month bound alongside the day bound. (Redundant conjunct:
          // month(t) >= month(day lo) is implied by day(t) >= lo.)
          val monthAttr: Option[Attribute] =
            rAttr.get(cube.info.timeBucketColumn.toLowerCase)
              .filterNot(_.exprId == bucketAttr.exprId)
          def monthOfDay(d: Long): Option[Int] =
            try Some(graft.cube.TpchCube.bucketOfMicros(Math.multiplyExact(d, DayUs)))
            catch { case _: ArithmeticException => None }
          def withMonth(dayPred: Expression, dayBound: Long,
                        mk: (Attribute, Literal) => Expression): Expression =
            (for { m <- monthAttr; b <- monthOfDay(dayBound) }
              yield And(dayPred, mk(m, Literal(b)))).getOrElse(dayPred)
          op match {
            case ">=" =>
              val b = fl(u + DayUs - 1)
              Some(withMonth(GreaterThanOrEqual(bucketAttr, Literal(b.toInt)), b,
                GreaterThanOrEqual(_, _)))
            case ">" =>
              val b = fl(u) + 1
              Some(withMonth(GreaterThanOrEqual(bucketAttr, Literal(b.toInt)), b,
                GreaterThanOrEqual(_, _)))
            case "<=" =>
              val b = fl(u)
              Some(withMonth(LessThanOrEqual(bucketAttr, Literal(b.toInt)), b,
                LessThanOrEqual(_, _)))
            case "<" =>
              val b = fl(u - 1)
              Some(withMonth(LessThanOrEqual(bucketAttr, Literal(b.toInt)), b,
                LessThanOrEqual(_, _)))
            case "=" =>
              if (Math.floorMod(u, DayUs) == 0L)
                Some(withMonth(EqualTo(bucketAttr, Literal(fl(u).toInt)), fl(u),
                  EqualTo(_, _)))
              else Some(Literal.FalseLiteral)
          }
        } else op match {
          // grain-aligned boundaries only: a partial bucket cannot be
          // answered from pre-aggregates
          case ">=" => alignedBucket(u).map(b => GreaterThanOrEqual(bucketAttr, Literal(b)))
          case "<"  => alignedBucket(u).map(b => LessThan(bucketAttr, Literal(b)))
          case _    => None
        }
      }
    }

    // boolean trees over time comparisons translate exactly when EVERY leaf
    // does (Druid's interval-list form: `t in r1 OR t in r2` becomes two
    // bucket ranges). Unlike the pruning rule's widening, serving replaces
    // the filter on pre-aggregated rows, so no conjunct may be dropped.
    def timeTree(c: Expression): Option[Expression] = c match {
      case Or(l, r)  => for { a <- timeTree(l); b <- timeTree(r) } yield Or(a, b)
      case And(l, r) => for { a <- timeTree(l); b <- timeTree(r) } yield And(a, b)
      case leaf      => timeFilter(leaf)
    }
    // deterministic only: a nondeterministic predicate (e.g. rand() < p —
    // empty references, so it would pass the servability check) must
    // evaluate per FACT ROW; re-evaluating it per rollup cell changes the
    // sampled population
    val newFilters: Seq[Expression] = filters.map(inline).map { c =>
      if (!c.deterministic) return None
      if (c.references.forall(a => servable(nameOf(a)))) substitute(c)
      else timeTree(c).getOrElse(return None)
    }
    val newChild: LogicalPlan =
      if (newFilters.isEmpty) rollupPlan
      else Filter(newFilters.reduce(And), rollupPlan)

    expandOpt match {
      case Some(ex) => serveExpand(agg, ex, newChild, rollupPlan.output,
        inline, mergeBody, mergeAggExpr)
      case None =>
        val newGrouping: Seq[Expression] =
          agg.groupingExpressions.map(g => mergeBody(inline(g)).getOrElse(return None))

        val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
          case a: Attribute if servable(nameOf(a)) =>
            Alias(rAttr(nameOf(a)), a.name)(exprId = a.exprId)
          case a: Attribute if aliasExpr.contains(a.exprId) =>
            Alias(mergeBody(inline(a)).getOrElse(return None), a.name)(exprId = a.exprId)
          case al @ Alias(body, name) =>
            Alias(mergeBody(inline(body)).getOrElse(return None), name)(exprId = al.exprId)
          case _ => return None
        }
        Some(Aggregate(newGrouping, newAggExprs, newChild))
    }
  }

  /** Serve `Aggregate(Expand(scan))` — the grouping-sets / CUBE / ROLLUP
    * plan shape — from a rollup node. The reference runs one rolled-up
    * query per Expand projection and unions (`AggregateTransform.scala:
    * 98-167,217-311`); Spark's Expand already IS that union, so we keep the
    * Aggregate and Expand structure (output attrs, grouping-id slots,
    * grouping expressions) untouched and only
    *   - rewrite each projection's dimension slots onto rollup attributes
    *     (null literals of the non-participating grouping sets pass
    *     through),
    *   - null out metric passthrough slots and append passthrough slots
    *     carrying the rollup's pre-aggregated columns,
    *   - merge the aggregates over those slots (count → sum(cnt) etc. — the
    *     same merge table as the flat path).
    * The Expand then multiplies |rollup| rows per grouping set instead of
    * |fact| rows.
    */
  private def serveExpand(agg: Aggregate, ex: Expand, newChild: LogicalPlan,
                          rollupOut: Seq[Attribute],
                          inline: Expression => Expression,
                          mergeBody: Expression => Option[Expression],
                          mergeAggExpr: AggregateExpression => Option[Expression])
      : Option[LogicalPlan] = {
    val rIds = rollupOut.map(_.exprId).toSet
    // expand-output slot -> (index, per-projection values)
    val slotOf: Map[ExprId, Int] =
      ex.output.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap
    def slotValues(i: Int): Seq[Expression] = ex.projections.map(_(i))

    val groupSlots: Set[ExprId] =
      agg.groupingExpressions.flatMap(_.references).map(_.exprId).toSet
        .intersect(slotOf.keySet)

    // rollup attr -> appended passthrough slot (one per distinct attr the
    // merged aggregates need above the Expand)
    val lifted = scala.collection.mutable.LinkedHashMap[Attribute, AttributeReference]()
    def lift(e: Expression): Expression = e.transformUp {
      case a: Attribute if rIds.contains(a.exprId) =>
        lifted.getOrElseUpdate(a,
          AttributeReference("g_ru_" + a.name, a.dataType, nullable = true)())
    }

    // metric slots consumed by merged aggregates: every projection must
    // carry the identical passthrough value (a slot a distinct-rewrite
    // Expand nulls per grouping set fails this and refuses the route)
    val metricSlots = scala.collection.mutable.Set[Int]()
    def unslot(e: Expression): Option[Expression] = {
      var ok = true
      val r = e.transformUp {
        case a: Attribute if slotOf.contains(a.exprId) =>
          val i = slotOf(a.exprId)
          val vals = slotValues(i)
          val head = vals.head
          if (head.isInstanceOf[Literal] ||
              !vals.tail.forall(_.semanticEquals(head))) { ok = false; a }
          else { metricSlots += i; inline(head) }
      }
      if (ok) Some(r) else None
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      // bare dim/gid slot passthrough; a bare reference to a metric slot
      // (which the rewrite nulls out) refuses the route
      case a: Attribute if groupSlots.contains(a.exprId) || !slotOf.contains(a.exprId) => a
      case al @ Alias(body, name) =>
        val newBody = body.transformUp {
          case ae: AggregateExpression =>
            val merged = unslot(ae).flatMap {
              case t: AggregateExpression => mergeAggExpr(t)
              case _                      => None
            }
            lift(merged.getOrElse(return None))
        }
        // whatever slot references remain outside the merged aggregates
        // must be grouping slots (dims / grouping id)
        val leaks = newBody.references
          .filter(a => slotOf.contains(a.exprId) && !groupSlots.contains(a.exprId))
        if (leaks.nonEmpty) return None
        Alias(newBody, name)(exprId = al.exprId)
      case _ => return None
    }

    val newProjections: Seq[Seq[Expression]] = ex.projections.map { row =>
      row.zipWithIndex.map { case (v, i) =>
        val slotId = ex.output(i).exprId
        if (groupSlots.contains(slotId)) v match {
          case l: Literal => l // null of a grouping set, or the grouping id
          case other      => mergeBody(inline(other)).getOrElse(return None)
        }
        else Literal.create(null, ex.output(i).dataType) // merged or unread
      } ++ lifted.keys.toSeq
    }
    val newOutput = ex.output ++ lifted.values.toSeq
    Some(Aggregate(agg.groupingExpressions, newAggExprs,
      Expand(newProjections, newOutput, newChild)))
  }
}
