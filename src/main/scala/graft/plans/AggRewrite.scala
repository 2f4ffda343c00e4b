package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, CaseWhen, Cast, Coalesce, Divide, EqualTo, ExprId, Expression, IsNotNull, Literal, NamedExpression, TruncTimestamp, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, ResolvedHint}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Materialized-aggregate rewrite — the MV-selection step classical
  * engines pair with incremental view maintenance (our
  * [[graft.operators.Materialize]] keeps the state current; reference
  * analog: Phoenix picks a covered index the same way in
  * cc/optimize/QueryOptimizer.java — swap the scan target when a
  * registered artifact answers the query).
  *
  * A registered view holds `(groupCols, cnt, cnt_m/sum_m/min_m/max_m
  * per measure)` at `statePath`
  * ([[graft.operators.Materialize.aggregate]]'s layout). `statePath`
  * may be either a concrete state directory or a [[graft.operators
  * .Materialize]] MV ROOT (a directory with a `meta` pointer) — the
  * root form resolves the CURRENT `state_v<N>` through the meta
  * pointer at rewrite time, so a refresh that rotates the state
  * directory is picked up without re-registering (the pointer read
  * costs one small parquet footer, on par with the schema check the
  * rewrite already pays). A query aggregate rewrites onto the state
  * when:
  *  - it scans the registered base path (a parquet file scan),
  *    optionally through a column-pruning Project;
  *  - its grouping columns are a SUBSET of the view's (equality uses
  *    the state at its own grain; a strict subset ROLLS UP: sums of
  *    sums, min of mins, count(*) = sum(cnt) — all decomposable);
  *  - every aggregate is a plain (no DISTINCT / FILTER) SUM / MIN /
  *    MAX / AVG / COUNT(col) over a view measure, or COUNT(*) /
  *    COUNT(1). AVG derives as SUM(sum_m)/SUM(cnt_m) (its standard
  *    decomposition); COUNT(col) is SUM(cnt_m), the per-measure
  *    non-null count.
  *
  * The rewritten aggregate runs over group-cardinality rows instead of
  * the fact table — at 100 TB that is the difference between a scan and
  * a lookup. Output exprIds and types are preserved, so the surrounding
  * plan is untouched. The state is typed EXACTLY per measure (Spark's
  * own sum widening: Long for integrals, Decimal(p+10, s) for decimals,
  * Double only for floats), so a served SUM/COUNT/MIN/MAX equals the
  * fact-table answer bit-for-bit — including integral sums past 2^53.
  * AVG over an integral measure divides the EXACT sum by the exact
  * count in one double division, at least as accurate as the direct
  * aggregate's double accumulation (equal whenever the sum fits 2^53,
  * more accurate beyond). AVG over a DECIMAL measure is refused:
  * replicating Spark's decimal-division scale rules bit-for-bit is not
  * worth a plausible-but-off-by-ULP answer.
  *
  * Staleness contract — CHECKED, not just documented, for catalog
  * registrations: every [[AggViewDef]] carries a `fresh` probe the
  * rewrite consults before serving, and the catalog registrant
  * ([[graft.operators.Materialize.registerForRewrite]], either MV
  * kind) installs one comparing the MV meta's folded marks against
  * the tables' O(1) version counters — a stale state then
  * REFUSES the rewrite (the direct plan is correct, so enforcement
  * costs no availability) instead of silently serving pre-mutation
  * aggregates. Raw-path registrations without a probe keep the
  * documented contract (refresh before querying; drop before mutating
  * without refresh).
  */
object GraftAggViews {
  /** @param statePath a concrete [[graft.operators.Materialize]]-layout
    *                  parquet state dir, OR an MV root containing a
    *                  `meta` pointer (resolved to the current state_v
    *                  at rewrite time — refresh-safe)
    * @param groupCols the view's grouping columns
    * @param measures  measure columns with cnt_/sum_/min_/max_ state
    * @param grainExprs EXPRESSION-grain group columns: state column →
    *                  the SQL expression over BASE columns that
    *                  produced it (e.g. `"day" -> "date_trunc('DAY',
    *                  ts)"` for a daily rollup built with
    *                  `withColumn("day", ...)` before
    *                  [[graft.operators.Materialize.aggregate]]). A
    *                  query grouping matches on semantic equality, and
    *                  a COARSER `date_trunc` over the same timestamp
    *                  (day state serving a month query) rolls up by
    *                  re-truncating the state's grain column — valid
    *                  exactly when the finer unit's boundaries align
    *                  with the coarser's (any sub-day unit → anything;
    *                  month → quarter/year; quarter → year; week only
    *                  from sub-day units).
    *
    * Accuracy note for callers comparing served answers against direct
    * fact scans: SUM/MIN/MAX/COUNT are bit-exact. AVG over an integral
    * measure is served as exact-sum / exact-count in ONE double
    * division, while Spark's direct Average accumulates doubles — the
    * two can differ once the running sum exceeds 2^53, and the served
    * answer is the more accurate one. Callers needing bit-parity with
    * the direct scan beyond 2^53 should compute sum/count explicitly
    * rather than AVG. */
  /** @param sketches KMV sketch measures in the state (column → k,
    *                  from [[graft.operators.Materialize]]'s
    *                  `sketches`): lets the rewrite serve
    *                  `kmv_sketch(...)` aggregates from the `kmv_<col>`
    *                  state column (rolled up with `kmv_union_agg` —
    *                  byte-identical to the direct sketch, since KMV
    *                  union is associative/idempotent). The query's
    *                  hash argument must match state semantics: either
    *                  the NULL-guarded `CASE WHEN c IS NOT NULL THEN
    *                  xxhash64(c) END` Materialize writes, or a plain
    *                  `xxhash64(c)` over a provably non-nullable
    *                  column, and the query's k must equal the state's
    *                  k — anything else refuses (a plain hash over a
    *                  nullable column would count NULL as a value,
    *                  which the state doesn't). */
  /** One dimension of a STAR view (a state built with a
    * [[graft.operators.Materialize]] `derive` broadcast join): the
    * rewrite serves an Aggregate-over-Join query when the query's join
    * MATCHES a registered dim — same dim path, same (factKey, dimKey)
    * equality pairs, LEFT OUTER type (the derive contract; an INNER
    * join only when `innerSafe` asserts referential integrity, i.e.
    * every fact key is non-null and present in the dim — otherwise
    * inner drops fact rows the state counted). `dimAttrs` maps each
    * dim OUTPUT name the state groups/measures by to the dim table's
    * BASE column (e.g. "segment" -> "c_mktsegment"): the rewrite
    * verifies every referenced dim-side attribute resolves to exactly
    * that base column, so a query aliasing a DIFFERENT dim column
    * under the same name refuses instead of serving wrong data.
    * `dimKeys` are dim BASE column names; `factKeys` fact base names. */
  /** `innerState` flips the join-type contract: the registered state
    * aggregated an INNER join ([[graft.operators.MaterializeJoin]]'s
    * layout — unmatched fact rows were never counted), so the rewrite
    * serves INNER queries regardless of referential integrity, REFUSES
    * LEFT OUTER (the state cannot resurrect the dropped facts), and
    * requires the query to actually JOIN this dim (an un-joined query
    * over the bare fact includes rows the state dropped). Mutually
    * exclusive with `innerSafe`, which asserts inner == left for a
    * LEFT-counted state. */
  /** `leftState`: the state aggregated a maintained LEFT join
    * ([[graft.operators.MaterializeJoin]] with `leftOuter` — unmatched
    * facts counted under NULL side attributes), so the rewrite serves
    * LEFT OUTER queries only: INNER refuses (it drops the NULL-group
    * rows the state counted), and — unlike a derive-built LEFT star,
    * whose unique-keyed dim makes un-joined rollups sound — the join
    * must be PRESENT in the query, because a join-MV side may carry
    * duplicate keys that multiplied fact rows. Mutually exclusive
    * with `innerSafe`/`innerState`. */
  /** `fullState`: the state aggregated a maintained FULL OUTER join
    * ([[graft.operators.MaterializeJoin]] with `fullOuter` — unmatched
    * facts counted under NULL side attributes AND unmatched side rows
    * counted under NULL fact attributes), so the rewrite serves FULL
    * OUTER queries only: INNER and LEFT refuse (each drops dangling
    * rows the state counted), the join must be PRESENT, and no
    * dim-side filter is tolerated (even an IsNotNull on the join key
    * drops dangling rows under FULL). Mutually exclusive with the
    * other contracts. */
  case class DimJoinDef(dimPath: String, factKeys: Seq[String],
      dimKeys: Seq[String], dimAttrs: Map[String, String] = Map.empty,
      innerSafe: Boolean = false, innerState: Boolean = false,
      leftState: Boolean = false, fullState: Boolean = false)

  /** A query-side join captured by the plan walk: the dim scan's path,
    * whether the plan's join is INNER, the join condition, the
    * dim-side output attribute ids mapped to dim BASE column names,
    * and any dim-side filter conjuncts (tolerated only as IsNotNull
    * over join keys — semantics-free under equality matching). */
  private[plans] case class QueryJoin(dimPath: String, inner: Boolean,
      cond: Expression, dimBase: Map[ExprId, String],
      dimFilters: Seq[Expression], full: Boolean = false)

  /** @param topks SpaceSaving heavy-hitter measures in the state
    *               (column → capacity, from
    *               [[graft.operators.Materialize]]'s `topks`): lets
    *               the rewrite serve `approx_top_terms(c, cap)` from
    *               the `topk_<col>` state column (rolled up with
    *               `top_terms_union_agg`, read via
    *               `top_terms_entries`). The query's capacity must
    *               EQUAL the state's (a different cap is a different
    *               error budget, not a rollup of this one) and the
    *               term must be the registered column — bare, cast to
    *               string, or NULL-guarded, all of which match the
    *               NULL-skipping state semantics. Served results obey
    *               est−err ≤ true ≤ est like the direct aggregate; in
    *               the no-eviction regime (group distinct ≤ cap) they
    *               are byte-identical to it. */
  /** @param fresh freshness gate, probed (only) when the view is about
    *               to serve: `false` REFUSES the rewrite, so the query
    *               falls back to the direct plan — which is always
    *               correct, just unserved. Registrants over a
    *               [[graft.sources.GraftCatalog]] table install a probe
    *               comparing the MV meta's folded high-water mark
    *               against the table's O(1) version counter
    *               ([[graft.operators.Materialize.registerForRewrite]]),
    *               closing the silent-staleness hole: ≥
    *               SNAPSHOT_CACHE_BATCHES un-refreshed upserts followed
    *               by any read used to auto-rebuild the snapshot cache,
    *               hand the rewrite a pure cache scan, and serve
    *               version-stale state with no error. The default
    *               (always true) keeps the documented
    *               refresh-before-query contract for raw-path
    *               registrations the rule cannot probe. */
  /** @param filterSql WHERE-filtered MV: the predicate (SQL text over
    *                   base columns) the state was built under. Serving
    *                   requires the query's filter to CONTAIN each of
    *                   the predicate's conjuncts (semantically, resolved
    *                   against the query's own base relation) — they are
    *                   stripped before the residual maps onto state
    *                   group columns; a query missing any conjunct
    *                   would read rows the state dropped and refuses. */
  case class AggViewDef(statePath: String, groupCols: Seq[String],
      measures: Seq[String],
      grainExprs: Map[String, String] = Map.empty,
      sketches: Map[String, Int] = Map.empty,
      dims: Seq[DimJoinDef] = Seq.empty,
      topks: Map[String, Int] = Map.empty,
      fresh: () => Boolean = () => true,
      filterSql: Option[String] = None)

  // several views may serve one base (a per-source rollup AND a
  // per-(source, day) grain, say) — the reference picks among multiple
  // candidate indexes the same way (cc/optimize/QueryOptimizer.java)
  private val registry = new java.util.concurrent
    .ConcurrentHashMap[String, Seq[AggViewDef]]()

  /** Resolved grain expressions, keyed by (grain SQL, the base
    * relation's attribute ids). The optimizer batch re-enters the rule
    * up to fixedPoint times per query; without this cache a refused
    * grain query re-paid parser + analyzer per iteration. Bounded: the
    * key set grows one entry per distinct (registration, plan), so a
    * long session clears rather than grows without bound. */
  private[plans] val grainCache = new java.util.concurrent
    .ConcurrentHashMap[String, Option[
      org.apache.spark.sql.catalyst.expressions.Expression]]()
  private[plans] def grainCached(key: String)(
      compute: => Option[
        org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (grainCache.size > 4096) grainCache.clear()
    grainCache.computeIfAbsent(key, _ => compute)
  }

  /** Adds a view for `basePath`. Replaces an existing entry with the
    * same normalized statePath OR the same SHAPE (groupCols +
    * grainExprs + measure set): re-registering a rebuilt state for the
    * same grain and measures is the supersede idiom the single-view
    * registry had — keeping the old entry would keep serving the stale
    * (still-on-disk) state. A different shape ADDS a candidate — in
    * particular two views over the same grouping that cover DIFFERENT
    * measure families coexist (each answers its own queries), which is
    * why the measure set is part of the shape. */
  def register(basePath: String, view: AggViewDef): Unit =
    registry.compute(norm(basePath), (_, cur) =>
      Option(cur).getOrElse(Seq.empty)
        .filterNot(v => norm(v.statePath) == norm(view.statePath) ||
          (v.groupCols == view.groupCols &&
            v.grainExprs == view.grainExprs &&
            v.measures.toSet == view.measures.toSet &&
            // differently-FILTERED views of one shape coexist: each
            // answers only queries carrying its own predicate
            v.filterSql == view.filterSql)) :+ view)
  def drop(basePath: String): Unit = registry.remove(norm(basePath))
  /** Remove ONE view (by its state path) from a base's candidate list
    * — DROP MATERIALIZED VIEW must not take sibling MVs of the same
    * table down with it. */
  def dropView(basePath: String, statePath: String): Unit =
    registry.computeIfPresent(norm(basePath), (_, cur) =>
      cur.filterNot(v => norm(v.statePath) == norm(statePath)) match {
        case s if s.isEmpty => null
        case s => s
      })
  /** Candidate views, COARSEST first (fewest group columns = smallest
    * state = cheapest scan) — the rewrite takes the first that answers,
    * so ties in answerability resolve to the cheapest candidate. */
  def lookup(basePath: String): Seq[AggViewDef] =
    Option(registry.get(norm(basePath))).getOrElse(Seq.empty)
      .sortBy(_.groupCols.size)

  // normalize through the Hadoop Path/URI machinery so every spelling
  // of the same location ("file:///data/fact", "hdfs://nn:8020/data/
  // fact", "/data/fact", trailing slash) keys identically — the probe
  // side (HadoopFsRelation rootPaths.head.toUri.getPath) yields the
  // scheme-less path, and a string-stripped "file:" left "///path"
  // that could never match it
  private[plans] def norm(p: String) = scala.util.Try(
      new org.apache.hadoop.fs.Path(p).toUri.getPath)
    .toOption.filter(_.nonEmpty).getOrElse(p).stripSuffix("/")

  val DisabledConf = "spark.graft.aggRewrite.disabled"
}

case class AggRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (spark.conf.get(GraftAggViews.DisabledConf, "false") == "true") plan
    else plan.transformUp {
      case agg @ Aggregate(groupings, outputs, child, _) =>
        rewrite(groupings, outputs, child).getOrElse(agg)
    }

  /** A registered path resolves through the Materialize meta pointer
    * when one exists (MV-root registration); a concrete state dir is
    * used as-is. Any read failure refuses the rewrite — planning must
    * never crash on a stale registration. */
  private def resolveState(p: String): Option[Seq[String]] = scala.util.Try {
    // probe through the Hadoop FileSystem of the PATH's scheme, not
    // java.io.File — an MV root on hdfs:///s3a:// (or spelled file:///)
    // is invisible to the local-FS File API, which silently degraded
    // every such registration to "concrete state dir" and refused the
    // rewrite forever
    val meta = new org.apache.hadoop.fs.Path(p, "meta")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(meta)) Seq(p)
    else {
      // one dir (legacy) or the manifest's per-bucket leaf dirs
      // (bucket-manifested state — refresh rewrites only touched
      // buckets, so the current state is the union of pinned leafs)
      graft.operators.MvMeta.read(spark, p).statePaths(p)
    }
  }.toOption

  /** What the aggregate scans: the base path, the merged residual
    * filter (re-applied on the state), the base relation node (grain
    * expressions resolve against its attributes), and a substitution
    * mapping outer attribute ids to expressions over BASE attributes.
    * Looks through pruning, alias-only, AND computing Projects (a
    * trivial rename must not refuse the rewrite, and Catalyst's
    * PullOutGroupingExpressions moves expression groupings like
    * date_trunc into a Project below the Aggregate — the substitution
    * re-expands them), and merges stacked Filter layers into one
    * conjunction — group-column predicates ("the sum for source X")
    * are the most common MV hit. */
  private def scannedPath(plan: LogicalPlan): Option[
      (String, Option[Expression], LogicalPlan, Map[ExprId, Expression],
        Seq[GraftAggViews.QueryJoin])] = {
    @scala.annotation.tailrec
    def loop(cur: LogicalPlan, cond: Option[Expression],
        sub: Map[ExprId, Expression],
        joins: Seq[GraftAggViews.QueryJoin],
        belowFull: Boolean = false): Option[
        (String, Option[Expression], LogicalPlan, Map[ExprId, Expression],
          Seq[GraftAggViews.QueryJoin])] =
      cur match {
        case Project(list, child) if list.forall {
            case _: Attribute => true
            // a non-deterministic projection (rand-derived column)
            // can't be re-derived from the state — refuse the layer
            case al: Alias => al.child.deterministic
            case _ => false } =>
          val thisMap: Map[ExprId, Expression] = list.collect {
            case al @ Alias(e, _) => (al.exprId, e)
          }.toMap
          // chain existing entries through this layer's aliases, and
          // rewrite the collected filter the same way, so everything
          // ends up expressed over the base relation's attributes
          def through(e: Expression): Expression = e.transformUp {
            case a: AttributeReference => thisMap.getOrElse(a.exprId, a)
          }
          val sub2 = sub.map { case (k, v) => k -> through(v) } ++ thisMap
          val cond2 = cond.map(through)
          loop(child, cond2, sub2, joins, belowFull)
        // a Filter BELOW a FULL OUTER join is not re-expressible over
        // the state: it removes fact rows BEFORE the join, turning
        // their side matches into dangling rows — applying the same
        // predicate to state rows (which is all the rewrite can do)
        // keeps/drops whole joined rows instead. Catalyst never pushes
        // filters below a full join, so this only refuses explicit
        // filtered-subquery shapes — correctly.
        case Filter(_, _) if belowFull => None
        case Filter(c, child) =>
          loop(child, Some(cond.map(And(_, c)).getOrElse(c)), sub,
            joins, belowFull)
        // STAR shape: fact on the left, a dimension scan on the right —
        // capture the join for per-view verification (path, keys, type,
        // attribute soundness) and keep walking the fact side. Only
        // LEFT OUTER / INNER / FULL OUTER can possibly serve (derive's
        // contract, or a maintained join state's); anything else
        // refuses here.
        case Join(l, r, jt, Some(jc), _)
            if jt == LeftOuter || jt == Inner || jt == FullOuter =>
          resolveDimSide(r) match {
            case Some((dimPath, dimBase, dimFilters)) =>
              loop(l, cond, sub, joins :+ GraftAggViews.QueryJoin(
                dimPath, jt == Inner, jc, dimBase, dimFilters,
                full = jt == FullOuter),
                belowFull || jt == FullOuter)
            case None => None
          }
        case lr: LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation if fs.location.rootPaths.size == 1 =>
              Some((fs.location.rootPaths.head.toUri.getPath, cond, lr,
                sub, joins))
            case _ => None
          }
        case _ => None
      }
    loop(plan, None, Map.empty, Seq.empty)
  }

  /** Resolve a join's DIM side down to a single-path scan: alias-only
    * Projects compose into an (output attr id → dim BASE column name)
    * map; Filters are collected for the caller to vet (only IsNotNull
    * over join keys is semantics-free); computed projections or any
    * other node refuse — a transformed dimension is not the dimension
    * the state was built against. */
  private def resolveDimSide(p: LogicalPlan): Option[
      (String, Map[ExprId, String], Seq[Expression])] = p match {
    case ResolvedHint(child, _) => resolveDimSide(child)
    case Project(list, child) =>
      resolveDimSide(child).flatMap { case (path, inner, fs) =>
        val mapped = list.map {
          case a: AttributeReference =>
            inner.get(a.exprId).map(a.exprId -> _)
          case al @ Alias(c: AttributeReference, _) =>
            inner.get(c.exprId).map(al.exprId -> _)
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) None
        // keep the inner entries too: a Filter BELOW this Project (the
        // pushed-predicate shape) references pre-Project exprIds, which
        // the caller must still resolve to dim base columns. Those ids
        // are invisible ABOVE the Project, so they can never satisfy an
        // outer reference they shouldn't.
        else Some((path, inner ++ mapped.flatten.toMap, fs))
      }
    case Filter(c, child) =>
      resolveDimSide(child).map { case (path, inner, fs) =>
        def conj(e: Expression): Seq[Expression] = e match {
          case And(a, b) => conj(a) ++ conj(b)
          case o => Seq(o)
        }
        (path, inner, fs ++ conj(c))
      }
    case lr: LogicalRelation => lr.relation match {
      case hfs: org.apache.spark.sql.execution.datasources
          .HadoopFsRelation if hfs.location.rootPaths.size == 1 =>
        Some((hfs.location.rootPaths.head.toUri.getPath,
          lr.output.map(a => a.exprId -> a.name).toMap, Seq.empty))
      case _ => None
    }
    case _ => None
  }

  // date_trunc unit lattice: truncating twice is exact when the finer
  // unit's boundaries align with the coarser's — the sub-day chain is
  // totally ordered and day-aligned with everything above it; week is
  // day-aligned but NOT month/quarter/year-aligned; months nest in
  // quarters and years, quarters in years.
  private val canonUnit = Map("year" -> "year", "yyyy" -> "year",
    "yy" -> "year", "quarter" -> "quarter", "month" -> "month",
    "mon" -> "month", "mm" -> "month", "week" -> "week", "day" -> "day",
    "dd" -> "day", "hour" -> "hour", "minute" -> "minute",
    "second" -> "second", "millisecond" -> "millisecond",
    "microsecond" -> "microsecond")
  private val unitRank = Map("microsecond" -> 0, "millisecond" -> 1,
    "second" -> 2, "minute" -> 3, "hour" -> 4, "day" -> 5, "week" -> 6,
    "month" -> 7, "quarter" -> 8, "year" -> 9)
  private def alignedUnits(fine: String, coarse: String): Boolean =
    fine == coarse ||
      (unitRank(fine) <= unitRank("day") && unitRank(coarse) > unitRank(fine)) ||
      (fine == "month" && (coarse == "quarter" || coarse == "year")) ||
      (fine == "quarter" && coarse == "year")

  /** A truncation deconstructed: canonical unit, truncated argument,
    * kind tag (timestamp `date_trunc` vs date `trunc` — never
    * cross-matched), and a rebuild for coarser re-truncation of a state
    * column. */
  private case class TruncInfo(unit: String, arg: Expression,
      kind: String, tz: Option[String],
      rebuild: (String, Expression) => Expression)
  private def truncOf(e: Expression): Option[TruncInfo] = e match {
    case t: TruncTimestamp => t.format match {
      case Literal(u, _) if u != null =>
        // Locale.ROOT: a Turkish-locale JVM lowercases "MINUTE" with a
        // dotless i and the unit lookup would silently refuse the rewrite
        canonUnit.get(u.toString.toLowerCase(java.util.Locale.ROOT))
          .map(cu => TruncInfo(cu, t.timestamp, "ts", t.timeZoneId,
            (nu, c) => TruncTimestamp(Literal(nu), c, t.timeZoneId)))
      case _ => None
    }
    case t: org.apache.spark.sql.catalyst.expressions.TruncDate =>
      t.format match {
        case Literal(u, _) if u != null =>
          canonUnit.get(u.toString.toLowerCase(java.util.Locale.ROOT))
            .map(cu => TruncInfo(cu, t.date, "date", None,
              (nu, c) => org.apache.spark.sql.catalyst.expressions
                .TruncDate(c, Literal(nu))))
        case _ => None
      }
    case _ => None
  }

  /** Equal-grain or ALIGNED-coarser match of a query truncation `e`
    * against a resolved grain expression `ge`. Outer None = no match;
    * Some(None) = equal grain (state column serves directly);
    * Some(Some(f)) = coarser, serve f(stateColumn). */
  private def grainMatch(e: Expression, ge: Expression)
      : Option[Option[Expression => Expression]] =
    if (e.semanticEquals(ge)) Some(None)
    else (truncOf(e), truncOf(ge)) match {
      case (Some(q), Some(g))
          if q.kind == g.kind && q.arg.semanticEquals(g.arg) &&
            alignedUnits(g.unit, q.unit) &&
            // timestamp truncation boundaries are timezone-dependent:
            // a query expression analyzed under a different session tz
            // than the (freshly resolved) grain must NOT match — the
            // unit/arg fallback would otherwise serve state bucketed
            // at the wrong wall-clock boundaries
            q.tz == g.tz =>
        if (q.unit == g.unit) Some(None)
        else Some(Some(st => q.rebuild(q.unit, st)))
      case _ => None
    }

  private def rewrite(groupings: Seq[Expression],
      outputs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    val (path0, residual, baseRel, sub, joins) =
      scannedPath(child).getOrElse(return None)
    // a GraftCatalog SERVING scan reads the table's snapshot cache leaf
    // (`<table>/_snapcache/v<N>`, rotating per cache refresh) — map it
    // back to the STABLE table root so registrations key on the table,
    // not on a directory that changes under them. Only the exact cache
    // shape maps; any other path is used as-is.
    val path = graft.sources.GraftCatalog.tableRootOf(path0)
    // candidates coarsest-first; the first that ANSWERS serves the
    // query — MV selection, the aggregate-side analog of the
    // reference's multi-index choice
    GraftAggViews.lookup(path).iterator
      .flatMap(v => tryView(v, groupings, outputs, residual, baseRel,
        sub, joins).iterator)
      .nextOption()
  }

  private def tryView(view: GraftAggViews.AggViewDef,
      groupings: Seq[Expression], outputs: Seq[NamedExpression],
      residual: Option[Expression], baseRel: LogicalPlan,
      sub: Map[ExprId, Expression],
      joins: Seq[GraftAggViews.QueryJoin]): Option[LogicalPlan] = {
    // express everything over the BASE relation's attributes (alias-only
    // Projects between the aggregate and the scan are a pure rename)
    def deref(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => sub.getOrElse(a.exprId, a)
    }
    // the BASE column an outer attribute renames, or "" when it is a
    // computed projection (which no state column can serve directly)
    def baseName(a: AttributeReference): String = deref(a) match {
      case b: AttributeReference => b.name
      case _ => ""
    }
    // the session resolver (case-insensitive by default): a SQL
    // front-end query spells `SUM(X)` while the registration (and the
    // state's columns) carry the table's declared `x` — name matches
    // against the view definition must resolve like the analyzer does,
    // then CANONICALIZE to the registered spelling (state column names
    // derive from it: sum_x, not sum_X)
    val resolver = spark.sessionState.conf.resolver
    def measureOf(n: String): Option[String] =
      if (n.isEmpty) None else view.measures.find(resolver(_, n))
    def groupColOf(n: String): Option[String] =
      view.groupCols.find(resolver(_, n))
    // ---- star-join verification ----
    // Every query join must MATCH a registered dim: same (normalized)
    // dim path, the exact registered (factKey = dimKey) equality
    // conjunction, LEFT OUTER type (INNER only under the registrant's
    // innerSafe referential-integrity assertion), and dim-side filters
    // limited to IsNotNull over join keys (null keys never match an
    // equality join, so that filter cannot change the result). A query
    // may join a SUBSET of the registered dims (unreferenced dim
    // attributes just roll up); an unmatched join refuses.
    val dimIds: Map[ExprId, String] = joins.flatMap(_.dimBase).toMap
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case o => Seq(o)
    }
    val matchedDims: Seq[GraftAggViews.DimJoinDef] = joins.map { qj =>
      // a catalog dim served through its snapshot cache scans
      // `<dimRoot>/_snapcache/v<N>` — map back to the stable root, the
      // same normalization the fact side gets in rewrite()
      val qjPath = graft.sources.GraftCatalog.tableRootOf(qj.dimPath)
      view.dims.find { d =>
        GraftAggViews.norm(d.dimPath) == GraftAggViews.norm(qjPath) && {
          // each conjunct: equality between one dim column of THIS
          // join and one column NOT of this join — a fact base column,
          // or (the snowflake shape) a base column of ANOTHER joined
          // dim (orders ⋈ customer ⋈ nation joins nation on
          // customer.nationkey); either way the registration names the
          // key by that carrying table's base column
          def factName(a: AttributeReference): Option[String] =
            deref(a) match {
              case b: AttributeReference
                  if !qj.dimBase.contains(b.exprId) =>
                Some(dimIds.getOrElse(b.exprId, b.name))
              case _ => None
            }
          val pairs = conjuncts(qj.cond).map {
            case EqualTo(x: AttributeReference, y: AttributeReference) =>
              (qj.dimBase.get(x.exprId), qj.dimBase.get(y.exprId)) match {
                case (Some(dk), None) => factName(y).map((_, dk))
                case (None, Some(dk)) => factName(x).map((_, dk))
                case _ => None
              }
            case _ => None
          }
          // dim-side filters: IsNotNull over a join key is semantics-
          // free under equality matching (any join type). A predicate
          // over SERVED dim attributes (the dashboard shape "revenue
          // for segment='BUILDING'", which Catalyst pushes below the
          // join — converting the LEFT join to INNER on the way) is
          // servable by RE-APPLYING it on the state's group column
          // (collected below as dimStateFilters): sound because under
          // key-equality + unique dim, every fact in a group carries
          // exactly the group's attribute value. INNER-only — under a
          // surviving LEFT join a filtered-out dim row NULLs the
          // fact's attributes instead of dropping the fact, which a
          // state-side filter cannot reproduce.
          def servedGroupAttr(baseCol: String): Option[String] =
            d.dimAttrs.collectFirst { case (served, b) if b == baseCol &&
              view.groupCols.contains(served) => served }
          // LEFT-counted state: LEFT always serves, INNER only under
          // innerSafe. INNER-counted state (innerState): INNER only —
          // a LEFT query keeps fact rows the state never counted.
          // LEFT-maintained join state (leftState): LEFT only — an
          // INNER query drops the NULL-group rows the state counted.
          // FULL-maintained state (fullState): FULL only, and FULL
          // queries serve ONLY from a fullState (every other contract
          // is missing the side-dangling rows); no dim filter is
          // tolerated under FULL — even a join-key IsNotNull drops
          // dangling rows the state counted.
          (if (d.fullState) qj.full && qj.dimFilters.isEmpty
           else if (d.innerState) qj.inner
           else if (d.leftState) !qj.inner && !qj.full
           else !qj.full && (!qj.inner || d.innerSafe)) &&
            qj.dimFilters.forall {
              case IsNotNull(a: AttributeReference) =>
                qj.dimBase.get(a.exprId).exists(c =>
                  d.dimKeys.contains(c) ||
                    (qj.inner && (servedGroupAttr(c).isDefined ||
                      // a SNOWFLAKE key: this dim carries another
                      // registered join's key (customer.nationkey) —
                      // Catalyst pushes IsNotNull on it for the inner
                      // join to nation, and dropping null-key rows is
                      // semantics-free there (they never match, and
                      // the nation join's presence is enforced for
                      // inner/left-counted states)
                      view.dims.exists(_.factKeys.contains(c)))))
              case f => qj.inner && f.deterministic &&
                f.references.toSeq.forall {
                  case a: AttributeReference => qj.dimBase.get(a.exprId)
                    .exists(c => servedGroupAttr(c).isDefined)
                  case _ => false
                }
            } &&
            pairs.forall(_.isDefined) && {
              // fact-side names carry the QUERY's spelling (an attr
              // ref keeps the case the SQL used) — match them against
              // the registered keys with the session resolver, exactly
              // like measure/group names; dim-side names come from the
              // relation output and already match the registration
              val reg = d.factKeys.zip(d.dimKeys)
              val matched = pairs.flatten.flatMap { case (fn, dn) =>
                reg.find { case (fk, dk) => resolver(fk, fn) && dk == dn }
              }
              matched.size == pairs.size && matched.toSet == reg.toSet
            }
        }
      }.getOrElse(return None)
    }
    // an INNER-counted state requires its join to be PRESENT in the
    // query: a bare-fact aggregate (or one omitting this dim) covers
    // rows the state dropped at build. A LEFT-maintained join state
    // requires presence too: its side may carry duplicate keys, so an
    // un-joined rollup could double-count facts — un-joined subsets
    // only roll up safely for derive-built (unique-keyed) LEFT dims.
    if (view.dims.exists(d =>
        (d.innerState || d.leftState || d.fullState) &&
          !matchedDims.contains(d)))
      return None
    // dim-attribute filter conjuncts vetted above, rewritten onto the
    // state's group columns (name placeholders; the source build below
    // remaps names onto state attributes)
    val dimStateFilters: Seq[Expression] =
      joins.zip(matchedDims).flatMap { case (qj, d) =>
        qj.dimFilters.flatMap {
          case IsNotNull(a: AttributeReference)
              if qj.dimBase.get(a.exprId).exists(d.dimKeys.contains) =>
            None // join-key null filter: semantics-free, nothing to apply
          case f => Some(f.transformUp {
            case a: AttributeReference =>
              val base = qj.dimBase(a.exprId)
              val served = d.dimAttrs
                .collectFirst { case (s, b) if b == base => s }.get
              AttributeReference(served, a.dataType)()
          })
        }
      }
    // soundness: every dim-side attribute the query references must be
    // the REGISTERED base column for its name — a query aliasing a
    // different dim column under a served name must refuse, not serve
    // wrong data
    def dimRefsSound(e: Expression): Boolean =
      (e.references.toSeq ++ deref(e).references.toSeq).forall {
        case a: AttributeReference => dimIds.get(a.exprId) match {
          case Some(baseCol) => matchedDims.exists(
            // resolver-matched: the attr keeps the query's spelling
            _.dimAttrs.exists { case (served, b) =>
              resolver(served, a.name) && b == baseCol })
          case None => true
        }
        case _ => true
      }
    if (!(groupings ++ outputs ++ residual.toSeq).forall(dimRefsSound))
      return None
    // registered grain expressions resolved against THIS query's base
    // relation attributes; cached by (sql, attribute ids) because the
    // optimizer batch re-enters the rule up to fixedPoint times per
    // query. Any parse/resolution failure refuses the grain (cached as
    // None), never crashes planning.
    lazy val grains: Seq[(String, Expression)] = {
      // session tz in the key: the analyzer stamps TruncTimestamp with
      // the session timezone, so a tz change must re-resolve (the tz
      // guard in grainMatch would otherwise refuse forever off a stale
      // cached resolution)
      val relKey = baseRel.output.map(_.exprId.id).mkString(",") +
        "@" + spark.sessionState.conf.sessionLocalTimeZone
      view.grainExprs.toSeq.flatMap { case (colName, sqlText) =>
        GraftAggViews.grainCached(s"$sqlText@$relKey") {
          scala.util.Try {
            val parsed =
              spark.sessionState.sqlParser.parseExpression(sqlText)
            val analyzed = spark.sessionState.analyzer.execute(
              Project(Seq(Alias(parsed, "__grain")()), baseRel))
            analyzed.collectFirst {
              case Project(Seq(Alias(e, "__grain")), _) => e
            }
          }.toOption.flatten
        }.map(colName -> _)
      }
    }
    // state-side target for one query grouping expression, WITHOUT any
    // state I/O: (state column, optional state-column transform) — a
    // plain view group column, an exact grain match, or an ALIGNED
    // coarser truncation re-truncating the state's grain column
    def groupKey(e0: Expression)
        : Option[(String, Option[Expression => Expression])] = {
      val e = deref(e0)
      e match {
        case a: AttributeReference =>
          groupColOf(a.name).filterNot(view.grainExprs.contains)
            .map(c => (c, None))
            .orElse(grains.collectFirst(Function.unlift {
              case (colName, ge) =>
                grainMatch(e, ge).map(f => (colName, f))
            }))
        case _ =>
          grains.collectFirst(Function.unlift { case (colName, ge) =>
            grainMatch(e, ge).map(f => (colName, f))
          })
      }
    }
    // every grouping must map; DataFrame-style grouping aliases
    // (groupBy(expr.as("d"))) are unwrapped, and their output attribute
    // resolves back to the grouping by exprId
    val strippedGroupings = groupings.map {
      case al: Alias => al.child
      case e => e
    }
    val groupTargets = strippedGroupings
      .map(g => groupKey(g).getOrElse(return None))
    val aliasIdToIdx: Map[ExprId, Int] = groupings.zipWithIndex.collect {
      case (a: Alias, i) => a.exprId -> i }.toMap
    def groupIdxOf(e: Expression): Option[Int] = e match {
      case a: AttributeReference if aliasIdToIdx.contains(a.exprId) =>
        aliasIdToIdx.get(a.exprId)
      case _ =>
        val d = deref(e)
        val idx =
          strippedGroupings.indexWhere(g => deref(g).semanticEquals(d))
        if (idx >= 0) Some(idx) else None
    }
    // a residual filter must be expressible over the STATE's group
    // columns — a measure predicate filters individual fact rows, which
    // the state can't see — and must be DETERMINISTIC: a reference-free
    // predicate like rand() < p passes the reference check yet means
    // "sample fact ROWS", which re-applied to one-row-per-group state
    // keeps whole groups. Grain expressions INSIDE the filter map onto
    // the state's grain column ("WHERE date_trunc('day', ts) = D"
    // serves as "WHERE day = D" — the dashboard shape; an aligned
    // COARSER truncation re-truncates the grain column first).
    // fact-side IsNotNull over an INNER-matched dim's fact key is
    // semantics-free (a NULL key never matches the equality join, and
    // the state counted only matched rows) — Catalyst pushes exactly
    // this conjunct for a NULLABLE fact FK, and without stripping it
    // the residual check refused every such serve. LEFT joins keep it:
    // there it genuinely drops unmatched facts the state counted.
    val innerFactKeys: Set[String] = joins.zip(matchedDims)
      .collect { case (qj, d) if qj.inner => d.factKeys }
      .flatten.toSet
    def strippable(e: Expression): Boolean = e match {
      case IsNotNull(a: AttributeReference) =>
        innerFactKeys.exists(resolver(_, baseName(a)))
      case _ => false
    }
    val residualConjs0: Seq[Expression] = residual.toSeq
      .flatMap(c0 => conjuncts(deref(c0))).filterNot(strippable)
    // WHERE-filtered state: each of the registration's predicate
    // conjuncts (resolved against THIS query's base relation, cached
    // like grain expressions) must appear semantically in the query's
    // residual — matched conjuncts are consumed (the state already
    // applied them to fact ROWS; re-applying over one-row-per-group
    // state would be wrong for any non-group predicate), the remainder
    // maps onto state group columns below. A query missing any
    // conjunct reads rows the state dropped: refuse.
    val residualConjs: Option[Seq[Expression]] = view.filterSql match {
      case None => Some(residualConjs0)
      case Some(sql) =>
        val relKey = baseRel.output.map(_.exprId.id).mkString(",") +
          "@" + spark.sessionState.conf.sessionLocalTimeZone
        GraftAggViews.grainCached(s"filter:$sql@$relKey") {
          scala.util.Try {
            val parsed =
              spark.sessionState.sqlParser.parseExpression(sql)
            val analyzed = spark.sessionState.analyzer.execute(
              Project(Seq(Alias(parsed, "__vf")()), baseRel))
            analyzed.collectFirst {
              case Project(Seq(Alias(e, "__vf")), _) => e
            }
          }.toOption.flatten
        } match {
          case None => None // unresolvable predicate: never serve
          case Some(vf0) =>
            // constant-fold the parsed side: the query's conjuncts
            // arrive optimizer-folded (`m > CAST(40 AS BIGINT)` is
            // already `m > 40L` there), so fold foldable subtrees here
            // or semantic equality never fires
            val vf = vf0.transformUp {
              case e if e.foldable && !e.isInstanceOf[Literal] =>
                Literal.create(
                  e.eval(org.apache.spark.sql.catalyst.InternalRow
                    .empty), e.dataType)
            }
            val vcs = conjuncts(vf)
            var rem = residualConjs0
            val all = vcs.forall { vc =>
              val i = rem.indexWhere(rc =>
                rc.semanticEquals(vc) || deref(rc).semanticEquals(vc))
              if (i >= 0) { rem = rem.patch(i, Nil, 1); true }
              else false
            }
            if (!all) None
            else {
              // a null-rejecting consumed conjunct already excluded
              // NULL rows from the state — drop the IsNotNulls Catalyst
              // infers from the query's matching WHERE, or they'd
              // demand a state column that isn't a group column and
              // refuse every filtered serve. Null-INTOLERANT
              // comparisons only: `a <=> NULL` holds exactly the NULL-a
              // rows, so treating <=> as null-rejecting would drop a
              // query's real `a IS NOT NULL` conjunct and serve it
              // non-empty from a state that contributes nothing
              val impliedNotNull: Set[String] = vcs.collect {
                case bc: org.apache.spark.sql.catalyst.expressions
                    .BinaryComparison
                    if !bc.isInstanceOf[org.apache.spark.sql.catalyst
                      .expressions.EqualNullSafe] =>
                  bc.references.toSeq.collect {
                    case a: AttributeReference => a.name }
              }.flatten.toSet
              def implied(rc: Expression): Boolean = deref(rc) match {
                case IsNotNull(a: AttributeReference) =>
                  impliedNotNull.exists(resolver(_, baseName(a)))
                case _ => false
              }
              Some(rem.filterNot(implied))
            }
        }
    }
    if (residualConjs.isEmpty) return None
    val residualKept: Option[Expression] =
      residualConjs.get.reduceOption(And)
    val residualMapped: Option[Option[Expression]] = residualKept match {
      case None => Some(None)
      case Some(c0) if !c0.deterministic => None
      case Some(c0) =>
        val placeholders = scala.collection.mutable.Set[Long]()
        val c = c0.transformUp {
          case e => grains.collectFirst(Function.unlift {
            case (colName, ge) => grainMatch(e, ge).map { m =>
              val ph = AttributeReference(colName, ge.dataType)()
              placeholders += ph.exprId.id
              m.map(f => f(ph)).getOrElse(ph): Expression
            }
          }).getOrElse(e)
        }
        val plainAllowed = view.groupCols.toSet -- view.grainExprs.keySet
        val ok = c.references.toSeq.forall {
          case a: AttributeReference =>
            placeholders.contains(a.exprId.id) ||
              plainAllowed.exists(resolver(_, baseName(a)))
          case _ => false
        }
        if (ok) Some(Some(c)) else None
    }
    if (residualMapped.isEmpty) return None
    // answerability PRE-CHECK before any state I/O: pattern-only, no
    // attributes needed — a bailing query (decimal avg, DISTINCT) must
    // not pay a parquet schema read per planning pass
    // kmv_sketch(...) served from the state's kmv_<col> — accepted
    // only when the hash argument has the state's NULL semantics
    // (NULL-guarded, or plain xxhash64 over a non-nullable column) and
    // the query's k equals the state's k (a different k is a different
    // sketch, not a rollup of this one)
    def sketchColOf(fn: org.apache.spark.sql.catalyst.expressions
        .aggregate.AggregateFunction): Option[String] = fn match {
      case graft.functions.KmvAgg(h, kE, _, _) =>
        val k = kE match {
          case Literal(i: Int, _) => i
          case Literal(l: Long, _) => l.toInt
          case _ => return None
        }
        val arOpt = h match {
          case CaseWhen(Seq((IsNotNull(g: AttributeReference),
              XxHash64(Seq(v: AttributeReference), 42L))), None)
            if baseName(g) == baseName(v) => Some(v)
          case XxHash64(Seq(v: AttributeReference), 42L)
            if !v.nullable => Some(v)
          case _ => None
        }
        arOpt.map(baseName).flatMap(n =>
          view.sketches.keys.find(resolver(_, n))
            .filter(c => view.sketches(c) == k))
      case _ => None
    }
    // approx_top_terms(c, cap) served from the state's topk_<col> —
    // accepted when the term resolves to the registered column (bare
    // string column, cast-to-string, or the NULL-guarded cast the
    // state writes: all NULL-skip identically inside the aggregate)
    // and the query's capacity equals the state's
    def topkColOf(fn: org.apache.spark.sql.catalyst.expressions
        .aggregate.AggregateFunction): Option[String] = fn match {
      case graft.functions.TopTermsAgg(t, capE, _, _) =>
        val cap = capE match {
          case Literal(i: Int, _) => i
          case Literal(l: Long, _) => l.toInt
          case _ => return None
        }
        val arOpt = t match {
          case v: AttributeReference if v.dataType == StringType =>
            Some(v)
          case Cast(v: AttributeReference, StringType, _, _) => Some(v)
          case CaseWhen(Seq((IsNotNull(g: AttributeReference),
              Cast(v: AttributeReference, StringType, _, _))), None)
            if baseName(g) == baseName(v) => Some(v)
          case CaseWhen(Seq((IsNotNull(g: AttributeReference),
              v: AttributeReference)), None)
            if baseName(g) == baseName(v) &&
              v.dataType == StringType => Some(v)
          case _ => None
        }
        arOpt.map(baseName).flatMap(n =>
          view.topks.keys.find(resolver(_, n))
            .filter(c => view.topks(c) == cap))
      case _ => None
    }
    def answerableFn(
        fn: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateFunction): Boolean = fn match {
      // count(*) / count(1); a NULL literal means count-of-nothing
      // (always 0), which the state can't distinguish from count(*)
      case Count(Seq(Literal(v, _))) => v != null
      // count(col) = non-null count: served by the state's cnt_m
      case Count(Seq(ar: AttributeReference)) =>
        measureOf(baseName(ar)).isDefined
      case Sum(ar: AttributeReference, _) =>
        measureOf(baseName(ar)).isDefined
      case Min(ar: AttributeReference) =>
        measureOf(baseName(ar)).isDefined
      case Max(ar: AttributeReference) =>
        measureOf(baseName(ar)).isDefined
      // avg = sum/cnt, both exact in the state; decimal refused (see
      // the scaladoc — Spark's decimal-division scale rules)
      case Average(ar: AttributeReference, _) =>
        measureOf(baseName(ar)).isDefined &&
          !ar.dataType.isInstanceOf[DecimalType]
      case k: graft.functions.KmvAgg => sketchColOf(k).isDefined
      case t: graft.functions.TopTermsAgg => topkColOf(t).isDefined
      case _ => false
    }
    // grouping references OUTSIDE any aggregate call (scalar wrappers
    // like kmv_estimate(kmv_sketch(...)) or sum(x) + g collapse into
    // the Aggregate's output expressions — CollapseProject — so an
    // output can mix both)
    def nonAggRefs(x: Expression): Seq[AttributeReference] = x match {
      case _: AggregateExpression => Seq.empty
      case a: AttributeReference => Seq(a)
      case o => o.children.flatMap(nonAggRefs)
    }
    val answerable = outputs.forall {
      case a: AttributeReference => groupIdxOf(a).isDefined
      case Alias(e, _) if e.exists(_.isInstanceOf[AggregateExpression]) =>
        e.collect { case ae: AggregateExpression => ae }.forall(ae =>
          !ae.isDistinct && ae.filter.isEmpty &&
            answerableFn(ae.aggregateFunction)) &&
          nonAggRefs(e).forall(groupIdxOf(_).isDefined)
      case Alias(e, _) => groupIdxOf(e).isDefined
      case _ => false
    }
    if (!answerable) return None
    // freshness gate, LAST among the no-I/O checks: the state must
    // cover the base as of NOW — a probe failure (or a stale state)
    // refuses, and the fallback plan is correct, so enforcement costs
    // no availability. Guarded by Try: planning must never crash on a
    // probe whose catalog/meta has been dropped under it.
    if (!scala.util.Try(view.fresh()).getOrElse(false)) return None
    // a registered MV ROOT resolves to its current state_v dir through
    // the meta pointer — refresh rotates directories, and serving a
    // stale pinned dir would return pre-refresh aggregates forever
    val statePaths = resolveState(view.statePath).getOrElse(return None)
    val state = scala.util.Try(spark.read.parquet(statePaths: _*)
      .queryExecution.analyzed).getOrElse(return None)
    val stateAttr: Map[String, Attribute] =
      state.output.map(a => a.name -> a).toMap
    // a stale/mismatched registration (state missing expected columns)
    // must refuse the rewrite, never crash planning — grain state
    // columns included: a grainExprs key outside groupCols (or a state
    // written without the grain column) would otherwise surface as a
    // Map.apply crash in stateGroupExpr below
    val needed = view.groupCols ++ view.grainExprs.keys ++ Seq("cnt") ++
      view.measures.flatMap(m =>
        Seq(s"cnt_$m", s"sum_$m", s"min_$m", s"max_$m")) ++
      view.sketches.keys.map(d => s"kmv_$d") ++
      view.topks.keys.map(t => s"topk_$t")
    if (!needed.forall(stateAttr.contains)) return None

    def merged(fnCol: Attribute,
        mk: Expression => org.apache.spark.sql.catalyst.expressions
          .aggregate.AggregateFunction): Expression =
      AggregateExpression(mk(fnCol), Complete, isDistinct = false)

    // the state-side expression for a mapped grouping: the state column
    // itself, or a coarser re-truncation of the state's grain column
    def stateGroupExpr(
        t: (String, Option[Expression => Expression])): Expression =
      t match {
        case (c, None) => stateAttr(c)
        case (c, Some(f)) => f(stateAttr(c))
      }

    // the registered (canonical) spelling of a measure reference —
    // state column names derive from it
    def m(ar: AttributeReference): String = measureOf(baseName(ar)).get
    def servedAgg(ae: AggregateExpression): Expression =
      ae.aggregateFunction match {
          // count(col) BEFORE the count(*) catch-all — both are Count
          case Count(Seq(ar: AttributeReference)) =>
            Coalesce(Seq(
              merged(stateAttr(s"cnt_${m(ar)}"), Sum(_)),
              Literal(0L)))
          case Count(_) =>
            // COUNT over zero state rows must stay 0, not SUM's NULL
            Coalesce(Seq(merged(stateAttr("cnt"), Sum(_)), Literal(0L)))
          case Sum(ar: AttributeReference, _) =>
            Cast(merged(stateAttr(s"sum_${m(ar)}"), Sum(_)),
              ae.dataType)
          case Min(ar: AttributeReference) =>
            Cast(merged(stateAttr(s"min_${m(ar)}"), Min(_)),
              ae.dataType)
          case Max(ar: AttributeReference) =>
            Cast(merged(stateAttr(s"max_${m(ar)}"), Max(_)),
              ae.dataType)
          case Average(ar: AttributeReference, _) =>
            // exact sum / exact count, one double division — all-NULL
            // groups yield NULL (null sum propagates), like direct avg
            Cast(Divide(
              Cast(merged(stateAttr(s"sum_${m(ar)}"), Sum(_)),
                DoubleType),
              Cast(merged(stateAttr(s"cnt_${m(ar)}"), Sum(_)),
                DoubleType)), ae.dataType)
          case kfn: graft.functions.KmvAgg =>
            // union of per-state-row sketches == the direct sketch
            // (associative + idempotent, so a rollup is byte-exact);
            // zero state rows must yield the EMPTY sketch like a
            // direct kmv_sketch over no rows, not kmv_union_agg's NULL
            val d = sketchColOf(kfn).get
            Coalesce(Seq(
              merged(stateAttr(s"kmv_$d"),
                graft.functions.KmvUnionAgg(_)),
              Literal.create(
                graft.functions.KmvAgg.emptySketchBytes(view.sketches(d)),
                org.apache.spark.sql.types.BinaryType)))
          case tfn: graft.functions.TopTermsAgg =>
            // union of per-state-row summaries, read back as the
            // entry list; zero state rows must yield the EMPTY list
            // like a direct approx_top_terms over no rows, not
            // top_terms_union_agg's NULL
            val t = topkColOf(tfn).get
            graft.functions.TopTermsEntries(Coalesce(Seq(
              merged(stateAttr(s"topk_$t"),
                graft.functions.TopTermsUnionAgg(_)),
              Literal.create(
                graft.functions.TopTermsAgg.Sketch
                  .emptySketchBytes(view.topks(t)),
                org.apache.spark.sql.types.BinaryType))))
          case other => throw new IllegalStateException(
            s"unreachable: pre-checked aggregate $other")
        }
    // replace every aggregate CALL with its state-serving form and
    // every grouping reference OUTSIDE an aggregate with the state's
    // group column — scalar wrappers (casts, kmv_estimate, arithmetic
    // over sums) carry over unchanged around the swapped aggregates
    def serveExpr(x: Expression): Expression = x match {
      case ae: AggregateExpression => servedAgg(ae)
      case a: AttributeReference =>
        stateGroupExpr(groupTargets(groupIdxOf(a).get))
      case o => o.mapChildren(serveExpr)
    }
    val newOutputs: Seq[NamedExpression] = outputs.map {
      case a: AttributeReference =>
        Alias(stateGroupExpr(groupTargets(groupIdxOf(a).get)), a.name)(
          exprId = a.exprId)
      case al @ Alias(e, name)
          if e.exists(_.isInstanceOf[AggregateExpression]) =>
        Alias(serveExpr(e), name)(exprId = al.exprId,
          qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case al @ Alias(e, name) =>
        Alias(stateGroupExpr(groupTargets(groupIdxOf(e).get)), name)(
          exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case other => throw new IllegalStateException(
        s"unreachable: pre-checked output $other")
    }
    // equality of grain: a per-group Aggregate over one-row-per-group
    // state is still cheapest expressed as an Aggregate (sums of one
    // row) — and the SAME shape serves the rollup case, so emit one
    // form: Aggregate over the (possibly filtered) state keyed by the
    // queried columns
    val source = (residualMapped.get.toSeq ++ dimStateFilters)
        .reduceOption(And) match {
      case Some(cond) =>
        // placeholders and plain group references both carry the state
        // column's NAME — remap by name (resolver-matched: a SQL query
        // may spell a group column in a different case) onto the
        // state's attributes
        val remapped = cond.transformUp {
          case a: AttributeReference =>
            state.output.find(o => resolver(o.name, a.name))
              .getOrElse(stateAttr(a.name))
        }
        org.apache.spark.sql.catalyst.plans.logical.Filter(remapped, state)
      case None => state
    }
    Some(Aggregate(groupTargets.map(stateGroupExpr), newOutputs, source))
  }
}

/** SparkSessionExtensions hook:
  * `.withExtensions(new GraftSparkExtensions()(_))` or
  * `spark.sql.extensions=graft.plans.GraftSparkExtensions`. */
class GraftSparkExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectOptimizerRule(AggRewriteRule)
}
