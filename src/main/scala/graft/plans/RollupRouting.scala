package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

import graft.sink.MetricsSink

/** SURVEY §4 v1 stretch — the materialized-view rewrite the reference does at
  * the app level (`selectTable`, handler.go:304-321) as a Catalyst rule: an
  * `Aggregate` that re-derives a rollup tier from `metrics_raw` is rewritten
  * to a scan of the STORED tier, turning a full raw scan + hash aggregation
  * into a pre-aggregated read. At 100 TB of raw this is the difference
  * between touching a day of raw events and reading the few-GB 1m table.
  *
  * The rewrite fires only where it is provably EXACT:
  *   - grouping = one `bucketMs(ts_ms, W)` expression (W ∈ 1m/5m/1h — the
  *     stored grains) plus a SUBSET of the tier's series key columns
  *     (`spark.graft.rollup.keys`, default workspace_id,metric,series_hash).
  *     Grouping on exactly the tier keys is a row-level rename of the tier;
  *     a coarser grouping (e.g. per-metric dashboards) re-aggregates the
  *     tier — min over value_min, max over value_max, sums over
  *     count/sum/samples_count are all exact over any regrouping;
  *   - aggregates ⊆ { min(value), max(value), avg(value), count(1),
  *     sum(count), sum(sum), merge_buckets_agg(buckets) } mapped to
  *     { value_min, value_max, value_avg, samples_count, count, sum,
  *     merge of the stored bucket concat } — the last being the histogram
  *     dashboard shape (README.md:161-170 is the reference's own
  *     histogram_quantile-over-buckets read; the quantile itself is a scalar
  *     wrapper over the merged vector and passes through like any other);
  *     each call may sit inside an arbitrary
  *     deterministic scalar wrapper (`round(avg(value), 4)`,
  *     `max(value) - min(value)` — CollapseProject folds user projections
  *     into the Aggregate before this rule runs, so wrapped calls are the
  *     COMMON shape, not the exception). `avg(value)` routes ONLY to the 1m tier
  *     at exact-key grouping: the coarser tiers store the reference's
  *     faithful avg-of-avgs (schema.sql:262,353), which differs from
  *     avg-over-raw, and regrouped averages are not derivable from the
  *     stored columns at all (the full tiers keep no value_sum);
  *   - filters on key columns pass through (they are tier grouping keys);
  *     time bounds must be `ts_ms >= L` / `ts_ms < U` with L,U multiples of
  *     W (an unaligned bound would slice a bucket) and U bounded by
  *     `spark.graft.rollup.freshAsOfMs` — the caller's assertion of how far
  *     the maintenance cascade has refreshed the stored tiers. No upper
  *     bound → no freshness proof → no rewrite.
  *
  * Matching is alias-aware: by the time this rule runs (pre-CBO / post-hoc),
  * `PullOutGroupingExpressions` has moved the bucket computation into a
  * Project below the Aggregate — intermediate Project aliases are collected
  * and substituted back before the pattern is inspected.
  *
  * Retention note — "exact" means exact over the data the QUERY SPAN
  * denotes, which is the stronger of the two answers once retention has
  * run: the tiers retain far longer than raw (15d/63d/455d vs 3h), so for
  * a span raw has already partition-dropped, the unrewritten raw scan
  * silently aggregates nothing while the routed plan returns the stored
  * history. That asymmetry is the point of resolution routing — the
  * reference sends aged queries to the rollup tables precisely because raw
  * has TTL'd out (handler.go:304-321) — and the freshness watermark bounds
  * the other direction (the tier never lags the span's upper edge).
  *
  * Enabled per session by setting BOTH `spark.graft.rollup.baseDir` and
  * `spark.graft.rollup.freshAsOfMs`; inert otherwise. Registered via
  * [[GraftExtensions]] or `spark.experimental.extraOptimizations`.
  * [[graft.GraftApp.maintain]] publishes these confs automatically after
  * each successful cascade refresh (gated by `maintenance.publish_routing`),
  * so on a running app's session dashboard aggregates route without any
  * per-query setup.
  */
case class RollupRouting(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private val grains: Map[Long, MetricsSink.Tier] = Map(
    60000L -> MetricsSink.M1, 300000L -> MetricsSink.M5,
    3600000L -> MetricsSink.H1)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val baseDir = session.conf.getOption("spark.graft.rollup.baseDir")
    val freshMs = session.conf.getOption("spark.graft.rollup.freshAsOfMs")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    if (baseDir.isEmpty || freshMs.isEmpty) plan
    else {
      val keys = session.conf
        .getOption("spark.graft.rollup.keys")
        .getOrElse("workspace_id,metric,series_hash")
        .split(',').map(_.trim).filter(_.nonEmpty).toSet
      plan.transformUp {
        case agg: Aggregate =>
          // an optimizer rule must never fail the query it declines to
          // rewrite: any residual resolution surprise (tier dir vanishing
          // between the exists-check and the scan, schema drift) degrades
          // to "no rewrite", not AnalysisException
          scala.util.Try(rewrite(agg, baseDir.get, freshMs.get, keys))
            .toOption.flatten.getOrElse(agg)
      }
    }
  }

  /** The Aggregate's child must be metrics_raw under `baseDir`, seen through
    * deterministic Projects (whose aliases are collected for substitution)
    * and Filters (whose conjuncts are collected). */
  private def stripToRaw(p: LogicalPlan, baseDir: String,
      conds: Seq[Expression], defs: Map[ExprId, Expression])
      : Option[(Seq[Expression], Map[ExprId, Expression])] = p match {
    case f: Filter =>
      stripToRaw(f.child, baseDir,
        conds ++ splitConjunctivePredicates(f.condition), defs)
    case pr: Project if pr.deterministic && pr.projectList.forall {
      case _: AttributeReference => true
      case _: Alias => true
      case _ => false
    } =>
      val more = pr.projectList.collect {
        case a: Alias => a.exprId -> a.child
      }
      stripToRaw(pr.child, baseDir, conds, defs ++ more)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.exists(rp =>
        rp.toString.stripSuffix("/").endsWith("/metrics_raw") &&
          rp.toString.contains(baseDir.stripSuffix("/"))) => Some((conds, defs))
      case _ => None
    }
    case _ => None
  }

  private def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case _ => e
  }

  /** Inline collected Project aliases (bounded fixpoint — defs can chain). */
  private def substitute(e: Expression, defs: Map[ExprId, Expression]): Expression = {
    var cur = e
    var i = 0
    while (i < 8) {
      val next = cur.transformUp {
        case a: AttributeReference if defs.contains(a.exprId) => defs(a.exprId)
      }
      if (next.semanticEquals(cur)) return cur
      cur = next; i += 1
    }
    cur
  }

  /** `ts_ms - pmod(ts_ms, W)` for a stored grain W ([[graft.metrics.Rollup
    * .bucketMs]]; casts folded away by the optimizer on the long column). */
  private def bucketGrain(e: Expression): Option[Long] = e match {
    case s: Subtract => s.right match {
      case pm: Pmod => (pm.right, stripLongCast(s.left), stripLongCast(pm.left)) match {
        case (Literal(w: Long, LongType), l: AttributeReference, r: AttributeReference)
          if l.name == "ts_ms" && r.name == "ts_ms" && l.exprId == r.exprId &&
            grains.contains(w) => Some(w)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def stripLongCast(e: Expression): Expression = e match {
    case c: Cast if c.dataType == LongType => stripLongCast(c.child)
    case _ => e
  }

  private def colNamed(e: Expression, n: String): Boolean = e match {
    case a: AttributeReference => a.name == n
    case _ => false
  }

  /** p_date conjuncts for the tier scan from the ms time bounds. Partition
    * values read back as [[MetricsSink.read]] declares them: DateType for
    * daily `yyyy-MM-dd` dirs, IntegerType for monthly `yyyyMM` — literals
    * are built to match, so `PruneFileSourcePartitions` drops whole
    * directories. An unexpected
    * partition column type just skips pruning (the bucket_ms bounds remain
    * correct without it). */
  private def partitionBounds(byName: Map[String, Attribute],
      tier: MetricsSink.Tier, lower: Option[Long],
      upper: Option[Long]): Seq[Expression] = {
    import org.apache.spark.sql.types.{DateType, IntegerType}
    def day(ms: Long) = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
    byName.get(MetricsSink.PartitionCol).toSeq.flatMap { pd =>
      def lit(ms: Long): Option[Literal] = pd.dataType match {
        case DateType if !tier.monthly =>
          Some(Literal(day(ms).toEpochDay.toInt, DateType))
        case IntegerType if tier.monthly =>
          val d = day(ms); Some(Literal(d.getYear * 100 + d.getMonthValue))
        case _ => None
      }
      lower.flatMap(l => lit(l).map(GreaterThanOrEqual(pd, _))) ++
        // upper bound is exclusive on bucket_ms → inclusive on day(U − 1ms)
        upper.flatMap(u => lit(u - 1).map(LessThanOrEqual(pd, _)))
    }
  }

  /** Map one aggregate function to its stored tier column, or None. */
  private def mapAgg(fn: AggregateFunction): Option[String] = fn match {
    case m: Min if colNamed(m.child, "value") => Some("value_min")
    case m: Max if colNamed(m.child, "value") => Some("value_max")
    case a: Average if colNamed(a.child, "value") => Some("value_avg")
    case c: Count if c.children.forall(_.foldable) => Some("samples_count")
    case s: Sum if colNamed(s.child, "count") => Some("count")
    case s: Sum if colNamed(s.child, "sum") => Some("sum")
    // histogram dashboards: the merged bucket vector over raw equals the
    // merge of the tier's stored bucket CONCAT (the tier stores
    // flatten(collect_list(buckets)) — the same (le,count) entry multiset),
    // so the call re-aggregates the tier via the reagg path below
    case b: graft.functions.MergeBucketsAgg if colNamed(b.child, "buckets") =>
      Some("buckets")
    case _ => None
  }

  private def rewrite(agg: Aggregate, baseDir: String, freshAsOfMs: Long,
      keys: Set[String]): Option[LogicalPlan] = {
    val (rawConds, defs) =
      stripToRaw(agg.child, baseDir, Nil, Map.empty).getOrElse(return None)
    def inline(e: Expression): Expression =
      substitute(stripAlias(e), defs)

    // grouping: exactly one stored-grain bucket + exactly the tier keys
    val inlinedGroupings = agg.groupingExpressions.map(inline)
    val grain = {
      val gs = inlinedGroupings.flatMap(bucketGrain)
      if (gs.length != 1) return None else gs.head
    }
    val groupKeyNames = inlinedGroupings.filter(bucketGrain(_).isEmpty).map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (!groupKeyNames.toSet.subsetOf(keys) ||
      groupKeyNames.distinct.length != groupKeyNames.length) return None
    // exact-key grouping reads tier rows 1:1; a key subset re-aggregates them
    val regroup = groupKeyNames.toSet != keys
    // a bucket merge forces the re-aggregation path even at exact keys: the
    // tier stores the UNMERGED entry concat, and merging it needs an
    // Aggregate node (over singleton groups, so every other mapping — min,
    // max, sums, even avg — stays exact; the tier's primary key IS the
    // grouping, one stored row per group)
    val needsBucketMerge = agg.aggregateExpressions.exists(_.exists {
      case _: graft.functions.MergeBucketsAgg => true
      case _ => false
    })
    val reagg = regroup || needsBucketMerge
    val tier = grains(grain)

    // filters: key predicates pass through; time bounds must be grain-aligned
    // and prove freshness coverage via an upper bound
    var lower = Option.empty[Long]
    var upper = Option.empty[Long]
    val rewrittenConds = rawConds.map(inline).map { c =>
      if (c.references.nonEmpty && c.references.forall(a => keys(a.name))) c
      else c match {
        // the optimizer's inferred null guard on the range column; a stored
        // bucket_ms derives from the same non-null ts_ms
        case IsNotNull(a: AttributeReference) if a.name == "ts_ms" =>
          IsNotNull(Marker)
        case GreaterThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
          if a.name == "ts_ms" && v % grain == 0 =>
          lower = Some(lower.fold(v)(math.max(_, v)))
          GreaterThanOrEqual(Marker, Literal(v, LongType))
        case LessThan(a: AttributeReference, Literal(v: Long, LongType))
          if a.name == "ts_ms" && v % grain == 0 =>
          upper = Some(upper.fold(v)(math.min(_, v)))
          LessThan(Marker, Literal(v, LongType))
        case _ => return None
      }
    }
    if (!upper.exists(_ <= freshAsOfMs)) return None

    // the stored tier's analyzed relation, resolved fresh per rewrite (the
    // maintenance cascade rewrites these directories between queries) under
    // its recorded schema, so planning starts no job. A tier that is not
    // materialized yet (no record, no directory, or no data file listed) or
    // cannot be resolved is not an error — the raw-scan plan stands
    val tierPlan = scala.util.Try(
      MetricsSink.read(session, baseDir, tier).queryExecution.analyzed)
      .getOrElse(return None)
    if (tierPlan.collect { case lr: LogicalRelation => lr.relation }
      .collect { case r: HadoopFsRelation => r.location.inputFiles.length }.sum == 0)
      return None
    val byName = tierPlan.output.map(a => a.name -> a).toMap
    if (!byName.contains("bucket_ms")) return None
    // every key column the conditions or grouping reference must exist in
    // the tier schema — a configured rollup key absent from the stored table
    // (custom spark.graft.rollup.keys) declines, never throws
    val referencedKeys = groupKeyNames.toSet ++
      rewrittenConds.flatMap(_.references.toSeq).map(_.name).filter(keys)
    if (!referencedKeys.forall(byName.contains)) return None

    /** Rewrite one Aggregate output against the tier. Aggregate CALLS may
      * sit inside an arbitrary deterministic scalar expression (CollapseProject
      * folds a user's `round(avg(value) + 1e-9, 4)` or unit arithmetic into
      * the Aggregate before this rule runs) — each call is substituted with
      * its stored column (or its exact re-aggregation when regrouping) and
      * the surrounding scalars are preserved on top of the tier read. Any
      * unmappable call, DISTINCT/FILTER modifier, or unknown column declines
      * the whole rewrite. */
    def mapOutput(ne: NamedExpression): Option[NamedExpression] = {
      val inlined = inline(ne)
      if (!inlined.deterministic) return None
      var ok = true
      val core = inlined.transformUp {
        case e if bucketGrain(e).isDefined => byName("bucket_ms")
        case ae: AggregateExpression =>
          if (ae.isDistinct || ae.filter.nonEmpty) { ok = false; ae }
          else {
            val fn = ae.aggregateFunction.transformUp {
              case x => substitute(x, defs)
            }.asInstanceOf[AggregateFunction]
            mapAgg(fn) match {
              // avg-of-avgs ≠ avg-over-raw: value_avg is exact at 1m only,
              // and regrouped averages are not derivable from the stored
              // columns at all (the full tiers keep no value_sum)
              case Some(c) if byName.contains(c) &&
                  !(c == "value_avg" && (tier != MetricsSink.M1 || regroup)) =>
                if (!reagg) byName(c)
                else (c match {
                  // min of mins, max of maxes, sums of count/sum/samples —
                  // exact over any regrouping of the tier's disjoint groups
                  case "value_min" => Min(byName(c))
                  case "value_max" => Max(byName(c))
                  // reachable only via needsBucketMerge at exact keys
                  // (regroup excludes value_avg above): singleton groups,
                  // avg of one stored row = that row — exact
                  case "value_avg" => Average(byName(c))
                  case "buckets" => graft.functions.MergeBucketsAgg(byName(c))
                  case _ => Sum(byName(c))
                }).toAggregateExpression()
              case _ => ok = false; ae
            }
          }
        case a: AttributeReference if keys(a.name) =>
          byName.get(a.name).getOrElse { ok = false; a }
      }
      if (ok) Some(Alias(core, ne.name)(exprId = ne.exprId)) else None
    }
    val outputs: Seq[NamedExpression] = agg.aggregateExpressions
      .map(ne => mapOutput(ne).getOrElse(return None))

    // re-resolve markers and key references against the tier relation
    val resolvedConds = rewrittenConds.map(_.transformUp {
      case Marker => byName("bucket_ms")
      case a: AttributeReference if keys(a.name) => byName(a.name)
    })
    // derive PARTITION pruning from the time bounds: the p_date directory
    // value is monotone in bucket_ms, so the bounds map onto a directory
    // range and the routed scan prunes to it — without this, a one-day read
    // of a 455-day 1h tier would still list and stat every partition
    val pruneConds = partitionBounds(byName, tier, lower, upper)
    val filtered = (resolvedConds ++ pruneConds).reduceOption(And)
      .map(Filter(_, tierPlan)).getOrElse(tierPlan)

    // preserve the Aggregate's output attribute ids so parents are untouched
    if (!reagg) {
      // exact-key grouping reads tier rows 1:1 — a Project over the scan
      Some(Project(outputs, filtered))
    } else {
      // key-subset grouping (or a bucket merge over the stored concat):
      // re-aggregate the tier (mapOutput already turned each call into its
      // exact re-aggregation over the stored columns)
      val newGrouping: Seq[Expression] = inlinedGroupings.map { g =>
        if (bucketGrain(g).isDefined) byName("bucket_ms")
        else byName(g.asInstanceOf[AttributeReference].name)
      }
      Some(Aggregate(newGrouping, outputs, filtered))
    }
  }
}

/** Placeholder for the tier's bucket_ms attribute while the source-side
  * condition tree is being rewritten; resolved before the plan is returned. */
private[plans] case object Marker extends LeafExpression with Unevaluable {
  override def dataType: org.apache.spark.sql.types.DataType = LongType
  override def nullable: Boolean = true
}
