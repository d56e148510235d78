/**
 * Automatic summary-table rewrite for sketch aggregates.
 *
 * The accumulate/combine/estimate lifecycle lets users materialize
 * per-bucket sketches once and answer arbitrary-subset queries later —
 * but in the reference this pre-aggregation is entirely manual
 * (SURVEY.md §4: "the engine itself performs no automatic query rewrite").
 * This rule closes that gap: register a summary table for a base table,
 * and one-shot sketch aggregates over the base are rewritten to
 * combine+estimate over the (much smaller) summary whenever the query's
 * grouping is a coarsening of the summary's keys — the sketch-native
 * analogue of materialized-view rewriting.
 *
 * Keys may be plain base columns or DERIVED buckets — most importantly
 * tumbling `window(ts, ...)` buckets, the reference's flagship summary
 * shape. Registering with the summary's defining query captures each
 * derived key's expression; a query grouping by the same window — or by
 * any coarser tumbling window whose slide is a multiple of the summary's
 * (daily sketches answering weekly questions) — rewrites to bucket
 * arithmetic over the summary's stored window start, never rescanning
 * the base.
 *
 * Opt-in via `spark.sql.graft.summaryRewrite.enabled` (results are
 * approximate either way, but the merge tree differs, so estimates may
 * differ within the sketch's error bounds — same caveat as any
 * materialized sketch rollup). The rewrite only fires when the one-shot's
 * frozen sketch parameters match the summary's, when the value column's
 * hash domain matches what `_accumulate` stored, and when the aggregate
 * carries no FILTER clause (a `agg(...) FILTER (WHERE ...)` must keep
 * reading the base — the summary cannot apply a row-level filter).
 */
package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

/**
 * One summary key. Plain keys are base columns stored under the same
 * name; derived keys carry a structure `template` (attribute names
 * substituted for attribute identities, the tumbling-window slide masked
 * out) used to match query groupings, plus the window `slide` in
 * microseconds when the expression is a tumbling window.
 */
case class KeySpec(
    name: String,
    template: Option[Expression],
    slide: Option[Long]) {
  def isPlain: Boolean = template.isEmpty
}

/** What a registered summary provides for one base table: the sketch
 *  `family` its `_accumulate` froze, and the `combine` function that
 *  merges its sketches. `countCol` names a per-key `count(*)` column when
 *  the summary stores one ([[graft.plans.GraftSummaries.buildSummaryTable]]
 *  always does) — it lets MIXED aggregate lists (`sketch_agg(v), count(*)`)
 *  rewrite, the most common dashboard shape. */
case class SummarySpec(
    basePath: String,
    keys: Seq[KeySpec],
    valueCol: String,
    sketchCol: String,
    family: SketchFamily[_],
    combine: String,
    summaryPlan: LogicalPlan,
    countCol: Option[String] = None)

object SummaryCatalog {
  private val specs = new ConcurrentHashMap[String, SummarySpec]()

  val ENABLED_KEY = "spark.sql.graft.summaryRewrite.enabled"

  /** A summary kind: the `_accumulate` that builds the sketch column, the
   *  `_combine` that merges it, and the family `_accumulate` freezes from
   *  the current session conf. */
  private case class Kind(accumulate: String, combine: String, family: () => SketchFamily[_])

  private val kinds = Map(
    "distinct" -> Kind("approx_count_distinct_accumulate", "approx_count_distinct_combine",
      () => DistinctFamily.fromConf()),
    "quantile" -> Kind("approx_percentile_accumulate", "approx_percentile_combine",
      () => QuantileFamily.fromConf()),
    "freq" -> Kind("approx_freqitems_accumulate", "approx_freqitems_combine",
      () => FreqFamily.fromConf()),
    "tdigest" -> Kind("tdigest_accumulate", "tdigest_combine", () => TDigestFamily.fromConf()))

  private def kind(name: String): Kind = kinds.getOrElse(name, throw new IllegalArgumentException(
    s"unknown summary kind '$name' (expected distinct|quantile|freq|tdigest)"))

  /** The (accumulate, combine) function names of summary kind `name`. */
  def functions(name: String): (String, String) = {
    val k = kind(name)
    (k.accumulate, k.combine)
  }

  /**
   * Register `summary` (keys + one sketch column built by the `kindName`
   * kind's `_accumulate` over `valueCol` of the base parquet table at
   * `basePath`) for rewriting. Sketch algorithm/parameters are captured
   * from the current session conf, matching what `_accumulate` froze into
   * the summary. Pass the summary's defining query as `definition` when
   * any key is a derived bucket (e.g. `window(ts, '1 day')`) so its
   * expression can be matched against query groupings.
   */
  def register(
      basePath: String,
      summary: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      sketchCol: String,
      kindName: String,
      definition: Option[DataFrame] = None,
      countCol: Option[String] = None): Unit = {
    val k = kind(kindName)
    countCol.foreach { c =>
      require(summary.columns.contains(c), s"summary has no count column named $c")
    }
    val keys = keySpecs(keyCols, definition)
    val plan = summary.queryExecution.analyzed
    specs.put(normalize(basePath),
      SummarySpec(normalize(basePath), keys, valueCol, sketchCol, k.family(), k.combine, plan,
        countCol))
  }

  /** Extract each key's defining expression from the summary definition.
   *  Uses the OPTIMIZED plan: the rewrite rule matches query groupings
   *  mid-optimization, after constant folding has simplified the window
   *  arithmetic, so the stored template must be folded the same way. */
  private def keySpecs(keyCols: Seq[String], definition: Option[DataFrame]): Seq[KeySpec] =
    definition match {
      case None => keyCols.map(KeySpec(_, None, None))
      case Some(df) =>
        df.queryExecution.optimizedPlan match {
          case Aggregate(_, aggExprs, child, _) =>
            val aliases = PlanShapes.aliasMap(child)
            keyCols.map { kc =>
              val ne = aggExprs.find(_.name == kc).getOrElse(throw new IllegalArgumentException(
                s"Summary definition has no output column named $kc"))
              val raw = PlanShapes.substitute(ne match {
                case Alias(e, _) => e
                case e => e
              }, aliases)
              raw match {
                case _: AttributeReference => KeySpec(kc, None, None)
                case e =>
                  val slide = PlanShapes.tumblingSlide(e)
                  KeySpec(kc, Some(PlanShapes.template(e, slide)), slide)
              }
            }
          case other => throw new IllegalArgumentException(
            "Summary definition must be an aggregate query, got: " + other.nodeName)
        }
    }

  def unregister(basePath: String): Unit = specs.remove(normalize(basePath))
  def clear(): Unit = specs.clear()
  def get(path: String): Option[SummarySpec] = Option(specs.get(normalize(path)))
  def isEmpty: Boolean = specs.isEmpty

  private def normalize(p: String): String = p.stripSuffix("/").replaceFirst("^file:", "")
}

/** Plan/expression shape helpers shared by registration and rewrite. */
private[graft] object PlanShapes {

  /** exprId -> defining expression (inlined down to base attrs) for every
   *  Alias in the Projects of `plan`. */
  def aliasMap(plan: LogicalPlan): Map[ExprId, Expression] = plan match {
    case Project(projList, child) =>
      val below = aliasMap(child)
      below ++ projList.collect { case a @ Alias(e, _) => a.exprId -> substitute(e, below) }
    case Filter(_, child) => aliasMap(child)
    case _ => Map.empty
  }

  def substitute(e: Expression, m: Map[ExprId, Expression]): Expression =
    if (m.isEmpty) e
    else e.transformUp { case a: AttributeReference if m.contains(a.exprId) => m(a.exprId) }

  /**
   * Identity-free structural fingerprint of a key expression: attributes
   * become name markers, and (when `slide` is given) every occurrence of
   * the slide literal becomes a mask — so a daily and a weekly window
   * over the same column produce the SAME template, differing only in
   * their extracted slide.
   */
  def template(e: Expression, slide: Option[Long]): Expression = {
    val named = e.transformUp {
      case a: AttributeReference => Literal.create("graft-attr:" + a.name, StringType)
    }
    slide match {
      case Some(s) => named.transformUp {
        case Literal(v: Long, LongType) if v == s => Literal(-1L, LongType)
      }
      case None => named
    }
  }

  /**
   * The slide (microseconds) of an analyzed tumbling-window struct: the
   * TimeWindowing rule's output has the slide as the unique `% slide`
   * divisor inside a named_struct(start, end). Returns None for any other
   * shape (safe: no window coarsening is attempted).
   */
  def tumblingSlide(e: Expression): Option[Long] = e match {
    case _: CreateNamedStruct =>
      e.collect { case Remainder(_, Literal(s: Long, LongType), _) => s }.distinct match {
        case Seq(s) if s > 0 => Some(s)
        case _ => None
      }
    case _ => None
  }

  /**
   * Rewrite a query-side tumbling-window expression to run over the
   * summary's stored bucket instead of the base timestamp: every
   * `precisetimestampconversion(ts, Timestamp, Long)` leaf re-reads the
   * summary key's window START. Correct whenever the summary slide
   * divides the query slide (flooring an already-W1-floored timestamp to
   * W2 is flooring the original, for W1 | W2).
   */
  def overSummaryBucket(queryExpr: Expression, summaryKey: Attribute): Option[Expression] = {
    val start: Option[Expression] = summaryKey.dataType match {
      case t: StructType =>
        val i = t.fieldNames.indexOf("start")
        if (i >= 0 && t.fields(i).dataType == TimestampType) {
          Some(GetStructField(summaryKey, i, Some("start")))
        } else None
      case TimestampType => Some(summaryKey)
      case _ => None
    }
    start.map { s =>
      queryExpr.transformUp {
        case p @ PreciseTimestampConversion(_, TimestampType, LongType) => p.copy(child = s)
      }
    }
  }
}

case class SummaryRewriteRule(spark: SparkSession) extends Rule[LogicalPlan]
  with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (SummaryCatalog.isEmpty ||
      !spark.conf.get(SummaryCatalog.ENABLED_KEY, "false").toBoolean) {
      return plan
    }
    plan.transformUp {
      case agg @ Aggregate(groupings, aggExprs, child, _) =>
        tryRewrite(agg, groupings, aggExprs, child).getOrElse(agg)
    }
  }

  /** What the descent below an Aggregate found. */
  private case class BaseMatch(
      spec: SummarySpec,
      keyFilter: Option[Expression],
      aliases: Map[ExprId, Expression],
      notNullGuards: Seq[Expression])

  /**
   * Strip Projects / key-only Filters down to the base relation,
   * accumulating project-alias definitions (so derived groupings like the
   * TimeWindowing-generated window struct can be inlined). IsNotNull
   * conjuncts are collected rather than vetoing here; [[tryRewrite]]
   * tolerates exactly those whose child is a subexpression of a derived
   * grouping used by the query (the guard TimeWindowing inserts; the
   * summary's own definition filtered identically) and vetoes the rest —
   * e.g. `nullif(ts, X) IS NOT NULL` genuinely filters rows.
   */
  private def findBase(plan: LogicalPlan): Option[BaseMatch] =
    plan match {
      case LogicalRelation(rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        rel.location.rootPaths.headOption
          .flatMap(p => SummaryCatalog.get(p.toString))
          .map(s => BaseMatch(s, None, Map.empty, Nil))
      // DataSource V2 path (spark.sql.sources.useV1SourceList excludes
      // parquet): same root-path lookup through the FileTable's index.
      // Both shapes occur — DataSourceV2Relation before pushdown,
      // DataSourceV2ScanRelation after V2ScanRelationPushDown runs.
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2BaseMatch(r.table)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        // V2ScanRelationPushDown REMOVES pushed partition filters from the
        // logical plan, so a scan carrying any pushed predicate must not
        // match as an unfiltered base (the rewrite would answer the
        // unfiltered aggregate for a filtered query). Only a provably
        // predicate-free FileScan qualifies; any other Scan type is
        // opaque to this check and is vetoed too.
        r.scan match {
          case fs: org.apache.spark.sql.execution.datasources.v2.FileScan
              if fs.partitionFilters.isEmpty && fs.dataFilters.isEmpty =>
            v2BaseMatch(r.relation.table)
          case _ => None
        }
      case Project(projectList, child) =>
        if (!projectList.forall(e => e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias])) {
          return None
        }
        findBase(child).map { bm =>
          val own = projectList.collect {
            case a @ Alias(e, _) => a.exprId -> PlanShapes.substitute(e, bm.aliases)
          }
          bm.copy(aliases = bm.aliases ++ own)
        }
      case Filter(cond, child) =>
        findBase(child).flatMap { bm =>
          val plainKeys = bm.spec.keys.filter(_.isPlain).map(_.name).toSet
          val inlined = PlanShapes.substitute(cond, bm.aliases)
          var keyConjuncts = Seq.empty[Expression]
          var guards = bm.notNullGuards
          splitConjunctivePredicates(inlined).foreach {
            case c if c.references.forall(a => plainKeys.contains(a.name)) =>
              keyConjuncts :+= c
            case IsNotNull(e) => guards :+= e
            case _ => return None
          }
          val merged = (bm.keyFilter.toSeq ++ keyConjuncts).reduceOption(And)
          Some(bm.copy(keyFilter = merged, notNullGuards = guards))
        }
      case _ => None
    }

  private def v2BaseMatch(
      table: org.apache.spark.sql.connector.catalog.Table): Option[BaseMatch] =
    table match {
      case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
        ft.fileIndex.rootPaths.headOption
          .flatMap(p => SummaryCatalog.get(p.toString))
          .map(s => BaseMatch(s, None, Map.empty, Nil))
      case _ => None
    }

  private def tryRewrite(
      agg: Aggregate,
      groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val bm = findBase(child).getOrElse(return None)
    val spec = bm.spec

    val summaryOut = spec.summaryPlan.output
    def summaryAttr(name: String): Option[Attribute] = summaryOut.find(_.name == name)
    val sketchAttr = summaryAttr(spec.sketchCol).getOrElse(return None)
    val countAttr = spec.countCol.flatMap(summaryAttr)

    // Resolve every grouping to an expression over the summary. Derived
    // keys land in a projection below the new Aggregate (mirroring how
    // TimeWindowing itself structures window groupings).
    val derivedProj = scala.collection.mutable.ArrayBuffer.empty[Alias]
    val derivedExprs = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val groupingRepl: Map[ExprId, NamedExpression] = groupings.map {
      case a: AttributeReference =>
        val inlined = PlanShapes.substitute(a, bm.aliases)
        val repl: NamedExpression = inlined match {
          case base: AttributeReference =>
            // plain key column
            val ks = spec.keys.find(k => k.isPlain && k.name == base.name).getOrElse(return None)
            summaryAttr(ks.name).getOrElse(return None)
          case derived =>
            val slide = PlanShapes.tumblingSlide(derived)
            val tmpl = PlanShapes.template(derived, slide)
            val ks = spec.keys.find(k => k.template.contains(tmpl)).getOrElse(return None)
            val keyAttr = summaryAttr(ks.name).getOrElse(return None)
            val expr: Expression = (slide, ks.slide) match {
              case (Some(sq), Some(ss)) if sq == ss => keyAttr
              case (Some(sq), Some(ss)) if sq % ss == 0 =>
                PlanShapes.overSummaryBucket(derived, keyAttr).getOrElse(return None)
              case (None, None) => keyAttr // identical non-window derived bucket
              case _ => return None
            }
            derivedExprs += derived
            expr match {
              case ne: NamedExpression => ne
              case e =>
                val al = Alias(e, "__graft_bucket_" + derivedProj.size)()
                derivedProj += al
                al.toAttribute
            }
        }
        a.exprId -> repl
      case _ => return None
    }.toMap

    // An IsNotNull conjunct is tolerable only if its child IS (a
    // subexpression of) a derived grouping this query uses — exactly the
    // null guard TimeWindowing inserts for the window's time expression.
    // Any other IsNotNull (e.g. over nullif(ts, X)) filters rows the
    // summary still contains, so it vetoes the rewrite.
    if (!bm.notNullGuards.forall(g =>
        derivedExprs.exists(d => d.exists(_.semanticEquals(g))))) {
      return None
    }

    // every output is either a group key or a rewritable one-shot,
    // FILTER-free sketch aggregate
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if groupingRepl.contains(a.exprId) =>
        Alias(groupingRepl(a.exprId), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name) if groupingRepl.contains(a.exprId) =>
        // group key re-aliased in the output (e.g. `window(...) AS day`)
        Alias(groupingRepl(a.exprId), name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        val rewritten = rewriteFunction(fn, spec, sketchAttr, countAttr).getOrElse(return None)
        Alias(rewritten, name)(exprId = al.exprId)
      case _ => return None
    }

    val newGroupings: Seq[Expression] = groupings.map {
      case a: AttributeReference => groupingRepl(a.exprId)
      case _ => return None
    }

    val filtered = bm.keyFilter match {
      case Some(cond) =>
        val remapped = cond.transform {
          case a: AttributeReference => summaryAttr(a.name).getOrElse(return None)
        }
        Filter(remapped, spec.summaryPlan)
      case None => spec.summaryPlan
    }
    val newChild =
      if (derivedProj.isEmpty) filtered
      else Project(filtered.output ++ derivedProj, filtered)
    logInfo(s"graft summary rewrite: aggregate over ${spec.basePath} now reads the " +
      s"registered ${spec.family.label} summary")
    Some(Aggregate(newGroupings, newAggExprs, newChild, None))
  }

  /** One-shot agg -> estimate(combine(sketch)), iff the one-shot's family
   *  (its frozen params) is the summary's, its value column is one
   *  `_accumulate` takes as is (the same hash domain), and the estimate
   *  has the one-shot's type. `count(*)` (and `count(<non-null literal>)`)
   *  additionally maps to `sum(countCol)` when the summary stores per-key
   *  row counts — this is what lets the common `sketch_agg(v), count(*)`
   *  dashboard list rewrite instead of falling back to the base scan.
   *  `count(col)` does NOT map (it skips nulls row-by-row, which the
   *  stored total cannot reproduce). */
  private def rewriteFunction(
      fn: Expression,
      spec: SummarySpec,
      sketchAttr: Attribute,
      countAttr: Option[Attribute]): Option[Expression] = fn match {
    case aggregate.Count(children)
        if children.forall {
          case l: Literal => l.value != null
          case _ => false
        } && countAttr.isDefined =>
      // per-group row total = exact sum of the summary's per-key counts;
      // groups always have >= 1 summary row, so the sum is never null
      Some(AggregateExpression(
        aggregate.Sum(countAttr.get), Complete, isDistinct = false))
    case oneShot: SketchOneShot[_] if oneShot.family == spec.family =>
      oneShot.children.head match {
        case value: AttributeReference if value.name == spec.valueCol &&
            spec.family.inputTypes.head.acceptsType(value.dataType) =>
          val combined = AggregateExpression(
            SketchCombine(sketchAttr, spec.family, spec.combine), Complete, isDistinct = false)
          spec.family.estimateFromSketch(combined, oneShot.children)
            .filter(_.dataType == oneShot.dataType)
        case _ => None
      }
    case _ => None
  }
}
