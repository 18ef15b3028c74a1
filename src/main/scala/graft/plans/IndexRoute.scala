package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.cell.{CellFooterCache, GraftCell, GraftCellMaintenance, GraftCellTable}

/** AUTOMATIC secondary-index routing (r20 — Phoenix's core promise:
  * the index engages from PLAIN SQL, not from a hand-wired probe
  * pipeline). Optimizer rule, injected by [[graft.GraftExtensions]]:
  * a value-predicate read on a graftcell catalog table
  *
  * {{{ SELECT ... FROM t WHERE family='f' AND qualifier='q' AND value='k' }}}
  *
  * is a FULL SCAN + row filter without help — the predicate is on a
  * VALUE, unanswerable by rowkey math. When a catalog-discoverable
  * global secondary index covers (f, q), the rule answers from the
  * index. Two forms, chosen per query:
  *
  * COVERED (the default — Phoenix's covered query): every base
  * column reconstructs from the index row alone (rowkey = the
  * back-pointer, version carried, family/qualifier = the predicate's
  * literals, value = the seek prefix of the index rowkey, recovered
  * EXACTLY by length arithmetic), so the whole subtree rewrites to
  *
  * {{{ Project(reconstruction)(
  *       Filter(cond remapped)(
  *         Filter(rowkey startsWith seek, index))) }}}
  *
  * — ONE index prefix-seek, no join, the base store never touched
  * (`graft.Scale route` measures it flat at O(matches) across 32× store
  * growth while the indexless twin tracks the store). Output
  * attributes keep their original exprIds, so parents are untouched,
  * and the FULL original condition re-evaluates on the
  * reconstruction — a fabricated row cannot survive it.
  *
  * SEMI-JOIN (the fallback — when the output needs a metadata column
  * the index cannot reconstruct, or the condition is
  * non-deterministic and must keep evaluating over base rows):
  *
  * {{{ Filter(cond, base LEFT SEMI JOIN_broadcast
  *                  Project(value)(
  *                    Filter(rowkey startsWith seek, index))) }}}
  *
  * — the broadcast build side is the seek's back-pointers, and
  * because [[graft.sources.cell]]'s batch scan supports runtime
  * filtering on `rowkey`, the join pushes the key set into the base
  * scan at runtime: region files prune exactly as a hand-written
  * multiget would, with no driver-side collect at ANY probe
  * cardinality (the r19 `cell_index_probe` key collected
  * back-pointers on the driver). The original filter stays on top,
  * so seek false positives die on it.
  *
  * Soundness gates — the rule routes ONLY when all hold, and falls
  * back to the plain scan otherwise (loudly-by-plan, never
  * wrongly-by-data):
  *
  *  1. the relation is the LIVE view (never time travel — the index
  *     mirrors the live view only);
  *  2. the filter carries top-level string equalities on family and
  *     qualifier, plus a value equality OR a bounded value IN-list
  *     (≤ [[MAX_IN_SEEKS]] members — each becomes one prefix-seek
  *     disjunct, the index-side MultiRowRangeFilter shape); duplicate
  *     contradictory predicates are fine: candidates are a superset,
  *     the retained filter decides;
  *  3. the store is provably null-rowkey-free (every region file's
  *     footer stats say nullKeys = 0): the index cannot carry
  *     null-rowkey cells (not seekable), so a null-rowkey cell
  *     matching the value predicate would be dropped by the
  *     semi-join — with any null rowkeys present the rule declines;
  *  4. the index's sync state ([[GraftCellMaintenance.idxSyncState]],
  *     the SAME predicate `g.t.indexes` reports and `sync_index` acts
  *     on) says the index covers the live view exactly: boundary
  *     present, pins intact, no later structural event, zero delta
  *     generations. A stale index falls back to the scan.
  *
  * Driver cost per candidate Filter: one sibling listing + marker
  * reads + cached footer metadata — metadata-only, no data I/O. The
  * condition-shape check runs first, so non-matching filters (the
  * overwhelming majority) pay a few pattern matches. A routed
  * relation is tagged so the fixed-point optimizer batch cannot
  * re-route the copy of the filter it pushes below the new join. */
object IndexRoute extends Rule[LogicalPlan] with PredicateHelper {

  /** Set on a relation once this rule has routed it — the pushed-down
    * residual filter above the SAME relation instance must not route
    * again (the optimizer batch runs to fixed point). */
  private[graft] val ROUTED = TreeNodeTag[Boolean]("graft.index.routed")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, rel: DataSourceV2Relation) =>
      rel.table match {
        case t: GraftCellTable
            if t.isLiveView && rel.getTagValue(ROUTED).isEmpty =>
          route(cond, rel, t).getOrElse(f)
        case _ => f
      }
  }

  /** Top-level `col = 'literal'` string equalities of the condition,
    * keyed by column name (first occurrence wins — a second,
    * contradictory equality leaves the routed plan a superset that
    * the retained filter empties). */
  private def stringEqs(cond: Expression,
                        rel: DataSourceV2Relation): Map[String, String] = {
    val out = rel.outputSet
    splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, Literal(v: UTF8String, StringType))
          if out.contains(a) && v != null => Some(a.name -> v.toString)
      case EqualTo(Literal(v: UTF8String, StringType), a: AttributeReference)
          if out.contains(a) && v != null => Some(a.name -> v.toString)
      case _ => None
    }.foldLeft(Map.empty[String, String]) {
      case (m, (k, v)) => if (m.contains(k)) m else m + (k -> v)
    }
  }

  /** Longest an IN-list may be and still route: each member becomes a
    * prefix-seek disjunct the index scan prunes by (the connector
    * unions per-disjunct file survivors), so the plan grows linearly
    * with the list. Past this, the seek's pruning value is gone and
    * the plain scan is the honest plan. */
  private val MAX_IN_SEEKS = 64

  /** The value-column seek set as RAW index-rowkey prefixes: ONE
    * top-level value conjunct —
    *
    *  - an equality (one seek: `v ++ 0x00` — the separator terminates
    *    the value, so longer values sharing the prefix cannot ride);
    *  - a bounded IN-list (a multi-seek, HBase's MultiRowRangeFilter
    *    shape on the index);
    *  - a value PREFIX — `value LIKE 'p%'` / startsWith (r20's
    *    highest-leverage form: a point probe is already bounded by
    *    the per-file and parquet row-group value blooms, but NOTHING
    *    else prunes a RANGE over a high-cardinality value column —
    *    range stats span, blooms are point-only — so the indexless
    *    plan is a genuine full scan; the index turns it into one
    *    UNTERMINATED rowkey-prefix seek, exactly `graft.Scale index`'s
    *    measured O(matches) case).
    *
    * Sound as the semi-join build for the WHOLE condition: a row
    * matching every conjunct matches this one, so its back-pointer is
    * in the seek's result — candidates are a superset and the
    * retained filter exacts. Equality/IN are preferred over a prefix
    * (tighter seeks) when both appear. */
  private def valueSeeks(cond: Expression,
                         rel: DataSourceV2Relation): Option[Seq[String]] = {
    val out = rel.outputSet
    def isValue(a: AttributeReference) =
      out.contains(a) && a.name == "value"
    val conjuncts = splitConjunctivePredicates(cond)
    val exact = conjuncts.flatMap {
      case EqualTo(a: AttributeReference, Literal(v: UTF8String, StringType))
          if isValue(a) && v != null => Some(Seq(v.toString + "\u0000"))
      case EqualTo(Literal(v: UTF8String, StringType), a: AttributeReference)
          if isValue(a) && v != null => Some(Seq(v.toString + "\u0000"))
      case In(a: AttributeReference, vs)
          if isValue(a) && vs.nonEmpty && vs.length <= MAX_IN_SEEKS &&
             vs.forall {
               case Literal(u: UTF8String, StringType) => u != null
               case _                                  => false
             } =>
        Some(vs.map { case Literal(u: UTF8String, _) =>
          u.toString + "\u0000" })
      case _ => None
    }.headOption
    exact.orElse(conjuncts.flatMap {
      case StartsWith(a: AttributeReference,
                      Literal(p: UTF8String, StringType))
          if isValue(a) && p != null && p.numBytes() > 0 =>
        Some(Seq(p.toString))
      case _ => None
    }.headOption)
  }

  private def route(cond: Expression, rel: DataSourceV2Relation,
                    t: GraftCellTable): Option[LogicalPlan] = {
    val eqs = stringEqs(cond, rel)
    for {
      fam  <- eqs.get("family")
      qual <- eqs.get("qualifier")
      vs   <- valueSeeks(cond, rel)
      // gate 3: provably null-rowkey-free (exact per-file footer stats)
      if CellFooterCache.filesOf(t.storePath)
        .forall(_.nullKeys.contains(0L))
      // gate 4: a catalog-discoverable SINGLE-COLUMN index on exactly
      // (fam, qual) whose sync state covers the live view. A COMPOSITE
      // index persists the comma-joined qualifier list in the same
      // property (sync_index's own discriminator) and its rowkey
      // layout (v1 ++ 0x00 ++ v2 ++ ... ++ rk) does NOT match the
      // single-column seek/reconstruction arithmetic — so a base
      // qualifier literally containing a comma must never route
      // through a same-named composite (ADVICE r20 medium).
      (idxPath, props) <- GraftCellMaintenance.indexesOf(t.storePath)
        .find { case (_, p) =>
          p.get("index.family").contains(fam) &&
          p.get("index.qualifier")
            .exists(q => q == qual && !q.contains(",")) }
      if GraftCellMaintenance.idxSyncState(t.storePath, idxPath).covered
    } yield {
      val idxRel = DataSourceV2Relation.create(
        new GraftCellTable(idxPath, tableProps = props), None, None)
      idxRel.setTagValue(ROUTED, true)
      val irk  = idxRel.output.find(_.name == "rowkey").get
      val ival = idxRel.output.find(_.name == "value").get
      val iver = idxRel.output.find(_.name == "version").get
      val prefixes = vs.map(v =>
        StartsWith(irk, Literal(UTF8String.fromString(v), StringType))
          : Expression)
      val seek  = Filter(And(IsNotNull(irk), prefixes.reduce(Or)),
                         idxRel)
      val dataCols = GraftCell.SCHEMA.fieldNames.toSet
      val coverable =
        cond.deterministic &&
        cond.references.forall(a => dataCols.contains(a.name)) &&
        rel.output.forall(a => dataCols.contains(a.name))
      if (coverable) {
        // COVERED ANSWER (the Phoenix covered-query shape): every
        // output column reconstructs from the index row ALONE, so the
        // base table is never touched — the plan is one index seek.
        // rowkey = the back-pointer; version rides the index cell;
        // family/qualifier = the predicate's literals; value = the
        // seek prefix of the index rowkey, recovered EXACTLY as
        // substring(idx_rk, 1, len(idx_rk) − len(back_pointer) − 1)
        // (idx_rk = value ++ 0x00 ++ rowkey, so the arithmetic is
        // unambiguous even when values or rowkeys embed the
        // separator). Sound because the index is row-for-row the
        // (family, qualifier) slice of the base under the covered
        // sync state, and the FULL original condition re-evaluates on
        // the reconstruction (a fabricated or stale row cannot
        // survive it any more than a scanned one). Output attributes
        // keep their original exprIds, so any parent operator is
        // untouched. The semi-join below remains the fallback when
        // the output needs a metadata column (not in the index) or
        // the condition is non-deterministic (its evaluation basis
        // must stay the base rows).
        val recon: Map[String, Expression] = Map(
          "rowkey"    -> ival,
          "version"   -> iver,
          "family"    -> Literal(UTF8String.fromString(fam), StringType),
          "qualifier" -> Literal(UTF8String.fromString(qual), StringType),
          "value"     -> Substring(irk, Literal(1),
            Subtract(Length(irk), Add(Length(ival), Literal(1)))))
        // substitute by ATTRIBUTE IDENTITY (the base relation's
        // exprIds), never by name — the replacements are themselves
        // index attributes named rowkey/value, and a name-keyed
        // rewrite would recurse into its own output
        val baseIds = rel.outputSet
        val remapped = cond.transform {
          case a: AttributeReference if baseIds.contains(a) =>
            recon(a.name)
        }
        Project(
          rel.output.map(a => Alias(recon(a.name), a.name)(exprId = a.exprId)),
          Filter(remapped, seek))
      } else {
        val probe = Project(Seq(ival), seek)
        val brk   = rel.output.find(_.name == "rowkey").get
        rel.setTagValue(ROUTED, true)
        Filter(cond,
          Join(rel, probe, LeftSemi, Some(EqualTo(brk, ival)),
               JoinHint(None, Some(HintInfo(Some(BROADCAST))))))
      }
    }
  }
}
