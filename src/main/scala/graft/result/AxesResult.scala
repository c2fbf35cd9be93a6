package graft.result

import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.CubeCatalog
import graft.planner._

/** The aggregation JSON document — analog of the reference's Result#to_h
  * (mondrian_ext.rb:228-287):
  *
  *   axes[0]        = measures axis
  *   axes[1..n]     = one axis per drilldown (tuples transposed), members
  *                    deduped by key in hierarchical order
  *   cell_keys[i]   = member-key tuple of result row i
  *   values[i]      = per-measure cell values of row i (row-major in drill
  *                    order; dense mode enumerates empty combinations with
  *                    null cells, exactly like the reference's default)
  *
  * Member dicts follow Member#to_h (mondrian_ext.rb:168-188); `parents=true`
  * adds the ancestor chain (C3) from the sibling ancestor columns.
  */
object AxesResult {

  def build(cat: CubeCatalog, q: CubeQuery): ListMap[String, Any] = {
    val cube = Planner.anchorCube(cat, q.cube)
    val (rows, cols) = cat.cachedResult(q) {
      val df = Planner.plan(cat, q)
      (df.collect().toSeq, df.columns.toSeq)
    }
    val colIdx = cols.zipWithIndex.toMap
    val (drills, _) = Planner.expandDrills(cube, q.drilldowns)
    val measures = Formatters.measureDisplay(cat, cube, q)

    def memberDict(rl: Planner.ResolvedLevel, r: Row,
        withAncestors: Boolean): ListMap[String, Any] = {
      val key = r.get(colIdx(rl.level.alias))
      val captionOverridden = q.captions.exists { c =>
        val crl = Planner.resolve(cube, c.level)
        crl.dim.name == rl.dim.name && crl.level.name == rl.level.name
      }
      val caption =
        if (captionOverridden) r.get(colIdx(Planner.captionOverrideAlias(rl)))
        else rl.level.nameExpr
          .map(_ => r.get(colIdx(rl.level.labelAlias))).getOrElse(key)
      val props: Seq[(String, Any)] = q.properties
        .filter { p =>
          val prl = Planner.resolve(cube, p.level)
          prl.dim.name == rl.dim.name && prl.level.name == rl.level.name
        }
        .map(p => p.property -> r.get(colIdx(Planner.propAlias(cube, p))))
      val ancestors: Seq[Any] =
        if (withAncestors && q.parents)
          rl.hier.levels.take(rl.depth).reverse.map { al =>
            val arl = Planner.ResolvedLevel(rl.dim, rl.hier, al,
              rl.hier.depthOf(al))
            memberDict(arl, r, withAncestors = false)
          }
        else Nil
      val base = ListMap[String, Any](
        "name" -> String.valueOf(caption),
        "full_name" -> s"[${rl.dim.name}].[$key]",
        "all_member?" -> false,
        "drillable?" -> (rl.depth < rl.hier.levels.length - 1),
        "depth" -> rl.depth,
        "caption" -> caption,
        "key" -> key,
        "level_name" -> rl.level.name) ++
        (if (props.nonEmpty) ListMap("properties" -> ListMap(props: _*))
         else ListMap.empty[String, Any])
      if (ancestors.nonEmpty) base + ("ancestors" -> ancestors) else base
    }

    def dimensionInfo(rl: Planner.ResolvedLevel): ListMap[String, Any] =
      ListMap(
        "name" -> rl.dim.name, "caption" -> rl.dim.name,
        "type" -> (if (rl.dim.isTime) "time" else "standard"),
        "level" -> rl.level.name, "level_depth" -> rl.depth,
        "hierarchy" -> rl.hier.name)

    val measureAxis: ListMap[String, Any] = ListMap("members" ->
      measures.map { case (name, alias) =>
        ListMap(
          "name" -> name, "caption" -> name,
          "full_name" -> s"[Measures].[$name]",
          "all_member?" -> false, "drillable?" -> false,
          "annotations" -> ListMap.empty[String, Any],
          "aggregator" -> cube.measures.find(_.alias == alias)
            .map(_.agg.toString.toLowerCase).orNull)
      })

    val memberAxes = drills.map { rl =>
      val seen = mutable.LinkedHashMap.empty[Any, ListMap[String, Any]]
      rows.foreach { r =>
        val key = r.get(colIdx(rl.level.alias))
        if (!seen.contains(key))
          seen += key -> memberDict(rl, r, withAncestors = true)
      }
      dimensionInfo(rl) + ("members" -> seen.values.toSeq)
    }

    // LAZY views, not materialized Seq-of-Seqs: the JSON writer streams
    // Iterables element by element, so a maxCells-sized dense result is
    // held once (the collected rows) plus the output buffer — never a
    // second row-major copy of the whole value matrix. Each per-row Seq is
    // transient (row-sized, GC'd as the writer moves on).
    val cellKeys = rows.view.map(r =>
      drills.map(rl => r.get(colIdx(rl.level.alias))))
    val values = rows.view.map(r =>
      measures.map { case (_, a) => r.get(colIdx(a)) })

    ListMap(
      "axes" -> (Seq(measureAxis) ++ memberAxes),
      "axis_dimensions" -> drills.map(dimensionInfo),
      "cell_keys" -> cellKeys,
      "values" -> values)
  }

  def json(cat: CubeCatalog, q: CubeQuery): String = Json.write(build(cat, q))

  /** `debug=true` parity (ref api.rb:39,141 + mondrian_ext.rb add_mdx: the
    * reference splices its generated MDX into the response). Graft's
    * generated artifact is the normalized [[CubeQuery]] and the Spark
    * physical plan, so that's what the `debug` key carries. Plan text comes
    * from the planner without executing (and without touching the result
    * cache): plan construction is driver-side Catalyst work only. */
  def jsonDebug(cat: CubeCatalog, q: CubeQuery): String = {
    def ref(l: LevelRef): String =
      (Seq(l.dim) ++ l.hierarchy ++ l.level).mkString(".")
    def cutStr(c: Cut): String = c match {
      case MemberCut(l, k) => s"${ref(l)} = $k"
      case SetCut(l, ks) => s"${ref(l)} IN (${ks.mkString(", ")})"
      case RangeCut(l, lo, hi) => s"${ref(l)} BETWEEN $lo AND $hi"
      case NamedSetCut(s) => s"NAMED SET $s"
      case TopKCut(l, k, m, asc) =>
        s"${if (asc) "BOTTOM" else "TOP"}($k) ${ref(l)} BY $m"
      case TopShareCut(l, th, m, abs, _, asc) =>
        val word = (asc, abs) match {
          case (false, false) => s"TOPPERCENT($th%)"
          case (false, true) => s"TOPSUM($th)"
          case (true, false) => s"BOTTOMPERCENT($th%)"
          case (true, true) => s"BOTTOMSUM($th)"
        }
        s"$word ${ref(l)} BY $m"
      case ExcludeCut(l, ks) => s"${ref(l)} NOT IN (${ks.mkString(", ")})"
      case NavCut(of, k, target, mode) =>
        s"${ref(target)} = ${mode.toUpperCase}(${ref(of)} = $k)"
      case TupleCut(levels, rows) =>
        s"(${levels.map(ref).mkString(", ")}) IN " +
          rows.map(_.mkString("(", ", ", ")")).mkString("(", ", ", ")")
    }
    def drillStr(d: Drill): String = d match {
      case LevelDrill(l) => ref(l)
      case NamedSetDrill(s) => s"NAMED SET $s"
    }
    val order = q.order.map { o =>
      val t = o.target match {
        case OrderByMeasure(m) => m
        case OrderByLevel(l, what) => s"${ref(l)}.$what"
      }
      t + (if (o.desc) " DESC" else " ASC")
    }
    val query = ListMap[String, Any](
      "cube" -> q.cube,
      "drilldowns" -> q.drilldowns.map(drillStr),
      "measures" -> q.measures,
      "cuts" -> q.cuts.map(cutStr),
      "filters" -> q.filters.map(f => s"${f.measure} ${f.op} ${f.value}"),
      "order" -> order.orNull,
      "offset" -> q.offset,
      "limit" -> q.limit.orNull,
      "tail" -> q.tailLimit.orNull,
      "nonempty" -> q.nonempty,
      "distinct" -> q.distinct,
      "parents" -> q.parents,
      "sparse" -> q.sparse,
      "properties" -> q.properties.map(p => s"${ref(p.level)}.${p.property}"),
      "captions" -> q.captions.map(p => s"${ref(p.level)}.${p.property}"),
      "adhoc_calcs" -> q.adhocCalcs.map(_.alias),
      "adhoc_lags" -> q.adhocLags.map(_.alias),
      "adhoc_totals" -> q.adhocTotals.map(_.alias),
      "adhoc_cums" -> q.adhocCums.map(_.alias),
      "adhoc_movings" -> q.adhocMovings.map(_.alias),
      "adhoc_ranks" -> q.adhocRanks.map(_.alias),
      "adhoc_setaggs" -> q.adhocSetAggs.map(a => s"${a.fn}:${a.alias}"))
    val plan = Planner.plan(cat, q).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    Json.write(build(cat, q) +
      ("debug" -> ListMap[String, Any]("query" -> query, "plan" -> plan)))
  }
}
