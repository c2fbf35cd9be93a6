package perfbench

import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ListMap
import graft.CubeCatalog
import graft.planner.{LevelRef, MdxParser, Planner, QueryParser, Roles}
import graft.result.{AxesResult, Biff, Formatters, Json, Metadata}

/** The server's handler path for the routes the workloads use, replayed
  * in-process through the layers' public functions so each call can be
  * wrapped in a span: QueryParser.fromParams / MdxParser.parse →
  * Planner.plan → CubeCatalog.cachedResult { collect } → AxesResult.json /
  * Formatters.* / Biff.xls (which then hit the result cache). The server
  * itself is never modified; the replayed bytes are compared with the
  * HTTP response of the same request. */
final class Handler(spans: Spans) {
  var lookups = 0L
  var hits = 0L
  /** Jobs the current operation launched so far (set by the traced loop). */
  var planJobs: () => Long = () => 0L
  private var planJobsAcc = 0L
  private var rowsAcc = 0L
  def takePlanJobs(): Long = { val v = planJobsAcc; planJobsAcc = 0; v }
  def takeRows(): Long = { val v = rowsAcc; rowsAcc = 0; v }

  /** Planner call with the jobs it launches counted (member lookups). */
  private def planned[T](body: => T): T =
    if (!spans.enabled) body
    else {
      val j0 = planJobs()
      val out = spans("planner.plan")(body)
      planJobsAcc += planJobs() - j0
      out
    }

  private def params(raw: String): Map[String, Seq[String]] =
    raw.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
        case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** cachedResult with the plan and collect inside the compute closure,
    * exactly where the formatters put them; counts hits. */
  private def warm(cat: CubeCatalog, q: graft.planner.CubeQuery): Unit = {
    lookups += 1
    var computed = false
    cat.cachedResult(q) {
      computed = true
      val df = planned(Planner.plan(cat, q))
      val rows = spans("exec.collect")(df.collect().toSeq)
      rowsAcc += rows.length
      (rows, df.columns.toSeq)
    }
    if (!computed) hits += 1
  }

  private def tabular(ext: String, t: => Formatters.Tidy,
      ps: Map[String, Seq[String]]): Array[Byte] =
    spans("result.format") {
      ext match {
        case "csv" => Formatters.csv(t).getBytes(UTF_8)
        case "jsonrecords" => Formatters.jsonRecords(t,
          asArrays = ps.get("format").exists(_.headOption.contains("array"))).getBytes(UTF_8)
        case "xls" => Biff.xls(t)
      }
    }

  def handle(cat: CubeCatalog, r: Req): Array[Byte] = {
    val (path, query) = r.target.split("\\?", 2) match {
      case Array(p, q) => (p, q)
      case Array(p) => (p, "")
    }
    val segs = path.split("/").toList.filter(_.nonEmpty)
      .map(s => URLDecoder.decode(s.replace("+", "%2B"), UTF_8))
    val ps = params(query) ++
      (if (r.contentType.startsWith("application/x-www-form-urlencoded"))
         params(r.body) else Map.empty)
    segs match {
      case List("cubes") =>
        spans("result.format")(Json.write(Metadata.schemaDict(cat)).getBytes(UTF_8))
      case List("cubes", c) =>
        spans("result.format")(Json.write(Metadata.cubeDict(
          Roles.filteredCube(None, Planner.anchorCube(cat, c)))).getBytes(UTF_8))
      case List("cubes", c, "dimensions", d) =>
        spans("result.format")(Json.write(Metadata.dimensionDict(
          Roles.filteredCube(None, Planner.anchorCube(cat, c)).dimension(d).get))
          .getBytes(UTF_8))
      case List("cubes", c, agg) if agg.startsWith("aggregate") =>
        val cube = Planner.anchorCube(cat, c)
        val q = spans("planner.parse")(QueryParser.fromParams(cube, ps))
          .copy(cube = c, role = None)
        warm(cat, q)
        agg.stripPrefix("aggregate").stripPrefix(".") match {
          case "" => spans("result.format")(AxesResult.json(cat, q).getBytes(UTF_8))
          case ext => tabular(ext, Formatters.tidy(cat, q), ps)
        }
      case List(mdx) if mdx.startsWith("mdx") =>
        val cubeName = """(?is)\bFROM\s+(\[[^\]]+\]|\S+)""".r
          .findFirstMatchIn(r.body).get.group(1).stripPrefix("[").stripSuffix("]")
        val q = spans("planner.parse") {
          val c = Planner.mdxView(cat, cubeName)
          val p = QueryParser.fromParams(c, ps)
          MdxParser.parse(c, r.body).copy(parents = p.parents,
            properties = p.properties, captions = p.captions,
            sparse = p.sparse, role = None)
        }
        warm(cat, q)
        mdx.stripPrefix("mdx").stripPrefix(".") match {
          case "" => spans("result.format")(AxesResult.json(cat, q).getBytes(UTF_8))
          case ext => tabular(ext, Formatters.tidy(cat, q), ps)
        }
      case List("cubes", c, "dimensions", d, "levels", l, "members") =>
        val cube = Planner.anchorCube(cat, c)
        val ref = LevelRef(d, Some(l))
        val offset = ps.get("offset").map(_.head.toLong).getOrElse(0L)
        val limit = ps.get("limit").map(_.head.toInt)
        val withProps = ps.contains("member_properties[]") || ps.contains("caption")
        val doc = spans("exec.members") {
          val members = Metadata.levelMembers(cat, cube, ref,
            withProps = withProps, offset = offset, limit = limit)
          rowsAcc += members.length
          if (offset == 0 && limit.isEmpty) ListMap[String, Any]("members" -> members)
          else ListMap[String, Any]("members" -> members, "offset" -> offset,
            "total_members" ->
              Metadata.levelMembersDf(cat, cube, ref, withProps).count())
        }
        spans("result.format")(Json.write(doc).getBytes(UTF_8))
      case List("cubes", c, dt) if dt.startsWith("drillthrough") =>
        val cube = Planner.anchorCube(cat, c)
        val q0 = spans("planner.parse")(QueryParser.fromParams(cube, ps))
          .copy(cube = c, role = None)
        val ceiling = cat.spark.conf
          .getOption("spark.graft.drillthrough.maxRows").map(_.toLong)
          .getOrElse(1000L)
        val cap = (ps.get("max_rows").map(_.head.toLong).toSeq ++ q0.limit :+ ceiling).min
        val df = planned(Planner.planDrillthrough(cat, cube,
          q0.copy(limit = Some(cap)), ps.getOrElse("returns[]", Nil)))
        val t = spans("exec.collect")(
          Formatters.Tidy(df.columns.toSeq, df.collect().toSeq.map(_.toSeq)))
        rowsAcc += t.rows.length
        dt.stripPrefix("drillthrough").stripPrefix(".") match {
          case "" => tabular("jsonrecords", t, ps)
          case ext => tabular(ext, t, ps)
        }
      case other => sys.error(s"route not replayed in-process: /${other.mkString("/")}")
    }
  }
}
