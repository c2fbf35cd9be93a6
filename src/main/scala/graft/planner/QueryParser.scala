package graft.planner

import graft.model._

/** Parser for the REST query grammar — the analog of the reference's use of
  * the olap4j MDX expression parser on `cut[]` / `drilldown[]` params
  * (reference query_helper.rb:10-15,40-135; grammar subset per SURVEY §2.A
  * A17). Hand-rolled: bracketed identifiers, `{...}` sets, `(a : b)` ranges,
  * named sets. Error messages are part of the contract (400s).
  *
  * Accepted forms:
  *   drilldown: `Dim`, `Dim.Level`, `Dim.Hierarchy.Level` (≤3 segments,
  *              `&` key-quoting rejected), or `[Named Set]`
  *   cut:       `[Dim].[Level].[key]` / `[Dim].[Hier].[Level].[key]`,
  *              `{m1, m2, ...}` (one shared level), `([m1] : [m2])`,
  *              `[Named Set]`
  * Member keys are typed: integer → Long, decimal → Double, else String.
  */
object QueryParser {

  /** Split a dotted identifier chain, honoring `[...]` quoting:
    * `[Time].[Monthly].[Year]` → Seq(Time, Monthly, Year). */
  def segments(s: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = s.length
    val cur = new StringBuilder
    var inBracket = false
    while (i < n) {
      val c = s.charAt(i)
      if (inBracket) {
        if (c == ']') inBracket = false else cur.append(c)
      } else c match {
        case '[' => inBracket = true
        case '.' => out += cur.result().trim; cur.clear()
        case other => cur.append(other)
      }
      i += 1
    }
    out += cur.result().trim
    if (inBracket) GraftException.badRequest(s"unterminated '[' in '$s'")
    out.result().filter(_.nonEmpty)
  }

  def typedKey(s: String): Any = {
    val t = s.trim
    try java.lang.Long.parseLong(t)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.parseDouble(t)
        catch { case _: NumberFormatException => t }
    }
  }

  /** `Dim`, `Dim.Level`, `Dim.Hierarchy.Level`, or a named set (ref A2/A15). */
  def parseDrilldown(cube: CubeDef, s: String): Drill = {
    if (s.contains("&"))
      GraftException.badRequest(s"key-quoted member expressions are not supported in drilldown: '$s'")
    val segs = segments(s)
    if (segs.isEmpty) GraftException.badRequest("empty drilldown")
    if (segs.length == 1 && cube.namedSet(segs.head).nonEmpty)
      return NamedSetDrill(segs.head)
    segs match {
      case Seq(d) => LevelDrill(LevelRef(d))
      case Seq(d, l) => LevelDrill(LevelRef(d, Some(l)))
      case Seq(d, h, l) => LevelDrill(LevelRef(d, Some(l), Some(h)))
      case _ => GraftException.badRequest(
        s"drilldown '$s' has more than 3 segments")
    }
  }

  /** Member path → (LevelRef, key). 3 segs = Dim.Level.key,
    * 4 segs = Dim.Hierarchy.Level.key. */
  private def memberPath(s: String): (LevelRef, Any) = {
    val segs = segments(s)
    segs match {
      case Seq(d, l, k) => (LevelRef(d, Some(l)), typedKey(k))
      case Seq(d, h, l, k) => (LevelRef(d, Some(l), Some(h)), typedKey(k))
      case _ => GraftException.badRequest(
        s"member expression '$s' must be [Dim].[Level].[key] or [Dim].[Hierarchy].[Level].[key]")
    }
  }

  /** Full cut grammar (ref A4–A7, parse_cut query_helper.rb:40-93). */
  def parseCut(cube: CubeDef, raw: String): Cut = {
    val s = raw.trim
    if (s.isEmpty) GraftException.badRequest("empty cut expression")
    if (s.startsWith("{")) {
      if (!s.endsWith("}"))
        GraftException.badRequest(s"unterminated set cut '$s'")
      val parts = splitTop(s.substring(1, s.length - 1), ',')
      if (parts.isEmpty) GraftException.badRequest(s"empty set cut '$s'")
      val members = parts.map(p => memberPath(p.trim))
      val levels = members.map(_._1).distinct
      if (levels.length != 1)
        GraftException.badRequest(
          s"all members of a set cut must share one level: '$s'")
      SetCut(levels.head, members.map(_._2))
    } else if (s.startsWith("(") && s.endsWith(")") && splitTop(
        s.substring(1, s.length - 1), ':').length == 2) {
      val Seq(lo, hi) = splitTop(s.substring(1, s.length - 1), ':').toSeq
      val (ll, lk) = memberPath(lo.trim)
      val (rl, rk) = memberPath(hi.trim)
      if (ll != rl)
        GraftException.badRequest(
          s"range cut endpoints must share one level: '$s'")
      RangeCut(ll, lk, rk)
    } else {
      val segs = segments(s)
      if (segs.length == 1 && cube.namedSet(segs.head).nonEmpty)
        NamedSetCut(segs.head)
      else {
        val (l, k) = memberPath(s)
        MemberCut(l, k)
      }
    }
  }

  /** Measure filter `Measure OP value` with ops > < >= <= = <> (ref A10,
    * query_helper.rb:4-7). */
  private val filterRe =
    """^\s*(.*?)\s*(>=|<=|<>|!=|>|<|=)\s*(-?\d+(?:\.\d+)?)\s*$""".r

  def parseFilter(cube: CubeDef, s: String): MeasureFilter = s match {
    case filterRe(m, op, v) =>
      val name = segments(m) match {
        case Seq("Measures", x) => x
        case Seq(x) => x
        case _ => GraftException.badRequest(s"bad measure in filter '$s'")
      }
      MeasureFilter(name, op, v.toDouble)
    case _ => GraftException.badRequest(s"cannot parse filter '$s'")
  }

  /** Order target: a measure name, or `Dim.Level.(key|caption|ordinal|Prop)`.
    * Direction asc|desc|basc|bdesc (ref A11, query_helper.rb:8,152-188). */
  def parseOrder(cube: CubeDef, target: String, dir: Option[String]): OrderSpec = {
    val desc = dir.map(_.toLowerCase) match {
      case Some("desc") | Some("bdesc") => true
      case Some("asc") | Some("basc") | None => false
      case Some(other) =>
        GraftException.badRequest(s"bad order direction '$other'")
    }
    val segs = segments(target)
    val t: OrderTarget = segs match {
      case Seq("Measures", m) => OrderByMeasure(m)
      case Seq(m) if cube.measure(m).nonEmpty ||
        cube.calcMembers.exists(_.alias == m) ||
        cube.lagMeasures.exists(_.alias == m) => OrderByMeasure(m)
      case Seq(d, l, what) => OrderByLevel(LevelRef(d, Some(l)), what)
      case Seq(d, h, l, what) => OrderByLevel(LevelRef(d, Some(l), Some(h)), what)
      case _ => GraftException.badRequest(s"cannot parse order '$target'")
    }
    OrderSpec(t, desc)
  }

  /** `Dim.Level.Property` (ref C4, api_helpers.rb:96-132). */
  def parseProperty(cube: CubeDef, s: String): PropertyRef = segments(s) match {
    case Seq(d, l, p) => PropertyRef(LevelRef(d, Some(l)), p)
    case Seq(d, h, l, p) => PropertyRef(LevelRef(d, Some(l), Some(h)), p)
    case _ => GraftException.badRequest(
      s"property '$s' must be Dim.Level.Property")
  }

  /** Split on `sep` at bracket depth 0 only. */
  private def splitTop(s: String, sep: Char): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inBracket = false
    for (c <- s) c match {
      case '[' if !inBracket => inBracket = true; cur.append(c)
      case ']' if inBracket => inBracket = false; cur.append(c)
      case '(' | '{' if !inBracket => depth += 1; cur.append(c)
      case ')' | '}' if !inBracket => depth -= 1; cur.append(c)
      case `sep` if depth == 0 && !inBracket =>
        out += cur.result(); cur.clear()
      case other => cur.append(other)
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** offset/limit: non-negative, Int-ranged (Spark's limit/offset take
    * Int; silent truncation would page wrongly), 400 on garbage. */
  private def parseCount(raw: String, what: String): Long = {
    val n = try raw.trim.toLong catch {
      case _: NumberFormatException =>
        GraftException.badRequest(s"bad $what '${raw.trim}'")
    }
    if (n < 0 || n > Int.MaxValue)
      GraftException.badRequest(
        s"$what out of range [0, ${Int.MaxValue}]: $n")
    n
  }

  /** Assemble a full CubeQuery from flat REST-style params (the analog of
    * build_query, query_helper.rb:190-316). */
  def fromParams(cube: CubeDef, params: Map[String, Seq[String]]): CubeQuery = {
    def all(k: String): Seq[String] = params.getOrElse(k, Nil)
    def one(k: String): Option[String] = all(k).headOption
    def flag(k: String, default: Boolean): Boolean =
      one(k).map(_.toLowerCase == "true").getOrElse(default)
    CubeQuery(
      cube = cube.name,
      drilldowns = all("drilldown[]").map(parseDrilldown(cube, _)),
      measures = all("measures[]"),
      cuts = all("cut[]").map(parseCut(cube, _)),
      filters = all("filter[]").map(parseFilter(cube, _)),
      order = one("order").map(parseOrder(cube, _, one("order_desc"))),
      offset = one("offset").map(parseCount(_, "offset")).getOrElse(0L),
      limit = one("limit").map(parseCount(_, "limit")),
      nonempty = flag("nonempty", default = false),
      distinct = flag("distinct", default = false),
      parents = flag("parents", default = false),
      properties = all("properties[]").map(parseProperty(cube, _)),
      captions = all("caption[]").map(parseProperty(cube, _)),
      // the reference flips the sparse default when the system property is
      // PRESENT (any value) — ref api.rb:138 `!System.getProperty(
      // 'mondrian-rest.sparseDefault').nil?`; same contract, graft name
      sparse = flag("sparse",
        default = sys.props.contains("graft.sparseDefault")))
  }
}
