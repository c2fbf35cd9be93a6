package graft.planner

import graft.model._

/** MDX-subset parser for the raw-MDX endpoint (ref POST /mdx, api.rb:21-50).
  * Covers the dialect the reference's own REST layer EMITS (query_helper.rb,
  * /mdx test corpus: TOPCOUNT + Crossjoin) plus the constructs Mondrian
  * users commonly POST by hand; everything compiles onto the same CubeQuery
  * IR the REST params use:
  *
  *   [WITH (MEMBER [Measures].[X] AS '<arith over measures>'
  *          | SET [X] AS '<set>')+]
  *   SELECT {[Measures].[M], ...} ON COLUMNS,
  *          [NON EMPTY] <axis> ON ROWS
  *   FROM [Cube]
  *   [WHERE (<member> [* <member>]...)]
  *
  *   <axis> ::= <set>
  *           | ( <axis> )
  *           | NONEMPTY(<axis>[, <measure>])   — NON EMPTY, function form
  *           | FILTER(<axis>, <cond> [AND <cond>]*)           — HAVING
  *             where <cond> ::= [Measures].[M] <op> <number>
  *           | ORDER(<axis>, [Measures].[M]
  *                   | [D].CurrentMember.Properties('P')
  *                   | [D].CurrentMember.{Caption|Name|Key|Ordinal}
  *                   [, ASC|DESC|BASC|BDESC])
  *           | HEAD(<axis>, n)                                 — limit
  *           | TAIL(<axis>, n)                                 — last n
  *           | SUBSET(<axis>, start[, count])                  — offset/limit
  *           | DISTINCT(<axis>)                                — A14 flag
  *           | HIERARCHIZE(<axis>)                             — default order
  *   <set> ::= [Dim].[Level].Members | [Dim].[Hier].[Level].Members
  *           | [Named Set] | [Query Set]                       — WITH SET ref
  *           | ( <set> )
  *           | {<member>, ...}
  *           | <member> : <member>                             — range
  *           | <member>.Children
  *           | CROSSJOIN(<set>, <set>) | <set> * <set>
  *           | UNION | EXCEPT | INTERSECT (<set>, <set>)       — same level
  *           | TOPCOUNT(<set>, k, [Measures].[M])
  *           | BOTTOMCOUNT(<set>, k, [Measures].[M])
  *           | TOPPERCENT(<set>, p, [Measures].[M])
  *           | TOPSUM(<set>, s, [Measures].[M])
  *           | DESCENDANTS(<member>, [Dim].[Level])
  *
  * WITH SET definitions substitute textually (definition-before-use, each
  * into later definitions and the axes) — the set grammar is compositional
  * on strings, so substitution is exact; shadowing a dimension or schema
  * named set 400s. */
object MdxParser {

  def parse(cube: CubeDef, mdx: String): CubeQuery = {
    val text = mdx.trim
    val re = ("""(?is)^\s*(?:WITH\s+(.*?)\s+)?SELECT\s+(.*?)\s+ON\s+COLUMNS""" +
      """\s*,\s*(.*?)\s+ON\s+ROWS\s+FROM\s+(\S+)\s*(?:WHERE\s+(.*?))?\s*$""").r
    text match {
      case re(withClause, colAxis, rowAxisRaw, cubeName, slicer) =>
        val fromCube = stripBrackets(cubeName.trim)
        if (fromCube != cube.name)
          GraftException.badRequest(
            s"MDX FROM cube '$fromCube' does not match '${cube.name}'")
        // WITH SET [X] AS '<set>': query-scoped named sets. MDX requires
        // definition before use, so each definition substitutes (as text)
        // into every LATER definition and into the axes — the set language
        // is compositional on strings, which makes substitution exact.
        val setRe =
          """(?is)SET\s+(?:\[([^\]]+)\]|([^\]\s]+))\s+AS\s+'([^']*)'""".r
        val querySets = Option(withClause).toSeq
          .flatMap(setRe.findAllMatchIn(_)).map { m =>
            val name = Option(m.group(1)).getOrElse(m.group(2))
            if (cube.dimension(name).nonEmpty ||
              cube.namedSets.exists(_.name == name))
              GraftException.badRequest(
                s"WITH SET '$name' shadows a dimension or schema named set")
            name -> m.group(3)
          }
        // substitute only STANDALONE [name] tokens: a member path segment
        // ([Year].[1996]) follows a '.', and a set reference never does —
        // a blind replace would corrupt member literals whose key segment
        // collides with a set name
        def substOne(acc: String, name: String, body: String): String =
          ("""(?<![.\w])""" + java.util.regex.Pattern.quote(s"[$name]"))
            .r.replaceAllIn(acc,
              java.util.regex.Matcher.quoteReplacement(s"($body)"))
        val resolvedSets = querySets
          .foldLeft(Seq.empty[(String, String)]) { case (done, (n, b)) =>
            done :+ (n -> done.foldLeft(b) { case (acc, (dn, db)) =>
              substOne(acc, dn, db)
            })
          }
        def substResolved(s: String): String =
          resolvedSets.foldLeft(s) { case (acc, (name, body)) =>
            substOne(acc, name, body)
          }
        val memberClause = Option(withClause)
          .map(setRe.replaceAllIn(_, "").trim).filter(_.nonEmpty)
        val (adhoc, adhocLags, adhocTotals, adhocCums, adhocMovings,
            adhocRanks, adhocSetAggs, adhocPinned, adhocCounts) =
          memberClause.map(parseWithMembers(cube, _))
            .getOrElse((Nil, Nil, Nil, Nil, Nil, Nil, Nil, Nil, Nil))
        // adhoc aliases resolve on an augmented view of the cube so the
        // measure axis (and nested FILTER/ORDER) can reference them
        val augmented = cube.copy(calcMembers = cube.calcMembers ++ adhoc,
          lagMeasures = cube.lagMeasures ++ adhocLags,
          totalMeasures = cube.totalMeasures ++ adhocTotals,
          cumMeasures = cube.cumMeasures ++ adhocCums,
          movingMeasures = cube.movingMeasures ++ adhocMovings,
          rankMeasures = cube.rankMeasures ++ adhocRanks,
          setAggMeasures = cube.setAggMeasures ++ adhocSetAggs,
          pinnedMeasures = cube.pinnedMeasures ++ adhocPinned)
        val measures = parseMeasureAxis(augmented, colAxis.trim)
        val (nonEmpty, rowAxis) = {
          val t0 = rowAxisRaw.trim
          val (ne0, t1) =
            if (t0.toUpperCase.startsWith("NON EMPTY"))
              (true, t0.substring("NON EMPTY".length).trim)
            else (false, t0)
          // NONEMPTYCROSSJOIN(a, b) ≡ NON EMPTY CROSSJOIN(a, b): nonempty
          // is an axis-level property here (groupBy output is naturally
          // non-empty), so the function form folds into the flag. Folded
          // AFTER WITH SET substitution — the function may arrive on the
          // axis through a set reference.
          val t2 = substResolved(t1)
          val neRe = "(?i)NONEMPTYCROSSJOIN\\s*\\(".r
          val (ne1, t3) =
            if (neRe.findFirstIn(t2).isDefined)
              (true, neRe.replaceAllIn(t2, "CROSSJOIN("))
            else (ne0, t2)
          // `NonEmpty(<axis>[, [Measures].[M]])` as a whole-axis wrapper
          // (Mondrian's function form of NON EMPTY). The optional measure
          // argument names which measure defines emptiness — here the
          // groupBy axis is fact-non-empty by construction, so the
          // argument only needs to resolve; the flag semantics match the
          // reference's NON EMPTY output for base measures.
          if (t3.toUpperCase.startsWith("NONEMPTY(") && t3.endsWith(")")) {
            val inner = t3.substring("NONEMPTY(".length, t3.length - 1)
            splitTop(inner, ',') match {
              case Vector(axisOnly) => (true, axisOnly.trim)
              case Vector(axisPart, measurePart) =>
                val mRe = """(?is)^\s*\[Measures\]\.\[([^\]]+)\]\s*$""".r
                measurePart match {
                  case mRe(mname) =>
                    resolveMeasure(augmented, mname) // 400s on unknown
                    (true, axisPart.trim)
                  case _ => GraftException.badRequest(
                    s"NonEmpty: second argument must be a measure, got " +
                      s"'${measurePart.trim}'")
                }
              case _ => GraftException.badRequest(
                s"NonEmpty takes (set[, measure]), got '$inner'")
            }
          } else (ne1, t3)
        }
        val axis = parseAxis(augmented, rowAxis)
        val slicerCuts = Option(slicer).map(_.trim).filter(_.nonEmpty)
          .map(parseSlicer(augmented, _)).getOrElse(Nil)
        // FILTER() removes tuples from the axis (Mondrian semantics) — the
        // dense default must not densify the dropped members back as nulls
        CubeQuery(cube.name, axis.drills, measures,
          cuts = axis.cuts ++ slicerCuts, filters = axis.filters,
          order = axis.order, limit = axis.limit, offset = axis.offset,
          tailLimit = axis.tail, groupTop = axis.groupTop,
          postFilters = axis.postFilters,
          nonempty = nonEmpty || axis.filters.nonEmpty ||
            axis.postFilters.nonEmpty,
          distinct = axis.distinct,
          adhocCalcs = adhoc, adhocLags = adhocLags,
          adhocTotals = adhocTotals, adhocCums = adhocCums,
          adhocMovings = adhocMovings, adhocRanks = adhocRanks,
          adhocSetAggs = adhocSetAggs, adhocPinned = adhocPinned,
          adhocCounts = adhocCounts)
      case _ => GraftException.badRequest(
        "cannot parse MDX (supported: [WITH MEMBER...] SELECT <measures> ON COLUMNS, <set> ON ROWS FROM <cube> [WHERE <tuple>])")
    }
  }

  /** `MEMBER [Measures].[X] AS '<formula>'` list. Formulas are arithmetic
    * over `[Measures].[...]` references, translated to result-column aliases
    * (the same expression language schema calc members use — B7), plus:
    *
    *   - `COALESCEEMPTY(a, b, ...)` → SQL `coalesce` (empty cells surface
    *     as nulls post-aggregation, so the MDX empty-cell fallback IS null
    *     coalescing — ref foodmart.xml:351-366 Profit Growth);
    *   - tuple time navigation `([Measures].[M], [Time].PrevMember)` /
    *     `[Time].CurrentMember.Lag(n)` → a synthesized [[LagMeasureDef]]
    *     whose alias substitutes into the formula (`Lag(12)` at Month grain
    *     is `ParallelPeriod([Year], 1)`). The lag rides the planner's
    *     domain-exact window (B8), so gap months behave like Mondrian's
    *     calendar-previous member;
    *   - ALL-member tuples `([Measures].[M], [Dim].[All ...])` → a
    *     synthesized [[TotalMeasureDef]] — the share-of-total denominator
    *     (`[Revenue] / ([Revenue], [Geography].[All])`), one axis-sized
    *     window sum in the planner;
    *   - `Sum(PeriodsToDate([T].[Level]), [M])` / `Sum(Ytd(), [M])` → a
    *     synthesized [[CumMeasureDef]] (Ytd = PeriodsToDate at the Year
    *     level of the cube's time dimension);
    *   - `Avg(LastPeriods(n[, [T].CurrentMember]), [M])` → a synthesized
    *     [[MovingMeasureDef]] (trailing n-member mean over the calendar
    *     domain);
    *   - `COUNT(<level>.Members)` → the schema reader's member count of the
    *     level (role-visible, slicer-independent — Mondrian semantics), a
    *     plan-time constant substituted by the planner
    *     ([[CubeQuery.adhocCounts]]) — the per-member-average denominator;
    *   - `Rank([D].CurrentMember, [D].[L].Members, [Measures].[M])` → a
    *     synthesized [[RankMeasureDef]] — the member's 1-based rank by the
    *     measure among its dimension's axis members (ties share a rank),
    *     one axis-sized window in the planner (never a fact re-sort);
    *   - `Avg|Min|Max|Median(<level>.Members, [Measures].[M])` → a
    *     synthesized [[SetAggMeasureDef]] — the axis-set aggregate
    *     benchmark ("revenue vs the brand average / median"), same
    *     one-window shape (SUM of a complete member set folds into
    *     [[TotalMeasureDef]] above);
    *   - `IIF(cond, a, b)` → Spark `if(...)`; `IsEmpty(x)` → a null test
    *     — the Mondrian conditional idioms (`IIF(IsEmpty(lag), …)`),
    *     rewritten after every member reference is an alias.
    */
  private def parseWithMembers(cube: CubeDef, s: String)
      : (Seq[CalcMemberDef], Seq[LagMeasureDef], Seq[TotalMeasureDef],
         Seq[CumMeasureDef], Seq[MovingMeasureDef], Seq[RankMeasureDef],
         Seq[SetAggMeasureDef], Seq[PinnedMeasureDef],
         Seq[(String, LevelRef)]) = {
    // Bracketed aliases take ANY non-']' chars (spaces included — standard
    // MDX names like [Profit Margin]); only the bare unbracketed form is
    // restricted to non-space tokens.
    val memberRe =
      """(?is)MEMBER\s+(\[Measures\]\.)?(?:\[([^\]]+)\]|([^\]\s]+))\s+AS\s+'([^']*)'""".r
    val found = memberRe.findAllMatchIn(s).toSeq
    if (found.isEmpty)
      GraftException.badRequest(s"cannot parse WITH clause '$s'")
    val lags = scala.collection.mutable.LinkedHashMap.empty[String, LagMeasureDef]
    val totals =
      scala.collection.mutable.LinkedHashMap.empty[String, TotalMeasureDef]
    val cums =
      scala.collection.mutable.LinkedHashMap.empty[String, CumMeasureDef]
    val movings =
      scala.collection.mutable.LinkedHashMap.empty[String, MovingMeasureDef]
    val counts =
      scala.collection.mutable.LinkedHashMap.empty[String, LevelRef]
    val ranks =
      scala.collection.mutable.LinkedHashMap.empty[String, RankMeasureDef]
    val setAggs =
      scala.collection.mutable.LinkedHashMap.empty[String, SetAggMeasureDef]
    val pinnedDefs =
      scala.collection.mutable.LinkedHashMap.empty[String, PinnedMeasureDef]
    /** Parse + validate fixed-member paths and register (or reuse) the
      * [[PinnedMeasureDef]] for (base, members) — shared by the plain
      * pinned-tuple rewrite and the mixed navigation+pin form. Returns
      * the pin's measure alias. */
    def registerPin(base: String, memberPaths: Seq[String]): String = {
      val pins = memberPaths.map { seg =>
        val (dim, hier, level, key) = QueryParser.segments(seg) match {
          case Seq(d, k) => (d, "", "", QueryParser.typedKey(k))
          case Seq(d, l, k) => (d, "", l, QueryParser.typedKey(k))
          case Seq(d, h, l, k) => (d, h, l, QueryParser.typedKey(k))
          case _ => GraftException.badRequest(
            s"fixed-member tuple member must name [Dim].[Level].[Key] " +
              s"or [Dim].[Key]: '$seg'")
        }
        if (cube.dimension(dim).isEmpty)
          GraftException.badRequest(
            s"fixed-member tuple on unknown dimension '$dim'")
        if (level.nonEmpty) levelOf(dim, level, "fixed-member tuple")
        PinSpec(dim, level, key, hier)
      }
      // one member per dimension, as in a Mondrian tuple (one member
      // per hierarchy) — a repeat is a contradiction, not a refinement
      pins.groupBy(_.dim).collectFirst { case (d, ps) if ps.size > 1 =>
        GraftException.badRequest(
          s"fixed-member tuple names dimension '$d' twice — a tuple " +
            "holds one member per dimension")
      }
      def same(p: PinnedMeasureDef) = p.base == base && p.pins == pins
      cube.pinnedMeasures.find(same).map(_.alias)
        .orElse(pinnedDefs.values.find(same).map(_.alias))
        .getOrElse {
          val a = s"__mdx_pin_${base}_" + pins.map(p =>
            s"${p.dim}_${p.level}".replaceAll("\\W", "_"))
            .mkString("_") + s"_p${pinnedDefs.size}"
          pinnedDefs.update(a, PinnedMeasureDef(a, base, pins))
          a
        }
    }
    // the cube's single time dimension — the implicit argument of Ytd() and
    // LastPeriods(n) with no explicit member (Mondrian resolves them against
    // the TimeDimension; ambiguous with several, so that 400s)
    def defaultTimeDim(fn: String): String =
      cube.dimensions.filter(_.isTime) match {
        case Seq(d) => d.name
        case Seq() => GraftException.badRequest(
          s"$fn needs a time dimension; cube '${cube.name}' declares none")
        case many => GraftException.badRequest(
          s"$fn is ambiguous: cube '${cube.name}' has ${many.length} time " +
            s"dimensions (${many.map(_.name).mkString(", ")}) — name one explicitly")
      }
    def levelOf(dim: String, level: String, fn: String): Unit = {
      val d = cube.dimension(dim).getOrElse(
        GraftException.badRequest(s"$fn on unknown dimension '$dim'"))
      if (!d.hierarchies.exists(_.level(level).nonEmpty))
        GraftException.badRequest(
          s"$fn: level '$level' not found in dimension '$dim'")
    }
    def synthCum(measureName: String, dim: String, resetLevel: String): String = {
      val base = resolveMeasure(cube, measureName)
      levelOf(dim, resetLevel, "PeriodsToDate")
      cube.cumMeasures.find(c => c.base == base && c.timeDim == dim &&
          c.resetLevel == resetLevel && c.edge.isEmpty)
        .map(_.alias)
        .getOrElse {
          val alias = s"__mdx_ptd_${base}_${dim.replaceAll("\\W", "_")}_" +
            resetLevel.replaceAll("\\W", "_")
          cums.getOrElseUpdate(alias, CumMeasureDef(alias, base, dim, resetLevel))
          alias
        }
    }
    def synthMoving(measureName: String, dim: String, periods: Int): String = {
      val base = resolveMeasure(cube, measureName)
      if (periods < 1)
        GraftException.badRequest(s"LastPeriods needs n >= 1, got $periods")
      if (cube.dimension(dim).isEmpty)
        GraftException.badRequest(s"LastPeriods on unknown dimension '$dim'")
      cube.movingMeasures.find(m => m.base == base && m.timeDim == dim &&
          m.periods == periods)
        .map(_.alias)
        .getOrElse {
          val alias =
            s"__mdx_avg_${base}_${dim.replaceAll("\\W", "_")}_$periods"
          movings.getOrElseUpdate(alias,
            MovingMeasureDef(alias, base, dim, periods))
          alias
        }
    }
    // `([Measures].[M], [Dim](.[Hier])*(.CurrentMember)?.<nav>)` where <nav>
    // is PrevMember or Lag(n)
    val tupleRe = ("""(?is)\(\s*\[Measures\]\.\[([^\]]+)\]\s*,\s*""" +
      """((?:\[[^\]]+\]\.?)+?)(?:\.CURRENTMEMBER)?\s*\.\s*""" +
      """(PREVMEMBER|NEXTMEMBER|(?:LAG|LEAD)\s*\(\s*\d+\s*\))\s*\)""").r
    def synth(measureName: String, dimRef: String, navS: String): String = {
      val base = resolveMeasure(cube, measureName)
      val dim = QueryParser.segments(dimRef).head
      if (cube.dimension(dim).isEmpty)
        GraftException.badRequest(s"tuple navigation on unknown dimension '$dim'")
      // NEXTMEMBER / Lead(n) look FORWARD: a negative lag period (applyLag
      // branches to Spark's lead(); the time-domain expansion extends the
      // needed member set forward of cut members symmetrically)
      val nav = navS.toUpperCase.replaceAll("\\s", "")
      val n = "\\d+".r.findFirstIn(nav).map { d =>
        try d.toInt catch {
          case _: NumberFormatException => GraftException.badRequest(
            s"Lag/Lead periods out of range: '$d'")
        }
      }.getOrElse(1)
      if (n < 1)
        GraftException.badRequest(s"Lag/Lead periods must be >= 1, got $n")
      val periods =
        if (nav.startsWith("NEXT") || nav.startsWith("LEAD")) -n else n
      // reuse a declared lag with identical semantics; else synthesize one
      cube.lagMeasures.find(l =>
        l.base == base && l.timeDim == dim && l.periods == periods &&
          !l.coalesceToBase)
        .map(_.alias)
        .getOrElse {
          // dimension is part of the identity: ([M],[ShipDate].PrevMember)
          // and ([M],[OrderDate].PrevMember) in one WITH clause are distinct
          // lags and must not collapse onto one alias
          val word = if (periods < 0) "lead" else "lag"
          val alias =
            s"__mdx_${word}_${base}_${dim.replaceAll("\\W", "_")}_$n"
          lags.getOrElseUpdate(alias, LagMeasureDef(alias, base, dim,
            periods = periods))
          alias
        }
    }
    // `([Measures].[M], [Dim].[All ...])` — the All member's bracket text is
    // free-form ([All], [All Regions], [All Products])
    // `[All]` or `[All <something>]` ONLY — a word boundary after "All", so
    // a genuine member like [City].[Allentown] is not mistaken for a total
    val allRe = ("""(?is)\(\s*\[Measures\]\.\[([^\]]+)\]\s*,\s*""" +
      """\[([^\]]+)\]\s*\.\s*\[All(?:\s[^\]]*)?\]\s*\)""").r
    def synthTotal(measureName: String, dimS: String): String = {
      val base = resolveMeasure(cube, measureName)
      val dim = dimS.trim
      if (cube.dimension(dim).isEmpty)
        GraftException.badRequest(s"All-member tuple on unknown dimension '$dim'")
      cube.totalMeasures.find(t => t.base == base && t.dim == dim &&
          !t.parent)
        .map(_.alias)
        .getOrElse {
          val alias = s"__mdx_total_${base}_$dim"
          totals.getOrElseUpdate(alias, TotalMeasureDef(alias, base, dim))
          alias
        }
    }
    val calcs = found.map { m =>
      val alias = Option(m.group(2)).getOrElse(m.group(3))
      var formula = m.group(4)
        .replaceAll("(?i)COALESCEEMPTY\\s*\\(", "coalesce(")
      // MIXED navigation + fixed-member tuple — foodmart's
      // Profit-last-Period sliced to members: `([Measures].[M],
      // [Time].(CurrentMember.)?PrevMember, [D].[L].[k], …)` with
      // exactly ONE navigation element and ≥1 plain member paths, any
      // order. Compiles as navigation OVER the pinned measure: the
      // plain members register a PinnedMeasureDef (the conjunctive
      // fact-side mask) and the navigation synthesizes a lag/lead whose
      // BASE is the pin's alias. Every window family runs before the
      // pin windows in the planner, so it 400s there when a pinned dim
      // is on the axis — the supported (and common) shape is the
      // off-axis slice. Runs BEFORE the 2-element navigation chain; a
      // tuple with no navigation suffix falls through untouched to the
      // plain pinned-tuple rewrite.
      val mixedNavElem = ("""(?is)((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])""" +
        """((?:\s*\.\s*CURRENTMEMBER)?\s*\.\s*""" +
        """(?:PREVMEMBER|NEXTMEMBER|(?:LAG|LEAD)\s*\(\s*\d+\s*\)))?""").r
      val mixedNavRe = ("""(?is)\(\s*\[Measures\]\.\[([^\]]+)\]""" +
        """((?:\s*,\s*(?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\]""" +
        """(?:(?:\s*\.\s*CURRENTMEMBER)?\s*\.\s*""" +
        """(?:PREVMEMBER|NEXTMEMBER|(?:LAG|LEAD)\s*\(\s*\d+\s*\)))?)""" +
        """{2,})\s*\)""").r
      formula = mixedNavRe.replaceAllIn(formula, mm => {
        val elems = mixedNavElem.findAllMatchIn(mm.group(2)).toSeq
          .filter(e => e.group(1) != null && e.group(1).nonEmpty)
        val (navs, plains) = elems.partition(e =>
          Option(e.group(2)).exists(_.trim.nonEmpty))
        if (navs.length != 1 || plains.isEmpty)
          java.util.regex.Matcher.quoteReplacement(mm.matched) // not ours
        else {
          val base = resolveWindowBase(cube, mm.group(1),
            "fixed-member tuple")
          val navDim = QueryParser.segments(navs.head.group(1)).head
          if (cube.dimension(navDim).isEmpty)
            GraftException.badRequest(
              s"tuple navigation on unknown dimension '$navDim'")
          val pinAlias = registerPin(base, plains.map(_.group(1)))
          if (pinnedDefs.get(pinAlias).exists(_.pins.exists(
              _.dim == navDim)) ||
              cube.pinnedMeasures.find(_.alias == pinAlias).exists(
                _.pins.exists(_.dim == navDim)))
            GraftException.badRequest(
              s"fixed-member tuple names dimension '$navDim' twice — " +
                "it is both navigated and pinned")
          val nav = navs.head.group(2).toUpperCase.replaceAll("[\\s.]", "")
            .stripPrefix("CURRENTMEMBER")
          val n = "\\d+".r.findFirstIn(nav).map { d =>
            try d.toInt catch {
              case _: NumberFormatException => GraftException.badRequest(
                s"Lag/Lead periods out of range: '$d'")
            }
          }.getOrElse(1)
          if (n < 1)
            GraftException.badRequest(
              s"Lag/Lead periods must be >= 1, got $n")
          val periods =
            if (nav.startsWith("NEXT") || nav.startsWith("LEAD")) -n else n
          val word = if (periods < 0) "lead" else "lag"
          val lagAlias = s"__mdx_${word}_${pinAlias}_" +
            s"${navDim.replaceAll("\\W", "_")}_$n"
          lags.getOrElseUpdate(lagAlias,
            LagMeasureDef(lagAlias, pinAlias, navDim, periods = periods))
          java.util.regex.Matcher.quoteReplacement(lagAlias)
        }
      })
      formula = tupleRe.replaceAllIn(formula, mm =>
        java.util.regex.Matcher.quoteReplacement(
          synth(mm.group(1), mm.group(2), mm.group(3))))
      formula = allRe.replaceAllIn(formula, mm =>
        java.util.regex.Matcher.quoteReplacement(
          synthTotal(mm.group(1), mm.group(2))))
      // `([Measures].[M], [Dim].CurrentMember.Parent)` — share-of-parent
      // (the percent-of-subtotal classic): the measure at the current
      // member's PARENT, a [[TotalMeasureDef]] with parent=true (the
      // planner partitions the window by the dimension's ancestor columns
      // and 400s unless the parent level is on the axis)
      val parentRe = ("""(?is)\(\s*\[Measures\]\.\[([^\]]+)\]\s*,\s*""" +
        """\[([^\]]+)\]\s*\.\s*CURRENTMEMBER\s*\.\s*PARENT\s*\)""").r
      formula = parentRe.replaceAllIn(formula, mm => {
        val base = resolveMeasure(cube, mm.group(1))
        val dim = mm.group(2).trim
        if (cube.dimension(dim).isEmpty)
          GraftException.badRequest(
            s"CurrentMember.Parent tuple on unknown dimension '$dim'")
        val alias = cube.totalMeasures
          .find(t => t.base == base && t.dim == dim && t.parent)
          .map(_.alias)
          .getOrElse {
            val a = s"__mdx_ptotal_${base}_$dim"
            totals.getOrElseUpdate(a,
              TotalMeasureDef(a, base, dim, parent = true))
            a
          }
        java.util.regex.Matcher.quoteReplacement(alias)
      })
      // `Sum(<level>.Members, [Measures].[M])` / `Aggregate(...)`: a sum
      // over a COMPLETE member set of a dimension is that dimension's
      // All-member value — the same TotalMeasureDef machinery as the All
      // tuple (and the same additive-base contract)
      val sumRe = ("""(?is)(?:SUM|AGGREGATE)\s*\(\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\.\s*MEMBERS\s*,\s*""" +
        """\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = sumRe.replaceAllIn(formula, mm =>
        java.util.regex.Matcher.quoteReplacement(
          synthTotal(mm.group(2), QueryParser.segments(mm.group(1)).head)))
      // `Avg|Min|Max(<level>.Members, [Measures].[M])` — the axis-set
      // aggregate benchmark (SUM above collapses to the All total; these
      // need their own window): a synthesized [[SetAggMeasureDef]]
      val setAggRe = ("""(?is)(?<!\w)(AVG|MIN|MAX|MEDIAN)\s*\(\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\.\s*MEMBERS\s*,\s*""" +
        """\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = setAggRe.replaceAllIn(formula, mm => {
        val fn = mm.group(1).toLowerCase
        val fnU = mm.group(1).toUpperCase
        val setRef = levelRefOfSet(cube, mm.group(2), fnU)
        val base = resolveWindowBase(cube, mm.group(3), fnU)
        val level = setRef.level.getOrElse("")
        val alias = cube.setAggMeasures
          .find(a => a.base == base && a.dim == setRef.dim && a.fn == fn &&
            a.level == level)
          .map(_.alias)
          .getOrElse {
            val a = s"__mdx_${fn}_${base}_" +
              s"${setRef.dim.replaceAll("\\W", "_")}_" +
              s"${level.replaceAll("\\W", "_")}"
            setAggs.getOrElseUpdate(a,
              SetAggMeasureDef(a, base, setRef.dim, fn, level))
            a
          }
        java.util.regex.Matcher.quoteReplacement(alias)
      })
      // `Sum|Aggregate|Avg|Min|Max|Median({<member>, …}, [Measures].[M])` —
      // a PARTIAL set: the aggregate over exactly those members (the
      // fixed-set subtotal/benchmark), one axis window restricted to the
      // set's keys. All members must share one level, which must be the
      // drilled level of the dimension at plan time ([[Planner]]
      // windowPartCols contract).
      val subsetAggRe = ("""(?is)(?<!\w)(SUM|AGGREGATE|AVG|MIN|MAX|""" +
        """MEDIAN)\s*\(\s*(\{[^}]*\})\s*,\s*""" +
        """\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = subsetAggRe.replaceAllIn(formula, mm => {
        val fnU = mm.group(1).toUpperCase
        val fn = if (fnU == "AGGREGATE") "sum" else fnU.toLowerCase
        // `{[L].Members}` is the braced COMPLETE set, not a member list —
        // 400 with the supported spelling (don't mis-read 'Members' as a
        // member key and silently aggregate nothing)
        if (mm.group(2).toUpperCase.contains(".MEMBERS"))
          GraftException.badRequest(
            s"$fnU over a complete set: write ${fnU}([Dim].[Level].Members" +
              s", [Measures].[M]) without braces, got '${mm.group(2)}'")
        else {
        val (ref, keys) = QueryParser.parseCut(cube, mm.group(2)) match {
          case SetCut(r, ks) => (r, ks)
          case MemberCut(r, k) => (r, Seq(k))
          case _ => GraftException.badRequest(
            s"$fnU set must enumerate members of one level: '${mm.group(2)}'")
        }
        Planner.resolve(cube, ref) // 400 on unknown dimension/level
        val base = resolveWindowBase(cube, mm.group(3), fnU)
        val level = ref.level.getOrElse("")
        def same(a: SetAggMeasureDef) = a.base == base && a.dim == ref.dim &&
          a.fn == fn && a.level == level && a.keys == keys
        // adhoc aliases dedupe STRUCTURALLY then number sequentially — a
        // content hash in the name could collide across different member
        // lists and silently share one subtotal
        val alias = cube.setAggMeasures.find(same).map(_.alias)
          .orElse(setAggs.values.find(same).map(_.alias))
          .getOrElse {
            val a = s"__mdx_${fn}_${base}_" +
              s"${ref.dim.replaceAll("\\W", "_")}_" +
              s"${level.replaceAll("\\W", "_")}_s${setAggs.size}"
            setAggs.update(a, SetAggMeasureDef(a, base, ref.dim, fn, level,
              keys))
            a
          }
        java.util.regex.Matcher.quoteReplacement(alias)
        }
      })
      // `Sum(PeriodsToDate([T].[Year]), [M])` / `Sum(Ytd(), [M])` → a
      // synthesized [[CumMeasureDef]]: the running sum resets at each member
      // of the named level (Ytd = PeriodsToDate at Year). Rides the planner's
      // domain-expanded window (B8-ext), so a cut month still accumulates
      // from the period start like Mondrian's PeriodsToDate.
      val ptdRe = ("""(?is)(?:SUM|AGGREGATE)\s*\(\s*PERIODSTODATE\s*\(\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\)\s*,\s*""" +
        """\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = ptdRe.replaceAllIn(formula, mm => {
        val (dim, level) = QueryParser.segments(mm.group(1)) match {
          case Seq(d, l) => (d, l)
          case Seq(d, _, l) => (d, l)
          case _ => GraftException.badRequest(
            s"bad PeriodsToDate level '${mm.group(1)}'")
        }
        java.util.regex.Matcher.quoteReplacement(
          synthCum(mm.group(2), dim, level))
      })
      val ytdRe = ("""(?is)(?:SUM|AGGREGATE)\s*\(\s*YTD\s*\(\s*""" +
        """(?:\[([^\]]+)\]\s*)?\)\s*,\s*\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = ytdRe.replaceAllIn(formula, mm => {
        val dim = Option(mm.group(1)).getOrElse(defaultTimeDim("Ytd()"))
        java.util.regex.Matcher.quoteReplacement(
          synthCum(mm.group(2), dim, "Year"))
      })
      // `([M], CLOSINGPERIOD([T].[Leaf], [T].[Reset].CurrentMember))` and
      // OPENINGPERIOD — the semi-additive closing/opening balance: a
      // [[CumMeasureDef]] with edge set. The anchored 2-arg form is
      // required (the bare 1-arg form closes the current member's OWN
      // level — a no-op on an axis row); the anchor names which ancestor
      // level the balance closes within.
      val edgeRe = ("""(?is)\(\s*\[Measures\]\.\[([^\]]+)\]\s*,\s*""" +
        """(CLOSING|OPENING)PERIOD\s*\(\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*,\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\.\s*CURRENTMEMBER""" +
        """\s*\)\s*\)""").r
      formula = edgeRe.replaceAllIn(formula, mm => {
        val base = resolveMeasure(cube, mm.group(1))
        val edge = mm.group(2).toLowerCase
        val fn = s"${mm.group(2).capitalize}Period"
        def dimLevel(path: String, what: String): (String, String) =
          QueryParser.segments(path) match {
            case Seq(d, l) => (d, l)
            case Seq(d, _, l) => (d, l)
            case _ =>
              GraftException.badRequest(s"bad $what level '$path'")
          }
        val (dim, leaf) = dimLevel(mm.group(3), fn)
        val (dimA, reset) = dimLevel(mm.group(4), s"$fn anchor")
        if (dim != dimA)
          GraftException.badRequest(
            s"$fn level and anchor must share one dimension, " +
              s"got '$dim' and '$dimA'")
        levelOf(dim, leaf, fn)
        levelOf(dim, reset, fn)
        val alias = cube.cumMeasures.find(c => c.base == base &&
            c.timeDim == dim && c.resetLevel == reset && c.edge == edge &&
            c.edgeLevel == leaf)
          .map(_.alias)
          .getOrElse {
            val a = s"__mdx_${edge}_${base}_" +
              s"${dim.replaceAll("\\W", "_")}_" +
              s"${reset.replaceAll("\\W", "_")}_" +
              leaf.replaceAll("\\W", "_")
            cums.getOrElseUpdate(a,
              CumMeasureDef(a, base, dim, reset, edge, leaf))
            a
          }
        java.util.regex.Matcher.quoteReplacement(alias)
      })
      // `Avg(LastPeriods(n[, [T].CurrentMember]), [M])` → a synthesized
      // [[MovingMeasureDef]] — the trailing n-member mean over the calendar
      // domain (gap members hold a null-base slot the count skips)
      val avgRe = ("""(?is)AVG\s*\(\s*LASTPERIODS\s*\(\s*(\d+)\s*""" +
        """(?:,\s*((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*(?:\.\s*CURRENTMEMBER)?\s*)?""" +
        """\)\s*,\s*\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = avgRe.replaceAllIn(formula, mm => {
        val dim = Option(mm.group(2))
          .map(p => QueryParser.segments(p).head)
          .getOrElse(defaultTimeDim("LastPeriods"))
        java.util.regex.Matcher.quoteReplacement(
          synthMoving(mm.group(3), dim, mm.group(1).toInt))
      })
      // `COUNT(<level>.Members)` — the schema reader's member count of the
      // level (role-visible, not slicer-filtered, Mondrian semantics): a
      // plan-time constant the planner substitutes (see
      // CubeQuery.adhocCounts), enabling per-member-average formulas like
      // `[Revenue] / COUNT([Brand].Members)`
      // (?<!\w): bare COUNT only — an identifier ending in "Count(" (e.g.
      // DistinctCount) must fall through to the leftover-bracket 400, not
      // get its tail silently rewritten
      // `Rank([D](.CurrentMember), [D].[L].Members, [Measures].[M])` —
      // Mondrian's 3-arg ranked form over a level's member set: the
      // current member's 1-based rank by the measure among the axis
      // members of its dimension (ties share a rank). Both arguments must
      // name the SAME dimension — ranking one dimension's member inside
      // another's set is a tuple calculation the compiled subset rejects.
      val rankRe = ("""(?is)(?<!\w)RANK\s*\(\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*(?:\.\s*CURRENTMEMBER)?\s*,\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\.\s*MEMBERS\s*,\s*""" +
        """\[Measures\]\.\[([^\]]+)\]\s*\)""").r
      formula = rankRe.replaceAllIn(formula, mm => {
        val memberDim = QueryParser.segments(mm.group(1)).head
        val setRef = levelRefOfSet(cube, mm.group(2), "Rank")
        if (cube.dimension(memberDim).isEmpty)
          GraftException.badRequest(s"Rank on unknown dimension '$memberDim'")
        if (memberDim != setRef.dim)
          GraftException.badRequest(
            s"Rank: member dimension '$memberDim' must match the set's " +
              s"dimension '${setRef.dim}' in the compiled subset")
        val base = resolveWindowBase(cube, mm.group(3), "Rank")
        val level = setRef.level.getOrElse("")
        val alias = cube.rankMeasures
          .find(r => r.base == base && r.dim == memberDim &&
            r.level == level).map(_.alias)
          .getOrElse {
            val a = s"__mdx_rank_${base}_${memberDim.replaceAll("\\W", "_")}" +
              s"_${level.replaceAll("\\W", "_")}"
            ranks.getOrElseUpdate(a,
              RankMeasureDef(a, base, memberDim, level))
            a
          }
        java.util.regex.Matcher.quoteReplacement(alias)
      })
      val countRe = ("""(?is)(?<!\w)COUNT\s*\(\s*""" +
        """((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\.\s*MEMBERS\s*\)""").r
      formula = countRe.replaceAllIn(formula, mm => {
        val ref = QueryParser.segments(mm.group(1)) match {
          case Seq(d, l) => LevelRef(d, Some(l))
          case Seq(d, h, l) => LevelRef(d, Some(l), Some(h))
          case _ => GraftException.badRequest(
            s"bad COUNT member set '${mm.group(1)}'")
        }
        Planner.resolve(cube, ref) // 400s on unknown paths at parse time
        // dedupe on the LevelRef, not the sanitized name: two levels whose
        // names differ only in non-word chars must not collide onto one
        // alias (uniquify with a suffix instead)
        val a = counts.find(_._2 == ref).map(_._1).getOrElse {
          val base = ("__mdx_cnt_" + ref.dim + "_" +
            ref.hierarchy.getOrElse("") + "_" + ref.level.get)
            .replaceAll("\\W", "_")
          val unique = Iterator.from(0)
            .map(i => if (i == 0) base else s"${base}_$i")
            .find(!counts.contains(_)).get
          counts(unique) = ref
          unique
        }
        java.util.regex.Matcher.quoteReplacement(a)
      })
      // `([Measures].[M], [D1].[L1].[k1], [D2].[L2].[k2], …)` — the
      // FIXED-MEMBER tuple (pin a measure to one member per named
      // dimension, any axis state): LAST in the chain, so every
      // navigational tuple form above (PrevMember/All/Parent/Closing…)
      // has already been consumed and whatever tuple remains is a plain
      // member pin. Unqualified members ([Time].[1997]) carry an empty
      // level and resolve by hierarchy key search at plan time.
      val pinnedRe = ("""(?is)\(\s*\[Measures\]\.\[([^\]]+)\]""" +
        """((?:\s*,\s*(?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])+)\s*\)""").r
      val pinMemberRe = """(?s)(?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\]""".r
      formula = pinnedRe.replaceAllIn(formula, mm =>
        java.util.regex.Matcher.quoteReplacement(registerPin(
          resolveWindowBase(cube, mm.group(1), "fixed-member tuple"),
          pinMemberRe.findAllIn(mm.group(2)).toSeq)))
      val measureRef = """\[Measures\]\.\[([^\]]+)\]""".r
      formula = measureRef.replaceAllIn(formula,
        mm => resolveMeasure(cube, mm.group(1)))
      // MDX conditionals, after every member reference is an alias:
      // `IIF(cond, a, b)` is Spark's `if(...)` verbatim; `IsEmpty(x)` is
      // a null test. IsEmpty handles a parenthesis-free argument (aliases
      // and arithmetic — what survives the rewrites above); a nested form
      // the regex can't see 400s below rather than reaching Spark's parser.
      formula = formula.replaceAll("(?i)(?<!\\w)IIF\\s*\\(", "if(")
      formula = ("""(?is)(?<!\w)ISEMPTY\s*\(([^()]*)\)""").r
        .replaceAllIn(formula, mm =>
          java.util.regex.Matcher.quoteReplacement(
            s"((${mm.group(1).trim}) IS NULL)"))
      if ("""(?is)(?<!\w)ISEMPTY\s*\(""".r.findFirstIn(formula).isDefined)
        GraftException.badRequest(
          s"IsEmpty with a nested-parenthesis argument is not supported " +
            s"in calculated member '$alias'")
      // Anything bracketed that survived every rewrite is a member tuple the
      // compiled subset doesn't navigate (e.g. ([M], [City].[Allentown]));
      // 400 with the original formula rather than a downstream parse error
      if (formula.contains("["))
        GraftException.badRequest(
          s"unsupported member reference in calculated member '$alias': " +
            s"'${m.group(4)}'")
      CalcMemberDef(alias, formula)
    }
    (calcs, lags.values.toSeq, totals.values.toSeq,
      cums.values.toSeq, movings.values.toSeq, ranks.values.toSeq,
      setAggs.values.toSeq, pinnedDefs.values.toSeq, counts.toSeq)
  }

  /** Parsed row axis: a set plus its axis-level wrappers. */
  final case class Axis(drills: Seq[Drill], cuts: Seq[Cut],
      filters: Seq[MeasureFilter] = Nil, order: Option[OrderSpec] = None,
      limit: Option[Long] = None, offset: Long = 0,
      tail: Option[Long] = None, distinct: Boolean = false,
      groupTop: Option[GroupTopSpec] = None,
      postFilters: Seq[MeasureFilter] = Nil)

  /** Axis-level functions wrap the whole set: FILTER → HAVING, ORDER →
    * result order, HEAD → limit, SUBSET → offset/limit, DISTINCT → the A14
    * flag, HIERARCHIZE → the default hierarchical order (a no-op — exactly
    * what finishAxis already emits). */
  def parseAxis(cube: CubeDef, s: String): Axis = {
    val t = s.trim
    val upper = t.toUpperCase
    def args(fn: String): Vector[String] =
      splitTop(t.substring(fn.length, t.length - 1), ',')
    if (wholeParen(t)) {
      // one redundant paren group around the whole axis (WITH SET bodies
      // substitute in wrapped, and hand-written MDX parenthesizes freely)
      parseAxis(cube, t.substring(1, t.length - 1))
    } else if (upper.startsWith("DISTINCT(") && t.endsWith(")")) {
      val as = args("DISTINCT(")
      if (as.length != 1)
        GraftException.badRequest(s"DISTINCT takes one set: '$s'")
      parseAxis(cube, as(0)).copy(distinct = true)
    } else if (upper.startsWith("FILTER(") && t.endsWith(")")) {
      val as = args("FILTER(")
      if (as.length != 2)
        GraftException.badRequest(s"FILTER takes (set, condition): '$s'")
      val inner = parseAxis(cube, as(0))
      val conds = parseConditions(cube, as(1))
      // FILTER over an already-TRUNCATED set must evaluate AFTER the
      // truncation (Mondrian computes the inner set first): over a
      // truncating GENERATE that is the postFilters channel — a top-2
      // member failing the predicate is dropped, never back-filled by
      // rank 3. Over a HEAD/SUBSET/TAIL-paged set the planner applies
      // pagination last, so post-paging filtering cannot be expressed —
      // reject it like TAIL-over-paged rather than silently pre-filter.
      if (inner.limit.nonEmpty || inner.tail.nonEmpty || inner.offset != 0)
        GraftException.badRequest(
          "FILTER over a HEAD/SUBSET/TAIL/TOPCOUNT-paged set is not " +
            "supported — apply FILTER inside the paging function")
      else if (inner.groupTop.exists(gt => !gt.orderOnly))
        inner.copy(postFilters = inner.postFilters ++ conds)
      else inner.copy(filters = inner.filters ++ conds)
    } else if (upper.startsWith("ORDER(") && t.endsWith(")")) {
      val as = args("ORDER(")
      if (as.length < 2 || as.length > 3)
        GraftException.badRequest(s"ORDER takes (set, expr[, dir]): '$s'")
      val inner = parseAxis(cube, as(0))
      // member expressions the reference's own builder emits
      // (query_helper.rb:152-188): CurrentMember.Properties('X') /
      // .Caption / .Name / .UniqueName / .Key / .Ordinal — resolved
      // against the DRILLED level of that dimension
      val cmRe = ("""(?is)^\s*((?:\[[^\]]+\]\s*\.\s*)*\[[^\]]+\])\s*\.\s*""" +
        """CURRENTMEMBER\s*\.\s*(?:PROPERTIES\s*\(\s*'([^']*)'\s*\)""" +
        """|(CAPTION|NAME|UNIQUENAME|KEY|ORDINAL))\s*$""").r
      val target: OrderTarget = as(1).trim match {
        case cmRe(path, prop, method) =>
          val segs = QueryParser.segments(path)
          val dim = segs.head
          val dimDrills = inner.drills.collect {
            case LevelDrill(r) if r.dim == dim => r
          }
          if (dimDrills.isEmpty)
            GraftException.badRequest(
              s"ORDER by [$dim].CurrentMember requires a drilldown on '$dim'")
          // an explicit level path ([D].[H].[L].CurrentMember) binds that
          // drilled level; the bare dimension form binds the DEEPEST
          // drilled level — the member whose properties a crossjoined
          // current tuple exposes
          val ref = segs match {
            case Seq(_) =>
              dimDrills.maxBy(r => Planner.resolve(cube, r).depth)
            case _ =>
              val lvl = segs.last
              dimDrills.find(r =>
                  Planner.resolve(cube, r).level.name == lvl)
                .getOrElse(GraftException.badRequest(
                  s"ORDER by $path.CurrentMember: level '$lvl' is not drilled"))
          }
          val what = Option(prop).getOrElse(method.toUpperCase match {
            case "KEY" => "key"
            case "ORDINAL" => "ordinal"
            case _ => "caption" // CAPTION | NAME | UNIQUENAME
          })
          // a schema property whose name collides with the intrinsic
          // key/caption/ordinal could not be told apart downstream
          // (OrderByLevel.what is the shared encoding) — refuse loudly
          // rather than silently sorting by the intrinsic
          if (prop != null &&
              Seq("key", "caption", "ordinal").contains(prop.toLowerCase) &&
              Planner.resolve(cube, ref).level.properties
                .exists(_.name == prop))
            GraftException.badRequest(
              s"property '$prop' shadows the intrinsic member $prop — " +
                "rename the schema property")
          OrderByLevel(ref, what)
        case m => OrderByMeasure(QueryParser.segments(m) match {
          case Seq("Measures", name) => resolveMeasure(cube, name)
          case Seq(name) => resolveMeasure(cube, name)
          case _ => GraftException.badRequest(s"bad ORDER expression '$m'")
        })
      }
      val desc = as.lift(2).map(_.trim.toUpperCase) match {
        case Some("DESC") | Some("BDESC") => true
        case Some("ASC") | Some("BASC") | None => false
        case Some(other) =>
          GraftException.badRequest(s"bad ORDER direction '$other'")
      }
      inner.copy(order = Some(OrderSpec(target, desc)))
    } else if (upper.startsWith("HEAD(") && t.endsWith(")")) {
      val as = args("HEAD(")
      if (as.length != 2)
        GraftException.badRequest(s"HEAD takes (set, count): '$s'")
      val inner = parseAxis(cube, as(0))
      inner.copy(limit = Some(parseCount(as(1), "HEAD")))
    } else if (upper.startsWith("TAIL(") && t.endsWith(")")) {
      // TAIL(set, n): the LAST n tuples of the axis order, emitted in
      // forward order ("last 12 months"); HEAD/SUBSET page within it when
      // applied OUTSIDE. The planner applies tail before offset/limit, so
      // TAIL over an already-paged set would silently return the wrong
      // rows — reject it instead (nested TAILs compose as min)
      val as = args("TAIL(")
      if (as.length != 2)
        GraftException.badRequest(s"TAIL takes (set, count): '$s'")
      val inner = parseAxis(cube, as(0))
      if (inner.limit.nonEmpty || inner.offset != 0)
        GraftException.badRequest(
          "TAIL over a HEAD/SUBSET-paged set is not supported — apply " +
            "HEAD/SUBSET outside TAIL")
      val n = parseCount(as(1), "TAIL")
      inner.copy(tail = Some(inner.tail.fold(n)(math.min(_, n))))
    } else if (upper.startsWith("SUBSET(") && t.endsWith(")")) {
      // SUBSET(set, start[, count]) — offset/limit over the axis order
      val as = args("SUBSET(")
      if (as.length < 2 || as.length > 3)
        GraftException.badRequest(s"SUBSET takes (set, start[, count]): '$s'")
      val inner = parseAxis(cube, as(0))
      inner.copy(offset = parseCount(as(1), "SUBSET start"),
        limit = as.lift(2).map(parseCount(_, "SUBSET")).orElse(inner.limit))
    } else if (upper.startsWith("HIERARCHIZE(") && t.endsWith(")")) {
      parseAxis(cube, t.substring("HIERARCHIZE(".length, t.length - 1))
    } else if (upper.startsWith("EXTRACT(") && t.endsWith(")")) {
      // Extract(set, dim[, dim…]) — project a (typically crossjoined)
      // tuple set onto the named dimensions with duplicates removed
      // (Mondrian's Extract): keep only the named dimensions' drilldowns
      // in ARGUMENT order (cuts keep restricting the context) + the A14
      // DISTINCT flag. The set argument must be a plain set (wrappers
      // whose semantics depend on the dropped dimensions don't survive a
      // projection and 400 via the set grammar).
      val as = args("EXTRACT(")
      if (as.length < 2)
        GraftException.badRequest(
          s"EXTRACT takes (set, dimension[, dimension...]): '$s'")
      val (drills, cuts) = parseSet(cube, as(0))
      val dims = as.drop(1).map { d =>
        QueryParser.segments(d) match {
          case Seq(dim) => dim
          case _ => GraftException.badRequest(
            s"EXTRACT: '${d.trim}' is not a dimension reference")
        }
      }
      dims.foreach(d =>
        if (!cube.dimensions.exists(_.name == d))
          GraftException.badRequest(s"EXTRACT: unknown dimension '$d'"))
      // mirror GENERATE's guard: a named dimension drilled solely via a
      // NAMED SET would silently lose its projection below (only
      // LevelDrills survive) — reject instead of dropping the dimension
      drills.foreach {
        case NamedSetDrill(name)
            if cube.namedSet(name).exists(ns => dims.contains(ns.dim)) =>
          GraftException.badRequest(
            s"EXTRACT: dimension '${cube.namedSet(name).get.dim}' is " +
              s"drilled via named set '$name' — drill a level of it " +
              "instead")
        case _ => ()
      }
      val ordered = dims.flatMap(d => drills.collect {
        case ld @ LevelDrill(r) if r.dim == d => ld
      })
      if (ordered.isEmpty)
        GraftException.badRequest(
          "EXTRACT: the set drills no level of the named dimension(s)")
      Axis(ordered.distinct, cuts, distinct = true)
    } else if (upper.startsWith("GENERATE(") && t.endsWith(")")) {
      // Generate(set1, TopCount(set2, k, [Measures].[M])) — Mondrian's
      // "top N per group" idiom: the inner TopCount evaluates once per
      // member of set1 and the blocks concatenate. Compiles to one
      // GroupedTopK pass partitioned on set1's levels — never a
      // per-member loop. Only the TopCount/BottomCount inner form is
      // supported (the overwhelmingly common use); other inner sets 400.
      val as = args("GENERATE(")
      if (as.length != 2)
        GraftException.badRequest(s"GENERATE takes (set, set): '$s'")
      val (gDrills, gCuts) = parseSet(cube, as(0))
      val inner = as(1).trim
      val innerUpper = inner.toUpperCase
      // shared guards for every inner form (the FILTER early-return below
      // relies on them too)
      def guardSets(iDrills: Seq[Drill]): Unit = {
        if (gDrills.isEmpty || iDrills.isEmpty)
          GraftException.badRequest(
            "GENERATE: both sets must drill at least one level")
        if ((gDrills ++ iDrills).exists(!_.isInstanceOf[LevelDrill]))
          GraftException.badRequest(
            "GENERATE: named-set drilldowns are not supported inside " +
              "GENERATE (the partition position would be ambiguous)")
        val gDims = gDrills.collect { case LevelDrill(r) => r.dim }.toSet
        val overlap = iDrills.collect {
          case LevelDrill(r) if gDims.contains(r.dim) => r.dim
        }
        if (overlap.nonEmpty)
          GraftException.badRequest(
            s"GENERATE: inner set drills the outer set's dimension " +
              s"'${overlap.head}' — the partition would be degenerate")
      }
      // Strip a FILTER(set, cond) wrapper off an inner-set argument —
      // shared by the plain, ORDER, and ranked inner forms below.
      def stripInnerFilter(txt: String): (String, Seq[MeasureFilter]) = {
        val t0 = txt.trim
        if (t0.toUpperCase.startsWith("FILTER(") && t0.endsWith(")")) {
          val fas = splitTop(
            t0.substring("FILTER(".length, t0.length - 1), ',')
          if (fas.length != 2)
            GraftException.badRequest(
              s"GENERATE: FILTER takes (set, condition), got '$t0'")
          (fas(0), parseConditions(cube, fas(1)))
        } else (t0, Nil)
      }
      // inner FILTER — the per-group HAVING idiom: Generate(set1,
      // Filter(set2, [Measures].[M] > x)). The predicate evaluates in the
      // (outer, inner) tuple context, so per-group filtering IS a measure
      // filter over the pair axis — it compiles onto the A10 HAVING
      // machinery with no window at all (the cheapest possible plan: one
      // aggregation, one post-agg filter).
      if (innerUpper.startsWith("FILTER(")) {
        if (!inner.endsWith(")"))
          GraftException.badRequest(s"GENERATE: unbalanced inner '$inner'")
        val ias = splitTop(
          inner.substring("FILTER(".length, inner.length - 1), ',')
        if (ias.length != 2)
          GraftException.badRequest(
            s"GENERATE: FILTER takes (set, condition), got '$inner'")
        val (iDrills, iCuts) = parseSet(cube, ias(0))
        guardSets(iDrills)
        return Axis(gDrills ++ iDrills, gCuts ++ iCuts,
          filters = parseConditions(cube, ias(1)))
      }
      // inner ORDER — per-group ordering with no truncation:
      // Generate(set1, Order(set2, [Measures].[M][, dir])) sorts each
      // set1 block by the measure (every tuple survives — the groupTop
      // machinery with ranking only). ASC is Mondrian's default;
      // BASC/BDESC coincide with ASC/DESC here because the inner set
      // drills a single-level member list (no hierarchy to preserve).
      if (innerUpper.startsWith("ORDER(")) {
        if (!inner.endsWith(")"))
          GraftException.badRequest(s"GENERATE: unbalanced inner '$inner'")
        val ias = splitTop(
          inner.substring("ORDER(".length, inner.length - 1), ',')
        if (ias.length < 2 || ias.length > 3)
          GraftException.badRequest(
            s"GENERATE: ORDER takes (set, measure[, dir]), got '$inner'")
        // ORDER(FILTER(set, pred), m, dir): prune tuples, then order
        // each surviving block — the same HAVING-before-rank composition
        // as the TOPCOUNT(FILTER(...)) form below
        val (oSetTxt, oFilters) = stripInnerFilter(ias(0))
        val (iDrills, iCuts) = parseSet(cube, oSetTxt)
        guardSets(iDrills)
        val om = QueryParser.segments(ias(1)) match {
          case Seq("Measures", name) => resolveMeasure(cube, name)
          case Seq(name) => resolveMeasure(cube, name)
          case _ => GraftException.badRequest(
            s"GENERATE: ORDER sorts by a measure, got '${ias(1).trim}'")
        }
        val oDesc = ias.lift(2).map(_.trim.toUpperCase) match {
          case None | Some("ASC") | Some("BASC") => false
          case Some("DESC") | Some("BDESC") => true
          case Some(x) => GraftException.badRequest(
            s"GENERATE: bad ORDER direction '$x'")
        }
        return Axis(gDrills ++ iDrills, gCuts ++ iCuts,
          filters = oFilters,
          groupTop = Some(GroupTopSpec(gDrills.length, 0, om,
            desc = oDesc, orderOnly = true)))
      }
      // inner forms: TOPCOUNT/BOTTOMCOUNT (per-group top-k) and
      // TOPPERCENT/BOTTOMPERCENT/TOPSUM/BOTTOMSUM (per-group minimal
      // prefix covering a share of the GROUP total / an absolute sum —
      // the axis-level TopShare semantics applied per partition)
      val forms = Seq("TOPCOUNT", "BOTTOMCOUNT", "TOPPERCENT",
        "BOTTOMPERCENT", "TOPSUM", "BOTTOMSUM")
      val fn = forms.find(f => innerUpper.startsWith(f + "("))
        .getOrElse(GraftException.badRequest(
          "GENERATE: the second set must be FILTER(...), ORDER(...) or " +
            "one of " + forms.mkString("(", "/", ")(...)") +
            s", got '$inner'"))
      if (!inner.endsWith(")"))
        GraftException.badRequest(s"GENERATE: unbalanced inner '$inner'")
      val isBottom = fn.startsWith("BOTTOM")
      val isCount = fn.endsWith("COUNT")
      val isPercent = fn.endsWith("PERCENT")
      val ias = splitTop(inner.substring(fn.length + 1, inner.length - 1),
        ',')
      if (ias.length != 3)
        GraftException.badRequest(
          s"GENERATE: $fn takes (set, " +
            s"${if (isCount) "count" else "threshold"}, measure), " +
            s"got '$inner'")
      // FILTER composed INSIDE the ranked form — the filter-then-rank
      // idiom, Generate(set1, TopCount(Filter(set2, pred), k, m)): the
      // predicate prunes (outer, inner) tuples BEFORE the per-group
      // ranking — exactly the HAVING-before-groupTop order the planner
      // already runs, so the coverage-prefix forms total the FILTERED
      // set per group, like Mondrian
      val (iSetTxt, innerFilters) = stripInnerFilter(ias(0))
      val (iDrills, iCuts) = parseSet(cube, iSetTxt)
      val k = if (isCount) parseCount(ias(1), fn) else 0L
      val threshold: Option[Double] =
        if (isCount) None
        else {
          val t = try ias(1).trim.toDouble catch {
            case _: NumberFormatException => GraftException.badRequest(
              s"bad $fn threshold '${ias(1).trim}'")
          }
          if (!java.lang.Double.isFinite(t) || t <= 0)
            GraftException.badRequest(
              s"$fn threshold must be positive and finite, got $t")
          if (isPercent && t > 100)
            GraftException.badRequest(
              s"$fn takes a percentage in (0, 100], got $t")
          Some(t)
        }
      val m = QueryParser.segments(ias(2)) match {
        case Seq("Measures", name) => resolveMeasure(cube, name)
        case Seq(name) => resolveMeasure(cube, name)
        case _ =>
          GraftException.badRequest(s"bad $fn measure '${ias(2)}'")
      }
      guardSets(iDrills)
      if (isCount && k == 0L)
        // TOPCOUNT(set, 0) is an empty set per group → an empty axis,
        // exactly like the axis-level TOPCOUNT(…, 0, …)'s limit = 0 —
        // GroupedTopK requires k ≥ 1, so 0 must not reach it
        Axis(gDrills ++ iDrills, gCuts ++ iCuts, limit = Some(0L),
          filters = innerFilters)
      else Axis(gDrills ++ iDrills, gCuts ++ iCuts,
        filters = innerFilters,
        groupTop = Some(GroupTopSpec(gDrills.length, k.toInt, m,
          desc = !isBottom, threshold = threshold,
          absolute = fn.endsWith("SUM"))))
    } else {
      // TOPCOUNT over a TUPLE set (≥ 2 drilled levels, e.g. a CROSSJOIN):
      // Mondrian ranks the axis tuples by the measure — exactly ORDER +
      // HEAD on the whole axis (TakeOrderedAndProject in the plan). The
      // single-level form stays a TopKCut in parseSet (it composes with
      // other cuts as a member set rather than an axis ordering; that
      // fallback re-parses the text — parses are pure, the cost is one
      // extra walk of a short string).
      val isTop = upper.startsWith("TOPCOUNT(")
      val isBottom = upper.startsWith("BOTTOMCOUNT(")
      val tupleTop: Option[Axis] =
        if ((isTop || isBottom) && t.endsWith(")")) {
          val fn = if (isTop) "TOPCOUNT" else "BOTTOMCOUNT"
          val as = splitTop(t.substring(fn.length + 1, t.length - 1), ',')
          if (as.length == 3) {
            val (drills, cuts) = parseSet(cube, as(0))
            if (drills.length > 1) {
              val k = parseCount(as(1), fn)
              val m = QueryParser.segments(as(2)) match {
                case Seq("Measures", name) => resolveMeasure(cube, name)
                case Seq(name) => resolveMeasure(cube, name)
                case _ => GraftException.badRequest(
                  s"bad $fn measure '${as(2)}'")
              }
              Some(Axis(drills, cuts,
                order = Some(OrderSpec(OrderByMeasure(m), desc = isTop)),
                limit = Some(k)))
            } else None
          } else None
        } else None
      tupleTop.getOrElse {
        val (drills, cuts) = parseSet(cube, t)
        Axis(drills, cuts)
      }
    }
  }

  /** HEAD/TAIL/SUBSET count: must be a non-negative integer that fits in
    * Int — `limit`/`offset` take Int, and a silent `.toInt` truncation of a
    * larger value would return a WRONG row count instead of erroring. */
  private def parseCount(raw: String, what: String): Long = {
    val n = try raw.trim.toLong catch {
      case _: NumberFormatException =>
        GraftException.badRequest(s"bad $what count '${raw.trim}'")
    }
    if (n < 0 || n > Int.MaxValue)
      GraftException.badRequest(
        s"$what count out of range [0, ${Int.MaxValue}]: $n")
    n
  }

  /** Split on a keyword at bracket/paren depth 0 with word boundaries —
    * so a measure NAMED '[Black and Decker]' or '[Profit or Loss]' never
    * splits (the [[splitTop]] discipline, word-shaped). */
  private def splitTopWord(s: String, word: String): Seq[String] = {
    val w = word
    val parts = Seq.newBuilder[String]
    var depth = 0; var brk = 0; var start = 0; var i = 0
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case '[' => brk += 1
        case ']' => brk -= 1
        case _ =>
      }
      // regionMatches(ignoreCase): indexing stays on s itself — a
      // whole-string toUpperCase can CHANGE LENGTH (ß -> SS) and misalign
      if (depth == 0 && brk == 0 &&
          s.regionMatches(true, i, w, 0, w.length) &&
          (i == 0 || !s(i - 1).isLetterOrDigit) &&
          (i + w.length >= s.length || !s(i + w.length).isLetterOrDigit)) {
        parts += s.substring(start, i)
        start = i + w.length
        i += w.length
      } else i += 1
    }
    parts += s.substring(start)
    parts.result()
  }

  /** A FILTER condition: one comparison, or several conjoined with AND
    * (HAVING filters compose conjunctively — each term is its own
    * [[MeasureFilter]]). OR would need disjunctive HAVING the IR doesn't
    * model; reject it explicitly rather than mis-parsing. Both keywords
    * split bracket-aware, so measure names containing the words stay
    * intact. */
  private def parseConditions(cube: CubeDef, s: String): Seq[MeasureFilter] = {
    if (splitTopWord(s, "OR").length > 1)
      GraftException.badRequest(
        s"FILTER supports AND-conjoined comparisons only, got '$s'")
    splitTopWord(s, "AND").map(parseCondition(cube, _))
  }

  /** `[Measures].[M] <op> <number>` with ops > < >= <= = <> (ref A10). */
  private def parseCondition(cube: CubeDef, s: String): MeasureFilter = {
    val condRe =
      """(?s)^\s*(.*?)\s*(>=|<=|<>|>|<|=)\s*(-?\d+(?:\.\d+)?)\s*$""".r
    s match {
      case condRe(m, op, v) =>
        val name = QueryParser.segments(m) match {
          case Seq("Measures", x) => resolveMeasure(cube, x)
          case Seq(x) => resolveMeasure(cube, x)
          case _ => GraftException.badRequest(s"bad FILTER measure '$m'")
        }
        MeasureFilter(name, op, v.toDouble)
      case _ => GraftException.badRequest(s"cannot parse FILTER condition '$s'")
    }
  }

  private def stripBrackets(s: String): String = {
    val t = s.trim
    if (t.startsWith("[") && t.endsWith("]")) t.substring(1, t.length - 1)
    else t
  }

  private def parseMeasureAxis(cube: CubeDef, s: String): Seq[String] = {
    val inner =
      if (s.startsWith("{") && s.endsWith("}")) s.substring(1, s.length - 1)
      else s
    splitTop(inner, ',').map { m =>
      QueryParser.segments(m) match {
        case Seq("Measures", name) => resolveMeasure(cube, name)
        case Seq(name) => resolveMeasure(cube, name)
        case _ => GraftException.badRequest(s"bad measure expression '$m'")
      }
    }
  }

  /** The LevelRef named by a `<set>.Members` argument of Rank/Avg/Min/Max/
    * Median — validated against the schema at parse time (unknown
    * dimension/level 400s via [[Planner.resolve]]). */
  private def levelRefOfSet(cube: CubeDef, path: String,
      fn: String): LevelRef = {
    val ref = QueryParser.segments(path) match {
      case Seq(d) => LevelRef(d)
      case Seq(d, x) =>
        // [Dim].[X].Members: X is a HIERARCHY (the standard multi-hierarchy
        // spelling — the set is that hierarchy's drilled level) or a level
        cube.dimension(d) match {
          case Some(dim) if dim.hierarchy(Some(x)).nonEmpty =>
            LevelRef(d, None, Some(x))
          case _ => LevelRef(d, Some(x))
        }
      case Seq(d, h, l) => LevelRef(d, Some(l), Some(h))
      case _ => GraftException.badRequest(s"bad $fn member set '$path'")
    }
    if (cube.dimension(ref.dim).isEmpty)
      GraftException.badRequest(s"$fn(set, …) on unknown dimension '${ref.dim}'")
    if (ref.level.nonEmpty) Planner.resolve(cube, ref) // 400 unknown level
    ref
  }

  /** Base measure of a window measure (Rank/set aggregates): any
    * non-calculated measure alias. Calculated members are computed AFTER
    * the window measures in the planner, so a calc base would reference a
    * column that does not exist yet — reject at parse time instead of
    * surfacing an internal analysis error. */
  private def resolveWindowBase(cube: CubeDef, name: String,
      fn: String): String = {
    val alias = resolveMeasure(cube, name)
    if (cube.calcMembers.exists(_.alias == alias))
      GraftException.badRequest(
        s"$fn base '$name' is a calculated member — window measures " +
          s"rank/aggregate base, lag, total, cumulative or moving " +
          s"measures only")
    alias
  }

  /** Measures may be referenced by display name or alias. */
  private def resolveMeasure(cube: CubeDef, name: String): String =
    cube.measure(name).map(_.alias)
      .orElse(cube.calcMembers.find(_.alias == name).map(_.alias))
      .orElse(cube.lagMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.cumMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.totalMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.movingMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.rankMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.setAggMeasures.find(_.alias == name).map(_.alias))
      .getOrElse(GraftException.badRequest(s"measure '$name' not found"))

  /** One side of a set-algebra expression, normalized to a single level plus
    * a key-set view: All (`.Members`), Incl (enumerated keys, order kept),
    * or Excl (everything but these keys). */
  private sealed trait KeySet
  private case object All extends KeySet
  private final case class Incl(keys: Seq[Any]) extends KeySet
  private final case class Excl(keys: Seq[Any]) extends KeySet

  private def asKeySet(cube: CubeDef, s: String): (LevelRef, KeySet) = {
    val (drills, cuts) = parseSet(cube, s)
    (drills, cuts) match {
      case (Seq(LevelDrill(ref)), Nil) => (ref, All)
      case (Seq(LevelDrill(ref)), Seq(MemberCut(_, k))) => (ref, Incl(Seq(k)))
      case (Seq(LevelDrill(ref)), Seq(SetCut(_, ks))) => (ref, Incl(ks))
      case (Seq(LevelDrill(ref)), Seq(ExcludeCut(_, ks))) => (ref, Excl(ks))
      case _ => GraftException.badRequest(
        s"set algebra needs enumerable single-level sets: '$s'")
    }
  }

  /** UNION / EXCEPT / INTERSECT over same-level member sets, folded to one
    * include/exclude key set (closed algebra — results nest). */
  private def setAlgebra(cube: CubeDef, fn: String, l: String, r: String)
      : (Seq[Drill], Seq[Cut]) = {
    val (lref, ls) = asKeySet(cube, l)
    val (rref, rs) = asKeySet(cube, r)
    val rl = Planner.resolve(cube, lref)
    val rr = Planner.resolve(cube, rref)
    if ((rl.dim.name, rl.hier.name, rl.level.name) !=
        (rr.dim.name, rr.hier.name, rr.level.name))
      GraftException.badRequest(
        s"$fn arguments must enumerate the same level " +
          s"(${rl.level.name} vs ${rr.level.name})")
    def dd(ks: Seq[Any]) = ks.distinct
    val merged: KeySet = (fn, ls, rs) match {
      case ("UNION", All, _) | ("UNION", _, All) => All
      case ("UNION", Incl(a), Incl(b)) => Incl(dd(a ++ b))
      case ("UNION", Excl(a), Incl(b)) => Excl(a.filterNot(b.contains))
      case ("UNION", Incl(a), Excl(b)) => Excl(b.filterNot(a.contains))
      case ("UNION", Excl(a), Excl(b)) => Excl(a.filter(b.contains))
      case ("INTERSECT", All, x) => x
      case ("INTERSECT", x, All) => x
      case ("INTERSECT", Incl(a), Incl(b)) => Incl(a.filter(b.contains))
      case ("INTERSECT", Excl(a), Incl(b)) => Incl(b.filterNot(a.contains))
      case ("INTERSECT", Incl(a), Excl(b)) => Incl(a.filterNot(b.contains))
      case ("INTERSECT", Excl(a), Excl(b)) => Excl(dd(a ++ b))
      case ("EXCEPT", _, All) => Incl(Nil)
      case ("EXCEPT", All, Incl(b)) => Excl(b)
      case ("EXCEPT", Incl(a), Incl(b)) => Incl(a.filterNot(b.contains))
      case ("EXCEPT", Excl(a), Incl(b)) => Excl(dd(a ++ b))
      case ("EXCEPT", All, Excl(b)) => Incl(b)
      case ("EXCEPT", Incl(a), Excl(b)) => Incl(a.filter(b.contains))
      case ("EXCEPT", Excl(a), Excl(b)) => Incl(b.filterNot(a.contains))
      case _ => GraftException.badRequest(s"unsupported $fn combination")
    }
    val cut: Option[Cut] = merged match {
      case All => None
      case Incl(ks) => Some(SetCut(lref, ks))
      case Excl(ks) if ks.isEmpty => None
      case Excl(ks) => Some(ExcludeCut(lref, ks))
    }
    (Seq(LevelDrill(lref)), cut.toSeq)
  }

  /** True when the string is one balanced (...) group end to end. */
  private def wholeParen(t: String): Boolean = {
    if (!(t.startsWith("(") && t.endsWith(")"))) return false
    var depth = 0
    var i = 0
    while (i < t.length - 1) {
      t.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return false
        case _ =>
      }
      i += 1
    }
    depth == 1
  }

  /** Row-axis set → (drilldowns, cuts). */
  def parseSet(cube: CubeDef, s: String): (Seq[Drill], Seq[Cut]) = {
    val t = s.trim
    val upper = t.toUpperCase
    if (wholeParen(t)) {
      // a paren-wrapped SET (WITH SET substitution wraps its body; tuple
      // slicers never reach parseSet — they go through parseSlicer)
      parseSet(cube, t.substring(1, t.length - 1))
    } else if (Seq("UNION(", "EXCEPT(", "INTERSECT(").exists(upper.startsWith)
        && t.endsWith(")")) {
      val fn = upper.takeWhile(_ != '(')
      val args = splitTop(t.substring(fn.length + 1, t.length - 1), ',')
      if (args.length != 2)
        GraftException.badRequest(s"$fn takes exactly 2 sets: '$s'")
      setAlgebra(cube, fn, args(0), args(1))
    } else if (upper.startsWith("CROSSJOIN(") && t.endsWith(")")) {
      val args = splitTop(t.substring("CROSSJOIN(".length, t.length - 1), ',')
      if (args.length != 2)
        GraftException.badRequest(s"CROSSJOIN takes 2 sets: '$s'")
      val (d1, c1) = parseSet(cube, args(0))
      val (d2, c2) = parseSet(cube, args(1))
      (d1 ++ d2, c1 ++ c2)
    } else if (splitTop(t, '*').length > 1) {
      val parts = splitTop(t, '*')
      val parsed = parts.map(parseSet(cube, _))
      (parsed.flatMap(_._1), parsed.flatMap(_._2))
    } else if ((upper.startsWith("TOPCOUNT(") ||
        upper.startsWith("BOTTOMCOUNT(")) && t.endsWith(")")) {
      val fn = if (upper.startsWith("TOPCOUNT(")) "TOPCOUNT(" else "BOTTOMCOUNT("
      val args = splitTop(t.substring(fn.length, t.length - 1), ',')
      if (args.length != 3)
        GraftException.badRequest(s"${fn.dropRight(1)} takes (set, k, measure): '$s'")
      val (drills, cuts) = parseSet(cube, args(0))
      val level = drills match {
        case Seq(LevelDrill(ref)) => ref
        case _ => GraftException.badRequest(
          s"${fn.dropRight(1)} set must be a single level enumeration: '$s'")
      }
      val k = args(1).trim.toInt
      val m = QueryParser.segments(args(2)) match {
        case Seq("Measures", name) => resolveMeasure(cube, name)
        case Seq(name) => resolveMeasure(cube, name)
        case _ => GraftException.badRequest(s"bad ${fn.dropRight(1)} measure '${args(2)}'")
      }
      (drills, cuts :+ TopKCut(level, k, m, asc = fn == "BOTTOMCOUNT("))
    } else if ((upper.startsWith("TOPPERCENT(") ||
        upper.startsWith("TOPSUM(") || upper.startsWith("BOTTOMPERCENT(") ||
        upper.startsWith("BOTTOMSUM(")) && t.endsWith(")")) {
      // TOPPERCENT(set, p, m) / TOPSUM(set, s, m): the smallest
      // descending-by-measure prefix reaching the threshold (Pareto cut);
      // BOTTOM* forms take the ASCENDING prefix (the long tail)
      val fn = Seq("TOPPERCENT(", "TOPSUM(", "BOTTOMPERCENT(", "BOTTOMSUM(")
        .find(upper.startsWith).get
      val args = splitTop(t.substring(fn.length, t.length - 1), ',')
      if (args.length != 3)
        GraftException.badRequest(
          s"${fn.dropRight(1)} takes (set, threshold, measure): '$s'")
      val (drills, cuts) = parseSet(cube, args(0))
      val level = drills match {
        case Seq(LevelDrill(ref)) => ref
        case _ => GraftException.badRequest(
          s"${fn.dropRight(1)} set must be a single level enumeration: '$s'")
      }
      val th = try args(1).trim.toDouble catch {
        case _: NumberFormatException => GraftException.badRequest(
          s"bad ${fn.dropRight(1)} threshold '${args(1)}'")
      }
      // toDouble accepts 'NaN'/'Infinity'; NaN slips through both range
      // checks downstream (NaN<=0 and NaN>100 are false) and would yield a
      // silently-empty member set — reject non-finite here
      if (th.isNaN || th.isInfinite)
        GraftException.badRequest(
          s"${fn.dropRight(1)} threshold must be finite, got '${args(1)}'")
      val m = QueryParser.segments(args(2)) match {
        case Seq("Measures", name) => resolveMeasure(cube, name)
        case Seq(name) => resolveMeasure(cube, name)
        case _ => GraftException.badRequest(
          s"bad ${fn.dropRight(1)} measure '${args(2)}'")
      }
      (drills, cuts :+ TopShareCut(level, th, m,
        absolute = fn == "TOPSUM(" || fn == "BOTTOMSUM(", within = cuts,
        asc = fn.startsWith("BOTTOM")))
    } else if (splitTop(t, ':').length == 2) {
      // member range [D].[L].[a] : [D].[L].[b] → drill the level + range cut
      val cut = QueryParser.parseCut(cube, s"($t)")
      cut match {
        case RangeCut(level, _, _) => (Seq(LevelDrill(level)), Seq(cut))
        case _ => GraftException.badRequest(s"bad member range '$t'")
      }
    } else if (upper.endsWith(".CHILDREN")) {
      // member.Children → drill the NEXT level, cut on the member
      val memberPath = t.substring(0, t.length - ".Children".length)
      val cut = QueryParser.parseCut(cube, memberPath)
      cut match {
        case MemberCut(ref, _) =>
          val rl = Planner.resolve(cube, ref)
          val child = rl.hier.levels.lift(rl.depth + 1).getOrElse(
            GraftException.badRequest(
              s"'$memberPath' is a leaf member — no children"))
          (Seq(LevelDrill(LevelRef(rl.dim.name, Some(child.name),
            Some(rl.hier.name)))), Seq(cut))
        case _ =>
          GraftException.badRequest(s"bad member for .Children: '$memberPath'")
      }
    } else if (upper.startsWith("DESCENDANTS(") && t.endsWith(")")) {
      val args = splitTop(t.substring("DESCENDANTS(".length, t.length - 1), ',')
      if (args.length != 2)
        GraftException.badRequest(s"DESCENDANTS takes (member, level): '$s'")
      val cut = QueryParser.parseCut(cube, args(0)) // member cut on ancestor
      val levelRef = QueryParser.segments(args(1)) match {
        case Seq(d, l) => LevelRef(d, Some(l))
        case Seq(d, h, l) => LevelRef(d, Some(l), Some(h))
        case _ => GraftException.badRequest(s"bad DESCENDANTS level '${args(1)}'")
      }
      (Seq(LevelDrill(levelRef)), Seq(cut))
    } else if (t.startsWith("{") && t.endsWith("}")) {
      val elems = splitTop(t.substring(1, t.length - 1), ',').map(_.trim)
      def isSetExpr(e: String): Boolean = {
        val u = e.toUpperCase
        u.endsWith(".MEMBERS") || u.endsWith(".CHILDREN") ||
          Seq("TOPCOUNT(", "BOTTOMCOUNT(", "TOPPERCENT(", "TOPSUM(",
            "CROSSJOIN(", "UNION(",
            "EXCEPT(", "INTERSECT(", "DESCENDANTS(", "FILTER(", "ORDER(",
            "HEAD(", "TAIL(", "SUBSET(", "HIERARCHIZE(").exists(u.startsWith) ||
          splitTop(e, ':').length == 2
      }
      // a WITH SET substitution wraps its body in parens, so the brace
      // element may arrive as "(<set expr>)" — strip before classifying
      def unparen(e: String): String = {
        var x = e.trim
        while (wholeParen(x)) x = x.substring(1, x.length - 1).trim
        x
      }
      if (elems.length == 1 && isSetExpr(unparen(elems.head))) {
        // {} is MDX's Set constructor and accepts set expressions —
        // `{[L].Members}` is the braced spelling of `[L].Members`
        parseSet(cube, elems.head)
      } else if (elems.exists(e => isSetExpr(unparen(e)))) {
        GraftException.badRequest(
          s"set literal mixing members with set expressions is not supported: '$t'")
      } else if (elems.forall { e =>
        val x = e.trim
        x.startsWith("(") && x.endsWith(")") &&
          splitTop(x.substring(1, x.length - 1), ',').length >= 2
      }) {
        // EXPLICIT TUPLE SET: `{([D1].[L1].[k1], [D2].[L2].[k2]), …}` —
        // hand-picked member COMBINATIONS as the axis. Every tuple must
        // name the same levels in the same order (Mondrian's tuple-set
        // well-formedness) and a tuple names each dimension at most
        // once. Emits the levels' drills + one per-level SetCut (scan
        // pruning + dense member domains) + the [[TupleCut]] that trims
        // the axis to the listed combinations after densification.
        val parsed = elems.map { e =>
          val x = e.trim
          splitTop(x.substring(1, x.length - 1), ',').map { p =>
            QueryParser.parseCut(cube, p.trim) match {
              case MemberCut(l, k) =>
                val rl = Planner.resolve(cube, l)
                (l, (rl.dim.name, rl.hier.name, rl.level.name), k)
              case _ => GraftException.badRequest(
                s"tuple-set element must list plain members: '${p.trim}'")
            }
          }
        }
        val shape = parsed.head.map(_._2)
        if (shape.map(_._1).distinct.length != shape.length)
          GraftException.badRequest(
            s"a tuple names each dimension at most once: '$t'")
        parsed.tail.foreach { tp =>
          if (tp.map(_._2) != shape)
            GraftException.badRequest(
              "every tuple of a tuple set must name the same levels in " +
                s"the same order: '$t'")
        }
        val levels = parsed.head.map(_._1)
        val rows: Seq[Seq[Any]] = parsed.map(_.map(_._3))
        val setCuts = levels.zipWithIndex.map { case (l, i) =>
          SetCut(l, rows.map(_(i)).distinct)
        }
        (levels.map(LevelDrill(_)), setCuts :+ TupleCut(levels, rows))
      } else {
        // explicit member set: drill the shared level + set cut (or named set)
        val cut = QueryParser.parseCut(cube, t)
        cut match {
          case SetCut(level, _) => (Seq(LevelDrill(level)), Seq(cut))
          case _ => GraftException.badRequest(s"unsupported set literal '$t'")
        }
      }
    } else if (upper.endsWith(".MEMBERS")) {
      val path = t.substring(0, t.length - ".Members".length)
      QueryParser.segments(path) match {
        case Seq(d) => (Seq(LevelDrill(LevelRef(d))), Nil)
        case Seq(d, l) => (Seq(LevelDrill(LevelRef(d, Some(l)))), Nil)
        case Seq(d, h, l) => (Seq(LevelDrill(LevelRef(d, Some(l), Some(h)))), Nil)
        case _ => GraftException.badRequest(s"bad level path '$path'")
      }
    } else {
      parseNavMember(cube, t) match {
        // a navigation member as a set: drill its target level, cut to it
        case Some(nc) => (Seq(LevelDrill(nc.target)), Seq(nc))
        case None =>
          val name = stripBrackets(t)
          if (cube.namedSet(name).nonEmpty) (Seq(NamedSetDrill(name)), Nil)
          else GraftException.badRequest(s"unsupported set expression '$t'")
      }
    }
  }

  /** WHERE (m1 * m2 * ...) — slicer tuple of member cuts (ref A16). Each
    * tuple element is a plain member or a member-navigation expression
    * (ANCESTOR, .Parent, .FirstChild/.LastChild, OPENING/CLOSINGPERIOD). */
  private def parseSlicer(cube: CubeDef, s: String): Seq[Cut] = {
    val inner =
      if (s.startsWith("(") && s.endsWith(")")) s.substring(1, s.length - 1)
      else s
    splitTop(inner, '*').map(p =>
      parseNavMember(cube, p.trim).getOrElse(QueryParser.parseCut(cube, p)))
  }

  /** MDX member-navigation expression → [[NavCut]]; None when `s` is not a
    * navigation form (the caller falls back to the plain member grammar).
    * ANCESTOR(member, level) and member.Parent walk UP the hierarchy;
    * OPENINGPERIOD(level, member) / CLOSINGPERIOD(level, member) and
    * member.FirstChild / member.LastChild walk DOWN to the first/last
    * descendant in member order. Resolution to a concrete member key
    * happens at plan time ([[Planner]] navKeyValue — one memoized 1-row
    * dimension lookup), so parsing stays pure. */
  private def parseNavMember(cube: CubeDef, s: String): Option[NavCut] = {
    val t = s.trim
    val upper = t.toUpperCase
    def memberOf(e: String): (LevelRef, Any) =
      QueryParser.parseCut(cube, e.trim) match {
        case MemberCut(l, k) => (l, k)
        case _ => GraftException.badRequest(s"expected a member, got '$e'")
      }
    def levelRefOf(e: String, fn: String): LevelRef =
      QueryParser.segments(e.trim) match {
        case Seq(d, l) => LevelRef(d, Some(l))
        case Seq(d, h, l) => LevelRef(d, Some(l), Some(h))
        case _ => GraftException.badRequest(s"bad $fn level '$e'")
      }
    if (upper.startsWith("ANCESTOR(") && t.endsWith(")")) {
      val as = splitTop(t.substring("ANCESTOR(".length, t.length - 1), ',')
      if (as.length != 2)
        GraftException.badRequest(s"ANCESTOR takes (member, level): '$s'")
      val (ml, mk) = memberOf(as(0))
      Some(NavCut(ml, mk, levelRefOf(as(1), "ANCESTOR"), "ancestor"))
    } else if ((upper.startsWith("OPENINGPERIOD(") ||
        upper.startsWith("CLOSINGPERIOD(")) && t.endsWith(")")) {
      val fn = if (upper.startsWith("OPENINGPERIOD(")) "OPENINGPERIOD"
        else "CLOSINGPERIOD"
      val as = splitTop(t.substring(fn.length + 1, t.length - 1), ',')
      if (as.length != 2)
        GraftException.badRequest(s"$fn takes (level, member): '$s'")
      val (ml, mk) = memberOf(as(1))
      Some(NavCut(ml, mk, levelRefOf(as(0), fn),
        if (fn == "OPENINGPERIOD") "first" else "last"))
    } else if (upper.endsWith(".PARENT")) {
      val (ml, mk) = memberOf(t.substring(0, t.length - ".Parent".length))
      val rl = Planner.resolve(cube, ml)
      if (rl.depth == 0)
        GraftException.badRequest(
          s"'$t': a top-level member's parent is the All member — cut has " +
            s"no effect; drop it instead")
      val parent = rl.hier.levels(rl.depth - 1)
      Some(NavCut(ml, mk,
        LevelRef(rl.dim.name, Some(parent.name), Some(rl.hier.name)),
        "ancestor"))
    } else if (upper.endsWith(".FIRSTCHILD") || upper.endsWith(".LASTCHILD")) {
      val last = upper.endsWith(".LASTCHILD")
      val suffix = if (last) ".LastChild" else ".FirstChild"
      val (ml, mk) = memberOf(t.substring(0, t.length - suffix.length))
      val rl = Planner.resolve(cube, ml)
      val child = rl.hier.levels.lift(rl.depth + 1).getOrElse(
        GraftException.badRequest(s"'$t' is a leaf member — no children"))
      Some(NavCut(ml, mk,
        LevelRef(rl.dim.name, Some(child.name), Some(rl.hier.name)),
        if (last) "last" else "first"))
    } else None
  }

  /** Split at depth 0 (parens/braces), honoring bracket quoting. */
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
}
