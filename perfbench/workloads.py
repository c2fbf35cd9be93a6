"""Request generators for the three workloads, each request paired with the
plain SQL that must give the same answer (evaluated in DuckDB, outside the
engine's planner).

A request is a dict: id, kind, method, target (percent-encoded path and
query), body, content_type, auth, fmt (json | csv | jsonrecords | xls) and a
`check`: {"sql": ..., "captions": [column indexes that are captions]} or
None (digest-only requests: /cubes, level members, /flush).
"""
import urllib.parse as up

# DECIMAL(27,6) routing on the SQL side, the same quantization the planner
# applies to Sum/Avg measures (the VARCHAR hop matches Spark's double →
# decimal cast).
def _dec(e):
    return f"CAST(CAST(({e}) AS VARCHAR) AS DECIMAL(27,6))"


REV = "l_extendedprice * (1.0 - l_discount)"
# The sales star, joined and quantized once per data set (run.py keeps it in
# a DuckDB file): lineitem with its supplier geography, part and order
# columns, plus each Sum/Avg measure input as DECIMAL(27,6).
STAR_SQL = f"""CREATE TABLE star AS SELECT lineitem.*, supplier.*, nation.*, region.*,
  part.*, orders.*, {_dec(REV)} AS rev_d, {_dec('l_quantity')} AS qty_d,
  {_dec('l_extendedprice')} AS price_d, {_dec('l_discount')} AS disc_d
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey"""
MEASURES = {  # display name -> SQL aggregate over the star table
    "Revenue": "CAST(SUM(rev_d) AS DOUBLE)",
    "Quantity": "CAST(SUM(qty_d) AS DOUBLE)",
    "Line Count": "COUNT(1)",
    "Gross": "CAST(SUM(price_d) AS DOUBLE)",
    "Avg Discount": "CAST(SUM(disc_d) AS DOUBLE) / COUNT(l_discount)",
    "Min Price": "MIN(l_extendedprice)",
    "Max Price": "MAX(l_extendedprice)",
}
# REST level id -> (SQL key, SQL caption or None, member path prefix for cuts)
LEVELS = {
    "Geography.Region": ("r_regionkey", "r_name", "[Geography].[Region]"),
    "Geography.Nation": ("n_nationkey", "n_name", "[Geography].[Nation]"),
    "Part.Brands.Brand": ("p_brand", None, "[Part].[Brand]"),
    "Part.Brands.Part": ("p_partkey", "p_name", "[Part].[Part]"),
    "Part.Types.Type": ("p_type", None, "[Part].[Types].[Type]"),
    "ShipDate.Monthly.Year": ("CAST(year(l_shipdate) AS INTEGER)", None,
                              "[ShipDate].[Monthly].[Year]"),
    "ReturnFlag": ("l_returnflag", None, "[ReturnFlag].[ReturnFlag]"),
    "LineStatus": ("l_linestatus", None, "[LineStatus].[LineStatus]"),
    "Order.Priority.Priority": ("o_orderpriority", None, "[Order].[Priority].[Priority]"),
}
# cut level -> the members a cut may name
CUT_MEMBERS = {
    "Geography.Region": list(range(5)),
    "Geography.Nation": list(range(25)),
    "Part.Brands.Brand": [f"Brand#{i}" for i in range(1, 26)],
    "Part.Types.Type": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
    "ShipDate.Monthly.Year": list(range(1995, 2002)),
    "ReturnFlag": ["A", "N", "R"],
    "LineStatus": ["F", "O"],
    "Order.Priority.Priority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
}
MEASURE_SETS = [["Revenue", "Line Count"], ["Quantity", "Avg Discount"],
                ["Revenue", "Gross", "Max Price"]]
FMT_EXT = {"json": "", "csv": ".csv", "jsonrecords": ".jsonrecords", "xls": ".xls"}


def _lit(v):
    return str(v) if isinstance(v, int) else "'" + str(v).replace("'", "''") + "'"


def _cut_sql(c):
    kind, lvl, vals = c
    key = LEVELS[lvl][0]
    if kind == "member":
        return f"{key} = {_lit(vals[0])}"
    if kind == "set":
        return f"{key} IN ({', '.join(_lit(v) for v in vals)})"
    return f"{key} BETWEEN {_lit(vals[0])} AND {_lit(vals[1])}"


def _cut_rest(c):
    kind, lvl, vals = c
    path = LEVELS[lvl][2]
    if kind == "member":
        return f"{path}.[{vals[0]}]"
    if kind == "set":
        return "{" + ", ".join(f"{path}.[{v}]" for v in vals) + "}"
    return f"({path}.[{vals[0]}] : {path}.[{vals[1]}])"


def _star(cuts, extra=()):
    where = " AND ".join([_cut_sql(c) for c in cuts] + list(extra))
    return "FROM star" + (f" WHERE {where}" if where else "")


def aggregate_sql(levels, measures, cuts):
    """Key/caption pairs per drilled level, then measures, grouped."""
    cols, captions, groups = [], [], []
    for lvl in levels:
        key, cap = LEVELS[lvl][0], LEVELS[lvl][1]
        cols.append(key)
        groups.append(key)
        captions.append(len(cols))
        cols.append(cap or key)
        if cap:
            groups.append(cap)
    cols += [MEASURES[m] for m in measures]
    sql = f"SELECT {', '.join(cols)} {_star(cuts)}"
    if groups:
        sql += f" GROUP BY {', '.join(groups)}"
    return sql, captions


def _req(rid, kind, method, path, params=(), body="", fmt="json", check=None,
         content_type="", auth=False):
    query = up.urlencode(list(params), quote_via=up.quote)
    return {"id": rid, "kind": kind, "method": method,
            "target": path + ("?" + query if query else ""), "body": body,
            "content_type": content_type, "auth": auth, "fmt": fmt, "check": check}


def aggregate(rid, levels, measures, cuts=(), fmt="json", nonempty=True, extra=()):
    params = [("drilldown[]", lvl) for lvl in levels]
    params += [("measures[]", m) for m in measures]
    params += [("cut[]", _cut_rest(c)) for c in cuts]
    if nonempty:
        params.append(("nonempty", "true"))
    params += list(extra)
    sql, caps = aggregate_sql(levels, measures, list(cuts))
    return _req(rid, "aggregate", "GET", f"/cubes/sales/aggregate{FMT_EXT[fmt]}",
                params, fmt=fmt, check={"sql": sql, "captions": caps})


def mdx(rid, level, measures, slicer=None, fmt="json", topcount=None):
    ms = ", ".join(f"[Measures].[{m}]" for m in measures)
    lvl_path = "[" + "].[".join(level.split(".")) + "]"
    rows = f"{lvl_path}.Members"
    if topcount:
        rows = f"TOPCOUNT({rows}, {topcount}, [Measures].[{measures[0]}])"
    text = f"SELECT {{{ms}}} ON COLUMNS, NON EMPTY {rows} ON ROWS FROM sales"
    cuts = []
    if slicer:
        text += f" WHERE {_cut_rest(slicer)}"
        cuts = [slicer]
    sql, caps = aggregate_sql([level], measures, cuts)
    if topcount:
        sql = (f"WITH b AS ({sql}) SELECT * FROM b ORDER BY 3 DESC, 1 ASC "
               f"LIMIT {topcount}")
    return _req(rid, "mdx", "POST", "/mdx" + FMT_EXT[fmt], body=text, fmt=fmt,
                content_type="text/plain", check={"sql": sql, "captions": caps})


def topcount_named(rid, drill, measures, cuts, fmt):
    """NamedSetCut "Top Brands" (top 5 brands by revenue over the whole
    cube) with a drilldown and member cuts."""
    params = [("drilldown[]", drill)] + [("measures[]", m) for m in measures]
    params += [("cut[]", "[Top Brands]")] + [("cut[]", _cut_rest(c)) for c in cuts]
    params.append(("nonempty", "true"))
    top = ("p_brand IN (SELECT p_brand FROM star GROUP BY p_brand "
           "ORDER BY SUM(rev_d) DESC, p_brand ASC LIMIT 5)")
    sql, caps = aggregate_sql([drill], measures, list(cuts))
    sel, grp = sql.split(" FROM star")[0], sql.split(" GROUP BY ")[1]
    return _req(rid, "aggregate", "GET", f"/cubes/sales/aggregate{FMT_EXT[fmt]}", params,
                fmt=fmt, check={"sql": f"{sel} {_star(cuts, [top])} GROUP BY {grp}",
                                "captions": caps})


def lag(rid, cut, fmt):
    """PREVMEMBER lag over the month axis under a non-time member cut."""
    params = [("drilldown[]", "ShipDate.Monthly.Year"), ("drilldown[]", "ShipDate.Monthly.Month"),
              ("measures[]", "Revenue"), ("measures[]", "prev_revenue"),
              ("cut[]", _cut_rest(cut)), ("nonempty", "true")]
    sql = (f"WITH agg AS (SELECT CAST(year(l_shipdate) AS INTEGER) y, "
           f"CAST(month(l_shipdate) AS INTEGER) m, CAST(SUM(rev_d) AS DOUBLE) rev "
           f"{_star([cut])} GROUP BY 1, 2) "
           f"SELECT y, y, m, m, rev, lag(rev) OVER (ORDER BY y, m) FROM agg")
    return _req(rid, "aggregate", "GET", f"/cubes/sales/aggregate{FMT_EXT[fmt]}", params,
                fmt=fmt, check={"sql": sql, "captions": [1, 3]})


def dense_events(rid, user, fmt):
    """Dense Day x EventType axes under a User cut: each drilled level's full
    member domain crossed, empty cells kept as nulls."""
    params = [("drilldown[]", "EventDate.Daily.Day"), ("drilldown[]", "EventType"),
              ("measures[]", "Value"), ("measures[]", "Events"),
              ("cut[]", f"[User].[User].[{user}]")]
    sql = (f"WITH agg AS (SELECT CAST(ts AS DATE) d, event_type t, "
           f"CAST(SUM({_dec('value')}) AS DOUBLE) v, COUNT(1) n FROM events "
           f"WHERE user_id = {user} GROUP BY 1, 2) "
           f"SELECT dd.d, dd.d, tt.t, tt.t, agg.v, agg.n "
           f"FROM (SELECT DISTINCT CAST(ts AS DATE) d FROM events) dd "
           f"CROSS JOIN (SELECT DISTINCT event_type t FROM events) tt LEFT JOIN agg "
           f"ON agg.d = dd.d AND agg.t = tt.t")
    return _req(rid, "aggregate", "GET", f"/cubes/events/aggregate{FMT_EXT[fmt]}", params,
                fmt=fmt, check={"sql": sql, "captions": [1, 3]})


def drillthrough(rid, region, year, max_rows, fmt):
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    params = [("cut[]", f"[Geography].[Region].[{region}]"),
              ("cut[]", f"[ShipDate].[Monthly].[Year].[{year}]")]
    params += [("returns[]", c) for c in cols] + [("max_rows", str(max_rows))]
    sql = (f"SELECT {', '.join(cols)} FROM star WHERE n_regionkey = {region} "
           f"AND year(l_shipdate) = {year} ORDER BY {', '.join(cols)} LIMIT {max_rows}")
    ext = {"jsonrecords": "", "csv": ".csv"}[fmt]
    return _req(rid, "drillthrough", "GET", f"/cubes/sales/drillthrough{ext}", params,
                fmt=fmt, check={"sql": sql, "captions": [], "ordered": True})


GEO = ("supplier JOIN nation ON s_nationkey = n_nationkey "
       "JOIN region ON n_regionkey = r_regionkey")
MEMBER_SQL = {  # level -> (key, caption, source) of the level's member list
    ("Geography", "Region"): ("r_regionkey", "r_name", GEO),
    ("Part", "Part"): ("p_partkey", "p_name", "part"),
}


def members(rid, dim, level, offset=None, limit=None):
    params = []
    key, cap, src = MEMBER_SQL[(dim, level)]
    sql = f"SELECT DISTINCT {key} k, {cap} c FROM {src} ORDER BY k"
    if offset is not None:
        params = [("offset", str(offset)), ("limit", str(limit))]
        sql += f" LIMIT {limit} OFFSET {offset}"
    return _req(rid, "members", "GET",
                f"/cubes/sales/dimensions/{dim}/levels/{level}/members", params,
                fmt="members", check={"sql": sql, "captions": [], "ordered": True})


def flush():
    return _req("flush", "flush", "GET", "/flush", auth=True)


def bad_request():
    """A request the server must reject (unknown measure): the self-test
    injects it to prove a non-2xx answer counts as a failure."""
    return _req("bad", "aggregate", "GET", "/cubes/sales/aggregate",
                [("drilldown[]", "ReturnFlag"), ("measures[]", "NoSuchMeasure")])


# ------------------------------------------------------------------ dash_hot

def dashboard():
    """The fixed 46-request dashboard: aggregates in all four formats (and
    the array form of .jsonrecords), /mdx (TopCount and a slicer, three
    formats each), the large Part drilldown (~3.5 MB of JSON at sf0.1),
    /cubes and cube/dimension metadata, and level members (one unpaged, one
    paged). Formats of one query share one result-cache entry, so the
    working set is 9 cached results plus 2 member frames. Level members are
    the only requests that run Spark jobs on a warm cache. With the Part
    drilldown they are 3 of the 46 requests, so p90 falls among the hits
    and not on the edge between hits and these slower requests, where a
    few ranks span tens of milliseconds."""
    R = []
    base = [
        (["Geography.Region"], ["Revenue", "Line Count"], []),
        (["ShipDate.Monthly.Year"], ["Revenue", "Gross"], []),
        (["ReturnFlag", "LineStatus"], ["Quantity", "Avg Discount"], []),
        (["Part.Brands.Brand"], ["Revenue"], [("member", "Geography.Region", [2])]),
        (["Geography.Nation", "ShipDate.Monthly.Year"], ["Revenue"], []),
        (["Order.Priority.Priority"], ["Revenue", "Line Count"],
         [("range", "ShipDate.Monthly.Year", [1996, 1998])]),
    ]
    for i, (lv, ms, cuts) in enumerate(base):
        for fmt in ("json", "csv", "jsonrecords", "xls"):
            R.append(aggregate(f"h{i}_{fmt}", lv, ms, cuts, fmt=fmt))
        arr = aggregate(f"h{i}_array", lv, ms, cuts, fmt="jsonrecords",
                        extra=[("format", "array")])
        arr["fmt"] = "array"
        R.append(arr)
    R.append(aggregate("h_parts_json", ["Part.Brands.Part"], ["Revenue"], fmt="json"))
    for fmt in ("json", "csv", "jsonrecords"):
        R.append(mdx(f"h_mdx_top_{fmt}", "Part.Brands.Brand", ["Revenue"], topcount=5,
                     fmt=fmt))
        R.append(mdx(f"h_mdx_slice_{fmt}", "Geography.Nation", ["Revenue", "Line Count"],
                     slicer=("member", "ReturnFlag", ["N"]), fmt=fmt))
    R.append(_req("h_cubes", "cubes", "GET", "/cubes"))
    for cube in ("sales", "orders", "events"):
        R.append(_req(f"h_cube_{cube}", "cubes", "GET", f"/cubes/{cube}"))
    for dim in ("Geography", "Part", "ShipDate"):
        R.append(_req(f"h_dim_{dim}", "cubes", "GET", f"/cubes/sales/dimensions/{dim}"))
    R.append(members("h_mem_region", "Geography", "Region"))
    R.append(members("h_mem_part_p1", "Part", "Part", 50, 50))
    return R


# ---------------------------------------------------------------- dash_adhoc

ADHOC_DRILLS = ["Geography.Region", "Geography.Nation", "Part.Brands.Brand",
                "ShipDate.Monthly.Year", "ReturnFlag", "Part.Types.Type",
                "Order.Priority.Priority", "LineStatus"]


# One run's request sequence cycles through these shape families in this
# order; the seed picks which grid member of each family fills each slot.
ADHOC_CYCLE = ["member", "range", "member", "set", "topcount", "member", "lag",
               "dense", "mdx", "drillthrough"]


def adhoc_grid():
    """Every request of the slice-and-dice grid (>= 2000, all distinct),
    each tagged with its shape family."""
    R = []
    fmts = ["jsonrecords", "csv", "json"]
    family = None

    def add(req):
        req["id"] = f"a{len(R)}"
        req["family"] = family
        R.append(req)

    dims = lambda lvl: lvl.split(".")[0]
    family = "member"
    for d in ADHOC_DRILLS:
        for cl, members_ in CUT_MEMBERS.items():
            if dims(cl) == dims(d):
                continue
            for v in members_:
                for mi, ms in enumerate(MEASURE_SETS):
                    add(aggregate("", [d], ms, [("member", cl, [v])],
                                  fmt=fmts[(mi + len(R)) % 3]))
    years = CUT_MEMBERS["ShipDate.Monthly.Year"]
    family = "range"
    for d in ADHOC_DRILLS:
        if dims(d) == "ShipDate":
            continue
        for lo in years:
            for hi in years:
                if hi > lo:
                    add(aggregate("", [d], ["Revenue", "Line Count"],
                                  [("range", "ShipDate.Monthly.Year", [lo, hi])],
                                  fmt=fmts[len(R) % 3]))
    family = "set"
    for d in ADHOC_DRILLS:
        if dims(d) == "Geography":
            continue
        for a in range(5):
            for b in range(a + 1, 5):
                add(aggregate("", [d], ["Quantity", "Line Count"],
                              [("set", "Geography.Region", [a, b])], fmt=fmts[len(R) % 3]))
    family = "topcount"
    for d in ["Geography.Region", "ShipDate.Monthly.Year", "ReturnFlag", "Order.Priority.Priority"]:
        for cl in ["LineStatus", "Part.Types.Type"]:
            for v in CUT_MEMBERS[cl]:
                add(topcount_named("", d, ["Revenue"], [("member", cl, [v])], fmts[len(R) % 3]))
    family = "lag"
    for cl in ["Geography.Region", "ReturnFlag", "Part.Types.Type", "Order.Priority.Priority"]:
        for v in CUT_MEMBERS[cl]:
            add(lag("", ("member", cl, [v]), fmts[len(R) % 3]))
    family = "dense"
    for u in range(0, 1500, 10):
        add(dense_events("", u, fmts[len(R) % 3]))
    family = "mdx"
    for lvl in ["Geography.Nation", "Part.Brands.Brand", "Part.Types.Type"]:
        for cl in ["ReturnFlag", "ShipDate.Monthly.Year", "Geography.Region"]:
            if dims(cl) == dims(lvl):
                continue
            for v in CUT_MEMBERS[cl]:
                add(mdx("", lvl, ["Revenue", "Quantity"], slicer=("member", cl, [v]),
                        fmt=["json", "csv"][len(R) % 2]))
        for k in (3, 4, 6, 7):
            add(mdx("", lvl, ["Revenue"], topcount=k))
    family = "drillthrough"
    for region in range(5):
        for year in years:
            for mr in (20, 60, 150):
                add(drillthrough("", region, year, mr, ["jsonrecords", "csv"][len(R) % 2]))
    targets = [r["target"] + r["body"] for r in R]
    assert len(set(targets)) == len(targets), "grid requests must be distinct"
    return R


# ------------------------------------------------------------ pipeline_batch

# One or two queries per ops module: index and tombstone writes (d14, d22)
# beside a vector probe (s10), text, sessionization, media dedup and
# analytics. s14_knn_ivfpq is left out: its first call builds the IVF-PQ
# index (~16 s at sf0.1 on 4 cores), which alone would exceed a run's budget.
PIPELINE = ["d14_delta_ingest", "d22_tombstone_delete", "s10_mmr_rerank",
            "t08_pipeline_e2e", "e01_sessionize", "m08_video_neardup",
            "q53_copurchase"]
# The batch runs in this fixed order on every seed: the queries take no
# parameters, and a query's cost depends on what ran before it (shared
# indexes, context-cleaner timing), so a seeded order would only add noise.


def shuffled(items, rng):
    items = list(items)
    rng.shuffle(items)
    return items


if __name__ == "__main__":
    g = adhoc_grid()
    print(len(dashboard()), "dashboard requests;", len(g), "adhoc grid requests")
