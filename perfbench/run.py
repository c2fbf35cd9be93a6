#!/usr/bin/env python3
"""graft serve-path and pipeline benchmark.

    python3 perfbench/run.py --workload dash_hot|dash_adhoc|pipeline_batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine together with the
harness in perfbench/ (sbt, offline), checks the data set in
perfbench/data/ against its SHA-256 list, boots the program and drives one
workload. The last line of stdout is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
split with --trace 1).
See perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import base64
import contextlib
import csv
import fcntl
import hashlib
import io
import json
import math
import os
import random
import shutil
import socket
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads as W  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# A run's length is a fixed amount of work, sized so that it takes about
# --seconds on a 4-core host at the seed: equal work makes throughput and
# storage comparable between runs and between commits.
HOT_RATE = 45      # dash_hot: requests per nominal second
ADHOC_RATE = 3     # dash_adhoc: requests per nominal second
PIPELINE_PASS_S = 5  # pipeline_batch: nominal seconds per pass
ADHOC_TRACE_OPS = 20
# the javaOptions of the engine's own build (what `sbt run` passes to
# ServerMain and Bench): JDK 17 module opens for Spark, UI off, UTC, heap
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
JAVA_OPTS = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@contextlib.contextmanager
def checkout_lock():
    """Serializes the build and the one-off data steps of concurrent runs."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "run-classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "exportRunClasspath"], cwd=HERE, env=env,
                             stdout=log, stderr=subprocess.STDOUT, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (see {os.path.join(WORK, 'build.log')})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def dataset(scale):
    """The engine's seed-42 test data at `scale`, kept byte for byte in
    perfbench/data/; every file must match the SHA-256 list beside it."""
    name = f"sf{scale}"
    d = os.path.join(HERE, "data", name)
    with open(os.path.join(HERE, "data", name + ".sha256")) as f:
        sums = [ln.split() for ln in f if ln.strip()]
    for digest, fname in sums:
        with open(os.path.join(d, fname), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                die(f"{name}/{fname} differs from its SHA-256 in data/{name}.sha256")
    return d, name


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# ------------------------------------------------------------------- plans

def load_expected(name):
    p = os.path.join(HERE, "expected.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        e = json.load(f)
    return e.get(name, {})


def make_plan(a, data_dir, expected):
    rng = random.Random(a.seed)
    plan = {"data_dir": data_dir, "seconds": a.seconds, "trace": bool(a.trace),
            "secret": "%032x" % random.Random(a.seed ^ 0x5EC).getrandbits(128),
            "port": free_port(), "out": os.path.join(a.run_dir, "result.json")}
    if a.workload == "pipeline_batch":
        names = list(W.PIPELINE) + (["__throws__"] if a.inject else [])
        exp = expected.get("pipeline_batch", {})
        passes = 1 if a.trace or a.record else max(1, round(a.seconds / PIPELINE_PASS_S))
        # set-up runs one whole pass: it builds the standing LSH index and
        # dedup clusters that d14 and d22 reuse (IndexCache), so every timed
        # pass does the same work, a delta and tombstones against them
        plan.update(mode="pipeline", queries=names,
                    expect={n: exp.get(n, "") for n in names},
                    warmup=list(range(len(W.PIPELINE))),
                    passes=[list(range(len(names)))] * passes,
                    record=os.path.join(os.path.abspath(a.record), "parquet") if a.record else "")
        return plan, []
    if a.workload == "dash_hot":
        reqs = W.dashboard()
        exp = expected.get("dash_hot", {})
        for r in reqs:
            r["expect"] = exp.get(r["id"], "")
        if a.inject:
            reqs.append(W.bad_request())
        n = len(reqs)
        one_pass = W.shuffled(range(n), rng)
        # setup fills the result cache with one dashboard pass; the timed
        # work is dashboard traffic on the warm cache, closed by one /flush
        plan.update(mode="serve", clients=4, shared_queue=False, keep_bodies=bool(a.record),
                    warmup=[r for r in reqs if r["id"] != "bad"], requests=reqs,
                    client_orders=[W.shuffled(range(n), rng) for _ in range(4)],
                    flush=[W.flush()], total_requests=max(1, round(a.seconds * HOT_RATE)),
                    seconds=max(60.0, 12 * a.seconds),
                    trace_order=one_pass + [-1] + one_pass)
        if a.record:  # every request once, bodies kept for the cross-check
            plan.update(clients=1, shared_queue=True, flush=[], warmup=[], seconds=600)
        return plan, reqs
    # dash_adhoc: a request count, drawn without replacement from the grid,
    # stratified by shape family (the seed picks the members), so every run
    # has the same mix; one fixed request per family warms up
    grid = W.adhoc_grid()
    fixed = random.Random(12345)
    fams = {}
    for i, r in enumerate(grid):
        fams.setdefault(r["family"], []).append(i)
    warm_idx = [fixed.choice(ix) for ix in fams.values()]
    left = {f: rng.sample([i for i in ix if i not in warm_idx], len(ix) - 1)
            for f, ix in fams.items()}
    n = max(1, round(a.seconds * ADHOC_RATE))
    reqs = [grid[left[W.ADHOC_CYCLE[k % len(W.ADHOC_CYCLE)]].pop()] for k in range(n)]
    if a.inject:
        reqs.insert(3, W.bad_request())
    plan.update(mode="serve", clients=2, shared_queue=True, keep_bodies=True,
                warmup=[grid[i] for i in warm_idx], requests=reqs, client_orders=[[], []],
                seconds=max(60.0, 12 * a.seconds),
                trace_order=list(range(min(ADHOC_TRACE_OPS, len(reqs)))))
    return plan, reqs


# ------------------------------------------------------------ output checks

def parse_biff(data):
    """Cells of the worksheet of a BIFF8 .xls the engine writes (NUMBER,
    LABEL, BLANK records after the worksheet BOF)."""
    i = data.find(b"\x09\x08\x10\x00\x00\x06\x10\x00")
    if i < 0:
        raise ValueError("no worksheet BOF")
    cells = {}
    while i + 4 <= len(data):
        rid, ln = struct.unpack_from("<HH", data, i)
        body = data[i + 4:i + 4 + ln]
        i += 4 + ln
        if rid == 0x000A:
            break
        if rid == 0x0203:
            r, c, _, v = struct.unpack_from("<HHHd", body)
            cells[(r, c)] = v
        elif rid == 0x0204:
            r, c, _, n, _hb = struct.unpack_from("<HHHHB", body)
            cells[(r, c)] = body[9:9 + 2 * n].decode("utf-16-le")
        elif rid == 0x0201:
            r, c, _ = struct.unpack_from("<HHH", body)
            cells[(r, c)] = None
    if not cells:
        return []
    nr = max(r for r, _ in cells) + 1
    nc = max(c for _, c in cells) + 1
    return [[cells.get((r, c)) for c in range(nc)] for r in range(1, nr)]


def body_rows(fmt, body):
    if fmt == "xls":
        return parse_biff(body)
    text = body.decode("utf-8") if isinstance(body, bytes) else body
    if fmt == "csv":
        return [[v if v != "" else None for v in row]
                for row in list(csv.reader(io.StringIO(text)))[1:]]
    doc = json.loads(text)
    if fmt == "members":
        return [[m["key"], m["caption"]] for m in doc["members"]]
    if fmt == "jsonrecords":
        return [list(d.values()) for d in doc]
    if fmt == "array":
        return doc["data"]
    return [list(k) + list(v) for k, v in zip(doc["cell_keys"], doc["values"])]


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float)):
        return float(v)
    try:
        f = float(v)
        return f if math.isfinite(f) else str(v)
    except ValueError:
        return str(v)


def _key(row):
    return [(0, 0.0) if x is None else (1, x) if isinstance(x, float) else (2, x) for x in row]


def rows_match(got, want, ordered):
    got = [[_norm(x) for x in r] for r in got]
    want = [[_norm(x) for x in r] for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row width {len(g)}, expected {len(w)}"
        for x, y in zip(g, w):
            same = (x == y) if not (isinstance(x, float) and isinstance(y, float)) else \
                math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
            if not same:
                return f"row {g} differs from expected {w}"
    return None


class Oracle:
    """Plain SQL over the data set's parquet in DuckDB (outside graft)."""

    def __init__(self, data_dir):
        import duckdb
        db = os.path.join(WORK, f"oracle-{os.path.basename(data_dir)}.duckdb")
        with checkout_lock():
            if not os.path.exists(db):
                self._create(db, data_dir)
        self.con = duckdb.connect(db, read_only=True)
        self.con.execute("SET enable_progress_bar = false")

    @staticmethod
    def _create(db, data_dir):
        import duckdb
        if os.path.exists(db + ".tmp"):
            os.remove(db + ".tmp")
        con = duckdb.connect(db + ".tmp")
        con.execute("SET enable_progress_bar = false")
        for t in ("region", "nation", "supplier", "part", "orders", "lineitem", "events",
                  "customer", "documents", "embeddings"):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        con.execute(W.STAR_SQL)
        con.close()
        os.replace(db + ".tmp", db)

    def check(self, req, body):
        """None when the response body equals the SQL answer, else why not."""
        chk = req["check"]
        want = [list(r) for r in self.con.execute(chk["sql"]).fetchall()]
        if req["fmt"] == "json":  # axes document: keys + values, no captions
            drop = set(chk["captions"])
            want = [[v for i, v in enumerate(r) if i not in drop] for r in want]
        try:
            got = body_rows(req["fmt"], body)
        except Exception as e:  # unparseable output is a wrong output
            return f"unparseable {req['fmt']} body: {e}"
        return rows_match(got, want, chk.get("ordered", False))


# ------------------------------------------------------------------ metrics

def pct(values, q):
    """The q-quantile, interpolated linearly between the closest ranks: with
    few samples (pipeline_batch has 14), a nearest-rank pick jumps from one
    query's latency to another's when their order flips."""
    s = sorted(values)
    x = q * (len(s) - 1)
    i = int(x)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (x - i)


def launch(cp, plan, run_dir, timeout):
    path = os.path.join(run_dir, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    # SPARK_GRAFT_CPUS stays unset, so ServerMain and the Bench-style
    # session keep their shipped defaults (local[8] and local[4])
    env = dict(os.environ, GRAFT_SECRET=plan["secret"])
    env.pop("SPARK_GRAFT_CPUS", None)
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    t_launch = time.time()
    p = subprocess.Popen(["java", *JAVA_OPTS, "-cp", cp, "perfbench.Main", path],
                         cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die("the harness JVM did not finish in time", 4)
    finally:
        log.close()
    with open(plan["out"]) as f:
        return json.load(f), t_launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dash_hot", "dash_adhoc", "pipeline_batch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", default="0.1", choices=["0.1", "0.001"])
    ap.add_argument("--inject", action="store_true",
                    help="add one bad request / one throwing query (self-test)")
    ap.add_argument("--record", default=None,
                    help="record outputs for expected.json (see expect.py)")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "api",
                                       "Server.scala")):
        die("run from the root of a graft checkout (src/main/scala/graft is missing)")
    with checkout_lock():
        cp = build()
        data_dir, data_name = dataset(a.scale)
    a.run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(a.run_dir, ignore_errors=True)
    os.makedirs(a.run_dir)
    expected = load_expected(data_name)
    plan, reqs = make_plan(a, data_dir, expected)
    # a run must end within 180 s; recording for expect.py may take longer
    res, t_launch = launch(cp, plan, a.run_dir, 900 if a.record else 165)
    problems = list(res.get("failures", []))
    if "fatal" in res:
        problems.append("harness: " + res["fatal"])
    if not expected and not a.record and a.workload != "dash_adhoc":
        problems.append(f"no expected outputs for data set {data_name}")
    setup = res.get("setup", {})
    if setup.get("warmup_failed"):
        problems.append(f"{setup['warmup_failed']} warmup operations failed")
    ops = res.get("ops", {"lat_ms": [], "ok": [], "req": []})
    ok = list(ops["ok"])
    if a.workload == "dash_adhoc" and not a.trace:
        # the generator's SQL, evaluated after the timed window
        oracle = Oracle(data_dir)
        bodies = {b["req"]: base64.b64decode(b["body"]) for b in res.get("bodies", [])}
        for i, (r, good) in enumerate(zip(ops["req"], ok)):
            if good and r >= 0 and reqs[r].get("check"):
                why = oracle.check(reqs[r], bodies[r])
                if why:
                    ok[i] = False
                    problems.append(f"{reqs[r]['id']} {reqs[r]['target']}: {why}")
    if a.record:
        with open(os.path.join(a.record, "record.json"), "w") as f:
            json.dump({"result": res, "requests": reqs, "data_dir": data_dir,
                       "data_name": data_name}, f)
    attempted = len(ok)
    failed = ok.count(False)
    lat = [x for x, g in zip(ops["lat_ms"], ok) if g]
    for p in problems[:20]:
        print("FAILED:", p)
    if len(problems) > 20:
        print(f"FAILED: ... and {len(problems) - 20} more")
    out = {}
    if a.trace:
        out = layer_metrics(res, t_launch)
        attempted = max(attempted, int(res.get("layers", {}).get("ops", 0)))
        failed = min(attempted, max(failed, len(problems)))
    elif lat and "storage_mb" in res:
        out = {
            "setup_s": (setup["ready_ms"] / 1000 - t_launch, "s"),
            "throughput_ops_s": (len(lat) / res["elapsed_s"], "ops/s"),
            "latency_p50_ms": (pct(lat, 0.5), "ms"),
            "latency_p90_ms": (pct(lat, 0.9), "ms"),
            "storage_mb": (res["storage_mb"], "MB"),
        }
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "failed_ratio": {"value": failed / max(attempted, 1), "unit": "1"},
                          "latency_samples": len(lat),
                          "samples_above_p90": sum(1 for x in lat if x > out["latency_p90_ms"][0]),
                          "cached_frames": res.get("cached_frames")}))
    correct = not problems and failed == 0 and bool(out)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    sys.exit(0)


def layer_metrics(res, t_launch):
    L = res.get("layers")
    if not L:
        return {}
    c = L["counters"]
    s = L["setup"]
    g = lambda k: L.get(k, 0.0)
    return {
        "api.self_ms": (g("api.self_ms"), "ms"),
        "api.response_bytes": (g("api.response_bytes"), "bytes"),
        "planner.parse_ms": (g("planner.parse_ms"), "ms"),
        "planner.plan_ms": (g("planner.plan_ms"), "ms"),
        "planner.plan_jobs": (g("planner.plan_jobs"), "count"),
        "catalog.result_hit_ratio": (g("catalog.result_hit_ratio"), "1"),
        "catalog.flush_ms": (g("catalog.flush_ms"), "ms"),
        "catalog.cached_frames": (g("catalog.cached_frames"), "count"),
        "catalog.storage_mb": (g("catalog.storage_mb"), "MB"),
        "exec.jobs": (c["jobs"], "count"),
        "exec.stages": (c["stages"], "count"),
        "exec.tasks": (c["tasks"], "count"),
        "exec.collect_ms": (g("exec.collect_ms"), "ms"),
        "exec.executor_cpu_ms": (c["executor_cpu_ms"], "ms"),
        "exec.executor_run_ms": (c["executor_run_ms"], "ms"),
        "exec.shuffle_read_bytes": (c["shuffle_read_bytes"], "bytes"),
        "exec.shuffle_write_bytes": (c["shuffle_write_bytes"], "bytes"),
        "exec.spill_bytes": (c["spill_bytes"], "bytes"),
        "exec.broadcast_jobs": (c["broadcast_jobs"], "count"),
        "exec.result_rows": (g("exec.result_rows"), "count"),
        "exec.hit_jobs": (g("exec.hit_jobs"), "count"),
        "ops.build_ms": (g("ops.build_ms"), "ms"),
        "ops.exec_ms": (g("ops.exec_ms"), "ms"),
        "ops.checkpoint_jobs": (c["checkpoint_jobs"], "count"),
        "result.format_ms": (g("result.format_ms"), "ms"),
        "setup.session_ms": ((s["session_ready_ms"] / 1000 - t_launch) * 1000, "ms"),
        "setup.catalog_ms": (s["catalog_ready_ms"] - s["session_ready_ms"], "ms"),
        "setup.warmup_ms": (s["ready_ms"] - s["catalog_ready_ms"], "ms"),
        "trace.overhead_ms": (g("trace.overhead_ms"), "ms"),
    }


if __name__ == "__main__":
    main()
