#!/usr/bin/env python3
"""graft benchmark: one named workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. The first run builds graft from
src/main/scala and the harness (perfbench/harness/Harness.scala) with the
Scala compiler shipped in the Spark jars, into .bench_build/. Inputs are
generated from the seed outside any timed region and cached per seed under
.bench_build/inputs/. One JVM runs the workload (perfbench.Harness); one
more JVM is started only to time set-up again. The last stdout line is the
JSON result; the lines before it name every metric with its unit.

--smoke runs the workload at tiny scale (sf0.001, blow-up factor 1) to show
the benchmark still runs. Traced and smoke `inventory` runs add the ANN
recall@10 pass after the window, untimed.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
SETUP_SAMPLES = 2  # the workload JVM plus one set-up-only JVM
MIN_PASSES = 2  # measured passes, so each operation's time is a median
RUN_BUDGET_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    stop_children()
    sys.exit(2)


def stop_children():
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except OSError:
                pass
            p.wait()


def _on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


# ----------------------------------------------------------------- machine
def spark_jars():
    """The `unmanagedBase` directory build.sbt compiles graft against, else
    $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """MemTotal/2 in GiB, clamped to [2, 8]: the tier-1 test command's rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_mhz():
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [float(l.split(":")[1]) for l in f if l.startswith("cpu MHz")]
    except OSError:
        mhz = []
    if not mhz:
        return {"min": 0.0, "median": 0.0}
    return {"min": min(mhz), "median": statistics.median(mhz)}


def cpu_jiffies():
    """(steal, total) from /proc/stat: CPU time other guests took from this VM."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def shape():
    return {"load_avg": os.getloadavg()[0], "cpu_mhz": cpu_mhz(), "jiffies": cpu_jiffies()}


# ------------------------------------------------------------------- build
def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(out, sources, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)


def build():
    """Compile graft and the harness once per source hash; returns the classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    jars = spark_jars()
    if not os.path.isdir(src):
        fail(f"no graft sources under {src}: run from the root of a graft checkout")
    if not os.path.isdir(jars) or not any(j.startswith("scala-compiler") for j in os.listdir(jars)):
        fail(f"no Spark jars with a Scala compiler under '{jars}'")
    graft_src = [os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs if f.endswith(".scala")]
    graft_out = os.path.join(BUILD, "graft", tree_hash(graft_src))
    if not os.path.isdir(graft_out):
        log(f"compiling graft ({len(graft_src)} files)")
        scalac(graft_out, graft_src, os.path.join(jars, "*"))
    harness_src = [os.path.join(HERE, "harness", "Harness.scala")]
    harness_out = os.path.join(BUILD, "harness", tree_hash(graft_src + harness_src))
    if not os.path.isdir(harness_out):
        log("compiling the harness")
        scalac(harness_out, harness_src, graft_out + os.pathsep + os.path.join(jars, "*"))
    return os.pathsep.join([harness_out, graft_out, os.path.join(jars, "*")]), graft_out


# --------------------------------------------------------------------- jvm
def jvm(classpath, work, args, deadline):
    """Run perfbench.Harness; returns (spawn epoch seconds, parsed result)."""
    out = os.path.join(work, f"result-{len(_children)}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Harness",
        f"out={out}", f"work={work}", f"cpus={nproc()}"] + [f"{k}={v}" for k, v in args.items()]
    logf = open(os.path.join(work, f"jvm-{len(_children)}.log"), "w")
    spawn = time.time()
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                         start_new_session=True)
    _children.append(p)
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"JVM ({args.get('mode')}) ran past the run budget; log in {logf.name}")
    logf.close()
    if p.returncode != 0 or not os.path.exists(out):
        with open(logf.name) as f:
            tail = f.read()[-3000:]
        fail(f"JVM ({args.get('mode')}) exited {p.returncode}:\n{tail}")
    with open(out) as f:
        return spawn, json.load(f)


def oracle_sql(classpath, graft_out, deadline):
    """graft's declared queries and oracle SQL, dumped once per build."""
    path = os.path.join(graft_out + ".oracle.json")
    if not os.path.exists(path):
        work = os.path.join(BUILD, "work", f"oracle-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        _, res = jvm(classpath, work, {"mode": "oracle"}, deadline)
        with open(path + ".tmp", "w") as f:
            json.dump({"queries": res["queries"], "oracle_sql": res["oracle_sql"]}, f)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------------ inputs
def corpus_dir(smoke):
    return os.path.join(HERE, "corpus", "sf0.001" if smoke else "sf0.01")


def read_table(path):
    import pyarrow.parquet as pq
    return pq.read_table(path)


def write_parts(table, path, parts):
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def blowup(src, dst, factor, seed, parts):
    """TPC-H tables `factor` times over, as graft.ScaleProbe.buildBlowup lays
    them out: region/nation kept, every entity key shifted per copy by its
    parent table's key span (so joins stay within a copy and fan-outs are
    preserved). The seed adds a random gap to each span and shuffles rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    rng = np.random.default_rng(seed)
    t = {n: read_table(os.path.join(src, f"{n}.parquet"))
         for n in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")}
    span = {}
    for table, key in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                       ("part", "p_partkey"), ("orders", "o_orderkey")):
        mx = pc.max(t[table][key]).as_py() + 1
        span[key] = mx + int(rng.integers(0, mx))
    keys = {"customer": {"c_custkey": "c_custkey"}, "supplier": {"s_suppkey": "s_suppkey"},
            "part": {"p_partkey": "p_partkey"},
            "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
            "lineitem": {"l_orderkey": "o_orderkey", "l_partkey": "p_partkey",
                         "l_suppkey": "s_suppkey"}}
    os.makedirs(dst, exist_ok=True)
    for name in ("region", "nation"):
        write_parts(t[name], os.path.join(dst, f"{name}.parquet"), 1)
    for name, cols in keys.items():
        base = t[name]
        copies = []
        for k in range(factor):
            c = base
            for col, parent in cols.items():
                i = c.schema.get_field_index(col)
                shifted = pc.add(c[col], pa.scalar(k * span[parent], c.schema.field(col).type))
                c = c.set_column(i, c.schema.field(col), shifted)
            copies.append(c)
        whole = pa.concat_tables(copies)
        whole = whole.take(pa.array(rng.permutation(whole.num_rows)))
        write_parts(whole, os.path.join(dst, f"{name}.parquet"), parts if name != "supplier" else 1)


def stream_input(src, dst, factor, chunks, seed):
    """`events` `factor` times over (event_id/user_id shifted per copy, each
    copy's clock moved by a seeded offset under an hour), cut by event-time
    range into `chunks` files whose mtimes ascend in time order, as
    graft.StreamProbe chunks its input. Each cut lies within a fifth of a
    chunk of the equal split, placed by the seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    ev = read_table(os.path.join(src, "events.parquet"))
    span_e = pc.max(ev["event_id"]).as_py() + 1
    span_u = pc.max(ev["user_id"]).as_py() + 1
    copies = []
    for k in range(factor):
        c = ev
        for col, span in (("event_id", span_e), ("user_id", span_u)):
            i = c.schema.get_field_index(col)
            c = c.set_column(i, c.schema.field(col),
                             pc.add(c[col], pa.scalar(k * span, c.schema.field(col).type)))
        i = c.schema.get_field_index("ts")
        off = pa.scalar(int(rng.integers(0, 3600)) * 1_000_000, pa.duration("us"))
        c = c.set_column(i, c.schema.field("ts"),
                         pc.add(c["ts"], off).cast(c.schema.field("ts").type))
        copies.append(c)
    whole = pa.concat_tables(copies).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = whole.num_rows
    cuts = [0] + [int(n * (i + rng.uniform(-0.2, 0.2)) / chunks) for i in range(1, chunks)] + [n]
    out = os.path.join(dst, "events.parquet")
    os.makedirs(out)
    for i in range(chunks):
        f = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(whole.slice(cuts[i], cuts[i + 1] - cuts[i]), f)
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))


def cached(path, make):
    """Build an input directory once; a `.done` marker makes it reusable."""
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        meta = make(path)
        with open(os.path.join(path, ".done"), "w") as f:
            json.dump(meta or {}, f)
    with open(os.path.join(path, ".done")) as f:
        return json.load(f)


def dir_stats(path):
    import pyarrow.parquet as pq
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}


# ---------------------------------------------------------------- checking
def duckdb_rows(sql, data_dir, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = [[norm(v) for v in r] for r in cur.fetchall()]
    con.close()
    return {"cols": cols, "rows": rows}


def norm(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return v


def same_result(got, want):
    """Rows equal as multisets, columns matched by name, numbers to 1e-6."""
    if sorted(got["cols"]) != sorted(want["cols"]):
        return f"columns {got['cols']} vs {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows vs {len(want['rows'])}"
    order = sorted(range(len(got["cols"])), key=lambda i: got["cols"][i])
    worder = [want["cols"].index(got["cols"][i]) for i in order]

    def key(v):
        if isinstance(v, bool) or v is None:
            return (0, str(v))
        if isinstance(v, (int, float)):
            return (1, float(f"{v:.9g}"))
        return (2, str(v))

    a = sorted(([r[i] for i in order] for r in got["rows"]), key=lambda r: [key(v) for v in r])
    b = sorted(([r[i] for i in worder] for r in want["rows"]), key=lambda r: [key(v) for v in r])
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool) and not isinstance(y, bool):
                if abs(x - y) > 1e-6 * max(1.0, abs(x), abs(y)):
                    return f"value {x} vs {y}"
            elif x != y:
                return f"value {x!r} vs {y!r}"
    return None


# ----------------------------------------------------------------- metrics
def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = (len(xs) - 1) * p
    lo = int(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def pass_total(ops, passes):
    """One pass's total, robust to a slow pass: each operation's median wall
    over `passes`, summed."""
    walls = {}
    for o in ops:
        if o["pass"] in passes:
            walls.setdefault(o["name"], []).append(o["construct_ms"] + o["action_ms"])
    return sum(statistics.median(w) for w in walls.values()) / 1000


def span_self_frac(spans, passes):
    """Share of `query` root wall (warm passes) not covered by child spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total = own = 0.0
    for s in spans:
        if s["name"] != "query" or int(s["qid"].split("/")[1]) not in passes:
            continue
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur and lo <= cur[1]:
                cur = (cur[0], max(cur[1], hi))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (lo, hi)
        if cur:
            covered += cur[1] - cur[0]
        dur = s["end_ms"] - s["start_ms"]
        total += dur
        own += dur - covered
    return own / total if total else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        run(a)
    finally:
        stop_children()
        work = os.path.join(BUILD, "work")
        for d in os.listdir(work) if os.path.isdir(work) else []:
            if d.endswith(f"-{os.getpid()}"):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def run(a):
    t_start = time.time()
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    deadline = t_start + RUN_BUDGET_S
    first_build = not os.path.isdir(os.path.join(BUILD, "graft"))
    classpath, graft_out = build()
    if first_build:
        deadline = time.time() + RUN_BUDGET_S
    w = a.workload
    cfg = CONFIG["workloads"][w]
    scale = "smoke" if a.smoke else "full"
    size = cfg[scale]
    corpus = corpus_dir(a.smoke)
    pins = json.load(open(os.path.join(HERE, "pins", f"counts_{os.path.basename(corpus)}.json")))
    rng = random.Random(a.seed)
    work = os.path.join(BUILD, "work", f"{w}-s{a.seed}-t{a.trace}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(work, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    tag = f"{w}-{scale}-s{a.seed}-t{a.trace}"

    # ---- inputs (untimed)
    names = list(cfg.get("queries", []))
    data, expected, meta = corpus, None, {}
    if w == "scaled_tpch":
        oracle = oracle_sql(classpath, graft_out, deadline)["oracle_sql"]
        f = size["factor"]
        data = os.path.join(BUILD, "inputs", w, f"{scale}-f{f}-s{a.seed}")

        def make_tpch(path):
            blowup(corpus, path, f, a.seed, nproc())
            tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
            exp = {n: duckdb_rows(oracle[n], path, tables) for n in names}
            with open(os.path.join(path, "expected.json"), "w") as fh:
                json.dump(exp, fh)
            return {t: dir_stats(os.path.join(path, f"{t}.parquet")) for t in tables}
        meta = cached(data, make_tpch)
        with open(os.path.join(data, "expected.json")) as fh:
            expected = json.load(fh)
    elif w == "stream_replay":
        f, chunks = size["factor"], size["chunks"]
        data = os.path.join(BUILD, "inputs", w, f"{scale}-f{f}-c{chunks}-s{a.seed}")

        def make_stream(path):
            stream_input(corpus, path, f, chunks, a.seed)
            return dir_stats(os.path.join(path, "events.parquet"))
        meta = cached(data, make_stream)
    rng.shuffle(names)
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as fh:
        fh.write("\n".join(names))

    # ---- the workload JVM, then set-up-only JVMs
    shape0 = shape()
    # After the cold pass come the workload's untimed warm-up passes (the
    # JIT ramp), then the measured passes: as many as --seconds buys at the
    # workload's reference pass time, at least MIN_PASSES. The count is
    # fixed by --seconds, not by how fast this run goes, so every run of a
    # workload measures the same passes at the same point of the ramp. A
    # traced run makes exactly one pass after the cold one, so its counters
    # repeat run to run.
    warmup = 0 if a.trace else cfg["warmup_passes"]
    measure = 1 if a.trace else max(MIN_PASSES, round(a.seconds / cfg["pass_s"]))
    args = {"mode": w, "passes": warmup + measure, "trace": a.trace, "queries": qfile,
            "corpus": data, "sink": os.path.join(work, "sink"),
            "dump": os.path.join(work, "dump.json"),
            "spans": os.path.join(results, f"{tag}.spans.json"),
            "recall": int(w == "inventory" and (a.smoke or a.trace == 1))}
    spawn, res = jvm(classpath, work, args, deadline)
    setups = [res["ready_epoch_ms"] / 1000 - spawn]
    for _ in range(SETUP_SAMPLES - 1):
        s, r = jvm(classpath, work, {"mode": "setup"}, deadline)
        setups.append(r["ready_epoch_ms"] / 1000 - s)
    shape1 = shape()

    # ---- output checks
    ops = res["ops"]
    failed_ops = []
    for o in ops:
        why = o["error"]
        if why is None and w == "inventory" and o["rows"] != pins.get(o["name"]):
            why = f"{o['rows']} rows, pinned {pins.get(o['name'])}"
        if why is None and w == "scaled_tpch" and o["rows"] != len(expected[o["name"]]["rows"]):
            why = f"{o['rows']} rows, DuckDB {len(expected[o['name']]['rows'])}"
        if why is None and w == "stream_replay" and o["rows"] != meta["rows"]:
            why = f"consumed {o['rows']} of {meta['rows']} input rows"
        if why:
            failed_ops.append(f"{o['name']} (pass {o['pass']}): {why}")
    checks = list(res.get("checks", []))
    if w == "scaled_tpch":
        with open(args["dump"]) as fh:
            dump = json.load(fh)
        for n in names:
            got = dump.get(n)
            why = got if isinstance(got, str) else same_result(got, expected[n])
            checks.append({"name": f"digest {n}", "ok": why is None,
                           "detail": why or f"{len(expected[n]['rows'])} rows equal"})
    sink_files = []
    if w == "stream_replay":
        import pyarrow.parquet as pq
        want = set(pq.read_table(os.path.join(data, "events.parquet"),
                                 columns=["event_id"])["event_id"].to_pylist())
        for p in sorted({o["pass"] for o in ops}):
            path = os.path.join(args["sink"], str(p))
            files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")] \
                if os.path.isdir(path) else []
            sink_files += files
            got = [i for f in files for i in pq.read_table(f, columns=["event_id"])["event_id"]
                   .to_pylist()]
            ok = set(got) == want and len(got) == len(set(got))
            checks.append({"name": f"parquet sink pass {p}", "ok": ok, "detail":
                           f"{len(got)} rows, {len(set(got))} ids, {len(want)} input ids"})
    failed_checks = [f"{c['name']}: {c['detail']}" for c in checks if not c["ok"]]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    for msg in failed_ops + failed_checks:
        log(f"FAILED {msg}")
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")

    # ---- metrics
    wall = lambda o: o["construct_ms"] + o["action_ms"]
    passes = sorted({o["pass"] for o in ops})
    by_pass = {p: [o for o in ops if o["pass"] == p] for p in passes}
    pass_s = {p: sum(wall(o) for o in by_pass[p]) / 1000 for p in passes}
    later = [p for p in passes if p > warmup]
    measured = [o for p in later for o in by_pass[p]]
    if w == "stream_replay":
        # A pipeline's first micro-batch carries its planning and state-store
        # creation, which total_s already holds; the latency sample is the
        # steady micro-batches after it.
        samples = [b["trigger_ms"] for o in measured for b in o["batches"][1:]]
    else:
        samples = [wall(o) for o in measured]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "total_s": (pass_total(ops, later), "s"),
    }
    info = {
        "cold_total_s": (pass_s[0], "s"),
        "measured_passes": (len(later), "count"),
        "op_ms_p50": (statistics.median(samples), "ms"),
        "samples": (len(samples), "count"),
        "failed_frac": (failed / attempted, "ratio"),
        "setup_samples_s": (setups, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    if len(samples) >= 100:
        info["op_ms_p90"] = (pct(samples, 0.9), "ms")
    if w in ("inventory", "scaled_tpch"):
        info["warm_total_s"] = (e2e["total_s"][0], "s")
        info["query_ms_p50"] = info["op_ms_p50"]
    if w == "stream_replay":
        rows = sum(o["rows"] for o in measured)
        info["stream_rows_per_s"] = (rows / (sum(o["action_ms"] for o in measured) / 1000),
                                     "rows/s")
        info["stream_batch_ms_p50"] = info["op_ms_p50"]
        if len(samples) >= 100:
            info["stream_batch_ms_p90"] = (pct(samples, 0.9), "ms")
    if "ann_recall_at_10" in res:
        info["ann_recall_at_10"] = (res["ann_recall_at_10"], "ratio")
    cross = abs(shape1["cpu_mhz"]["median"] - shape0["cpu_mhz"]["median"]) > \
        0.05 * max(1.0, shape0["cpu_mhz"]["median"])
    machine = {"nproc": nproc(), "heap": heap(),
               "code_cache_reserved_mb": res.get("jvm.code_cache_reserved_mb"),
               "load_avg_start": shape0["load_avg"], "load_avg_end": shape1["load_avg"],
               "cpu_mhz_start": shape0["cpu_mhz"], "cpu_mhz_end": shape1["cpu_mhz"],
               "cross_band": cross,
               "steal_frac": (shape1["jiffies"][0] - shape0["jiffies"][0]) /
               max(1, shape1["jiffies"][1] - shape0["jiffies"][1])}

    layer = {}
    if a.trace:
        with open(args["spans"]) as fh:
            spans = json.load(fh)
        batches = [b for o in ops for b in o.get("batches", [])]
        layer = {m["name"]: res.get(m["name"], 0.0) for m in spec["per_layer"]}
        layer["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layer["sink.files_written"] = len(sink_files)
        layer["sink.write_ms"] = sum(b["add_batch_ms"] for o in ops if o["name"] == "deduped_events"
                                     for b in o["batches"])
        layer["streaming.batches"] = len(batches)
        for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "state_commit_ms",
                  "late_dropped_rows"):
            layer[f"streaming.{k}"] = sum(b[k] for b in batches)
        layer["streaming.state_rows_max"] = max((b["state_rows"] for b in batches), default=0)
        layer["streaming.state_mem_mb_max"] = max((b["state_mem_mb"] for b in batches), default=0)
        layer["trace.query_self_frac"] = span_self_frac(spans, set(later))

    record = {"workload": w, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "scale": scale, "inputs": meta, "machine": machine,
              "end_to_end": e2e, "info": info, "per_layer": layer,
              "failures": failed_ops + failed_checks, "ops": ops,
              "run_wall_s": time.time() - t_start}
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    print(f"workload {w} seed {a.seed} scale {scale} trace {a.trace} "
          f"inputs {json.dumps(meta, sort_keys=True)}")
    print(f"machine {json.dumps(machine, sort_keys=True)}")
    if a.trace:
        print(f"spans {len(spans)} {args['spans']}")
    for k, (v, u) in list(e2e.items()) + list(info.items()):
        print(f"metric {k} {v} {u}")
    for k, v in layer.items():
        print(f"layer {k} {v} {units.get(k, '')}")
    if a.trace:
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
