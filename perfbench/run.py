#!/usr/bin/env python3
"""Benchmark of the graft library: one workload per run.

    python3 perfbench/run.py --workload flagship|surface \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the JVM
harness (`perfbench/build.sbt`) with sbt; later runs reuse the build while
the sources are unchanged. Inputs are made from --seed. The last line of
stdout is one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). The line before it
is the run summary: host facts (cores, heap, Spark version, commit, seed,
CPU steal), the figures under the names of the layer they describe, and the
checks. A traced run also writes its ledger to
.bench_ledger/<workload>-seed<N>.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import benchlib as B  # noqa: E402
import families as F  # noqa: E402

WORKLOADS = ("flagship", "surface")
DOCS = 40_000                    # flagship input pages
SURFACE_SCALE = 0.01             # table scale for surface (sf0.01 row counts)
SURFACE_EVERY = 18               # surface runs every 18th query of each family (13)
SURFACE_PASSES = 2               # timed surface passes after the untimed cold one
DASH_ROUNDS = 3                  # timed dashboard rounds of 13 requests (39)
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "throughput_per_cpu_s": "1/s", "cpu_tail_ms": "ms"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def host_cpus():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """Half the host's memory in GiB, clamped to 2..8 g (the Tier-1 rule)."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_digest():
    """Hash of the library and harness sources and build files."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(digest):
    """Compiles the library (through its own root build) and the harness;
    returns the runtime classpath. Cached in .bench_build by source digest."""
    out = ROOT / ".bench_build"
    out.mkdir(exist_ok=True)
    cp_file, stamp = out / "classpath.txt", out / "digest.txt"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.repository.config={repos}"] if repos.exists() else [])))
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.SubprocessError) as e:
        die(f"build could not run: {e}")
    (out / "build.log").write_text(r.stdout + r.stderr)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (see {out / 'build.log'})")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def cpu_steal_s():
    """Host time stolen from this machine's CPUs so far (all CPUs), in s."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_jvm(cp, work, jvm_args):
    raw = work / "raw.json"
    cmd = (["java", *ADD_OPENS, f"-Xmx{driver_heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "perfbench.Main", f"out={raw}", f"work={work}"]
           + [f"{k}={v}" for k, v in jvm_args.items()])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            die(f"JVM did not finish within {JVM_TIMEOUT_S} s (log: {work / 'jvm.log'})")
    if r.returncode != 0 or not raw.exists():
        tail = (work / "jvm.log").read_text().splitlines()[-15:]
        die("JVM failed:\n" + "\n".join(tail))
    return json.loads(raw.read_text())


# ---------------------------------------------------------------- metrics --

def wall_s(o):
    return (o["end_ns"] - o["start_ns"]) / 1e9


def cpu_s(o):
    return o["cpu_ns"] / 1e9


def walls(ops, kind, ok_only=True):
    return [wall_s(o) for o in ops if o["kind"] == kind and (o["ok"] or not ok_only)]


def op_medians(ops, kind, measure=wall_s):
    """Each distinct successful operation's median `measure` over its timed
    repeats, in s."""
    per = {}
    for o in ops:
        if o["kind"] == kind and o["ok"]:
            per.setdefault(o["key"], []).append(measure(o))
    return {k: median(v) for k, v in per.items()}


def figures(raw, workload, docs, measure):
    """(throughput, p50, tail, pooled samples) of one run in `measure`
    (wall or CPU seconds). flagship: throughput from the `Pipeline.run`
    passes, latency from the dashboard requests; surface: both from the
    queries. Latency is taken per distinct operation (its median over the
    timed rounds or passes): p50 is the median of those, the tail the mean
    of their slowest quarter."""
    ops = raw["ops"]
    kind = "request" if workload == "flagship" else "query"
    lat = list(op_medians(ops, kind, measure).values())
    if not lat:
        die("no timed read or query succeeded")
    if workload == "flagship":
        passes = [measure(o) for o in ops if o["kind"] == "pipeline" and o["ok"]]
        if not passes:
            die("no Pipeline.run pass succeeded")
        throughput = docs / median(passes)
    else:
        throughput = len(lat) / sum(lat)
    pooled = [measure(o) for o in ops if o["kind"] == kind and o["ok"]]
    return throughput, median(lat), B.tail_mean(lat), pooled


def end_to_end(raw, workload, docs):
    """The end-to-end metrics of one run, in CPU time, plus the same
    figures in CPU and wall time under the names of the layer they
    describe. CPU time is the harness JVM's, all threads, over each
    operation; the host's CPU steal is not in it (see README)."""
    thr, p50, tail, _ = figures(raw, workload, docs, cpu_s)
    w_thr, w_p50, w_tail, pooled = figures(raw, workload, docs, wall_s)
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "throughput_per_cpu_s": thr,
        "cpu_tail_ms": 1000 * tail,
    }
    # reported per layer, without a bound: the p50 of 13 distinct operations
    # jumps between operations from run to run, and wall time takes in the
    # host's CPU steal
    unbounded = {"cpu.p50_ms": 1000 * p50, "wall.throughput_per_s": w_thr,
                 "wall.latency_p50_ms": 1000 * w_p50, "wall.latency_tail_ms": 1000 * w_tail}
    # the pooled wall samples' tail percentile, for the summary line only
    tail_p, tail_v = B.tail(pooled)
    if workload == "flagship":
        named = {"flagship_docs_per_s": w_thr, "flagship_docs_per_cpu_s": thr,
                 "flagship_sink_bytes_per_doc": raw["extra"]["sink_bytes"] / docs,
                 "dash_latency_p50_ms": 1000 * w_p50, "dash_latency_tail_ms": 1000 * w_tail,
                 f"dash_latency_pooled_p{tail_p}_ms": 1000 * tail_v,
                 "dash_cpu_p50_ms": 1000 * p50, "dash_cpu_tail_ms": 1000 * tail,
                 "flagship_passes": len(walls(raw["ops"], "pipeline")),
                 "dash_requests": len(pooled)}
    else:
        named = {"surface_total_s": len(op_medians(raw["ops"], "query")) / w_thr,
                 "surface_query_p50_s": w_p50, "surface_query_tail_s": w_tail,
                 f"surface_query_pooled_p{tail_p}_s": tail_v,
                 "surface_cpu_total_s": len(op_medians(raw["ops"], "query")) / thr,
                 "surface_query_cpu_p50_s": p50, "surface_query_cpu_tail_s": tail,
                 "surface_cold_total_s": sum(walls(raw["ops"], "cold")),
                 "surface_queries": len(op_medians(raw["ops"], "query")),
                 "surface_timed_runs": len(pooled)}
    return e2e, unbounded, named


def window(items, start_ns, end_ns):
    """Jobs or SQL executions that started inside [start_ns, end_ns]."""
    lo, hi = start_ns / 1e6, end_ns / 1e6
    return [x for x in items if lo <= x["start_ms"] <= hi]


def per_op_trace(trace, ops):
    """Jobs, executions and query executions attributed to each traced
    operation by start time."""
    qes = {q["qe"]: q for q in trace.get("query_executions", [])}
    rows = []
    for o in ops:
        jobs = window(trace["jobs"], o["start_ns"], o["end_ns"])
        execs = window(trace["executions"], o["start_ns"], o["end_ns"])
        q = [qes[e["qe"]] for e in execs if e.get("qe") in qes]
        rows.append({
            "op": o, "wall_s": (o["end_ns"] - o["start_ns"]) / 1e9, "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs), "tasks": sum(j["tasks"] for j in jobs),
            "task_run_s": sum(j["task_run_ms"] for j in jobs) / 1e3,
            "longest_task_s": max([j["longest_task_ms"] for j in jobs], default=0) / 1e3,
            "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
            "input_bytes": sum(j["input_bytes"] for j in jobs),
            "shuffle_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "exchanges": sum(x["exchanges"] for x in q),
            "planning_ms": sum(x["planning_ms"] for x in q),
            "scan_files": sum(x["scan_files"] for x in q),
            "scan_rows": sum(x["scan_rows"] for x in q)})
    return rows


PER_LAYER = {}  # name -> unit, filled below in declaration order


def _declare(unit, *names):
    for n in names:
        PER_LAYER[n] = unit


_declare("s", "scan.self_s", "parse.self_s", "enrich.self_s", "score.self_s",
         "route.write_self_s", "route.anomalies_s", "route.lineage_s",
         "route.aggregates_s", "checkpoint.commit_s", "pipeline.driver_s",
         "pipeline.untraced_s")
_declare("B", "route.anomalies_bytes_read", "route.write_bytes")
_declare("count", "route.write_files", "flagship.jobs", "flagship.tasks")
_declare("B", "flagship.shuffle_bytes", "flagship.sink_bytes_per_doc")
_declare("frac", "flagship.busy_frac")
_declare("s", "flagship.longest_task_s", "flagship.gc_s")
_declare("frac", "flagship.scaling_eff_1to4")
_declare("ms", *[f"dash.{t}_p50_ms" for t in (
    "search", "search_after", "metrics", "volume", "levels", "top_services",
    "service_names", "export_csv", "export_json", "anomalies")], "dash.planning_ms_p50")
_declare("count", "dash.jobs_per_req", "dash.files_read_per_req")
_declare("B", "dash.bytes_read_per_req")
_declare("ratio", "dash.rows_scanned_per_row_returned")
_declare("count", "surface.jobs", "surface.stages", "surface.exchanges")
_declare("B", "surface.shuffle_bytes", "surface.spill_bytes")
_declare("frac", "surface.busy_frac")
_declare("s", "surface.planning_s", "surface.codegen_compile_s", "surface.cold_total_s",
         "surface.total_s")
_declare("count", "surface.tail_queries", "surface.cached_rdds_leaked", "surface.queries")
_declare("s", *[f"surface.family.{f}_s" for f in F.FAMILIES])
_declare("frac", "dash.overhead_frac", "failed_ops_frac", "trace.overhead_frac")
_declare("MB", "jvm.peak_rss_mb")
_declare("ms", "cpu.p50_ms")
_declare("1/s", "wall.throughput_per_s")
_declare("ms", "wall.latency_p50_ms", "wall.latency_tail_ms")


def layers_flagship(raw, cpus, docs):
    t, m = raw["trace"], {}
    spans = t["spans"]
    prefix = {n: median([(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                           if s["name"] == f"prefix.{n}"])
              for n in ("scan", "parse", "enrich", "score")}
    m["scan.self_s"] = prefix["scan"]
    m["parse.self_s"] = prefix["parse"] - prefix["scan"]
    m["enrich.self_s"] = prefix["enrich"] - prefix["parse"]
    m["score.self_s"] = prefix["score"] - prefix["enrich"]
    run = next(s for s in spans if s["name"] == "pipeline.run")
    span = (run["start_ns"] / 1e6, run["end_ns"] / 1e6)
    qes = {q["qe"]: q for q in t["query_executions"]}
    execs = window(t["executions"], run["start_ns"], run["end_ns"])
    buckets, bucket = {}, "route.write"
    for e in execs:
        paths = [w["path"] for w in qes.get(e.get("qe"), {}).get("writes", [])]
        if paths:
            p = paths[0].rstrip("/")
            bucket = ("route.write" if p.endswith("/routed") else
                      "route.anomalies" if p.endswith("/anomalies") else
                      "route.lineage" if p.endswith("/lineage") else
                      "route.aggregates" if p.endswith("/sink_counts") else
                      "checkpoint.commit" if p.endswith("/commit") else bucket)
        buckets.setdefault(bucket, []).append(e)

    def dur(b):
        return sum(e["end_ms"] - e["start_ms"] for e in buckets.get(b, [])) / 1e3

    def jobs_of(b):
        ids = {e["exec"] for e in buckets.get(b, [])}
        return [j for j in t["jobs"] if j["exec"] in ids]

    # the prefixes ran on their own, so the routed write execution, which
    # contains the Score plan, should take at least as long as prefix.score
    routed_write_s = dur("route.write")
    m["route.write_self_s"] = routed_write_s - prefix["score"]
    m["route.anomalies_s"] = dur("route.anomalies")
    m["route.anomalies_bytes_read"] = sum(j["input_bytes"] for j in jobs_of("route.anomalies"))
    m["route.lineage_s"] = dur("route.lineage")
    m["route.aggregates_s"] = dur("route.aggregates")
    m["checkpoint.commit_s"] = dur("checkpoint.commit")
    m["pipeline.driver_s"] = B.self_time(span, [(e["start_ms"], e["end_ms"]) for e in execs]) / 1e3
    untraced = median(walls(raw["ops"], "pipeline"))
    m["pipeline.untraced_s"] = untraced
    routed = [w for e in buckets.get("route.write", []) for w in qes.get(e.get("qe"), {}).get("writes", [])
              if w["path"].rstrip("/").endswith("/routed")]
    m["route.write_bytes"] = sum(w["bytes"] for w in routed)
    m["route.write_files"] = sum(w["files"] for w in routed)
    jobs = window(t["jobs"], run["start_ns"], run["end_ns"])
    wall = (span[1] - span[0]) / 1e3
    m["flagship.jobs"] = len(jobs)
    m["flagship.tasks"] = sum(j["tasks"] for j in jobs)
    m["flagship.shuffle_bytes"] = sum(j["shuffle_write_bytes"] for j in jobs)
    m["flagship.busy_frac"] = sum(j["task_run_ms"] for j in jobs) / 1e3 / (wall * cpus)
    m["flagship.longest_task_s"] = max([j["longest_task_ms"] for j in jobs], default=0) / 1e3
    m["flagship.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3
    m["flagship.sink_bytes_per_doc"] = raw["extra"]["sink_bytes"] / docs
    m["flagship.scaling_eff_1to4"] = raw["extra"]["local1_pass_s"] / (cpus * untraced)
    m["trace.overhead_frac"] = wall / untraced - 1
    accounting = {"score_prefix_s": prefix["score"], "routed_write_s": routed_write_s,
                  "write_self_nonnegative": m["route.write_self_s"] >= 0}
    if not accounting["write_self_nonnegative"]:
        print(f"perfbench: the Score prefix ({prefix['score']:.3f} s) outlasts the routed "
              f"write ({routed_write_s:.3f} s); route.write_self_s is negative", file=sys.stderr)
    ledger = {"executions": [dict(e, layer=b) for b, es in buckets.items() for e in es],
              "prefix_medians_s": prefix, "accounting": accounting}
    return m, ledger


def layers_dashboard(raw):
    m, ops = {}, raw["ops"]
    by_type = {}
    for o in ops:
        if o["kind"] == "request" and o["ok"]:
            by_type.setdefault(o["type"], []).append((o["end_ns"] - o["start_ns"]) / 1e6)
    for ty, xs in by_type.items():
        m[f"dash.{ty}_p50_ms"] = median(xs)
    untraced = walls(ops, "request")
    traced_ops = [o for o in ops if o["kind"] == "request_traced" and o["ok"]]
    rows = per_op_trace(raw["trace"], traced_ops)
    n = len(rows)
    m["dash.planning_ms_p50"] = median([r["planning_ms"] for r in rows])
    m["dash.jobs_per_req"] = sum(r["jobs"] for r in rows) / n
    m["dash.files_read_per_req"] = sum(r["scan_files"] for r in rows) / n
    m["dash.bytes_read_per_req"] = sum(r["input_bytes"] for r in rows) / n
    returned = sum(r["op"]["rows"] for r in rows)
    m["dash.rows_scanned_per_row_returned"] = sum(r["scan_rows"] for r in rows) / max(1, returned)
    m["dash.overhead_frac"] = median([r["wall_s"] for r in rows]) / median(untraced) - 1
    ledger = [{k: v for k, v in r.items() if k != "op"}
              | {"type": r["op"]["type"], "key": r["op"]["key"], "rows": r["op"]["rows"]}
              for r in rows]
    return m, ledger


def layers_surface(raw, cpus):
    """Per-query figures of the timed passes, summed per pass: counts are
    divided by the number of passes, times are sums of per-query medians."""
    m, ops = {}, raw["ops"]
    queries = [o for o in ops if o["kind"] == "query"]
    passes = max([o["pass"] for o in queries], default=1)
    rows = per_op_trace(raw["trace"], queries)
    ok = [r for r in rows if r["op"]["ok"]]
    wall = op_medians(ops, "query")
    longest = {}
    for r in ok:
        longest.setdefault(r["op"]["key"], []).append(r["longest_task_s"])
    for k in ("jobs", "stages", "exchanges", "shuffle_bytes", "spill_bytes"):
        m[f"surface.{k}"] = sum(r[k] for r in ok) / passes
    m["surface.busy_frac"] = (sum(r["task_run_s"] for r in ok)
                              / (sum(r["wall_s"] for r in ok) * cpus))
    m["surface.planning_s"] = sum(r["planning_ms"] for r in ok) / 1e3 / passes
    m["surface.codegen_compile_s"] = sum(o["codegen_compile_ns"] for o in ops
                                         if o["kind"] == "cold") / 1e9
    m["surface.cold_total_s"] = sum(walls(ops, "cold"))
    m["surface.total_s"] = sum(wall.values())
    m["surface.queries"] = len(wall)
    m["surface.tail_queries"] = sum(1 for q, w in wall.items() if w > 0.8
                                    and median(longest[q]) > 0.4 * w)
    m["surface.cached_rdds_leaked"] = queries[-1]["cached_rdds"] if queries else 0
    for f in F.FAMILIES:
        m[f"surface.family.{f}_s"] = sum(w for q, w in wall.items() if F.FAMILY_OF.get(q) == f)
    m["trace.overhead_frac"] = (sum(walls(ops, "overhead_traced"))
                                / sum(walls(ops, "overhead_untraced")) - 1)
    ledger = [{"query": r["op"]["key"], "pass": r["op"]["pass"],
               "family": F.FAMILY_OF.get(r["op"]["key"]), "ok": r["op"]["ok"],
               "rows": r["op"]["rows"], "cached_rdds": r["op"]["cached_rdds"],
               **{k: v for k, v in r.items() if k != "op"}}
              for r in rows]
    ledger += [{"query": o["key"], "pass": 0, "family": F.FAMILY_OF.get(o["key"]),
                "ok": o["ok"], "rows": o["rows"], "wall_s": (o["end_ns"] - o["start_ns"]) / 1e9,
                "codegen_compile_s": o["codegen_compile_ns"] / 1e9}
               for o in ops if o["kind"] == "cold"]
    return m, ledger


# ----------------------------------------------------------------- checks --

def check_dashboard(raw):
    """Each distinct request's reference response against DuckDB; a request
    whose reference differs fails every time it was sent."""
    import dash_oracle
    con = dash_oracle.connect(raw["extra"]["sink"])
    bad = {}
    for ref in raw["extra"]["reference"]:
        why = ref.get("error") or dash_oracle.check(con, ref)
        if why:
            bad[ref["key"]] = why
    return bad


def check_surface(raw, tables):
    """Each query's observed row count against the DuckDB count of its
    oracle SQL over the same generated tables."""
    import duckdb
    import gen_tables
    con = duckdb.connect()
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = {}
    for name, sql in raw["extra"]["oracle_sql"].items():
        try:
            want = con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
        except Exception as e:  # an oracle that cannot run fails its query
            bad[name] = f"oracle failed: {e}"[:300]
            continue
        for o in raw["ops"]:
            if o["key"] == name and o["ok"] and o.get("rows") != want:
                bad[name] = f"{o.get('rows')} rows, oracle has {want}"
    return bad


def mark_failed(raw, bad):
    for o in raw["ops"]:
        if o["ok"] and o["key"] in bad:
            o["ok"], o["error"] = False, bad[o["key"]]


# ------------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a termination signal unwinds like an error: subprocess.run then kills
    # and waits for the JVM, and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no graft library sources under {ROOT} (run from the repository root)")
    for name in list(END_TO_END) + list(PER_LAYER):
        if not B.valid_name(name):
            die(f"invalid metric name {name}")
    digest = source_digest()
    cp = build(digest)
    cpus = host_cpus()
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        jvm_args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "trace": a.trace, "cpus": cpus}
        if a.workload == "flagship":
            jvm_args.update(docs=DOCS, rounds=DASH_ROUNDS)
        else:
            import gen_tables
            gen_tables.generate(str(work / "tables"), SURFACE_SCALE, a.seed)
            jvm_args.update(tables=work / "tables",
                            queries=",".join(F.sample(SURFACE_EVERY)),
                            passes=SURFACE_PASSES)
        steal0, t0 = cpu_steal_s(), time.time()
        raw = run_jvm(cp, work, jvm_args)
        raw["meta"].update(jvm_wall_s=time.time() - t0, cpu_steal_s=cpu_steal_s() - steal0)
        if a.workload == "flagship":
            mark_failed(raw, check_dashboard(raw))
            kinds = ("pipeline", "request")
        else:
            mark_failed(raw, check_surface(raw, work / "tables"))
            unknown = sorted(set(raw["extra"]["all_queries"]) ^ set(F.FAMILY_OF))
            if unknown:
                print(f"perfbench: queries not in the family table: {unknown}", file=sys.stderr)
            kinds = ("query",)
        e2e, unbounded, named = end_to_end(raw, a.workload, DOCS)
        timed = [o for o in raw["ops"] if o["kind"] in kinds]
        failed = [o for o in timed if not o["ok"]]
        # a failure in the untimed cold pass is not timed, but fails the run
        untimed_failed = [o for o in raw["ops"] if o["kind"] == "cold" and not o["ok"]]
        correct = all(c["ok"] for c in raw["checks"]) and not failed and not untimed_failed
        summary = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "host": {"cpus": cpus, "heap": driver_heap(), **raw["meta"],
                     "git_commit": git_commit(), "source_sha256": digest},
            "end_to_end": e2e, "unbounded": unbounded, "named": {**named, "setup_s": e2e["setup_s"],
                                         "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
                                         "failed_ops_frac": len(failed) / len(timed)},
            "checks": raw["checks"],
            "failures": [{"key": o["key"], "kind": o["kind"], "error": o["error"]}
                         for o in failed + untimed_failed][:10],
        }
        if a.trace:
            if a.workload == "flagship":
                layer, ledger = layers_flagship(raw, cpus, DOCS)
                dash, dash_rows = layers_dashboard(raw)
                layer.update(dash)
                ledger["requests"] = dash_rows
                summary["accounting"] = ledger["accounting"]
            else:
                layer, ledger = layers_surface(raw, cpus)
            layer.update(unbounded)
            layer["failed_ops_frac"] = summary["named"]["failed_ops_frac"]
            layer["jvm.peak_rss_mb"] = summary["named"]["peak_rss_mb"]
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u in PER_LAYER.items()}
            out = ROOT / ".bench_ledger"
            out.mkdir(exist_ok=True)
            path = out / f"{a.workload}-seed{a.seed}.json"
            path.write_text(json.dumps({**summary, "per_layer": layer, "rows": ledger,
                                        "spans": raw["trace"]["spans"]}, indent=1, default=str))
            summary["ledger"] = str(path.relative_to(ROOT))
            summary["per_layer"] = layer
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
        print(json.dumps(summary, default=str))
        print(json.dumps({"correct": correct, "attempted": len(timed),
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
