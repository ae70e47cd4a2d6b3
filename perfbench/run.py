#!/usr/bin/env python3
"""graft benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload interactive_sql --seed 1 \
        --seconds 5 --trace 0

It builds the repo's main tree and the harness from source (once per
checkout), generates the workload's inputs from the seed, runs one
closed-loop client against a `local[nproc]` Spark session, checks every
op's output against its DuckDB oracle, and prints each metric as a
`name value unit` line. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The whole
document (every metric, per-op records, self time by layer) is written to
perfbench/results/<workload>-seed<seed>-trace<t>.json, and the traced
run's spans beside it. Exit code 0 only when every output check passed.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_sql", "bulk_federation")
DEADLINE_S = 170          # the whole command, build excluded
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# the end-to-end metrics of the JSON line (BENCHMARK.json's end_to_end)
E2E_UNITS = {"setup_s": "s", "kind_geomean_ms": "ms", "ops_per_s": "1/s",
             "retained_heap_mb": "MB"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt-compile the main tree and the harness unless the sources are
    unchanged since the last build in this checkout."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "built.txt")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    sbt = shutil.which("sbt") or die("sbt not found on PATH")
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server and no JVM perf files: the build writes only to the
    # checkout (besides sbt's and coursier's own caches)
    cmd = [sbt, "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    t0 = time.time()
    p = subprocess.run(cmd + ["launchFiles"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


# ---------------------------------------------------------------- run

def warm_dir(args, run):
    """Where the untimed warm pass runs: bulk_federation warms on a 2%
    input in its own database; interactive_sql's input is already small,
    and a second copy would pay a second Derby fixture build per run."""
    return f"{run}/warm" if args.workload == "bulk_federation" \
        else f"{run}/data"


def run_jvm(args, run, budget_s):
    target = os.path.join(HERE, "target")
    cp = open(os.path.join(target, "classpath.txt")).read().strip()
    jopts = open(os.path.join(target, "javaopts.txt")).read().split("\n")
    java = shutil.which("java") or die("java not found on PATH")
    os.makedirs(os.path.join(run, "tmp"))
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           f"-Djava.io.tmpdir={run}/tmp", *[o for o in jopts if o],
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--data", f"{run}/data", "--warm", warm_dir(args, run),
           "--run-dir", run, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores()),
           "--out", f"{run}/jvm.json",
           "--spans", f"{run}/spans.json"]
    log = open(os.path.join(run, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(budget_s, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        text = open(os.path.join(run, "jvm.log")).read()
        first = [ln for ln in text.splitlines() if "Exception" in ln][:5]
        sys.stderr.write("\n".join(first) + "\n...\n" + text[-3000:])
        die(f"benchmark JVM failed ({rc})", 1)
    with open(f"{run}/jvm.json") as f:
        return json.load(f)


def pct(xs, q):
    """The q-th percentile, linear between closest ranks."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def covered(iv):
    """Length of the union of (start, end) intervals."""
    total, reach = 0.0, None
    for a, b in sorted(iv):
        if reach is None or a > reach:
            total, reach = total + b - a, b
        elif b > reach:
            total, reach = total + b - reach, b
    return total


def self_times(spans):
    """Self time per layer. Each op's wall time is split exclusively:
    planning phases, then stage time not inside planning, then job time
    no stage covers (scheduling), and the rest, the op span's own time,
    is the driver's. Root spans outside ops (replays, probes) count whole."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def add(layer, ms):
        out[layer] = out.get(layer, 0.0) + ms
    for s in spans:
        if s["parent"] != -1:
            continue
        if s["name"] != "op":
            add(s["name"], s["end"] - s["start"])
            continue
        lo, hi = s["start"], s["end"]

        def clip(xs):
            return [(max(x["start"], lo), min(x["end"], hi)) for x in xs
                    if min(x["end"], hi) > max(x["start"], lo)]
        ch = kids.get(s["id"], [])
        plan = clip([c for c in ch if c["name"].startswith("spark.plan")])
        jobs = [c for c in ch if c["name"] == "spark.job"]
        stages = clip([g for j in jobs for g in kids.get(j["id"], [])])
        jobs = clip(jobs)
        p, ps = covered(plan), covered(plan + stages)
        pjs = covered(plan + stages + jobs)
        add("spark.plan", p)
        add("spark.stage", ps - p)
        add("spark.scheduler", pjs - ps)
        add("spark.driver", (hi - lo) - pjs)
    return out


def geomean(xs):
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else float("nan")


def kind_geomean(ops):
    """The geometric mean over op kinds of each kind's geometric-mean
    latency: every kind weighs alike however many ops it has, so a slower
    ingest is not diluted by the scans beside it."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    return geomean([geomean(v) for v in kinds.values()])


def end_to_end(ops, jvm, setup_s, workload):
    """The end-to-end metrics, plus the workload's own figures."""
    ok = [o for o in ops if "error" not in o]
    ms = [o["ms"] for o in ok] or [float("nan")]
    m = {"setup_s": setup_s, "kind_geomean_ms": kind_geomean(ok),
         "ops_per_s": len(ok) / (sum(ms) / 1000),
         "retained_heap_mb": jvm["heap_after_gc_mb"]}
    extra = {"op_geomean_ms": geomean(ms),
             "op_p50_ms": pct(ms, 0.5), "op_p90_ms": pct(ms, 0.9),
             "error_rate": (len(ops) - len(ok)) / max(len(ops), 1),
             "ops_timed": len(ops), "passes": jvm["passes"],
             # CPU time the hypervisor gave other guests while ops ran: a
             # run with a high share ran on a slower machine
             "steal_pct": sum(o["steal"] * o["ms"] for o in ops)
             / max(sum(o["ms"] for o in ops), 1e-9) * 100}

    def by(kind):
        return [o for o in ok if o["kind"] == kind]

    if workload == "interactive_sql":
        extra.update(queries_per_s=m["ops_per_s"],
                     query_p50_ms=extra["op_p50_ms"],
                     query_p90_ms=extra["op_p90_ms"])
    elif workload == "bulk_federation":
        def rate(kind):
            return statistics.median(o["rows"] / o["ms"] * 1000
                                     for o in by(kind))
        scans = by("scan")
        extra.update(
            ingest_rows_per_s=rate("ingest"), upsert_rows_per_s=rate("upsert"),
            scan_rows_per_s=sum(o["rows"] for o in scans)
            / sum(o["ms"] for o in scans) * 1000,
            pushdown_p50_ms=pct([o["ms"] for o in by("pushdown")], 0.5))
    return m, extra


def per_layer(ops, jvm, spans, untraced):
    """Per-layer metrics from the traced passes. `untraced` is the result
    document of the untraced run of the same workload and seed, or None."""
    t = [o for o in ops if o["traced"] and "stats" in o]
    # untraced passes after the first, which only settles the JVM
    u = [o for o in ops if not o["traced"] and "error" not in o
         and o["pass"] > 0]
    n = max(len(t), 1)

    def tot(k, rows=t):
        return sum(o["stats"].get(k, 0.0) for o in rows)

    selft = self_times(spans)
    out = {"spark.plan_ms": tot("spark.plan_ms") / n,
           "spark.driver_ms": selft.get("spark.driver", 0.0) / n}
    out.update({k: tot(k) / n for k in (
        "spark.jobs", "spark.stages",
        "spark.tasks", "spark.task_overhead_ms", "spark.task_ms",
        "spark.task_cpu_ms", "spark.stage_max_task_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "spark.gc_ms", "sources.wire_rows",
        "sources.scan_ms", "sources.remote_ms", "sources.conn_opened")})
    remote = [o for o in t if o["stats"].get("sources.remote_scans")]
    wire = tot("sources.wire_rows", remote)
    out["sources.pushdown_ratio"] = \
        sum(o.get("rows", 0) for o in remote) / wire if wire else 0.0
    out["sources.decode_ms"] = out["sources.scan_ms"] - out["sources.remote_ms"]
    infers = tot("sources.schema_infers")
    out["sources.schema_infer_ms"] = \
        tot("sources.schema_infer_ms") / infers if infers else 0.0
    w = [o for o in t if o["kind"] in ("ingest", "upsert")]
    nw = max(len(w), 1)
    out["sources.write_rows"] = sum(o.get("rows", 0) for o in w) / nw
    out["sources.write_task_ms"] = tot("spark.task_ms", w) / nw
    out["sources.write_commit_ms"] = tot("sources.job_tail_ms", w) / nw
    out["sources.write_remote_ms"] = jvm.get("write_remote", {}).get("ms", 0.0)
    for fn, r in jvm["functions"].items():
        out[f"functions.{fn}_rows_per_s"] = r["rows"] / r["ms"] * 1000
    traced_passes = len({o["pass"] for o in t}) or 1
    out["plans.rewrite_hits"] = tot("plans.rewrite_hit") / traced_passes
    out["jvm.gc_ms"] = jvm["gc_ms"] / max(len(ops), 1)
    out["jvm.heap_after_gc_mb"] = jvm["heap_after_gc_mb"]
    # tracing overhead: the traced passes' kind_geomean_ms against this
    # run's later untraced passes (see README, "Traced run")
    traced = kind_geomean([o for o in t if "error" not in o])
    out["trace.overhead_pct"] = \
        (traced / kind_geomean(u) - 1) * 100 if t and u else 0.0
    obs = {}
    for o in t:
        for name, ms in o.get("obs", {}).items():
            for k, v in ms.items():
                if isinstance(v, float):
                    obs.setdefault(f"operators.obs.{name}.{k}", []).append(v)
    # printed beside the per-layer metrics: the median of each numeric
    # Observation, self time by layer and each layer's share of op time,
    # and the share of executor task time spent in connector stages
    more = {k: (statistics.median(v), "value") for k, v in obs.items()}
    if untraced and t:
        # against the untraced run of the same seed: also differs by pass
        # position, as that run times only its first pass
        more["trace.overhead_vs_untraced_run_pct"] = (
            (traced / untraced["end_to_end"]["kind_geomean_ms"] - 1) * 100,
            "%")
    op_ms = sum(v for k, v in selft.items() if k.startswith("spark."))
    for k, v in sorted(selft.items()):
        more[f"self_ms.{k}"] = (v, "ms")
        if k.startswith("spark.") and op_ms:
            more[f"self_share.{k}"] = (v / op_ms * 100, "%")
    task = tot("spark.task_ms")
    more["sources.task_share"] = (
        (tot("sources.scan_ms") + tot("spark.task_ms", w)) / task * 100
        if task else 0.0, "%")
    return out, more


LAYER_UNITS = {"_ms": "ms/op", "_bytes": "B/op", "_rows_per_s": "rows/s"}


def layer_unit(name):
    if name in ("sources.schema_infer_ms",):
        return "ms/call"
    if name in ("sources.write_rows",):
        return "rows/write"
    if name.startswith("sources.write_") and name.endswith("_ms"):
        return "ms/write"
    if name == "jvm.heap_after_gc_mb":
        return "MB"
    if name == "sources.pushdown_ratio":
        return "ratio"
    if name == "plans.rewrite_hits":
        return "ops/pass"
    if name == "trace.overhead_pct":
        return "%"
    for suf, u in LAYER_UNITS.items():
        if name.endswith(suf):
            return u
    return "1/op"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the self-test: shrink the inputs, and plant a wrong expected
    # result for one op, which the checks must report as a failure
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--plant", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no graft source tree at {ROOT}: run from a checkout of the repo")
    import oracle  # needs the repo's tools/, checked above
    build()
    t_start = time.time()  # the deadline covers the run, not the build
    runs = os.path.join(HERE, "runs")
    run = os.path.join(runs, f"{args.workload}-seed{args.seed}-"
                             f"trace{args.trace}-{os.getpid()}")
    os.makedirs(run)
    try:
        t0 = time.time()
        gen.generate(args.workload, args.seed, f"{run}/data", args.scale)
        if warm_dir(args, run) != f"{run}/data":
            gen.generate(args.workload, args.seed, warm_dir(args, run),
                         scale=0.02 * args.scale)
        gen_s = time.time() - t0
        jvm = run_jvm(args, run, DEADLINE_S - (time.time() - t_start) - 10)
        failures, expect = oracle.check(args.workload, f"{run}/data", jvm,
                                        plant=args.plant)
        spans = []
        if args.trace:
            with open(f"{run}/spans.json") as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(run, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    ops = jvm["ops"]
    # an op fails on an error, a failed check, or a row count that
    # differs from the verified one (or from its own first run)
    seen = {}
    for o in ops:
        want = expect.get(o["name"], seen.setdefault(o["name"], o.get("rows")))
        if "error" not in o and (o["name"] in failures or o.get("rows") != want):
            o["error"] = failures.get(o["name"]) or \
                f"row count {o.get('rows')} != verified {want}"
    attempted, failed = len(ops), sum(1 for o in ops if "error" in o)
    unchecked = sorted(set(failures) - {o["name"] for o in ops})
    setup = jvm["setup"]
    setup_s = gen_s + setup["jvm_to_first_op_ms"] / 1000
    e2e, extra = end_to_end(ops, jvm, setup_s, args.workload)
    doc = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "scale": args.scale,
           "trace": args.trace, "cores": cores(),
           "end_to_end": e2e, "workload_metrics": extra,
           "setup": dict(setup, generate_ms=gen_s * 1000),
           "failures": failures, "ops": ops}
    lines = [(k, v, E2E_UNITS[k]) for k, v in e2e.items()]
    lines += [(k, v, "count" if k in ("ops_timed", "passes") else
               "ratio" if k == "error_rate" else
               "%" if k == "steal_pct" else
               "rows/s" if k.endswith("rows_per_s") else
               "1/s" if k.endswith("_per_s") else "ms")
              for k, v in extra.items()]
    results = os.path.join(HERE, "results")
    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        untraced = None
        if os.path.exists(os.path.join(results, f"{stem}-trace0.json")):
            with open(os.path.join(results, f"{stem}-trace0.json")) as f:
                untraced = json.load(f)
            if untraced.get("scale") != args.scale:
                untraced = None
        layer, more = per_layer(ops, jvm, spans, untraced)
        doc.update(per_layer=layer, per_layer_more={k: v for k, (v, _) in
                                                    more.items()})
        lines += [(k, v, layer_unit(k)) for k, v in layer.items()]
        lines += [(k, v, u) for k, (v, u) in more.items()]
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    correct = failed == 0 and not unchecked
    for name in unchecked:
        print(f"perfbench: FAIL {name}: {failures[name]}", file=sys.stderr)
    for o in ops:
        if "error" in o:
            print(f"perfbench: FAIL {o['name']} (pass {o['pass']}): "
                  f"{o['error']}", file=sys.stderr)
    os.makedirs(results, exist_ok=True)
    stem += f"-trace{args.trace}"
    with open(os.path.join(results, f"{stem}.json"), "w") as f:
        json.dump(doc, f, indent=1)
    if args.trace:
        with open(os.path.join(results, f"{stem}.spans.json"), "w") as f:
            json.dump(spans, f)
    for k, v, u in lines:
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
