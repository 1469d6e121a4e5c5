#!/usr/bin/env python3
"""Repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <tf_estate|ops_mix|idx_rw> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala compiler
that ships in the Spark jar directory named by `build.sbt` (or
`$SPARK_HOME/jars`) into `.bench_build/`, keyed by a digest of the sources.
Each run then starts one JVM on `local[<cores>]`, with its own warehouse,
local and temp directories under `.bench_build/runs/`, runs the workload's
set-up and a closed loop of cycles for `--seconds`, and checks every output.

Stdout is a short `name value unit` summary; the last line is the JSON result
(`--trace 0`: end-to-end metrics, `--trace 1`: per-layer metrics). The full
detail (every sample, spans, failures) goes to
`.bench_build/results/<workload>-seed<n>-trace<t>.json`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import gen_tables  # noqa: E402

# Scale of the generated tables: ops_mix reads a 0.02-scale TPC-H-ish set,
# idx_rw a 4x derivation of 0.005-scale documents and embeddings.
OPS_SF = 0.02
IDX_SF = 0.005
IDX_COPIES = 4
HEAP = "3g"
JVM_TIMEOUT_PAD_S = 150
# Which timed op kind each workload's latency metrics describe.
PRIMARY_KIND = {"tf_estate": "query", "ops_mix": "query", "idx_rw": "probe"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory (set SPARK_HOME or run from the repository root)")


def build(jars):
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main_src:
        fail("no engine sources under src/main/scala (run from the repository root)")
    resources = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    for f in sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes", key)
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    t0 = time.time()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "-nowarn"] + main_src + bench_src
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").write(f"{time.time() - t0:.1f}\n")
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- inputs

def write_tables(files, into):
    os.makedirs(into, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(into, f"{name}.parquet"), "wb") as f:
            f.write(data)


def make_inputs(workload, seed, run_dir):
    """Generate the workload's parquet inputs three times (same seed must give
    the same bytes), write one copy. Returns (median seconds, digest ok)."""
    if workload == "tf_estate":
        return None, True  # the estate is generated inside the JVM
    times, digests, files = [], [], None
    for _ in range(3):
        t0 = time.perf_counter()
        if workload == "ops_mix":
            files = gen_tables.encode(gen_tables.tables(seed, OPS_SF))
        else:
            base = gen_tables.tables(seed, IDX_SF, only=["documents", "embeddings"])
            files = gen_tables.encode(gen_tables.derive_corpus(base, IDX_COPIES))
        times.append(time.perf_counter() - t0)
        digests.append(gen_tables.digest(files))
    write_tables(files, os.path.join(run_dir, "tables"))
    return statistics.median(times), len(set(digests)) == 1


def clean_stale_runs():
    """Remove run directories left by runs that are no longer alive (a killed
    JVM leaves its warehouse behind)."""
    for d in glob.glob(os.path.join(BUILD, "runs", "*")):
        pid = d.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------- reduction

def tail(values):
    """Highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples). With fewer than 11 samples: the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    if n <= 10:
        return xs[-1], 100.0, n
    idx = n - 11  # 10 samples strictly beyond xs[idx]
    return xs[idx], 100.0 * (idx + 1) / n, n


def median(xs):
    return statistics.median(xs) if xs else None


def oracle_check(run_dir):
    """Cross-check each ops_mix result written in set-up against its DuckDB
    oracle over the same generated tables with the repository's own gate
    replica, `tools/check.py`. Returns (checked, failures)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        os.path.join(run_dir, "tables"), os.path.join(run_dir, "verify")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    fails = [f"oracle/{x[5:]}" for x in lines if x.startswith("FAIL ")]
    checked = sum(1 for x in lines if x.startswith(("PASS ", "FAIL ")))
    if r.returncode != 0 and not fails:
        fails.append(f"oracle: tools/check.py exited {r.returncode}: {r.stdout[-300:]}")
    return checked, fails


def spans_summary(spans):
    """Self time per span name: duration minus the part its children cover."""
    child = {}
    for s in spans:
        if s[1] >= 0:
            child.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        dur = (s[4] - s[3]) / 1e6
        kids = sorted((c[3], c[4]) for c in child.get(s[0], []))
        covered, ca, cb = 0.0, None, None
        for a, b in kids:
            if cb is None or a > cb:
                if cb is not None:
                    covered += cb - ca
                ca, cb = a, b
            else:
                cb = max(cb, b)
        if cb is not None:
            covered += cb - ca
        e = out.setdefault(s[2], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["total_s"] += dur
        e["self_s"] += dur - covered / 1e6
    return out


def reduce(res, args, popen_ms, gen_s, digest_ok, oracle):
    kind = PRIMARY_KIND[args.workload]
    ops = res["ops"]
    # timed ops only: warm-up cycles (negative index) are checked, not timed
    untraced = [o for o in ops if not o[5] and o[2] >= 0]
    lat = [o[3] for o in untraced if o[0] == kind and o[4]]
    t_val, t_pct, t_n = tail(lat)
    cycles_plain = [c for c, traced in res["cycles"] if not traced]
    cycles_traced = [c for c, traced in res["cycles"] if traced]
    jvm_setup_s = (res["timed_start_ms"] - popen_ms) / 1000.0
    setup_s = jvm_setup_s + (gen_s or 0.0)
    # geometric mean over the read ops of each op's median across the run's
    # cycles, so one slow cycle moves it little
    per_op = {}
    for o in untraced:
        if o[0] == kind and o[4]:
            per_op.setdefault(o[1], []).append(o[3])
    meds = [statistics.median(v) for v in per_op.values()]
    geo = math.exp(sum(math.log(x) for x in meds) / len(meds)) if meds else None
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "op_geomean_ms": (geo * 1e3 if geo else None, "ms"),
        "cycle_s": (median(cycles_plain), "s"),
    }
    p50_ms = (median(lat) * 1e3 if lat else None, "ms")
    tail_ms = (t_val * 1e3 if t_val is not None else None, "ms")
    named = {k: (median(v["values"]), v["unit"]) for k, v in res["series"].items()}
    if args.workload == "tf_estate":
        named["tf_query_p50_ms"] = p50_ms
        named["tf_query_tail_ms"] = tail_ms
    elif args.workload == "idx_rw":
        named["idx_probe_p50_ms"] = p50_ms
        named["idx_probe_tail_ms"] = tail_ms
        builds = [o[3] for o in ops if o[0] == "build" and o[4]]
        named["idx_build_s"] = (sum(builds) if builds else None, "s")
        idx_bytes = float(res["notes"].get("index_bytes", "nan"))
        in_bytes = float(res["notes"].get("input_parquet_bytes", "nan"))
        named["idx_bytes_per_input_byte"] = (idx_bytes / in_bytes, "ratio")
    named["op_p50_ms"] = p50_ms
    named["op_tail_ms"] = tail_ms
    failures = list(res["failures"])
    if not digest_ok:
        failures.append("setup/same_seed_same_bytes: input digests differ")
    failures += oracle[1]
    attempted = len(ops) + res["setup_checks"] + (gen_s is not None) + oracle[0]
    failed = len(failures)  # one entry per failed op or check
    named["failed_frac"] = (failed / attempted, "ratio")
    layers = {k: (v["value"], v["unit"]) for k, v in res["layers"].items()}
    if args.trace:
        overhead = (median(cycles_traced) / median(cycles_plain) - 1.0
                    if cycles_traced and cycles_plain else None)
        layers["trace.overhead_ratio"] = (overhead, "ratio")
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": res["cores"], "fatal": res["fatal"],
        "setup": {"gen_s_median": gen_s, "jvm_s": jvm_setup_s, "steps": res["setup"],
                  "jvm_gen_s": res["gen_s"]},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "tail": {"percentile": t_pct, "samples": t_n, "kind": kind},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "cycles": res["cycles"], "series": res["series"], "ops": ops,
        "notes": res["notes"], "failures": failures,
        "attempted": attempted, "failed": failed,
        "span_self_time": spans_summary(res["spans"]) if args.trace else {},
        "spans": res["spans"],
    }
    return e2e, named, layers, detail, attempted, failed


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    bench = json.load(open(bench_path)) if os.path.exists(bench_path) else {}
    jars = spark_jars()
    classes = build(jars)

    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    clean_stale_runs()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))

    gen_s, digest_ok = make_inputs(args.workload, args.seed, run_dir)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dspark.local.dir={run_dir}/local", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), run_dir,
            str(cores)]
    if args.workload != "tf_estate":
        cmd.append(os.path.join(run_dir, "tables"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    popen_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        proc.wait(timeout=args.seconds + JVM_TIMEOUT_PAD_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("the benchmark JVM did not finish in time")
    finally:
        log.close()
    res_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        print(open(os.path.join(run_dir, "jvm.log")).read()[-3000:], file=sys.stderr)
        fail(f"the benchmark JVM exited with {proc.returncode}")
    res = json.load(open(res_path))
    if res["fatal"]:
        print(open(os.path.join(run_dir, "jvm.log")).read()[-3000:], file=sys.stderr)
        fail(f"workload aborted: {res['fatal']}")

    oracle = oracle_check(run_dir) if args.workload == "ops_mix" else (0, [])
    e2e, named, layers, detail, attempted, failed = reduce(
        res, args, popen_ms, gen_s, digest_ok, oracle)

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    detail_path = os.path.join(BUILD, "results",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        wanted = [m["name"] for m in bench.get("per_layer", [])]
        if args.workload not in {w["name"] for w in bench.get("workloads", [])}:
            wanted += sorted(n for n in layers if n not in wanted)
        units = {m["name"]: m["unit"] for m in bench.get("per_layer", [])}
        shown = {n: layers.get(n, (0.0, units.get(n, ""))) for n in wanted}
    else:
        wanted = [m["name"] for m in bench.get("end_to_end", [])] or list(e2e)
        shown = {n: e2e[n] for n in wanted}
        for n, (v, u) in named.items():
            extra = ""
            if n.endswith("_tail_ms"):
                t = detail["tail"]
                extra = f" (p{t['percentile'] or 0:.0f} of {t['samples']} samples)"
            print(f"{n} {v if v is None else format(v, '.6g')} {u}{extra}")
    for n, (v, u) in shown.items():
        print(f"{n} {v if v is None else format(v, '.6g')} {u}")
    for f in detail["failures"][:10]:
        print(f"FAILED {f}")
    print(f"detail {os.path.relpath(detail_path, ROOT)}")
    missing = [n for n, (v, _) in shown.items() if v is None or (isinstance(v, float) and math.isnan(v))]
    metrics = {n: {"value": (0.0 if v is None else v), "unit": u} for n, (v, u) in shown.items()}
    correct = failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
