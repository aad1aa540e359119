"""Benchmark launcher.

Usage (from the repository root):
    python3 perfbench/run.py --workload <e1_daily|curation>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed, runs one fresh JVM on local[<cores>]
(perfbench/scala/Main.scala), checks the outputs (perfbench/check.py)
and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1.
The line before it is the run's detail record (samples, audits, host
noise, failure messages).
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# The whole process must end within 180 s; the JVM gets what is left.
DEADLINE_S = 170
# Warm iterations a run measures at least, whatever its --seconds. More
# did not steady job_s on a 4-core microVM: host CPU steal moves whole
# runs, and a second warm iteration costs 7-12 s of the run budget.
MIN_WARM = 1
# A (day, token) key of the E1 consolidation join may pair at most this
# many rows; the generator's tours reach 8 x 8.
HOT_KEY_BOUND = 100
WORKLOADS = {
    "e1_daily": {"events_per_side": 4000, "hot_key_bound": HOT_KEY_BOUND},
    "curation": {"docs": 2000, "vecs": 1000, "top_k": 10, "tau": 0.97,
                 "bucket_cap": 200, "cell_cap": 1000,
                 # the registry leg runs on a fixed fixture: the seed
                 # selects nothing there
                 "fixture": "perfbench/fixture/sf0.01",
                 "registry": ["q137_stream_index_ingest"]},
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap_gb():
    """MemTotal / 2, clamped to 2..8 GB (the tier-1 test command's rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cores():
    return len(os.sched_getaffinity(0))


def prepare(name, seed, work, root):
    """Generate inputs; return (launcher params, expectations)."""
    cfg = WORKLOADS[name]
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    if name == "e1_daily":
        expect = gen.e1_daily(inp, seed, cfg["events_per_side"])
        params = {"input": inp, "first_today": gen.e1_today(0),
                  "hot_key_bound": cfg["hot_key_bound"]}
    else:
        fixture = os.path.join(root, cfg["fixture"])
        if not os.path.isdir(fixture):
            raise SystemExit(f"perfbench: missing fixture {cfg['fixture']}")
        expect = gen.curation(inp, seed, cfg["docs"], cfg["vecs"])
        params = {"input": inp, "queries": expect["queries"], "top_k": cfg["top_k"],
                  "tau": cfg["tau"], "bucket_cap": cfg["bucket_cap"],
                  "cell_cap": cfg["cell_cap"], "fixture": fixture,
                  "registry": ",".join(cfg["registry"])}
    return params, expect


def launch(name, params, work, classes, trace, seconds, deadline):
    params = dict(params, work=work, trace=trace, seconds=seconds, cores=cores(),
                  min_warm=MIN_WARM,
                  max_loop_s=max(seconds, deadline - time.time() - 45))
    params_path = os.path.join(work, "params.json")
    with open(params_path, "w") as fh:
        json.dump({k: str(v) for k, v in params.items()}, fh)
    record_path = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
              name, params_path, record_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        launch_ms = time.time() * 1000
        proc = subprocess.Popen(cmd, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM killed at the deadline; see {log_path}")
    if code != 0 or not os.path.exists(record_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"perfbench: JVM exited with {code}\n{tail}")
    with open(record_path) as fh:
        return json.load(fh), launch_ms


def cached_oracle(fixture, sql):
    """DuckDB oracle rows, kept in the build directory under a digest of
    the SQL and the fixture files: the oracle is deterministic, and
    rerunning it costs seconds per run."""
    h = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for f in sorted(os.listdir(fixture)):
        with open(os.path.join(fixture, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    path = os.path.join(build.build_dir(os.getcwd()), "oracle", h.hexdigest()[:24] + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    rows = check.oracle(fixture, sql)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(rows, fh)
    os.replace(path + ".tmp", path)
    return rows


def run_checks(name, record, expect, work, root):
    if name == "e1_daily":
        return check.e1_daily(record, expect, os.path.join(work, "sinks"))
    cfg = WORKLOADS[name]
    attempted, failures = check.curation(record, expect, cfg["tau"])
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    expected = cached_oracle(os.path.join(root, cfg["fixture"]), sql)
    missing = [q for q in cfg["registry"] if q not in expected]
    n, more = check.registry_leg(record, expected, os.path.join(work, "results"))
    return attempted + n, failures + more + [f"{q}: no oracle SQL" for q in missing]


def end_to_end(record, launch_ms):
    ok = [it for it in record["iterations"] if "error" not in it]
    cold = [it["ms"] for it in ok if it["i"] == 0]
    warm = [it["ms"] for it in ok if it["i"] > 0]
    if not cold or not warm:
        raise SystemExit("perfbench: no successful cold and warm iterations to time")
    return {"setup_s": (record["ready_ms"] - launch_ms) / 1000,
            "cold_s": cold[0] / 1000,
            "job_s": statistics.median(warm) / 1000}, len(warm)


def per_layer(name, record):
    layers = record.get("layers", [])
    if not layers:
        raise SystemExit("perfbench: the traced run recorded no traced iteration")
    keys = sorted({k for m in layers for k in m})
    out = {k: statistics.median(m.get(k, 0.0) for m in layers) for k in keys}
    out.update(record.get("kernels", {}))
    out["process.peak_rss_mb"] = record["peak_rss_mb"]
    its = [it for it in record["iterations"] if "error" not in it and it["i"] > 0]
    traced = [it["ms"] for it in its if it["traced"]]
    plain = [it["ms"] for it in its if not it["traced"]]
    if traced and plain:
        out["trace.overhead_ms"] = statistics.median(traced) - statistics.median(plain)
    cold = next((it for it in record["iterations"] if it["i"] == 0 and "error" not in it), None)
    for q in WORKLOADS[name].get("registry", []):
        if cold:
            out[f"queries.{q}.cold_ms"] = cold["queries"][q]["ms"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    classes = build.build(root)
    work = os.path.join(build.build_dir(root), "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    params, expect = prepare(args.workload, args.seed, work, root)
    gen_s = time.time() - t0
    record, launch_ms = launch(args.workload, params, work, classes, args.trace,
                               args.seconds, deadline)
    jvm_s = time.time() - launch_ms / 1000
    t0 = time.time()
    attempted, failures = run_checks(args.workload, record, expect, work, root)
    check_s = time.time() - t0

    if args.trace == 0:
        values, n_warm = end_to_end(record, launch_ms)
        wanted = spec["end_to_end"]
    else:
        values, n_warm = per_layer(args.workload, record), None
        wanted = spec["per_layer"]
    # a layer the workload does not exercise reads 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores(), "heap_gb": heap_gb(), "gen_s": round(gen_s, 3),
        "jvm_s": round(jvm_s, 3), "check_s": round(check_s, 3),
        "loop_end_s": round(record["loop_end_ms"] / 1000 - launch_ms / 1000, 3),
        "audit": record.get("audit"), "audit_s": record.get("audit_s"),
        "warm_samples": n_warm,
        "samples_ms": [round(it["ms"], 1) for it in record["iterations"] if "ms" in it],
        # reported here rather than as gated metrics: failed_ops is 0 on a
        # correct run, and peak RSS follows G1's heap sizing, which varies
        # with host CPU steal by more than any allowed bound
        "failed_ops": {"value": len(failures) / attempted if attempted else 1.0,
                       "unit": "fraction"},
        "peak_rss_mb": {"value": record["peak_rss_mb"], "unit": "MB"},
        "failures": failures[:20],
        "host": {"cal_s": [record.get("cal_pre"), record.get("cal_post")],
                 "load_1m": [record.get("load_pre"), record.get("load_post")]},
    }
    if args.trace:
        detail["layers_all"] = values
        detail["spans"] = len(record.get("spans", []))
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"layers": record.get("layers"), "spans": record.get("spans")}, fh)
    print(json.dumps(detail))
    print(json.dumps({"correct": not failures and attempted > 0, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
