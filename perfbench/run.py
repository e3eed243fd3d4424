#!/usr/bin/env python3
"""Workload benchmark for graft: one command per workload run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the engine and the runner from
source (sbt, once per source state), generates the workload's inputs from
the seed, runs the runner in one JVM, checks every output, and prints one
JSON line last: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Everything it writes goes under
`perfbench/.work/run-<pid>/`, which is deleted when the run ends, or by
the next run if this one was killed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dashboard", "curate")
# op_tail_s quantile per workload. The views' p75 keeps well over ten
# samples above it and sits inside one view type's latency band (ten types
# in equal shares), so it does not jump between types from run to run;
# batches are few, so their tail is the slowest.
TAIL_Q = {"dashboard": 0.75, "curate": 1.0}
END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("ops_per_s", "1/s"), ("heap_live_mb", "MB"),
]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input of the build: the engine's main sources and
    build definition, and the runner's own sources and build files."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the classpath for this source state exists;
    returns the runtime classpath."""
    out = os.path.join(HERE, "target")
    stamp_file, cp_file = os.path.join(out, "perfbench.stamp"), os.path.join(out, "perfbench.cp")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        log(proc.stdout[-4000:], proc.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in proc.stdout.splitlines() if l.strip() and ".jar" in l and not l.startswith("[")][-1]
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp.strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return cp.strip()


def remove_stale(runs):
    """Delete work roots left behind by runs whose process is gone."""
    for name in sorted(os.listdir(runs)) if os.path.isdir(runs) else []:
        pid = name.removeprefix("run-")
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(cp, workload, data, work, seconds, trace):
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--data", data, "--work", work, "--out", out,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(os.cpu_count() or 1)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            # never leave the JVM behind: on a timeout, or when this
            # process is told to stop while waiting
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        return None
    with open(out) as f:
        return json.load(f)


def end_to_end(workload, res):
    # a run that failed before a sample was taken reports 0 for it (and
    # is not correct)
    s = {k: res["samples"].get(k, [0.0]) for k in ("setup_s", "pass_s", "ops_per_s")}
    ops = res["samples"].get("op_s", [])
    tail, q = stats.tail(ops, TAIL_Q[workload]) if ops else (0.0, 1.0)
    p50, n = stats.percentile(ops, 0.5) if ops else (0.0, 0)
    log(f"op samples {n}; op_tail_s is p{round(q * 100)} "
        f"({stats.beyond(ops, tail)} samples above it)")
    values = {
        "setup_s": stats.median(s["setup_s"]),
        "pass_s": stats.median(s["pass_s"]),
        "op_p50_s": p50,
        "op_tail_s": tail,
        "ops_per_s": stats.median(s["ops_per_s"]),
        "heap_live_mb": res["heap_live_mb"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac") or name.endswith("_over_median") or name.endswith("recall"):
        return "ratio"
    return "count"


def per_layer(res):
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}


def report_spans(res, spans_out):
    spans = res.get("spans", [])
    by_layer = {}
    for name, secs in stats.self_times(spans).items():
        by_layer[stats.layer_of(name)] = by_layer.get(stats.layer_of(name), 0.0) + secs
    log("self time by layer (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1])))
    if spans_out:
        with open(spans_out, "w") as f:
            json.dump({"spans": spans, "self_s": by_layer}, f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="also write the traced run's spans to this file")
    args = ap.parse_args(argv)
    # a stop request unwinds through the cleanup below (child JVM, work root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("run from the repository root: build.sbt and src/main/scala/graft are required")
        return 2
    cp = build(root)
    runs = os.path.join(HERE, ".work")
    remove_stale(runs)
    work = os.path.join(runs, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        t = time.time()
        plan = gen.generate(args.seed, data, args.workload)
        log(f"generated inputs for seed {args.seed} in {time.time() - t:.1f} s")
        t = time.time()
        res = run_jvm(cp, args.workload, data, work, args.seconds, args.trace == 1)
        log(f"runner JVM {time.time() - t:.1f} s")
        if res is None:
            log("runner failed")
            return 1
        checks = list(res["checks"])
        if args.workload == "dashboard" and "views" in res:
            try:
                for name, ok, detail in oracle.check_views(data, res["lake"], res["views"],
                                                           plan["events"]):
                    checks.append({"name": name, "ok": ok, "detail": detail})
            except Exception as e:  # the oracle failing is a failed check, not a crash
                checks.append({"name": "DuckDB view oracle runs", "ok": False, "detail": repr(e)[:400]})
        log(f"lake {res.get('lake_bytes', 0)} bytes, index {res.get('index_bytes', 0)} bytes, "
            f"export {res.get('export_bytes', 0)} bytes, export hash {res.get('export_hash', '-')}")
        for c in checks:
            log(("ok   " if c["ok"] else "FAIL ") + c["name"] + (f" — {c['detail']}" if c["detail"] else ""))
        # every operation and every output check is an attempt; a thrown
        # call or a failed check is a failure
        attempted = max(1, int(res["attempted"]) + len(checks))
        failed = int(res["failed"]) + sum(1 for c in checks if not c["ok"])
        correct = failed == 0
        if args.trace:
            metrics = per_layer(res)
            report_spans(res, args.spans_out)
        else:
            metrics = end_to_end(args.workload, res)
        for k, v in metrics.items():
            log(f"{k} = {v['value']} {v['unit']}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
