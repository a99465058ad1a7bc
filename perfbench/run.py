#!/usr/bin/env python3
"""The repo benchmark: one seeded workload run, one JSON result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the program and the harness from source (once per source
state), generate the workload's inputs from --seed, run the harness JVM
(set-up, then a closed loop of operations for --seconds), check every
output outside the timed region, print a detail line and then the result
line {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics. Everything is written under .bench_build/ in
the checkout.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170  # the whole run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840
# A fixed, pre-touched heap: the heap's resident size is then this
# setting exactly, and peak_offheap_rss_mb (peak RSS minus the committed
# heap) is the process's memory outside it. Heap use is reported per layer
# (jvm.heap_after_gc_max_mb, jvm.alloc_mb, spark.gc_s).
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# JDK 17 module opens Spark needs outside spark-submit (the program's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# Per-layer metric namespaces that belong to one workload; on the others
# they read 0.
WORKLOAD_NS = {"eda_pipeline": ("eda.", "cli."), "query_panel": ("panel.",)}


def read(path: str) -> str:
    with open(path) as f:
        return f.read()


class BenchError(Exception):
    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code


def load_spec(root: str) -> dict:
    """BENCHMARK.json's metric lists; unknown workload names fail loudly."""
    spec = json.loads(read(os.path.join(root, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    unknown = [n for n in names if n not in gen.WORKLOADS]
    if unknown:
        raise BenchError(5, f"BENCHMARK.json names unknown workload(s): {unknown}")
    return spec


def load_panel(path: str) -> list:
    """Panel query names, one a line; '#' starts a comment."""
    names = []
    with open(path) as f:
        for ln, line in enumerate(f, 1):
            name = line.split("#", 1)[0].strip()
            if not name:
                continue
            if not name[0].isalpha() or not all(c.isalnum() or c == "_" for c in name):
                raise BenchError(5, f"{path}:{ln}: bad query name {name!r}")
            if name in names:
                raise BenchError(5, f"{path}:{ln}: query {name!r} listed twice")
            names.append(name)
    if not names:
        raise BenchError(5, f"{path}: empty panel")
    return names


def select_metrics(produced: dict, declared: list, workload: str) -> dict:
    """Exactly the declared metrics, in declared order. A produced name
    that is not declared, or a declared one nobody produced, fails loudly;
    only another workload's namespaced per-layer metrics default to 0."""
    names = [m["name"] for m in declared]
    extra = sorted(set(produced) - set(names))
    if extra:
        raise BenchError(5, f"metric(s) not declared in BENCHMARK.json: {extra}")
    foreign = tuple(ns for w, nss in WORKLOAD_NS.items() if w != workload for ns in nss)
    missing = [n for n in names if n not in produced and not n.startswith(foreign)]
    if missing:
        raise BenchError(5, f"declared metric(s) not produced by {workload}: {missing}")
    units = {m["name"]: m["unit"] for m in declared}
    return {n: {"value": float(produced.get(n, 0.0)), "unit": units[n]} for n in names}


# ---- build ----------------------------------------------------------------------

def source_stamp(root: str) -> str:
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src", os.path.join("perfbench", "harness")]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            if not any(part == "target" for part in os.path.relpath(d, root).split(os.sep))
            for f in fs)
        for q in paths:
            if q.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(q, root).encode())
                with open(q, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """subprocess.run in its own process group, killed whole on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root: str, work: str) -> str:
    """Compile the program and the harness (one sbt call); return the
    runtime classpath. Skipped when the sources are unchanged."""
    stamp_file, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and read(stamp_file) == stamp:
        cp = read(cp_file).strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        try:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           BUILD_LIMIT_S, cwd=os.path.join(root, "perfbench", "harness"),
                           env=env, stdout=out, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            raise BenchError(3, f"build timed out; see {log}")
    lines = read(log).splitlines()
    cps = [ln.replace("[info] ", "").strip() for ln in lines if ".jar" in ln and os.pathsep in ln]
    if rc != 0 or not cps:
        raise BenchError(3, f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---- one run --------------------------------------------------------------------

def e2e_metrics(r: dict, setup_s: float) -> dict:
    mem = r["memory"]
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(r["units_s"]),
        "peak_offheap_rss_mb": mem["vmhwm_mb"] - mem["heap_committed_mb"],
    }


def run(args) -> int:
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError(2, "no program sources here (build.sbt, src/main/scala/graft): "
                            "run from the root of a repo checkout")
    spec = load_spec(root)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise BenchError(5, f"unknown workload {args.workload!r}")
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    cp = build(root, base)

    t_gen = time.time()
    work = os.path.join(base, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(args.workload, args.seed, inputs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm_args = ["--workload", args.workload, "--inputs", inputs, "--work", work,
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--out", os.path.join(work, "result.json")]
    if args.workload == "query_panel":
        names = load_panel(os.path.join(HERE, "panel.txt"))
        random.Random(args.seed).shuffle(names)
        with open(os.path.join(work, "panel_order.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        jvm_args += ["--panel", os.path.join(work, "panel_order.txt")]
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(log, "w") as out:
        try:
            rc = run_group(["java", *ADD_OPENS, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
                            "-cp", cp, "perfbench.Main", *jvm_args],
                           RUN_LIMIT_S - (time.time() - t_gen), cwd=work, env=env,
                           stdout=out, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            raise BenchError(4, f"harness timed out; see {log}")
    if rc != 0:
        tail = read(log).splitlines()[-15:]
        raise BenchError(4, f"harness failed (exit {rc}); see {log}\n" + "\n".join(tail))
    r = json.loads(read(os.path.join(work, "result.json")))
    setup_s = r["loop_start_ms"] / 1e3 - t_gen

    # ---- checks, outside the timed region ----
    ops = r["ops"]
    bad = {i for i, o in enumerate(ops) if o["error"]}
    if args.workload == "eda_pipeline":
        res = checks.check_eda(inputs, r["outputs"]["run_dirs"])
        detail = {os.path.basename(d): v for d, v in res.items()}
        bad |= {i for i, d in enumerate(r["outputs"]["run_dirs"]) if res[d]}
    else:
        oracle = json.loads(read(os.path.join(work, "panel", "oracle_sql.json")))
        detail = checks.check_panel(inputs, r["outputs"]["result_dir"], oracle,
                                    r["outputs"]["queries"])
        bad |= {i for i, o in enumerate(ops) if detail.get(o["name"])}

    if args.trace:
        metrics = select_metrics(r["per_layer"], spec["per_layer"], args.workload)
    else:
        metrics = select_metrics(e2e_metrics(r, setup_s), spec["end_to_end"],
                                 args.workload)
    attempted, failed = len(ops), len(bad)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops_failed_frac": failed / attempted, "inputs": manifest,
        "setup_parts_s": dict(r["setup"], generate_and_launch_s=round(
            setup_s - sum(r["setup"].values()), 3)),
        "checks": detail, "memory_mb": r["memory"], "outputs": r["outputs"],
        "trace_spans": os.path.join(work, "trace_spans.json") if args.trace else None,
    }, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    try:
        return run(ap.parse_args())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return e.code


if __name__ == "__main__":
    sys.exit(main())
