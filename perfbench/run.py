#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py, outside
every timed region), runs the JVM harness (perfbench/src) on local[nproc],
reduces its raw samples and prints one JSON object as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1, as listed in BENCHMARK.json. The line before it is the run
record: host steadiness stamps, the tail percentile with its sample count,
and any failed output check. Everything it writes stays under
`.bench_work/` and `.bench_build/` in the root.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

PROFILE = {"pipeline_dashboard": "pipe", "operator_mix": "mix"}
EXPECTED_MIX = os.path.join(HERE, "expected_operator_mix.json")
# The traced passes reconcile when the self times of the reported layers
# leave at most this share of their wall time unattributed; beyond it the
# run counts a failure.
RECONCILE_TOL = 0.10
# A run must finish within 180 s after the build; the JVM gets what is left.
BUDGET_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Spans whose self time (s per traced pass) is a per-layer metric of the
# same name plus `_s`; so are the `operators.<query>.build|exec` spans.
SPAN_LAYERS = {"sources.scan_validate", "Cleaning.clean", "CleanStore.write", "Feeds.write",
               "trace.drain"}
# Spans inside a widget refresh whose self time (ms per refresh) is a
# per-layer metric of the same name plus `_ms`.
REFRESH_LAYERS = {"CleanStore.serve", "Params.build", "Params.collect"}
# harness counter -> (per-layer metric, factor)
RENAMED = {
    "streaming.stream_batches": ("streaming.batches", 1),
    "spark.task_ms": ("spark.task_s", 1e-3),
    "spark.gc_ms": ("spark.gc_s", 1e-3),
    "sources.scan_ms": ("sources.scan_task_s", 1e-3),
}


def reported_span(name):
    """Whether a span's self time is reported as a per-layer metric."""
    return (name in SPAN_LAYERS or name in REFRESH_LAYERS
            or (name.startswith("operators.") and name.endswith((".build", ".exec"))))


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--record-hashes", action="store_true",
                   help="operator_mix: write the result hashes instead of checking them")
    return p.parse_args()


def mix_corpus(work):
    """The operator_mix corpus is seed-independent: generate it once."""
    data = os.path.join(work, "corpus", "opmix")
    if not os.path.exists(os.path.join(data, "expected.json")):
        tmp = data + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate("mix", 0, tmp)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data


def run_jvm(classpath, run_dir, argv, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", "-Xmx3g"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "graft.perfbench.Harness"] + argv
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                       timeout=max(10.0, deadline - time.time()), check=True)


def feed_rows(pass_dir):
    """feed name -> sorted rows of its JSON-lines twin, doubles rounded to
    6 places (a parallel sum may differ in its last bits between passes)."""
    feeds = {}
    root = os.path.join(pass_dir, "feeds")
    for name in sorted(os.listdir(root)):
        if not name.endswith("_json"):
            continue
        rows = []
        for part in sorted(glob.glob(os.path.join(root, name, "part-*"))):
            with open(part) as f:
                for line in f:
                    r = json.loads(line)
                    rows.append(json.dumps({k: round(v, 6) if isinstance(v, float) else v
                                            for k, v in r.items()}, sort_keys=True))
        feeds[name[:-len("_json")]] = sorted(rows)
    return feeds


def feed_failures(pass_dirs):
    """Every pass must write the same feeds as the first."""
    ref = feed_rows(pass_dirs[0])
    if not ref or not all(ref.values()):
        return [f"pass 0 wrote empty or no feeds: {sorted(ref)}"]
    return [f"pass {i} feeds differ from pass 0"
            for i, d in enumerate(pass_dirs[1:], 1) if feed_rows(d) != ref]


def reduce(res, spans, trace, per_layer):
    """Raw harness samples -> (metrics dict, record dict)."""
    untraced = res["warm_untraced_s"]
    traced = res["warm_traced_s"]
    ops = [x for per_pass in res["ops_ms"] for x in per_pass]
    tail = stats.supported_tail(ops)
    record = {
        "workload": res["workload"], "seed": res["seed"], "host": res["host"],
        "ops_count": len(ops), "passes": len(untraced) + len(traced),
        "op_p50_ms": stats.median(ops),
        "op_tail_pct": tail[0] if tail else None, "op_tail_ms": tail[1] if tail else None,
        "failures": res["failures"][:10],
    }
    if not trace:
        return {
            "setup_s": stats.median(res["setups_s"]),
            "first_pass_s": res["first_pass_s"],
            "pass_s": stats.median(untraced),
            "op_gmean_ms": stats.op_gmean(res["ops_ms"]),
            "peak_heap_mb": res["peak_heap_mb"],
        }, record

    layers = {}
    for name, v in res["layers"].items():
        name, factor = RENAMED.get(name, (name, 1))
        layers[name] = v * factor
    pass_ops = {s["op"] for s in spans if s["parent"] == 0 and s["name"] == "pass"} - {"pass0"}
    k = max(len(pass_ops), 1)
    selfs = stats.layer_self_seconds(spans, pass_ops)
    refreshes = len({s["op"] for s in spans
                     if ".refresh" in s["op"] and s["op"].split(".")[0] in pass_ops})
    for name, secs in selfs.items():
        if name in REFRESH_LAYERS:
            layers[name + "_ms"] = secs * 1e3 / max(refreshes, 1)
        elif reported_span(name):
            layers[name + "_s"] = secs / k
    share = stats.unattributed_share(spans, pass_ops, reported_span)
    layers["trace.unattributed_share"] = share
    if share > RECONCILE_TOL:
        res["failures"].append(f"traced passes: {share:.3f} of their wall time is in no "
                               f"reported layer (tolerance {RECONCILE_TOL})")
        record["failures"] = res["failures"][:10]
    layers["trace.overhead_s"] = stats.median(traced) - stats.median(untraced)
    gap = res["first_pass_s"] - stats.median(traced)
    codegen = layers["GraftSession.codegen_compile_s"] - layers["GraftSession.codegen_compile_warm_s"]
    staging = layers["cold.staging_s"]
    layers.update({"cold.gap_s": gap, "cold.codegen_s": codegen,
                   "cold.remainder_s": gap - codegen - staging})
    record.update({"reconcile_tolerance": RECONCILE_TOL, "reconciled": share <= RECONCILE_TOL,
                   "traced_pass_s": stats.median(traced), "untraced_pass_s": stats.median(untraced),
                   "spans": len(spans)})
    return {m: layers.get(m, 0.0) for m in per_layer}, record


def main():
    a = parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    try:
        classpath = build.build(root)
    except (OSError, RuntimeError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")
    t_start = time.time()  # the first run in a checkout also builds; that is not budgeted

    work = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work, f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if PROFILE[a.workload] == "mix":
        data = mix_corpus(work)
    else:
        data = os.path.join(run_dir, f"pb_s{a.seed}")
        gen.generate("pipe", a.seed, data)

    out = os.path.join(run_dir, "result.json")
    argv = ["--workload", a.workload, "--data", data, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(len(os.sched_getaffinity(0))), "--out", out]
    if a.workload == "operator_mix":
        argv += ["--record" if a.record_hashes else "--expected", EXPECTED_MIX]
    try:
        run_jvm(classpath, run_dir, argv, t_start + BUDGET_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        with open(os.path.join(run_dir, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"harness failed: {e}")
    with open(out) as f:
        res = json.load(f)
    if "pass_outputs" in res:
        res["failures"] += feed_failures(res["pass_outputs"])
    spans = []
    if a.trace:
        with open(out + ".spans") as f:
            spans = [json.loads(line) for line in f if line.strip()]

    metric_names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    metrics, record = reduce(res, spans, a.trace, metric_names)

    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, os.path.basename(run_dir))
    shutil.copy(out, stem + ".result.json")
    shutil.copy(os.path.join(run_dir, "jvm.log"), stem + ".jvm.log")
    if a.trace:
        shutil.copy(out + ".spans", stem + ".spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    failed = min(len(res["failures"]), res["attempted"])
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": units[m]} for m in metric_names},
    }))


if __name__ == "__main__":
    main()
