#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload batch_daily --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

One run: build the engine and the benchmark from source (perfbench/build.py,
skipped when unchanged), generate the workload's inputs from --seed
(perfbench/gen.py), start one JVM with one local SparkSession
(perfbench/scala), drive the workload as a closed loop with a single client
for --seconds, check the outputs, and print two JSON lines: the run's full
artifact, then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics with --trace 0 and the per-layer
metrics with --trace 1 (a separate run that records spans). Every run gets
its own artifact root under .bench_build/perfbench/runs, removed at exit;
the artifact is also kept in .bench_build/perfbench/artifacts.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = Path.cwd()

# Per workload: scale factor and date grid of the generated inputs, and the
# number of daily deliveries staged (more than any run can consume).
# query_mix's fixture comes from one fixed seed; its --seed permutes the op
# order instead.
WORKLOADS = {
    "batch_daily": dict(sf=0.01, stride=1, days=200),
    "query_mix": dict(sf=0.01, stride=96, fixture_seed=42),
}
HEAP = "3g"
JVM_LIMIT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classes, tmp, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.jars(ROOT)])
    return (["java"] + opens +
            # a fixed, pre-touched heap: peak RSS then moves with off-heap
            # growth (codegen classes, buffers, threads), not with how far
            # the collector happened to grow the heap
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "perfbench.Main"] + main_args)


def commit():
    """The checkout's git commit, or None outside a git work tree (the
    artifact's source_id still identifies the sources)."""
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def oracle_failures(fixture, verify, cwd):
    """Runs the repository's DuckDB oracle check over the dumped op results;
    returns {op: reason} for every op that does not pass."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "oracle_check.py"),
                        str(fixture), str(verify)],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    expected = json.loads((verify / "oracle_sql.json").read_text())
    passed = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("PASS ")}
    fails = {}
    for ln in r.stdout.splitlines():
        if ln.startswith("FAIL "):
            name = ln.split()[1].rstrip(":")
            fails[name] = ln[len("FAIL "):][:300]
    for name in expected:
        if name not in passed and name not in fails:
            fails[name] = f"oracle check gave no verdict (exit {r.returncode})"
    return fails


def run(args, classes, run_dir):
    spec = WORKLOADS[args.workload]
    inputs, out, tmp = run_dir / "inputs", run_dir / "out", run_dir / "tmp"
    for d in (inputs, out, tmp / "local"):
        d.mkdir(parents=True)

    t0 = time.monotonic()
    tabs = gen.tables(spec.get("fixture_seed", args.seed), spec["sf"], spec["stride"])
    if args.workload == "batch_daily":
        gen.stage_days(tabs, args.seed, spec["days"], inputs)
    else:
        rows = gen.write_fixture(tabs, inputs / "fixture")
        (inputs / "rows.txt").write_text(f"{rows}\n")
    del tabs
    gen_s = time.monotonic() - t0

    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=str(tmp / "local"))
    cmd = jvm(classes, tmp, [args.workload, str(args.seed), str(args.seconds),
                             str(args.trace), str(inputs), str(out)])
    log = out / "jvm.log"
    with open(log, "w") as lf:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = f"timeout after {JVM_LIMIT_S} s"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not (out / "artifact.json").is_file():
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"perfbench: the measuring JVM failed (exit {code})")
    art = json.loads((out / "artifact.json").read_text())
    art["jvm_wall_s"] = time.time() - launched
    art["jvm_boot_s"] = art["jvm_main_entry_ms"] / 1000.0 - launched
    art["gen_s"] = gen_s
    art["source_id"] = build.source_id(ROOT)
    art["commit"] = commit()
    art["sf"] = spec["sf"]
    art["date_stride_days"] = spec["stride"]

    failures = {f["unit"]: f["error"] for f in art["failures"]}
    if args.workload == "query_mix":
        t1 = time.monotonic()
        oracle = oracle_failures(inputs / "fixture", out / "verify", run_dir)
        art["oracle_check"] = {"s": time.monotonic() - t1, "failed": oracle}
        for k, v in oracle.items():
            failures.setdefault(k, v)
    art["failed"] = len(failures)
    art["error_rate"] = len(failures) / max(1, art["attempted"])
    art["failures"] = [{"unit": k, "error": v} for k, v in failures.items()]
    if args.trace:
        shutil.copy(out / "spans.json", ROOT / ".bench_build" / "perfbench" / "artifacts" /
                    f"{args.workload}-seed{args.seed}-spans.json")
    return art


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    for need in ("BENCHMARK.json", "src/main/scala", "tools/oracle_check.py"):
        if not (ROOT / need).exists():
            sys.exit(f"perfbench: {ROOT / need} is missing; run from the repository root")
    # a SIGTERM must still run the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build(ROOT)
    work = ROOT / ".bench_build" / "perfbench"
    if args.selftest:
        sys.exit(subprocess.run(jvm(classes, work, ["selftest"]), cwd=work).returncode)

    (work / "artifacts").mkdir(parents=True, exist_ok=True)
    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        art = run(args, classes, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    (work / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(art, indent=1, sort_keys=True))

    # the metric names and units BENCHMARK.json declares
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [(m["name"], m["unit"]) for m in spec["per_layer" if args.trace else "end_to_end"]]
    src = art["per_layer"] if args.trace else art["end_to_end"]
    print(json.dumps(art, sort_keys=True))
    print(json.dumps({
        "correct": art["failed"] == 0,
        "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": {n: {"value": src[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
