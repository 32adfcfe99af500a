#!/usr/bin/env python3
"""Wage-engine benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
    python3 wagebench/run.py --workload ref_views --seed 1 --seconds 10 --trace 0

Workloads: ref_views, ops_heavy, wage_pipeline (see wagebench/README.md).
The seed is the only input to the generator; the engine sees only the
generated files. The first run in a checkout compiles the engine and the
harness with sbt into wagebench/target. Inputs and scratch files live in
wagebench/.work and are removed at exit; each run's pass timings and
spans are kept in wagebench/out.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

WORKLOADS = ("ref_views", "ops_heavy", "wage_pipeline")
QUERY_SF = 0.01
HEAP = "3g"
JVM_TIMEOUT_S = 140
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E = {"pass_s": "s", "op_p50_s": "s", "cpu_s": "s", "setup_s": "s",
       "peak_rss_mb": "MB"}
LAYER_UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_amp": "ratio"}
LAYERS = (
    ["queries.build_s", "queries.build_jobs", "spark.plan_s", "spark.exec_s",
     "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
     "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
     "spark.shuffle_read_mb", "spark.fetch_wait_s", "spark.spill_mb",
     "spark.input_mb", "spark.result_mb", "spark.driver_s",
     "spark.slot_busy_frac", "sources.html_parse_s", "sources.xlsx_parse_s",
     "sources.xlsx_typed_s", "sources.xlsx_typed_jobs"]
    + [f"etl.{t}_s" for t in ("extract_oews", "extract_onet", "transform_oews",
                              "transform_onet", "load_oews", "load_onet",
                              "views", "topk")]
    + ["etl.bytes_written_mb", "etl.files_written", "etl.write_amp",
       "bench.gen_s", "host.calib_s", "bench.trace_overhead_frac",
       "bench.unattributed_frac", "jvm.jit_s"])


def unit(name: str) -> str:
    for suffix, u in LAYER_UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def log(msg: str) -> None:
    print(f"[wagebench] {msg}", file=sys.stderr, flush=True)


def spark_jars() -> Path:
    """The Spark jars the engine compiles and runs against: $SPARK_HOME/jars,
    else the directory the repository's own build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("[wagebench] set SPARK_HOME to a Spark installation")
    return Path(m.group(1))


def digest(paths) -> str:
    h = hashlib.sha256()
    for base in paths:
        for p in [base] if base.is_file() else sorted(base.rglob("*.scala")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile the engine and the harness once per source state."""
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp = HERE / "target" / "source.sha256"
    want = digest([ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
                   HERE / "project" / "build.properties"])
    if stamp.exists() and stamp.read_text() == want and classes.is_dir():
        return classes
    env = dict(os.environ, COURSIER_MODE="offline",
               WAGEBENCH_SPARK_JARS=str(spark_jars()),
               SBT_OPTS=SBT_OPTS.format(home=Path.home()))
    log("building engine + harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"[wagebench] sbt compile failed ({r.returncode})")
    stamp.write_text(want)
    return classes


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def oracle_failures(inputs: Path, verify: Path, names) -> dict:
    """Per-query verdicts from tools/check_oracle.py over Verify's dump."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(inputs), str(verify), ",".join(names), "20"],
                       cwd=ROOT, capture_output=True, text=True, timeout=30)
    sys.stderr.write(r.stdout)
    status = {}
    results = verify / "check_results.json"
    if results.exists():
        status = {k: v.get("status") for k, v in
                  json.loads(results.read_text()).items()}
    return {n: status.get(n, "missing") for n in names
            if status.get(n) != "OK"}


def pipeline_failures(truth: dict, verify: Path, passes) -> dict:
    """Failed DAG tasks: a wrong top-10 fails that pass's topk op; a
    wrong loaded table or view fails the tasks that produced it."""
    def rows(name, cols):
        out = []
        for line in (verify / f"{name}.jsonl").read_text().splitlines():
            d = json.loads(line)
            out.append([d.get(c) for c in cols])
        return out

    failed = {}
    for p in passes:
        if [[t, w and float(w)] for t, w in p["extra"]] != truth["top10"]:
            failed[(p["pass"], "topk")] = "top10 differs"
    try:
        counts = json.loads((verify / "counts.json").read_text())
        got = {"oews": rows("oews", truth["oews_columns"]),
               "onet": rows("onet", truth["onet_columns"]), **counts}
        bad = gen.check_pipeline(truth, got)
    except (OSError, ValueError, KeyError) as e:
        bad = [f"result dump unreadable: {e}"]
    for msg in bad:
        log(f"ground truth: {msg}")
        chain = ("oews" if msg.startswith("oews") else
                 "onet" if msg.startswith("onet") else None)
        tasks = ([f"{s}_{chain}" for s in ("extract", "transform", "load")]
                 if chain else ["views", "topk"])
        for p in passes:
            for t in tasks:
                failed[(p["pass"], t)] = msg
    return failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (ROOT / "src" / "main" / "scala" / "graft",
                 ROOT / "tools" / "check_oracle.py"):
        if not need.exists():
            log(f"missing {need.relative_to(ROOT)}: run from a full checkout")
            return 2
    classes = build()

    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    inputs = work / "inputs"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    inputs.mkdir()
    try:
        return measure(a, classes, work, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classes: Path, work: Path, inputs: Path) -> int:
    t0 = time.perf_counter()
    truth = None
    if a.workload == "wage_pipeline":
        truth = gen.pipeline(a.seed, inputs)
    else:
        gen.tables(a.seed, inputs, QUERY_SF)
    gen_s = time.perf_counter() - t0

    result = work / "result.json"
    cp = f"{classes}{os.pathsep}{spark_jars() / '*'}"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # The throughput collector on a heap of fixed size: G1's concurrent
    # marking started in some runs and not in others and then added 2-5 s
    # of CPU to every pass. A fixed set of JIT compiler threads, so the
    # harness can sum their CPU.
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", cp, "wagebench.Harness",
           a.workload, str(a.seed), str(a.seconds), str(a.trace),
           str(inputs), str(work), str(result)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    launched = time.time_ns()
    with open(work / "jvm.log", "w") as jvm_log:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=jvm_log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=JVM_TIMEOUT_S)
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.copy(work / "jvm.log", out / f"{tag}.log")
    if r.returncode != 0 or not result.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        log(f"harness exited with {r.returncode}")
        return 1
    res = json.loads(result.read_text())
    passes = res["passes"]

    if a.workload == "wage_pipeline":
        failed_ops = pipeline_failures(truth, work / "verify", passes)
    else:
        names = sorted({o["name"] for p in passes for o in p["ops"]})
        bad = oracle_failures(inputs, work / "verify", names)
        for n, why in bad.items():
            log(f"oracle: {n} {why}")
        failed_ops = {(p["pass"], o["name"]): "oracle" for p in passes
                      for o in p["ops"] if o["name"] in bad}
    for p in passes:
        for o in p["ops"]:
            if o["ok"] is not True:
                failed_ops[(p["pass"], o["name"])] = "threw"
    attempted = sum(len(p["ops"]) for p in passes)
    failed = len(failed_ops)

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    pass_s = median([p["wall_s"] for p in plain])
    calib = median([p["calib_s"] for p in passes])
    e2e = {
        "pass_s": pass_s,
        "op_p50_s": median([o["wall_s"] for p in plain for o in p["ops"]]),
        "cpu_s": median([p["cpu_s"] for p in plain]),
        "setup_s": (int(res["first_op_epoch_ns"]) - launched) / 1e9,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = {k: median([p["layers"].get(k, 0.0) for p in traced])
              for k in LAYERS}
    layers["bench.gen_s"] = gen_s
    layers["host.calib_s"] = calib
    layers["jvm.jit_s"] = median([p["jit_s"] for p in traced])
    layers["bench.trace_overhead_frac"] = (
        median([p["wall_s"] for p in traced]) / pass_s - 1 if traced else 0.0)

    regime = dict(res["regime"], nproc=nproc(), seed=a.seed,
                  workload=a.workload, inputs=str(inputs.relative_to(ROOT)),
                  query_sf=QUERY_SF if a.workload != "wage_pipeline" else None,
                  git_commit=git_commit(),
                  src_sha256=digest([ROOT / "src" / "main"]),
                  passes=len(passes), traced_passes=len(traced),
                  **{"host.calib_s": calib})
    spans = work / "spans.jsonl"
    (out / f"{tag}.json").write_text(json.dumps({
        "regime": regime, "end_to_end": e2e, "per_layer": layers,
        "failed_ops": [f"pass {p} {n}: {why}" for (p, n), why in failed_ops.items()],
        "passes": passes,
        "spans": [json.loads(s) for s in spans.read_text().splitlines()]
        if spans.exists() else []}, indent=1))

    print(json.dumps({"regime": regime}))
    print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} ops)")
    for k, v in e2e.items():
        print(f"{k} {v:.4f} {E2E[k]}")
    for k in LAYERS if a.trace else []:
        print(f"{k} {layers[k]:.4f} {unit(k)}")
    metrics = ({k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
               if a.trace == 0 else
               {k: {"value": v, "unit": unit(k)} for k, v in layers.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


if __name__ == "__main__":
    sys.exit(main())
