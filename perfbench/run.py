#!/usr/bin/env python3
"""Benchmark of the graft engine: batch query passes and a stateful stream.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload batch_relational --seed 1 \
        --seconds 15 --trace 0

Workloads: batch_relational, batch_pipeline, stream_sales (see
perfbench/README.md). The first run in a checkout compiles the engine
(src/main) and the harness (perfbench/src) with scalac from the Spark
distribution named in build.sbt, and generates the input tables with
graft.DataGen; later runs reuse both while their sources are unchanged.
Everything is written under $CARGO_TARGET_DIR (default .bench_build).

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
and writes the span file and the per-query ranking. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")

DATA_SF = "0.01"
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ["batch_pipeline", "stream_sales"]

# (name, unit) of every end-to-end metric, printed with --trace 0
END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("retained_mb", "MB"),
    ("rows_per_s", "rows/s"), ("step_p50_ms", "ms"), ("step_p90_ms", "ms"),
]

KERNELS = ["fnv1a32", "md5_long", "wire_encode", "wire_decode",
           "avro_record_encode", "avro_record_decode", "kmv_sketch",
           "cms_sketch", "vector_sum_l", "pq_adc"]
TWINS = ["ktable", "ratelimit", "totals"]
PASS_METRICS = [
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("operators.block_mb_peak", "MB"), ("plans.plan_s", "s"),
    ("plans.exchanges", "count"), ("exec.exec_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.single_task_stages", "count"), ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.busy_frac", "ratio"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("sources.scan_mb", "MB"),
    ("sources.scan_rows", "rows"), ("sources.sink_commit_ms", "ms"),
]
TWIN_METRICS = [
    ("plan_ms", "ms"), ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
    ("commit_offsets_ms", "ms"), ("state_rows", "rows"), ("state_mb", "MB"),
    ("state_update_ms", "ms"), ("state_commit_ms", "ms"),
]
# (name, unit, better) of every per-layer metric, printed with --trace 1
PER_LAYER = (
    [(f"{m}.{s}", u) for s in ("cold", "warm") for m, u in PASS_METRICS]
    + [("sources.offset_ms", "ms"), ("sources.partitions_per_batch", "count")]
    + [(f"streaming.{t}.{m}", u) for t in TWINS for m, u in TWIN_METRICS]
    + [(f"functions.{k}.{kind}", "rows/s") for k in KERNELS
       for kind in ("rows_per_s", "builtin_rows_per_s")]
    + [("trace.overhead_ratio", "ratio"), ("trace.spans", "count")]
)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def spark_jars():
    """The Spark distribution the project builds against (build.sbt's
    unmanagedBase), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    fail("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def java_opts(tmp):
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    return opts + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xss8m",
                   f"-Djava.io.tmpdir={tmp}"]


def run_logged(cmd, log, timeout, env=None):
    """Run cmd in its own process group, output to log; kill the group on
    timeout and wait for it."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True,
                             env=dict(os.environ, **(env or {})))
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"timed out: {' '.join(map(str, cmd[:6]))}... (see {log})")


def scalac(jars, classpath, sources, dest, tmp, log):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    argfile = tmp / f"{dest.name}.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = (["java"] + java_opts(tmp)
           + ["-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
              "-d", str(dest), "-classpath", classpath, f"@{argfile}"])
    if run_logged(cmd, log, 900) != 0:
        fail(f"compile failed, see {log}")


def build():
    """Compile the engine and the harness if their sources changed; make
    the input tables if missing. Returns the runtime classpath."""
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir():
        fail("no engine sources at src/main/scala: run from a checkout root")
    jars = spark_jars()
    tmp = BUILD / "tmp"
    logs = BUILD / "logs"
    for d in (tmp, logs):
        d.mkdir(parents=True, exist_ok=True)
    engine_files = sorted(main_src.rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) \
        if resources.is_dir() else []
    bench_files = sorted((HERE / "src").rglob("*.scala"))
    jar_names = ",".join(sorted(p.name for p in jars.glob("*.jar")))

    engine = BUILD / "engine"
    stamp = tree_hash(engine_files + res_files, jar_names)
    if not (engine / f".stamp-{stamp}").exists():
        scalac(jars, f"{jars}/*", engine_files, engine, tmp, logs / "engine.log")
        for f in res_files:
            dst = engine / f.relative_to(resources)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(f, dst)
        (engine / f".stamp-{stamp}").write_text("")

    harness = BUILD / "harness"
    hstamp = tree_hash(bench_files, stamp)
    if not (harness / f".stamp-{hstamp}").exists():
        scalac(jars, f"{engine}:{jars}/*", bench_files, harness, tmp,
               logs / "harness.log")
        (harness / f".stamp-{hstamp}").write_text("")
    classpath = f"{harness}:{engine}:{jars}/*"

    # inputs: graft.DataGen at a fixed scale; regenerated if DataGen changes
    gen = main_src / "graft" / "DataGen.scala"
    data = BUILD / "data" / f"sf{DATA_SF}-{tree_hash([gen])}"
    if not (data / "_done").exists():
        if data.exists():
            shutil.rmtree(data)
        cmd = (["java"] + java_opts(tmp) + ["-cp", classpath,
               "-Dspark.ui.enabled=false", "-Dspark.driver.host=127.0.0.1",
               "-Dspark.driver.bindAddress=127.0.0.1",
               f"-Dspark.local.dir={tmp}", "graft.DataGen", str(data), DATA_SF])
        if run_logged(cmd, logs / "datagen.log", 600,
                      {"SPARK_GRAFT_CPUS": "4"}) != 0:
            fail(f"input generation failed, see {logs / 'datagen.log'}")
        (data / "_done").write_text("")
    return classpath, data


# ---- runs -------------------------------------------------------------------

def launch(classpath, args, log):
    """One benchmark JVM; returns its PERFBENCH object."""
    tmp = BUILD / "tmp" / "run"
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    launch_ms = int(time.time() * 1000)
    cmd = (["java"] + java_opts(tmp) + ["-cp", classpath, "perfbench.Main",
           "--launch-ms", str(launch_ms), "--tmp", str(tmp)] + args)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=ROOT,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark process timed out (see {log})", 1)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        fail(f"benchmark process failed with code {p.returncode} (see {log})", 1)
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--print-digests", action="store_true",
                    help="print the output digest of every batch query "
                         "(the format of expected_digests.tsv) and exit")
    a = ap.parse_args()
    if not a.print_digests and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    classpath, data = build()
    logs = BUILD / "logs"
    out_dir = BUILD / "out"
    common = ["--data", str(data), "--out", str(out_dir),
              "--expected", str(HERE / "expected_digests.tsv")]
    if a.print_digests:
        r = launch(classpath, common + ["--mode", "digests"],
                   logs / "digests.log")
        for name, digest in sorted(r["digests"].items()):
            print(f"{name}\t{digest}")
        return

    r = launch(classpath, common + [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)],
        logs / f"{a.workload}.log")

    attempted, failed = int(r["attempted"]), int(r["failed"])
    if a.trace:
        layers = r.get("layers", {})
        # layers a workload does not exercise report 0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        e2e = dict(r["e2e"], setup_s=r["setup_s"])
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"passes {r['detail']['passes']}  steps {r['detail']['steps']}")
    for n, m in metrics.items():
        print(f"  {n:44s} {m['value']:>14.6g} {m['unit']}")
    print(f"  {'failed_frac':44s} {failed / attempted:>14.6g} ratio "
          f"({failed} of {attempted} attempts)")
    for f in r.get("failures", [])[:20]:
        print(f"  FAILED {f}")
    if a.trace:
        for k, v in r.get("trace_e2e", {}).items():
            print(f"  traced run {k:33s} {v:>14.6g} s")
        for k, v in r.get("files", {}).items():
            print(f"  {k} file: {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
