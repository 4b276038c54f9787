#!/usr/bin/env python3
"""Benchmark of the flinkspark warehouse: one command, two workloads.

    python3 perfbench/run.py --workload <batch|realtime>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
product from source with sbt (offline) and caches the classpath under
`.bench_build/`; later runs start the JVM directly. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Each run also leaves a record
(`record.json`: metrics, per-query split, environment; `spans.json` when
traced) under `.bench_build/runs/`.

`python3 perfbench/run.py --catalog` prints the metric catalog that
BENCHMARK.json is written from. See perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # a run, build excluded, must end within 180 s

WORKLOADS = [
    ("batch", "a typical query of each ADS-read and training-data module at "
     "sf0.001, where both are bound by fixed per-query cost (small Spark jobs, "
     "eager pins, driver collects); dwd and postings stores"),
    ("realtime", "page-log replay through three file-source streams with 1% of "
     "events behind the watermark; the only workload using streaming state"),
]
END_TO_END = [
    # name, unit, better, bound (share of the parent's median)
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.2),
    ("op_p50_ms", "ms", "lower", 0.2),
    ("op_p75_ms", "ms", "lower", 0.2),
    ("rows_per_s", "1/s", "higher", 0.2),
    ("disk_mb", "MB", "lower", 0.1),
]
MODULES = ["AdsQueries", "CatalogOps", "DwsOps", "MultimodalOps", "OrderWide",
           "RetrievalOps", "TextOps", "VectorOps", "WindowOps"]
MODULE_METRICS = [("build_s", "s"), ("build_jobs", "count"), ("plan_ms", "ms"),
                  ("exec_s", "s"), ("exec_jobs", "count"), ("shuffle_mb", "MB"),
                  ("scan_mb", "MB"), ("gc_s", "s")]
STORES = ["dwd", "postings"]
JOBS = ["page_window", "uv_dedup", "user_jump"]
JOB_METRICS = [("latest_offset_ms", "ms"), ("query_planning_ms", "ms"),
               ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
               ("commit_offsets_ms", "ms"), ("state_rows", "count"),
               ("state_mb", "MB"), ("late_rows_dropped", "count")]


def per_layer():
    """(name, unit, workload): the per-layer metrics and the workload that
    produces each (None: both). On the other workload the layer is unused
    and the metric reads 0."""
    out = [(f"{m}.{k}", u, "batch") for m in MODULES for k, u in MODULE_METRICS]
    out += [(f"store.{t}.{k}", u, "batch") for t in STORES
            for k, u in (("build_s", "s"), ("mb", "MB"))]
    out += [("GraftSession.start_s", "s", None), ("stream.stage_s", "s", "realtime")]
    out += [(f"{j}.{k}", u, "realtime") for j in JOBS for k, u in JOB_METRICS]
    out += [("trace.overhead_pct", "%", None), ("trace.rows_overhead_pct", "%", None),
            ("failed_frac", "ratio", None)]
    return out


def catalog():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": "lower"}
                      for n, u, _ in per_layer()],
    }


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build reads, so a cached build is reused
    only for the sources it was built from."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])]
                if os.path.isfile(top) else os.walk(top))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's scratch files (server socket, native libraries, JVM perf
    # data) inside the checkout
    env["TMPDIR"] = tmp
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # also for the short JVMs the sbt launcher script starts itself
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return env


def classpath():
    stamp = source_stamp()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp:
            return c["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code, out = run_group(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            850, "the build", cwd=BENCH, env=sbt_env(), stderr=fh)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# Spark on JDK 17 needs these when a session starts outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_group(cmd, timeout_s, what, **kw):
    """Runs `cmd` in its own process group and returns (exit code, stdout).
    The whole group is killed on timeout or when this script is told to
    stop, so no process outlives the run."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        kill()
        fail(f"{what} exceeded {timeout_s:.0f} s and was stopped")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def run_jvm(cp, args, work, record, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_DWD_DIR=os.path.join(work, "stores"))
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--bench-dir", BENCH, "--work", work, "--record", record] + args)
    code, out = run_group(cmd, budget_s, "the run", cwd=work, env=env)
    if code != 0:
        fail(f"the benchmark JVM exited with {code}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[w for w, _ in WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", help="input scale factor override (smoke test)")
    ap.add_argument("--expected", help="fingerprint file override (smoke test)")
    ap.add_argument("--write-expected", help="regenerate a fingerprint file")
    ap.add_argument("--dump", help="with --write-expected: result dump dir")
    ap.add_argument("--probe", help="with --workload batch --trace 1: run every "
                    "query of these comma-separated modules, unchecked, and "
                    "write their per-query split to the run's record")
    ap.add_argument("--catalog", action="store_true",
                    help="print the metric catalog and exit")
    a = ap.parse_args()
    if a.catalog:
        print(json.dumps(catalog(), indent=2))
        return
    if not a.workload:
        ap.error("--workload is required")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no product source at {need}: run from a full checkout")

    cp = classpath()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    record = os.path.join(BUILD, "runs",
                          f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    for k in ("scale", "expected", "write_expected", "dump", "probe"):
        v = getattr(a, k)
        if v:
            args += ["--" + k.replace("_", "-"),
                     os.path.abspath(v) if k in ("expected", "write_expected", "dump") else v]
    try:
        # a probe runs the full query sets, far longer than a run
        res = run_jvm(cp, args, work, record, 900 if a.probe else RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.write_expected or a.probe:
        print(os.path.join(record, "record.json"))
        return
    if res is None:
        fail("the benchmark JVM printed no result")
    if a.trace == 0:
        wanted = [(n, u, None) for n, u, _, _ in END_TO_END]
        got = res["end_to_end"]
    else:
        wanted, got = per_layer(), res["per_layer"]
    missing = [n for n, _, w in wanted if w in (None, a.workload) and n not in got]
    if missing:
        fail(f"the run reported no {', '.join(missing)}")
    # a layer found in the run (a store tag, say) that BENCHMARK.json does
    # not list: reported, and kept in the record, so the catalog can follow
    uncatalogued = sorted(set(got) - {n for n, _, _ in wanted})
    if uncatalogued:
        print(f"perfbench: not in the catalog: {', '.join(uncatalogued)}",
              file=sys.stderr)
    path = os.path.join(record, "record.json")
    with open(path) as fh:
        rec = json.load(fh)
    rec["uncatalogued"] = uncatalogued
    with open(path, "w") as fh:
        json.dump(rec, fh)
    # a per-layer metric of a layer this workload does not use reads 0
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u, _ in wanted}
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
