"""Run one workload of the vector-DB benchmark and print its metrics.

From the repository root:

    python3 vdbbench/run.py --workload vector_rw --seed 1 --seconds 5 --trace 0
    python3 vdbbench/run.py --workload all --seed 1 --seconds 5

One run starts a fresh ``local[<nproc>]`` Spark session, sets up its
workload, makes a fixed sequence of public verb calls (only read-only
calls repeat, and only until ``--seconds`` have passed), checks every
answer, stops the session and every process below it, and prints a
report. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (which also turns on Spark's event log and
writes the spans to ``.vdbbench/<run>/spans.json``).

``--workload all`` runs every workload untraced and traced with the same
seed, in child processes, and prints one table: every end-to-end metric,
the per-workload named figures, job counts traced against untraced, and
the tracing overhead (traced minus untraced end-to-end values).

All files a run writes stay under ``.vdbbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".vdbbench"
WORKLOAD_NAMES = ("vector_rw", "dedup_ingest")

# name -> unit, for every end-to-end metric; meanings per workload are in
# vdbbench/README.md
END_TO_END = {
    "setup_s": "s",
    "read_ms": "ms",
    "write_ms": "ms",
    "read_rate": "items/s",
    "write_rate": "items/s",
    "compact_s": "s",
    "pass_s": "s",
    "quality": "ratio",
    "write_amp": "B/B",
    "space_amp": "B/B",
    "ops_ok_frac": "ratio",
}
E2E_LINE = "vdbbench e2e: "
LAYER_LINE = "vdbbench layers: "
REPORT_LINE = "vdbbench report: "


def _configure_environment(work: Path, trace: bool, cpus: int) -> None:
    """Point every scratch location at ``work`` before the JVM starts."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM spark-submit starts, its launcher too, skips the perf-data
    # file it would otherwise keep in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _process_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, start time) of every process in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended while we looked
            continue
        table[int(entry)] = (int(fields[1]), fields[0], fields[19])
    return table


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below ``root``."""
    table = _process_table()
    found, todo = [], [root]
    while todo:
        parent = todo.pop()
        for pid, (ppid, state, start) in table.items():
            if ppid == parent and state not in "ZX":
                found.append((pid, start))
                todo.append(pid)
    return found


def _alive(pid: int, start: str) -> bool:
    info = _process_table().get(pid)
    return info is not None and info[2] == start and info[1] not in "ZX"


def _stop_spark(spark) -> None:
    """Stop the session, then its JVM and every process started below this
    one (the JVM's Python workers), and wait until each has ended.

    ``spark.stop()`` leaves the gateway JVM running until this process
    exits, and it ends a moment after that; closing its stdin ends it now."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the shutdown
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        below = _descendants(os.getpid())
        gateway.shutdown()  # logs, does not raise, if the JVM is gone
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 30
        for pid, start in below:
            while _alive(pid, start) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid, start):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:  # it ended after all
                    continue
                while _alive(pid, start):
                    time.sleep(0.05)


def _layer_metrics(tracer, report: dict, traced: bool) -> dict:
    """Per-verb medians over the calls after set-up and warm-up (over the
    set-up calls for a verb only set-up makes, such as ``fit``), plus the
    layer counters. A verb the workload never calls reads 0."""
    from vdbbench import stats
    from vdbbench.spans import COUNTERS, MEASURE_UNITS, VERBS

    phase = {s["id"]: s["name"] for s in tracer.spans if s["kind"] == "phase"}
    out = {}
    for verb in VERBS:
        every = tracer.calls(verb)
        calls = [c for c in every
                 if phase[c["parent"]] not in ("setup", "warmup")] or every
        for m, unit in MEASURE_UNITS.items():
            if not calls or (not traced and m not in ("wall_s", "jobs")):
                value = 0.0
            elif m in ("wall_s", "jobs"):
                value = stats.median([c[m] for c in calls])
            else:
                value = stats.median([c["trace"][m] for c in calls])
            out[f"{verb}.{m}"] = {"value": value, "unit": unit}
    counters = report.get("counters", {})
    for name, unit in COUNTERS.items():
        out[name] = {"value": float(counters.get(name, 0.0)), "unit": unit}
    return out


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, str(ROOT))
    try:  # importing the package starts no JVM
        import custom_vector_database_spark as engine
    except ImportError as e:
        print(f"vdbbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if Path(engine.__file__).resolve().parent.parent != ROOT:
        print(f"vdbbench: engine imported from {engine.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    from vdbbench import spans, workloads

    work = WORK / f"{workload}-s{seed}-t{int(trace)}"
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    _configure_environment(work, trace, cpus)

    data, inputs = work / "data", work / "inputs"
    data.mkdir()
    inputs.mkdir()
    t0 = time.perf_counter()
    spark = engine.get_spark("vdbbench", cpus=cpus)
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark, workload, watch_roots=[str(data)])
        run = workloads.Run(spark, tracer, seed, seconds, str(data),
                            str(inputs), session_s)
        metrics, report = workloads.WORKLOADS[workload](run)
        tracer.close()
    finally:
        _stop_spark(spark)
    ops = run.ops
    metrics["ops_ok_frac"] = 1.0 - ops.failed / max(ops.attempted, 1)
    if trace:
        log = spans.find_event_log(str(work / "eventlog"))
        with open(log) as f:
            jobs, stages = spans.parse_event_log(f)
        job_spans = spans.attribute(tracer.spans, jobs, stages)
        mismatched = [s["name"] for s in tracer.calls()
                      if s["trace"]["jobs"] != s["jobs"]]
        if mismatched:
            print(f"vdbbench: event-log job counts differ from the scheduler's "
                  f"for {sorted(set(mismatched))}", file=sys.stderr)
        with open(work / "spans.json", "w") as f:
            json.dump(tracer.spans + job_spans, f, indent=1)
    # keep only the spans of a traced run
    for d in work.iterdir():
        if d.name != "spans.json":
            shutil.rmtree(d) if d.is_dir() else d.unlink()
    if not trace:
        work.rmdir()

    e2e = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    layers = _layer_metrics(tracer, report, trace)
    report["defects"] = ops.defects
    print(f"workload {workload}, seed {seed}, trace {int(trace)}: "
          f"{ops.attempted} operations, {ops.failed} failed")
    for k, v in e2e.items():
        print(f"  {k:<12} {v['value']:>14.6g} {v['unit']}")
    for what, n in sorted(ops.defects.items()):
        print(f"  DEFECT: {what} failed {n} time(s)")
    print(REPORT_LINE + json.dumps(report, default=float))
    print(E2E_LINE + json.dumps(e2e))
    print(LAYER_LINE + json.dumps(
        {k: v["value"] for k, v in layers.items() if v["value"]}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": layers if trace else e2e,
    }))
    return 0


def _child(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    found = {}
    for line in out.splitlines():
        for key, prefix in (("e2e", E2E_LINE), ("layers", LAYER_LINE),
                            ("report", REPORT_LINE)):
            if line.startswith(prefix):
                found[key] = json.loads(line[len(prefix):])
    found["result"] = json.loads(out.splitlines()[-1])
    return found


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced and traced; one table on stdout."""
    rows = {}
    for w in WORKLOAD_NAMES:
        rows[w] = (_child(w, seed, seconds, 0), _child(w, seed, seconds, 1))
    print(f"\nseed {seed}, {seconds} s per run")
    print(f"{'metric':<14}{'unit':<9}" + "".join(f"{w:>16}" for w in rows))
    for m, unit in END_TO_END.items():
        vals = "".join(f"{rows[w][0]['e2e'][m]['value']:>16.6g}" for w in rows)
        print(f"{m:<14}{unit:<9}{vals}")
    print("\ntracing overhead (traced - untraced)")
    for m in END_TO_END:
        vals = "".join(
            f"{rows[w][1]['e2e'][m]['value'] - rows[w][0]['e2e'][m]['value']:>16.4g}"
            for w in rows)
        print(f"{m:<23}{vals}")
    status = 0
    for w, (plain, traced) in rows.items():
        print(f"\n{w}: {json.dumps(plain['report'], default=float)}")
        r = plain["result"]
        print(f"{w}: {r['attempted']} operations, {r['failed']} failed")
        jobs_plain = {k: v for k, v in plain["layers"].items() if k.endswith(".jobs")}
        jobs_traced = {k: v for k, v in traced["layers"].items() if k.endswith(".jobs")}
        if jobs_plain != jobs_traced:
            status = 1
            print(f"{w}: job counts differ, untraced {jobs_plain} "
                  f"traced {jobs_traced}")
        else:
            print(f"{w}: per-verb job counts identical traced and untraced")
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    # a termination request unwinds through the shutdown in run_one
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
