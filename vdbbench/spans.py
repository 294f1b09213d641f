"""Spans around public verb calls, and the Spark event-log parser.

Every public call the benchmark makes goes through ``Tracer.call``. It
tags the call's Spark jobs with a job group and the local property
``vdbbench.span`` (the streaming thread inherits the property although the
stream replaces the job group), counts the jobs the call started, and
records the bytes it left under the engine's directories. Spans nest
workload → phase → verb call; the traced run adds one span per Spark job
from the event log, parented to its call.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

SPAN_PROP = "vdbbench.span"

# The 25 public verbs the benchmark drives, as "<layer>.<verb>".
VERBS = (
    [f"ivf.{v}" for v in
     ("fit", "save", "load", "search", "search_many", "upsert", "delete", "compact")]
    + [f"pq.{v}" for v in
       ("fit", "save", "search", "search_many", "upsert", "delete", "compact")]
    + [f"vector_table.{v}" for v in
       ("add", "get", "update", "delete", "rebuild", "search")]
    + ["stream_ops.neardup_ingest", "stream_ops.exact_ingest",
       "stream_ops.compact_mh", "dedup.minhash_pairs"]
)
MEASURE_UNITS = {"wall_s": "s", "jobs": "count", "driver_s": "s",
                 "exec_cpu_s": "s", "shuffle_bytes": "B"}
COUNTERS = {
    "vector_table.bytes_written": "B",
    "ivf.layout_files": "count",
    "stream_ops.sidecar_bytes": "B/doc",
}


def file_table(roots) -> dict:
    """{path: (size, inode, mtime_ns)} for every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def bytes_new(before: dict, after: dict) -> int:
    """Bytes of files present after that are new or rewritten since before."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def disk_bytes(roots) -> int:
    return sum(v[0] for v in file_table(roots).values())


class Tracer:
    """Records spans in memory; ``write`` saves them at exit."""

    def __init__(self, spark, workload: str, watch_roots=()):
        self.sc = spark.sparkContext
        self.watch_roots = list(watch_roots)
        self.spans: list[dict] = []
        self.root = self._open("workload", workload, None)
        self.phase = self.root

    def _open(self, kind: str, name: str, parent) -> dict:
        span = {"id": len(self.spans), "parent": parent, "kind": kind,
                "name": name, "start": time.time(), "end": None}
        self.spans.append(span)
        return span

    def start_phase(self, name: str) -> None:
        if self.phase is not self.root:
            self.phase["end"] = time.time()
        self.phase = self._open("phase", name, self.root["id"])

    def close(self) -> None:
        now = time.time()
        if self.phase is not self.root:
            self.phase["end"] = now
        self.root["end"] = now

    def next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def call(self, verb: str, fn, *args, **kwargs):
        """Run ``fn`` as one call of ``verb``; returns ``(result, ok)``.

        ``fn`` must finish its Spark work before returning (collect lazy
        results inside it). An exception is reported on stderr and gives
        ``(None, False)``, so one failed operation never stops the run.
        """
        span = self._open("call", verb, self.phase["id"])
        before = file_table(self.watch_roots)
        self.sc.setJobGroup(f"vdbbench-{span['id']}", verb)
        self.sc.setLocalProperty(SPAN_PROP, str(span["id"]))
        first_job = self.next_job_id()
        t0 = time.perf_counter()
        ok, result = True, None
        try:
            result = fn(*args, **kwargs)
        except Exception:  # a failed operation is counted, not fatal
            ok = False
            print(f"vdbbench: {verb} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
        wall = time.perf_counter() - t0
        span["end"] = time.time()
        end_job = self.next_job_id()
        self.sc.setLocalProperty(SPAN_PROP, None)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        span.update(wall_s=wall, first_job=first_job, jobs=end_job - first_job,
                    ok=ok,
                    bytes_written=bytes_new(before, file_table(self.watch_roots)))
        return result, ok

    def calls(self, verb: str | None = None, phases=None) -> list[dict]:
        """Call spans, optionally of one verb and under phases so named."""
        names = {s["id"]: s["name"] for s in self.spans if s["kind"] == "phase"}
        return [s for s in self.spans if s["kind"] == "call"
                and (verb is None or s["name"] == verb)
                and (phases is None or names.get(s["parent"]) in phases)]


# ---------------------------------------------------------------- event log
def parse_event_log(lines) -> tuple[dict, dict]:
    """Jobs and stages from a Spark JSON event log (uncompressed, single
    file). Returns ``(jobs, stages)``: jobs by id with submit/complete
    seconds, stage ids and the ``vdbbench.span`` tag; stages by id with
    the tag, summed executor CPU seconds, shuffle bytes written and tasks."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"exec_cpu_s": 0.0,
                                       "shuffle_write_bytes": 0, "tasks": 0,
                                       "span": None})

    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "complete": None,
                "stages": list(e.get("Stage IDs", [])),
                "span": props.get(SPAN_PROP),
            }
        elif ev == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job["complete"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageSubmitted":
            info = e.get("Stage Info") or {}
            props = e.get("Properties") or {}
            stage(info["Stage ID"])["span"] = props.get(SPAN_PROP)
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = stage(e["Stage ID"])
            st["tasks"] += 1
            st["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return jobs, stages


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], jobs: dict, stages: dict) -> list[dict]:
    """Per-call engine numbers for every call span, from the event log.

    A job belongs to the call whose span id it carries. The call's driver
    time is its wall time minus the union of its jobs' spans (clipped to
    the call); its CPU time and shuffle bytes are the sums over the stages
    that ran under its tag. Adds one ``job`` span per job and returns them.
    """
    by_span: dict[str, list[int]] = {}
    for jid, job in jobs.items():
        if job["span"] is not None:
            by_span.setdefault(job["span"], []).append(jid)
    cpu: dict[str, float] = {}
    shuffle: dict[str, int] = {}
    for st in stages.values():
        if st["span"] is not None:
            cpu[st["span"]] = cpu.get(st["span"], 0.0) + st["exec_cpu_s"]
            shuffle[st["span"]] = (shuffle.get(st["span"], 0)
                                   + st["shuffle_write_bytes"])
    job_spans = []
    for span in spans:
        if span["kind"] != "call":
            continue
        key = str(span["id"])
        ids = sorted(by_span.get(key, []))
        lo, hi = span["start"], span["end"]
        covered = []
        for jid in ids:
            job = jobs[jid]
            end = job["complete"] if job["complete"] is not None else hi
            covered.append((max(job["submit"], lo), min(end, hi)))
            job_spans.append({"id": f"job-{jid}", "parent": span["id"],
                              "kind": "job", "name": f"job {jid}",
                              "start": job["submit"], "end": end,
                              "stages": job["stages"]})
        covered = [(s, e) for s, e in covered if e > s]
        span["trace"] = {
            "jobs": len(ids),
            "driver_s": max(0.0, span["wall_s"] - union_length(covered)),
            "exec_cpu_s": cpu.get(key, 0.0),
            "shuffle_bytes": shuffle.get(key, 0),
        }
    return job_spans


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    return os.path.join(log_dir, files[0])
