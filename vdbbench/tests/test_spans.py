"""The event-log parser and per-call attribution, on a small recorded log.

``testdata/small_eventlog.json`` holds the events of one traced
``minhash_dedup_pairs`` call (span 8: five jobs, one of them with a
skipped stage) and two untagged jobs that ran after it.
"""

from pathlib import Path

import pytest

from vdbbench import spans

LOG = Path(__file__).resolve().parent.parent / "testdata" / "small_eventlog.json"


def _parsed():
    with open(LOG) as f:
        return spans.parse_event_log(f)


def test_parse_jobs_and_stages():
    jobs, stages = _parsed()
    assert sorted(jobs) == [91, 92, 93, 94, 95, 96, 97]
    assert [jobs[j]["span"] for j in sorted(jobs)] == ["8"] * 5 + [None, None]
    assert jobs[95]["stages"] == [141, 142]
    assert 141 not in stages  # listed by job 95 but skipped
    assert all(j["complete"] >= j["submit"] for j in jobs.values())
    assert stages[140]["shuffle_write_bytes"] == 249953
    assert stages[138]["tasks"] == 3
    assert sum(s["exec_cpu_s"] for s in stages.values()
               if s["span"] == "8") == pytest.approx(4.087242653)


def test_attribute_gives_per_call_numbers():
    jobs, stages = _parsed()
    call = {"id": 8, "parent": 4, "kind": "call", "name": "dedup.minhash_pairs",
            "start": 1792206669.3056822, "end": 1792206673.281701,
            "wall_s": 3.9731940299998314, "jobs": 5}
    job_spans = spans.attribute([call], jobs, stages)
    assert [s["name"] for s in job_spans] == [f"job {j}" for j in range(91, 96)]
    assert all(s["parent"] == 8 for s in job_spans)
    tr = call["trace"]
    assert tr["jobs"] == call["jobs"] == 5
    assert tr["shuffle_bytes"] == 249953
    assert tr["exec_cpu_s"] == pytest.approx(4.087242653)
    busy = spans.union_length([(j["submit"], j["complete"])
                               for j in jobs.values() if j["span"] == "8"])
    assert tr["driver_s"] == pytest.approx(call["wall_s"] - busy)
    assert 0 < tr["driver_s"] < call["wall_s"]


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(5, 6), (0, 1), (0.5, 0.7)]) == 2.0


def test_bytes_new_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 20)
    before = spans.file_table([str(tmp_path)])
    (tmp_path / "b").unlink()
    (tmp_path / "b").write_bytes(b"z" * 5)  # rewritten: a new inode
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "c").write_bytes(b"w" * 7)
    after = spans.file_table([str(tmp_path)])
    assert spans.bytes_new(before, after) == 12
    assert spans.disk_bytes([str(tmp_path)]) == 22


def test_verb_and_metric_names():
    assert len(spans.VERBS) == len(set(spans.VERBS)) == 25
    n = len(spans.VERBS) * len(spans.MEASURE_UNITS) + len(spans.COUNTERS)
    assert n == 128
