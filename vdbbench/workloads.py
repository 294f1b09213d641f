"""The two closed-loop, single-client workloads.

Each workload function takes a ``Run`` (session, tracer, seed, deadline,
directories) and returns its end-to-end metrics plus a report of the
per-workload named figures. A workload sets up (inputs, initial build)
and then does a fixed amount of work; every public call waits for its
reply before the next starts. Only a read-only block repeats until
``--seconds`` have passed, so a faster engine gets more samples of the
same reads but never changes the state a later step works on.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from vdbbench import gen, stats
from vdbbench.spans import Tracer, disk_bytes, file_table

K = 10
NPROBE = 8
ROW_BYTES = 8 + 4 * gen.DIM  # one id and one float32 vector


@dataclass
class Ops:
    """Operations attempted and failed; a failure never stops the run."""

    attempted: int = 0
    failed: int = 0
    defects: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.defects[what] = self.defects.get(what, 0) + 1


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    data: str  # engine-owned directories live here (watched for bytes)
    inputs: str  # generated inputs the benchmark hands to the engine
    session_s: float
    ops: Ops = field(default_factory=Ops)

    def checked(self, verb, check, fn, *args, **kwargs):
        """Call ``verb`` and count it as one operation that succeeds when
        the call returns and ``check(result)`` holds."""
        result, ok = self.tracer.call(verb, fn, *args, **kwargs)
        good = ok and bool(check(result))
        if ok and not good:
            print(f"vdbbench: {verb} returned a wrong answer: {result!r:.2000}",
                  file=sys.stderr)
        self.ops.check(good, verb)
        return result if ok else None

    def time_left(self, since: float) -> bool:
        """Whether ``seconds`` have not yet passed since ``since``: the
        fixed work takes longer on a 4-core box, and a faster engine
        repeats read-only calls until they have."""
        return time.perf_counter() - since < self.seconds


def _walls(run: Run, verb: str, phases) -> list[float]:
    return [s["wall_s"] for s in run.tracer.calls(verb, phases)]


def _latency(run: Run, verbs, phases) -> dict:
    """Median and tail (ms) of each verb's calls in ``phases``, with counts."""
    out = {}
    for v in verbs:
        w = [1000.0 * x for x in _walls(run, v, phases)]
        pct, tail_v = stats.tail(w)
        out[v] = {"p50_ms": stats.median(w), "tail_ms": tail_v,
                  "tail_pct": pct, "n": len(w)}
    return out


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    import pandas as pd

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pd.DataFrame({"id": ids.astype(np.int64), "vec": list(vecs)}).to_parquet(
        path, index=False)


def _vectors_df(spark, ids: np.ndarray, vecs: np.ndarray, id_col="id",
                vec_col="vec"):
    import pandas as pd

    pdf = pd.DataFrame({id_col: ids.astype(np.int64),
                        vec_col: [v.astype(np.float32) for v in vecs]})
    return spark.createDataFrame(pdf, f"{id_col} long, {vec_col} array<float>")


def _result_ok(rows) -> bool:
    """k distinct ids, nearest first."""
    ids = [r["id"] for r in rows]
    d = [r["dist_sq"] for r in rows]
    return len(ids) == K and len(set(ids)) == K and d == sorted(d)


# ------------------------------------------------------------------ vector_rw
def vector_rw(run: Run) -> tuple[dict, dict]:
    """Reads and writes over saved IVF and IVF-PQ layouts and a
    ``VectorTable``, in four rounds.

    Each round makes one single ``search`` per layout under a Zipf query
    mix (``ann_query``), one round of the reference point verbs on the
    ``VectorTable`` (every other round followed by ``rebuild``), and one
    step on the layouts (``index_churn``), in this order over the rounds:
    a ``search_many`` batch on each; a delta ``upsert`` into each, then
    ``compact``; a tombstone ``delete`` on each with verification
    searches; ``compact``.
    Spreading every metric's calls over the whole run, rather than timing
    each in its own few seconds, keeps a short slowdown of the shared host
    from landing on one metric alone. The work is fixed: a faster engine
    makes the same calls on the same state, plus more single searches on
    the final layouts if ``--seconds`` have not passed.
    """
    from custom_vector_database_spark import VectorTable
    from custom_vector_database_spark.operators.ivf import IvfIndex
    from custom_vector_database_spark.operators.pq import IvfPqIndex

    n0, n_vt, batch, upsert_n = 8192, 512, 32, 500
    spark, t = run.spark, run.tracer
    t.start_phase("setup")
    t0 = time.perf_counter()
    mix = gen.Mixture()
    x0, _ = mix.sample(gen.rng_for(run.seed, "corpus", 1), n0)
    base_dir = os.path.join(run.inputs, "base")  # the rerank source for IVF-PQ
    _write_vectors(os.path.join(base_dir, "part-0.parquet"), np.arange(n0), x0)
    base = spark.read.parquet(base_dir)
    ivf_dir, pq_dir = os.path.join(run.data, "ivf"), os.path.join(run.data, "pq")
    ivf, _ = t.call("ivf.fit", IvfIndex.fit, base, n_clusters="auto")
    t.call("ivf.save", ivf.save, ivf_dir)
    pq, _ = t.call("pq.fit", IvfPqIndex.fit, base, n_clusters="auto", m=8)
    t.call("pq.save", pq.save, pq_dir)
    ivf, _ = t.call("ivf.load", IvfIndex.load, spark, ivf_dir)
    vt = VectorTable(spark, os.path.join(run.data, "table")).init(gen.DIM)
    run.checked("vector_table.add", lambda r: r == list(range(1, n_vt + 1)),
                vt.add, [(x0[i].tolist(), json.dumps({"row": i}))
                         for i in range(n_vt)])
    # the first single searches compile their plans; users pay that once per
    # process. The measured search_many per layout is its first call and
    # includes that cost, as a program that answers one batch does.
    t.start_phase("warmup")
    q0 = mix.queries(gen.rng_for(run.seed, "queries", 0), 2)
    t.call("ivf.search", lambda: ivf.search(q0[0].tolist(), K, nprobe=NPROBE).collect())
    t.call("pq.search", lambda: pq.search(q0[1].tolist(), K, nprobe=NPROBE,
                                            base_df=base, rerank=10).collect())
    setup_s = run.session_s + time.perf_counter() - t0

    live = {i: x0[i] for i in range(n0)}  # the layouts' rows: id -> vector
    deleted: set[int] = set()
    user_bytes = 0
    hits = {(b, f): [] for b in ("ann_query", "index_churn") for f in ("ivf", "pq")}
    search = {
        "ivf": lambda q: ivf.search(q, K, nprobe=NPROBE).collect(),
        "pq": lambda q: pq.search(q, K, nprobe=NPROBE, base_df=base,
                                  rerank=10).collect(),
    }
    state = {"ivf": ivf, "pq": pq}

    def truth_for(qs):
        ids = np.fromiter(live, dtype=np.int64)
        return gen.exact_knn(np.stack([live[i] for i in ids]), ids, qs, K)

    def single(block: str, fam: str, q, truth, want=None):
        def ok(rows):
            ids = {r["id"] for r in rows}
            return (_result_ok(rows) and not (ids & deleted)
                    and (want is None or want in ids))
        rows = run.checked(f"{fam}.search", ok, search[fam], q.tolist())
        if rows is not None:
            hits[block, fam].append(gen.recall_at_k([r["id"] for r in rows], truth))

    def batch_step():
        qb = mix.queries(rng_b, batch)
        truth = truth_for(qb)
        qdf = _vectors_df(spark, np.arange(batch), qb, "qid", "qvec")
        for fam, idx in state.items():
            kw = {"base_df": base, "rerank": 10} if fam == "pq" else {}
            rows = run.checked(
                f"{fam}.search_many", lambda r: _batch_ok(r, batch),
                lambda: idx.search_many(qdf, K, nprobe=NPROBE, **kw).collect())
            if rows is not None:
                got: dict[int, list[int]] = {}
                for row in rows:
                    got.setdefault(row["qid"], []).append(row["id"])
                hits["ann_query", fam] += [gen.recall_at_k(got.get(i, []), truth[i])
                                           for i in range(batch)]

    def upsert_step():
        nonlocal base, user_bytes
        delta = _vectors_df(spark, dids, dx)
        _write_vectors(os.path.join(base_dir, "part-1.parquet"), dids, dx)
        base = spark.read.parquet(base_dir)
        for fam, idx in state.items():
            run.checked(f"{fam}.upsert", lambda r: r == upsert_n, idx.upsert, delta)
        live.update(zip(dids.tolist(), dx))
        user_bytes += len(state) * upsert_n * ROW_BYTES

    def delete_step():
        nonlocal user_bytes
        victims = sorted(live)[:upsert_n]  # the oldest rows
        for fam, idx in state.items():
            run.checked(f"{fam}.delete", lambda r: r == upsert_n, idx.delete, victims)
        for v in victims:
            del live[v]
        deleted.update(victims)
        user_bytes += len(state) * upsert_n * 8
        # the last upserted row, queried by its own vector, on the
        # tombstoned layouts
        truth = truth_for(dx[-1:])[0]
        for fam in state:
            single("index_churn", fam, dx[-1], truth, want=int(dids[-1]))

    def compact_step():
        report["counters"].setdefault("ivf.layout_files", _count_parquet(
            os.path.join(ivf_dir, "rows")))
        for fam, idx in state.items():
            run.checked(f"{fam}.compact",
                        lambda r: r["files_after"] <= r["files_before"],
                        idx.compact)

    def singles():
        t.start_phase("ann_query")
        qs = mix.queries(rng_q, len(state))
        truth = truth_for(qs)
        for i, fam in enumerate(state):
            single("ann_query", fam, qs[i], truth[i])

    rng_q = gen.rng_for(run.seed, "queries", 1)
    rng_b = gen.rng_for(run.seed, "queries", 2)
    rng_w = gen.rng_for(run.seed, "churn", 0)
    dx, _ = mix.sample(rng_w, upsert_n)
    dids = np.arange(n0, n0 + upsert_n, dtype=np.int64)
    report: dict = {"counters": {}}
    t_measure = time.perf_counter()
    steps = ((batch_step,), (upsert_step, compact_step), (delete_step,),
             (compact_step,))
    for r, step in enumerate(steps):
        singles()
        if r == 0:
            ivf = state["ivf"] = run.checked(
                "ivf.load", lambda r_: len(r_.centroids) == len(ivf.centroids),
                IvfIndex.load, spark, ivf_dir) or ivf
        t.start_phase("point")
        (v1, v2), _ = mix.sample(rng_w, 2)
        m1, m2 = json.dumps({"add": r}), json.dumps({"upd": r})
        vid = n_vt + 1 + r
        run.checked("vector_table.add", lambda r_: r_ == [vid], vt.add,
                    [(v1.tolist(), m1)])
        run.checked("vector_table.get", lambda r_: _vt_row_is(r_, v1, m1),
                    vt.get, vid)
        run.checked("vector_table.update", lambda r_: r_ is True,
                    vt.update, vid, v2.tolist(), m2)
        run.checked("vector_table.get", lambda r_: _vt_row_is(r_, v2, m2),
                    vt.get, vid)
        run.checked("vector_table.delete", lambda r_: r_ is True, vt.delete, vid)
        run.checked("vector_table.get", lambda r_: r_ is not None and not r_[1],
                    vt.get, vid)
        user_bytes += 2 * ROW_BYTES + len(m1) + len(m2) + 8
        if r % 2:
            run.checked("vector_table.rebuild", lambda r_: True, vt.rebuild,
                        kind="ivf")
        t.start_phase("index_churn")
        for fn in step:
            fn()
    while run.time_left(t_measure):
        singles()
    t.start_phase("point")
    qv = mix.queries(rng_w, 1)[0]
    run.checked("vector_table.search",
                lambda r: _result_ok(r) and all(1 <= r_["id"] <= n_vt for r_ in r),
                lambda: vt.search(qv.tolist(), K, exact=False).collect())

    recall = {f"{b}.{f}": float(np.mean(h)) if h else 0.0 for (b, f), h in hits.items()}
    pooled = {f: float(np.mean(hits["ann_query", f] + hits["index_churn", f]))
              for f in state}
    # the bars of tests/test_recall.py, over all of the run's queries
    run.ops.check(pooled["ivf"] >= 0.9, "IVF recall@10 >= 0.9")
    run.ops.check(pooled["pq"] >= 0.75, "IVF-PQ recall@10 >= 0.75")

    measured = ("ann_query", "point", "index_churn")
    reads = _latency(run, ("ivf.search", "pq.search"), ("ann_query",))
    point = ("vector_table.add", "vector_table.update", "vector_table.delete")
    writes = _latency(run, point, ("point",))
    many_walls = _walls(run, "ivf.search_many", measured) + _walls(
        run, "pq.search_many", measured)
    upsert_walls = _walls(run, "ivf.upsert", measured) + _walls(
        run, "pq.upsert", measured)
    written = t.calls(phases=("point", "index_churn"))
    live_user = (n_vt + 2 * len(live)) * ROW_BYTES
    metrics = {
        "setup_s": setup_s,
        "read_ms": stats.geomean(v["p50_ms"] for v in reads.values()),
        "write_ms": stats.geomean(v["p50_ms"] for v in writes.values()),
        "read_rate": len(many_walls) * batch / sum(many_walls),
        "write_rate": len(upsert_walls) * upsert_n / sum(upsert_walls),
        "compact_s": stats.geomean(stats.median(_walls(run, v, measured))
                                   for v in ("ivf.compact", "pq.compact")),
        "pass_s": stats.median(_walls(run, "vector_table.rebuild", measured)),
        "quality": stats.geomean(max(v, 1e-9) for v in pooled.values()),
        "write_amp": sum(s["bytes_written"] for s in written) / user_bytes,
        "space_amp": disk_bytes([run.data]) / live_user,
    }
    ann_singles = [1000 * w for v in ("ivf.search", "pq.search")
                   for w in _walls(run, v, ("ann_query",))]
    churn_singles = [1000 * w for v in ("ivf.search", "pq.search")
                     for w in _walls(run, v, ("index_churn",))]
    vt_writes = [s for s in written if s["name"] in point]
    tail_pct, tail_ms = stats.tail(ann_singles)
    report.update({
        "ann_query": {
            "search_p50_ms": stats.median(ann_singles),
            f"search_p{tail_pct:.0f}_ms": tail_ms,
            "search_samples": len(ann_singles),
            "batch_qps": metrics["read_rate"],
            "recall_at_10": {f: recall[f"ann_query.{f}"] for f in state},
        },
        "index_churn": {
            "search_p50_ms": stats.median(churn_singles),
            "recall_at_10": {f: recall[f"index_churn.{f}"] for f in state},
            "point_write_p50_s": stats.median(s["wall_s"] for s in vt_writes),
            "upsert_rows_per_s": metrics["write_rate"],
            "rebuild_s": metrics["pass_s"],
            "compact_s": metrics["compact_s"],
        },
        "latency_by_verb": {**reads, **writes},
        "n_clusters": {"ivf": len(ivf.centroids)},
    })
    report["counters"]["vector_table.bytes_written"] = stats.median(
        s["bytes_written"] for s in vt_writes)
    return metrics, report


def _batch_ok(rows, n_queries: int) -> bool:
    got: dict[int, list[int]] = {}
    for r in rows:
        got.setdefault(r["qid"], []).append(r["id"])
    return (len(got) == n_queries
            and all(len(v) == K and len(set(v)) == K for v in got.values()))


def _vt_row_is(result, vec, meta) -> bool:
    if result is None:
        return False
    row, ok = result
    return (ok and row["metadata"] == meta
            and np.allclose(np.asarray(row["vec"], dtype=np.float32), vec))


def _count_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for f in file_table([path]))


# --------------------------------------------------------------- dedup_ingest
def dedup_ingest(run: Run) -> tuple[dict, dict]:
    """Text curation: two 500-document drops stream through near-dup and
    exact dedup-on-ingest, each followed by a batch ``minhash_dedup_pairs``
    pass over each corpus and a compaction of the MinHash sidecar, so each
    of these metrics has a sample early and late in the run. Set-up makes
    one pass first, which compiles its plan. The exact-deduped corpus
    still holds the planted near-duplicates, which the last pass must
    find."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from custom_vector_database_spark.operators.dedup import minhash_dedup_pairs
    from custom_vector_database_spark.operators.text import fingerprint_md5
    from custom_vector_database_spark.streaming.stream_ops import (
        compact_mh_sidecar,
        stream_corpus_ingest,
        stream_corpus_neardup_ingest,
    )

    n_corpus, drop, n_drops = 500, 500, 2
    spark, t = run.spark, run.tracer
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    t.start_phase("setup")
    t0 = time.perf_counter()
    # the set-up drop, then the measured ones
    docs = gen.Documents(run.seed, n_corpus + drop * (1 + n_drops),
                         clean_prefix=n_corpus)
    frame = pd.DataFrame({"doc_id": docs.ids, "text": docs.texts})
    corpora = {k: os.path.join(run.data, f"corpus_{k}") for k in ("near", "exact")}
    drops = {k: os.path.join(run.inputs, f"drops_{k}") for k in ("near", "exact")}
    for k in corpora:
        os.makedirs(corpora[k])
        os.makedirs(drops[k])
        frame.iloc[:n_corpus].to_parquet(
            os.path.join(corpora[k], "part-0.parquet"), index=False)
    verbs = {
        "near": ("stream_ops.neardup_ingest", stream_corpus_neardup_ingest),
        "exact": ("stream_ops.exact_ingest", stream_corpus_ingest),
    }

    def pairs_in(k: str):
        return minhash_dedup_pairs(spark.read.parquet(corpora[k])).collect()

    def ingest(i: int) -> None:
        part = frame.iloc[n_corpus + i * drop: n_corpus + (i + 1) * drop]
        for k, (verb, fn) in verbs.items():
            part.to_parquet(os.path.join(drops[k], f"drop-{i:04d}.parquet"),
                            index=False)
            run.checked(verb, lambda r: r == 1, fn, spark, drops[k], corpora[k],
                        schema)

    ingest(0)  # the first drop bootstraps both sidecars
    # the first pass of the process compiles its plan; users pay that once
    t.call("dedup.minhash_pairs", pairs_in, "near")
    setup_s = run.session_s + time.perf_counter() - t0

    kept: dict[str, set] = {}
    scanned: list[int] = []  # documents in the near corpus at each "read" pass

    def pairs_ok(k: str):
        return lambda r: all(p["id_a"] < p["id_b"] and p["id_a"] in kept[k]
                             and p["id_b"] in kept[k] for p in r)

    def passes():
        """One pass over each corpus, as it stands; read-only."""
        t.start_phase("check")
        for k, path in corpora.items():
            kept[k] = {r["doc_id"] for r in spark.read.parquet(path)
                       .select("doc_id").collect()}
        t.start_phase("read")
        scanned.append(len(kept["near"]))
        near = run.checked("dedup.minhash_pairs", pairs_ok("near"), pairs_in, "near")
        t.start_phase("pass")
        return near, run.checked("dedup.minhash_pairs", pairs_ok("exact"),
                                 pairs_in, "exact")

    t_measure = time.perf_counter()
    for i in range(1, 1 + n_drops):
        t.start_phase("ingest")
        ingest(i)
        near_pairs, pairs = passes()
        t.start_phase("ingest")
        run.checked("stream_ops.compact_mh",
                    lambda r: r["files_after"] <= r["files_before"],
                    compact_mh_sidecar, spark, corpora["near"])
    while run.time_left(t_measure):
        near_pairs, pairs = passes()
    offered = docs.ids[n_corpus:]

    # checks, outside any verb span
    t.start_phase("check")
    planted = {i for i in offered.tolist() if i in docs.sources}
    exact_planted = {i for i in planted
                     if docs.text(i) == docs.text(docs.sources[i])}
    for k, path in corpora.items():
        n_rows, n_fp = spark.read.parquet(path).agg(
            F.count(F.lit(1)), F.countDistinct(fingerprint_md5("text"))).first()
        run.ops.check(n_rows == n_fp, f"{k} corpus holds one doc per fingerprint")
    dropped = {k: set(offered.tolist()) - v for k, v in kept.items()}
    tp = len(dropped["near"] & planted)
    precision = tp / len(dropped["near"]) if dropped["near"] else 0.0
    recall = tp / len(planted) if planted else 1.0
    run.ops.check(dropped["exact"] == exact_planted,
                  "exact ingest drops exactly the planted copies")
    # true pairs: any two kept documents copied from the same source
    family: dict[int, list[int]] = {}
    for i in sorted(kept["exact"]):
        family.setdefault(docs.sources.get(i, i), []).append(i)
    true_pairs = {(a, b) for members in family.values()
                  for a in members for b in members if a < b}
    found = {(r["id_a"], r["id_b"]) for r in (pairs or [])}
    pair_precision = len(found & true_pairs) / len(found) if found else 0.0
    pair_recall = len(found & true_pairs) / len(true_pairs) if true_pairs else 1.0
    run.ops.check(pair_precision >= 0.9 and pair_recall >= 0.3,
                  "minhash_dedup_pairs precision >= 0.9 and recall >= 0.3")

    ingest_phase = ("ingest",)
    writes = _latency(run, tuple(v for v, _ in verbs.values()), ingest_phase)
    ingested = t.calls(phases=ingest_phase)
    stream_walls = [s["wall_s"] for s in ingested
                    if s["name"] in ("stream_ops.neardup_ingest",
                                     "stream_ops.exact_ingest")]
    doc_bytes = {i: len(txt.encode()) + 8
                 for i, txt in zip(docs.ids.tolist(), docs.texts)}
    offered_measure = docs.ids[n_corpus + drop:].tolist()
    read_walls = _walls(run, "dedup.minhash_pairs", ("read",))
    pass_s = stats.median(_walls(run, "dedup.minhash_pairs", ("pass",)))
    sidecar = sum(disk_bytes([os.path.join(p, d)]) for p in corpora.values()
                  for d in os.listdir(p) if d.startswith("_"))
    metrics = {
        "setup_s": setup_s,
        "read_ms": 1000.0 * stats.median(read_walls),
        "write_ms": stats.geomean(v["p50_ms"] for v in writes.values()),
        "read_rate": sum(scanned) / sum(read_walls),
        "write_rate": 2 * len(offered_measure) / sum(stream_walls),
        "compact_s": stats.median(_walls(run, "stream_ops.compact_mh", ingest_phase)),
        "pass_s": pass_s,
        "quality": stats.geomean([max(precision, 1e-9), max(recall, 1e-9)]),
        "write_amp": sum(s["bytes_written"] for s in ingested)
        / (2 * sum(doc_bytes[i] for i in offered_measure)),
        "space_amp": disk_bytes(list(corpora.values()))
        / sum(doc_bytes[i] for k in kept for i in kept[k]),
    }
    report = {
        "ingest_docs_per_s": metrics["write_rate"],
        "dedup_pass_s": pass_s,
        "dedup_precision": precision,
        "dedup_recall": recall,
        "minhash_pairs": {"precision": pair_precision, "recall": pair_recall,
                          "true_pairs": len(true_pairs), "found": len(found),
                          "found_in_near_corpus": len(near_pairs or [])},
        "passes": len(_walls(run, "dedup.minhash_pairs", ("pass",))),
        "latency_by_verb": writes,
        "counters": {"stream_ops.sidecar_bytes":
                     sidecar / sum(len(v) for v in kept.values())},
    }
    return metrics, report


WORKLOADS = {"vector_rw": vector_rw, "dedup_ingest": dedup_ingest}
