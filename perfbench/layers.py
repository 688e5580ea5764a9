"""Per-layer metrics of a traced run; layers are the engine's modules.

Spark counts per query or batch are averaged over each stream's first
``min samples`` calls, which every run makes, so that with one seed they
repeat exactly whatever the host speed.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from elasticsearch_spark.analysis.analyzers import analyze_codes, tokenize_text

MS = 1000.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _rate(fn, n_items: int, min_s: float = 0.3) -> float:
    """Items per second of ``fn`` (which handles ``n_items``), repeated for
    at least ``min_s`` seconds."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return reps * n_items / dt


def _counts(spans) -> tuple[int, int]:
    return sum(s.jobs for s in spans), sum(s.tasks for s in spans)


def _per_call(tr, prefix: str, n: int) -> tuple[float, float]:
    """Mean Spark jobs and tasks per call over the first ``n`` calls, where
    one call is the ``.call`` span plus its ``.collect`` span."""
    calls = tr.layer_spans(f"{prefix}.call")[1 : n + 1]  # [0] is the warm-up
    collects = tr.layer_spans(f"{prefix}.collect")[1 : n + 1]
    jobs, tasks = _counts(calls + collects)
    return jobs / max(1, len(calls)), tasks / max(1, len(calls))


def _manifest(index_dir: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(index_dir, "manifest")).to_pandas()


def layer_metrics(run) -> dict:
    """Every per-layer metric of ``run`` (a finished, traced workloads.Run)."""
    tr = run.tr
    m: dict[str, tuple[float, str]] = {}
    m["fixtures.generate_s"] = (_median([s.seconds for s in tr.layer_spans("fixtures")]), "s")
    m["session.start_s"] = (run.session_s, "s")
    for phase in ("setup", "build", "append", "merge", "query"):
        m[f"session.jvm_gc_ms.{phase}"] = (tr.gc_ms.get(phase, 0.0), "ms")

    # analysis: driver-side, one core, outside the workload's wall time
    text = pd.Series(run.parts[0]["text"].to_numpy())
    analyzer = run.cfg.analyzer
    m["analysis.analyze_turns_per_s"] = (_rate(lambda: analyze_codes(text, analyzer), len(text)), "1/s")
    qtexts = [q["query_text"] for q in run.pools["unfiltered"] + run.pools["filtered"]]
    per_s = _rate(lambda: [tokenize_text(t, analyzer) for t in qtexts], len(qtexts))
    m["analysis.query_tokenize_us"] = (1e6 / per_s, "us")

    # index.builder: the base build (each repeat does the same work; the
    # last one wrote the index), and its segments from the manifest
    builds = tr.layer_spans("builder")
    man = _manifest(run.index_dir)
    base = man[(man["status"] == "committed") & man["segment_id"].str.fullmatch(r"\d{5}-\d{3}")]
    docs = base["docs_indexed"].astype(float)
    m["builder.call_s"] = (_median([s.seconds for s in builds]), "s")
    m["builder.spark_jobs"] = (builds[-1].jobs, "count")
    m["builder.tasks"] = (builds[-1].tasks, "count")
    m["builder.segments"] = (len(base), "count")
    m["builder.max_over_median_segment_docs"] = (docs.max() / docs.median(), "ratio")
    m["builder.postings_bytes"] = (int(base["postings_bytes"].sum()), "bytes")

    appends = tr.layer_spans("builder.append")
    jobs, tasks = _counts(appends)
    m["append.call_s_p50"] = (_median([s.seconds for s in appends]), "s")
    m["append.spark_jobs_per_batch"] = (jobs / len(appends), "count")
    m["append.tasks_per_batch"] = (tasks / len(appends), "count")

    m["reader.open_ms"] = (_median([s.seconds for s in tr.layer_spans("reader.open")]) * MS, "ms")
    stats_ms = []
    for q in run.pools["unfiltered"]:
        terms = tokenize_text(q["query_text"], analyzer)
        t0 = time.perf_counter()
        run.reader.query_term_stats(terms)
        stats_ms.append((time.perf_counter() - t0) * MS)
    m["reader.term_stats_ms"] = (_median(stats_ms), "ms")
    m["reader.segments"] = (run.query_segments, "count")

    groups = tr.layer_spans("merge.group")
    jobs, tasks = _counts(tr.layer_spans("merge") + groups)
    b_in = sum(i for i, _ in run.merge_io)
    b_out = sum(o for _, o in run.merge_io)
    m["merge.group_s_p50"] = (_median([s.seconds for s in groups]), "s")
    m["merge.groups"] = (len(groups), "count")
    m["merge.segments_in"] = (sum(int(r["merge_fan_in"]) for r in run.merge_rows), "count")
    m["merge.segments_out"] = (len(run.merge_rows), "count")
    m["merge.turns_rewritten"] = (sum(int(r["docs_indexed"]) for r in run.merge_rows), "count")
    m["merge.spark_jobs"] = (jobs, "count")
    m["merge.tasks"] = (tasks, "count")
    m["merge.postings_bytes_out_over_in"] = (b_out / b_in if b_in else 0.0, "ratio")

    streams = {s[0]: s[3] for s in run.streams}
    for kind in ("unfiltered", "filtered", "spark"):
        min_n = streams[kind]
        prefix = f"executor.{kind}"
        calls = tr.layer_spans(f"{prefix}.call")[1:]
        collects = tr.layer_spans(f"{prefix}.collect")[1:]
        m[f"{prefix}.call_ms"] = (_median([s.seconds for s in calls]) * MS, "ms")
        m[f"{prefix}.collect_ms"] = (_median([s.seconds for s in collects]) * MS, "ms")
        jobs, tasks = _per_call(tr, prefix, min_n)
        m[f"{prefix}.spark_jobs_per_query"] = (jobs, "count")
        m[f"{prefix}.tasks_per_query"] = (tasks, "count")
    # the tail of the unfiltered stream, whole query as the client sees it
    m["executor.unfiltered.p90_ms"] = (float(np.percentile(run.lat["unfiltered"], 90)) * MS, "ms")
    # queries on a freshly opened reader after each append: each burst
    # searches another layout, so the bursts' medians are averaged
    m["executor.ingest.p50_ms"] = (statistics.fmean(run.ingest_p50) * MS, "ms")

    batches = tr.layer_spans("msearch")[1:]  # the first is the warm-up
    n = streams["msearch"]
    jobs, tasks = _counts(batches[:n])
    m["msearch.batch_ms"] = (_median([s.seconds for s in batches]) * MS, "ms")
    m["msearch.spark_jobs_per_batch"] = (jobs / n, "count")
    m["msearch.tasks_per_batch"] = (tasks / n, "count")

    for sub, n in run.index_bytes.items():
        m[f"index.bytes.{sub}"] = (n, "bytes")

    m["spark.failed_tasks"] = (sum(s.failed_tasks for s in tr.spans), "count")
    m["trace_overhead"] = (tr.overhead_s, "s")
    m["unattributed_share"] = (1.0 - tr.top_level_seconds() / run.wall_s, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
