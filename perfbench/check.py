"""Correctness checks, kept outside every timed measurement.

Results of a seeded sample of the executed queries are compared with
``PyRefEngine`` fed the same live corpus: keep-latest rows of the base, then
of each appended slice, replayed in order so that each sampled result is
checked against the oracle state its query saw. Routes are compared with
each other: ``mode="spark"`` against the driver-local route, and every
``msearch_topk`` query against its own ``search_topk`` result. Every
mismatch fails the operation that produced it.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

from elasticsearch_spark.oracle import PyRefEngine
from elasticsearch_spark.query import search_topk

from perfbench.inputs import latest, search_kwargs

REL_TOL = 1e-9
ORACLE_SAMPLE = 6  # distinct queries per (stream, index state)


def rows_of(rows) -> list[tuple]:
    """(conv_id, turn_idx, score) tuples from collected Spark rows."""
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"])) for r in rows]


def same(got: list[tuple], want: list[tuple]) -> bool:
    """Keys and rank identical, scores equal to REL_TOL relative."""
    if [g[:2] for g in got] != [w[:2] for w in want]:
        return False
    return all(abs(g[2] - w[2]) <= REL_TOL * max(1.0, abs(w[2])) for g, w in zip(got, want))


def _filter_fn(f: dict):
    if not f:
        return None
    ts_min = pd.Timestamp(f["ts_min"]) if "ts_min" in f else None

    def keep(doc: dict) -> bool:
        if "role" in f and doc["role"] != f["role"]:
            return False
        if "tool" in f and doc["tool"] != f["tool"]:
            return False
        return ts_min is None or doc["ts"] >= ts_min

    return keep


class Oracle:
    """PyRefEngine grown slice by slice, as the index was."""

    def __init__(self) -> None:
        self.engine = PyRefEngine()

    def add(self, pdf: pd.DataFrame) -> None:
        for r in latest(pdf).itertuples(index=False):
            tool = None if pd.isna(r.tool) else r.tool
            self.engine.index((r.conv_id, int(r.turn_idx)), r.text, role=r.role, tool=tool, ts=r.ts)

    def answer(self, q: dict) -> list[tuple]:
        hits = self.engine.match(
            q["query_text"],
            k=q["k"],
            operator=q["operator"],
            minimum_should_match=q["minimum_should_match"],
            filter_fn=_filter_fn(q["filters"]),
        )
        return [(key[0], key[1], score) for key, score in hits]


def _sample(results: list[dict], n: int, rng: np.random.Generator) -> list[dict]:
    """Up to ``n`` results, one per distinct query, drawn with ``rng``."""
    first: dict[str, dict] = {}
    for r in results:
        first.setdefault(r["q"]["query_id"], r)
    items = list(first.values())
    return [items[i] for i in sorted(rng.permutation(len(items))[:n])]


def local_answers(run) -> dict[str, list[tuple]]:
    """Driver-local rows per query id on the query phase's index, for the
    route checks: those the phase's streams produced, and any query of the
    spark or msearch pools they did not run, run now, untimed. Called at the
    end of the query phase, before bulk's refresh tail changes the index."""
    local: dict[str, list[tuple]] = {}
    for r in run.results:
        if r["state"] == run.query_state and r["stream"] in ("unfiltered", "filtered"):
            local.setdefault(r["q"]["query_id"], r["rows"])
    for q in run.pools["mixed"]:  # the spark pool and every msearch query
        if q["query_id"] not in local:
            _, rows = run._op(
                lambda: search_topk(run.reader, q["query_text"], **search_kwargs(q)).collect())
            if rows is not None:
                local[q["query_id"]] = rows_of(rows)
    return local


def verify(run) -> None:
    rng = np.random.default_rng([run.seed, 1])
    local = run.local
    for r in run.results:
        want = local.get(r["q"]["query_id"])
        if r["stream"] == "spark" and want is not None and not same(r["rows"], want):
            print(f"spark route differs: {r['q']['query_id']}", file=sys.stderr)
            run.failed.add(r["op"])
    for b in run.msearch_batches:
        for i, q in enumerate(b["batch"]):
            want = local.get(q["query_id"])
            if want is not None and not same(b["rows"][i], want):
                print(f"msearch differs: {q['query_id']}", file=sys.stderr)
                run.failed.add(b["op"])

    # n_docs after the last write equals the keys of every indexed slice
    run.attempted += 1
    want = sum(len(latest(p)) for p in run.parts)
    if run.final_docs != (want, want):
        print(f"n_docs (reader, manifest) {run.final_docs} != {want}", file=sys.stderr)
        run.failed.add(run.attempted)

    oracle = Oracle()
    for state, part in enumerate(run.parts):
        oracle.add(part)
        for stream in ("ingest", "unfiltered", "filtered"):
            done = [r for r in run.results if r["stream"] == stream and r["state"] == state]
            for r in _sample(done, ORACLE_SAMPLE, rng):
                if not same(r["rows"], oracle.answer(r["q"])):
                    print(f"oracle differs: {stream} {r['q']['query_id']}", file=sys.stderr)
                    run.failed.add(r["op"])
