"""Seeded inputs: corpus slices with exact key counts, and query streams.

The engine sees only the DataFrames and query texts made here. Every slice
holds an exact number of distinct (conv_id, turn_idx) keys, so that sizes,
and with them throughputs and latencies, do not drift with the seed. All
versions of a key stay in one slice, so keep-latest dedup is decided inside
it and every appended slice carries only new keys.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from elasticsearch_spark.config import AnalyzerConfig, IndexConfig
from elasticsearch_spark.fixtures.transcripts import generate_transcripts, reference_query_set
from elasticsearch_spark.ops import filters

KEY_COLS = ("conv_id", "turn_idx")


def index_config(n_partitions: int) -> IndexConfig:
    """The shape bench.py indexes, with one build partition per core."""
    return IndexConfig(
        text_col="text",
        key_cols=KEY_COLS,
        stored_cols=("role", "tool", "ts"),
        analyzer=AnalyzerConfig(kind="standard"),
        n_partitions=n_partitions,
        dedup_latest_by="ts",
    )


def generate(seed: int, n_keys: int) -> pd.DataFrame:
    """A transcript table with at least ``n_keys`` distinct keys."""
    n_convs = max(8, math.ceil(n_keys / 12))
    while True:
        pdf = generate_transcripts(n_convs=n_convs, seed=seed)
        if pdf[list(KEY_COLS)].drop_duplicates().shape[0] >= n_keys:
            return pdf
        n_convs *= 2


def slices(pdf: pd.DataFrame, sizes: list[int]) -> list[pd.DataFrame]:
    """Consecutive slices of ``sizes[i]`` distinct keys each, in key order."""
    keys = pdf[list(KEY_COLS)].drop_duplicates().sort_values(list(KEY_COLS))
    keys = keys.reset_index(drop=True)
    keys["__slice"] = np.repeat(np.arange(len(sizes) + 1), [*sizes, len(keys) - sum(sizes)])
    tagged = pdf.merge(keys, on=list(KEY_COLS))
    return [
        tagged[tagged["__slice"] == i].drop(columns="__slice").reset_index(drop=True)
        for i in range(len(sizes))
    ]


def latest(pdf: pd.DataFrame) -> pd.DataFrame:
    """The keep-latest version of every key, as the index holds it."""
    return (
        pdf.sort_values([*KEY_COLS, "ts"])
        .groupby(list(KEY_COLS), as_index=False)
        .last()
    )


def filter_cond(f: dict):
    """role/tool term filters and the ts range, as bench.py builds them."""
    conds = []
    if "role" in f:
        conds.append(filters.term("role", f["role"]))
    if "tool" in f:
        conds.append(filters.term("tool", f["tool"]))
    if "ts_min" in f:
        conds.append(F.col("ts") >= F.lit(f["ts_min"]))
    out = None
    for c in conds:
        out = c if out is None else out & c
    return out


# Unfiltered queries of reference_query_set covering its strata and classes,
# as (kind, text, k): the pool of streams too short to pass over the whole
# set. An odd count puts a median on one query, not between two.
CORE = (
    ("term", "error", 10),  # hot
    ("term", "tok0100", 10),  # medium
    ("term", "rareterm000", 10),  # rare
    ("term", "zzz_absent_term", 10),  # absent
    ("match_or", "error timeout", 10),
    ("match_or", "error tok0500 rareterm001", 10),
    ("match_and", "tok0000 tok0001", 10),
    ("match_msm2", "tok0003 tok0007 tok0019 tok0031", 10),
    ("term", "tok0000", 100),  # k edge case
)


def query_pools() -> dict[str, list[dict]]:
    """reference_query_set split into the classes that form separate latency
    clusters: unfiltered match queries, and those with filters (which add
    the filter-set Spark job); the CORE subset; and CORE with the filtered
    queries, which makes one msearch batch."""
    qs = reference_query_set()
    unfiltered = [q for q in qs if not q["filters"]]
    core = [next(q for q in unfiltered if (q["kind"], q["query_text"], q["k"]) == c) for c in CORE]
    filtered = [q for q in qs if q["filters"]]
    return {"unfiltered": unfiltered, "filtered": filtered, "core": core, "mixed": core + filtered}


class Stream:
    """Endless seeded draw from a pool: each pass is a fresh permutation, so
    every pass holds every query of the pool (all strata and classes)."""

    def __init__(self, pool: list[dict], rng: np.random.Generator) -> None:
        self.pool, self.rng, self._order = pool, rng, []

    def next(self) -> dict:
        if not self._order:
            self._order = list(self.rng.permutation(len(self.pool)))
        return self.pool[self._order.pop()]


def search_kwargs(q: dict) -> dict:
    return {
        "k": q["k"],
        "operator": q["operator"],
        "minimum_should_match": q["minimum_should_match"],
        "filter_cond": filter_cond(q["filters"]),
    }


def msearch_spec(q: dict) -> dict:
    return {"query_text": q["query_text"], **search_kwargs(q)}
