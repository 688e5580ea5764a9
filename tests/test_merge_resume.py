"""Segment merge invariance + checkpoint/resume (FIXTURES.md F5, invariance
matrix): queries identical pre/post merge; resumed build byte-identical to a
cold build; committed partitions are skipped on resume."""

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index, fsio
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.query import search_topk

CFG = dict(
    text_col="text",
    key_cols=("conv_id", "turn_idx"),
    stored_cols=("role", "tool"),
    dedup_latest_by="ts",
)
QUERIES = ["error timeout", "tok0000", "tok0001 tok0002 tok0003", "tiebreak alpha"]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(generate_transcripts(n_convs=50, seed=7))


def _results(reader, queries=QUERIES, k=10):
    out = {}
    for q in queries:
        rows = search_topk(reader, q, k=k).collect()
        out[q] = [(r["conv_id"], r["turn_idx"], round(r["score"], 10)) for r in rows]
    return out


def _tree_hash(path, subdirs=("postings", "docs", "norms", "segterms")):
    h = hashlib.sha256()
    for sub in subdirs:
        for f in sorted(glob.glob(os.path.join(path, sub, "**", "*.parquet"), recursive=True)):
            h.update(os.path.relpath(f, path).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def test_merge_preserves_results(spark, corpus_df, tmp_root):
    idx = f"{tmp_root}/idx_merge"
    cfg = IndexConfig(n_partitions=8, **CFG)
    build_index(spark, corpus_df, idx, cfg)
    before = _results(IndexReader(spark, idx))
    rows = tiered_merge(spark, idx, fan_in=4, repack=True)
    assert rows and all(r["merge_fan_in"] > 1 for r in rows)
    after = _results(IndexReader(spark, idx))
    assert before == after
    # merged again down to one segment — still identical
    tiered_merge(spark, idx, fan_in=10, repack=False)
    assert _results(IndexReader(spark, idx)) == before
    # merge metrics recorded
    man = spark.read.parquet(f"{idx}/manifest")
    assert man.where(F.col("merge_fan_in") > 1).count() >= len(rows)


def test_resume_skips_committed_and_is_byte_identical(spark, corpus_df, tmp_root):
    cfg = IndexConfig(n_partitions=4, **CFG)
    cold = f"{tmp_root}/idx_cold"
    build_index(spark, corpus_df, cold, cfg)

    warm = f"{tmp_root}/idx_warm"
    # simulate crash: only pids {0, 1} committed
    partial = build_index(spark, corpus_df, warm, cfg, only_pids={0, 1})
    assert partial.n_segments < 4
    committed_before = {
        r["segment_id"]
        for r in spark.read.parquet(f"{warm}/manifest").collect()
    }
    mtimes = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{warm}/postings/**/*.parquet", recursive=True)
    }
    res = build_index(spark, corpus_df, warm, cfg, resume=True)
    assert res.n_docs == build_index(spark, corpus_df, f"{tmp_root}/idx_cold2", cfg).n_docs
    # committed partitions were not rebuilt (files untouched)
    for f, t in mtimes.items():
        assert os.path.getmtime(f) == t, f
    committed_after = {
        r["segment_id"] for r in spark.read.parquet(f"{warm}/manifest").collect()
    }
    assert committed_before < committed_after
    # byte-identical to cold build
    assert _tree_hash(warm) == _tree_hash(cold)
    # and query-identical
    assert _results(IndexReader(spark, warm)) == _results(IndexReader(spark, cold))


def test_manifest_lineage_metrics(spark, corpus_df, tmp_root):
    idx = f"{tmp_root}/idx_lineage"
    cfg = IndexConfig(n_partitions=4, **CFG)
    res = build_index(spark, corpus_df, idx, cfg)
    man = spark.read.parquet(f"{idx}/manifest").toPandas()
    assert set(man.columns) >= {
        "partition_id", "segment_id", "status", "docs_indexed", "n_terms",
        "postings_bytes", "merge_fan_in", "checksum",
    }
    assert (man["status"] == "committed").all()
    assert man["docs_indexed"].sum() == res.n_docs
    assert (man["postings_bytes"] > 0).all()
    assert man["checksum"].str.len().eq(64).all()


# --- merged segments stay on the driver-local query route ------------------

ROUTE_CFG = dict(CFG, stored_cols=("role", "tool", "ts"))
EXTRA = ("role", "tool", "ts")


def _hits(df):
    return [
        (r["conv_id"], r["turn_idx"], r["role"], r["tool"], r["ts"], r["score"])
        for r in df.collect()
    ]


def _jobs_of(spark, fn):
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup("route-check", "jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup("route-check"))


@pytest.mark.parametrize("repack", [False, True])
def test_merged_segments_stay_on_local_route(spark, corpus_df, tmp_root, repack):
    """After tiered_merge (merged docs are Spark part files, next to builder
    data.parquet files of unmerged segments), every route returns the same
    keys, stored fields and scores, msearch agrees, and an unfiltered auto
    search runs no Spark job at all: it never falls back to the scorer."""
    from elasticsearch_spark.query.msearch import msearch_topk

    idx = f"{tmp_root}/idx_route_{int(repack)}"
    build_index(spark, corpus_df, idx, IndexConfig(n_partitions=7, **ROUTE_CFG))
    rows = tiered_merge(spark, idx, fan_in=3, repack=repack)
    assert len(rows) == 2  # 7 segments → two merged, one left as built
    reader = IndexReader(spark, idx)
    stored = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["tool"], r["ts"])
        for r in reader.docs().select(*CFG["key_cols"], *EXTRA).collect()
    }
    assistant = F.col("role") == "assistant"
    cases = [(q, None) for q in QUERIES] + [("error timeout", assistant)]
    batch = msearch_topk(
        reader,
        [{"query_text": q, "filter_cond": f} for q, f in cases],
        k=10,
        extra_cols=EXTRA,
    ).collect()
    for qi, (q, f) in enumerate(cases):
        by_mode = {
            mode: _hits(search_topk(
                reader, q, k=10, filter_cond=f, extra_cols=EXTRA, mode=mode))
            for mode in ("auto", "local", "spark")
        }
        assert by_mode["auto"], q
        assert by_mode["auto"] == by_mode["local"] == by_mode["spark"], q
        ms = [
            (r["conv_id"], r["turn_idx"], r["role"], r["tool"], r["ts"], r["score"])
            for r in batch if r["query_id"] == qi
        ]
        assert ms == by_mode["auto"], q
        for c, t, role, tool, ts, _ in by_mode["auto"]:
            assert stored[(c, t)] == (role, tool, ts)

    assert _jobs_of(
        spark, lambda: search_topk(reader, "error timeout", k=10).collect()
    ) == 0

    # a store the driver cannot read: scoring and fetch both run in Spark
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fsio, "driver_readable", lambda path: False)
        remote = msearch_topk(
            reader,
            [{"query_text": q, "filter_cond": f} for q, f in cases],
            k=10,
            extra_cols=EXTRA,
        ).collect()
        q, f = cases[-1]
        assert _hits(search_topk(
            reader, q, k=10, filter_cond=f, extra_cols=EXTRA)) == ms
    assert [tuple(r) for r in remote] == [tuple(r) for r in batch]


def test_all_null_stored_column_segment(spark, tmp_root):
    """A segment whose stored ``tool`` is all null must still write the
    column's string type: Spark reads of docs, filtered search and merge
    all read every segment's doc table."""
    import pandas as pd

    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    base = generate_transcripts(n_convs=20, seed=11)
    tail = base.drop_duplicates(["conv_id", "turn_idx"]).head(12).assign(
        conv_id=lambda d: "tail-" + d["conv_id"], tool=None
    )
    assert tail["tool"].isna().all()
    idx = f"{tmp_root}/idx_null_tool"
    cfg = IndexConfig(n_partitions=2, **ROUTE_CFG)
    build_index(spark, spark.createDataFrame(base, schema), idx, cfg)
    build_index(
        spark, spark.createDataFrame(tail, schema), idx, cfg, segment_prefix="b1-"
    )
    reader = IndexReader(spark, idx)
    n = len(base.drop_duplicates(["conv_id", "turn_idx"])) + len(tail)
    assert reader.docs().count() == n
    assert reader.docs().where(F.col("tool").isNull()).count() >= len(tail)
    hits = search_topk(
        reader, "error timeout", k=10, filter_cond=F.col("tool").isNull(),
        extra_cols=("tool",), mode="spark",
    ).collect()
    assert hits and all(r["tool"] is None for r in hits)
    tiered_merge(spark, idx, repack=False)
    merged = IndexReader(spark, idx)
    assert merged.docs().count() == n
    assert pd.isna(merged.docs().where(
        F.col("conv_id").startswith("tail-")).toPandas()["tool"]).all()
