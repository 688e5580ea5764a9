"""Multi-search: a batch of match queries in ONE distributed job.

Reference: action/search/MultiSearchRequest.java + TransportMultiSearchAction
— the _msearch API ships N search bodies in one round trip; each executes
with its own operator/minimum_should_match/filter and returns its own top-k.

Spark shape — this is where batching pays structurally, not just in RPC:

- ONE postings scan, term-pruned to the UNION of all queries' terms
  (`PushedFilters: In(term, ...)`): a hot term shared by many queries is
  read and decoded once, not once per query.
- per-segment Arrow kernel decodes each term once and reuses the
  BM25-normalized tf array (`tfn` depends only on tf/doc-len, not on the
  query), so adding a query costs one scatter-add per term, not a decode.
- filter contexts are deduplicated: distinct filter predicates each get
  one `_filter_sets` pass, tagged with a filter_id and unioned into the
  aux side of the cogroup; queries reference filters by id.
- one gather: <= k(+score ties) rows per (segment, query) reach the
  driver, per-query TopDocs.merge, one batched fetch phase (the same
  ``_fetch`` the single-query executor uses).

At cluster scale this turns "54 queries x (scheduler constant + scan)"
into "1 x scheduler constant + 1 scan", which is also why the query
throughput of the batched path scales with executors while sequential
per-query latency is pinned at the scheduling floor.
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from elasticsearch_spark.analysis.analyzers import tokenize_text
from elasticsearch_spark.index.reader import IndexReader
from elasticsearch_spark.query.executor import (
    _MATCH_COLUMNS,
    _cut_to_ties,
    _decode_term,
    _empty_result,
    _fetch,
    _filter_sets,
    _n_segments,
    _result_schema,
    lucene_idf,
)
from elasticsearch_spark.functions.smallfloat import effective_doc_length


# driver-gather bound: the kernel emits <= k(+ties) rows per (segment,
# query), so a big index times a big batch can overwhelm one collect()
# (the msearch analog of _GATHER_MAX_ROWS in query/executor.py).
# Past this estimate the per-query top-k cut runs in Spark first.
_GATHER_MAX_ROWS = 200_000


def msearch_topk(
    reader: IndexReader,
    queries: Iterable[Mapping[str, Any]],
    k: int = 10,
    extra_cols: Iterable[str] = (),
    gather_max_rows: int = _GATHER_MAX_ROWS,
) -> DataFrame:
    """Execute a batch of match queries as one job.

    Each query mapping supports: ``query_text`` (required), ``operator``
    ("or"/"and"), ``minimum_should_match``, ``filter_cond`` (a Column or
    None), ``alias`` (a named filtered alias — index/aliases.py — whose
    stored predicate joins the query's filter context), ``k`` (per-query
    override of the batch default).

    Returns (query_id, *key_cols, *extra_cols, score) with ``query_id``
    the 0-based position in ``queries``; per query <= k rows ordered
    (score DESC, keys ASC). Queries with no matching term produce no
    rows (the reference returns an empty hits block).
    """
    key_cols = list(reader.cfg.key_cols)
    extra_cols = list(extra_cols)
    cand, kernel_plans = _msearch_candidates(reader, queries, k)

    def empty() -> DataFrame:
        return _empty_result(reader, extra_cols).select(
            F.lit(0).alias("query_id"), *key_cols, *extra_cols, "score"
        )

    if cand is None:
        return empty()

    # -- gather + per-query merge + ONE batched fetch ----------------------
    # distributed-merge escape hatch: when segments x Σk_q (the gather's
    # upper bound, ties aside) exceeds the driver budget, cut each query to
    # its global top-k(+ties) IN SPARK — rank() over (query_id, score DESC)
    # keeps exactly the tie group the driver-side theta cut would keep, so
    # results are identical; only <= Σk_q(+ties) rows ever reach collect()
    if gather_max_rows is not None and _n_segments(reader) * sum(
        k_q for _, _, _, k_q, _ in kernel_plans
    ) > gather_max_rows:
        kdf = reader.spark.createDataFrame(
            [(qi, k_q) for qi, _, _, k_q, _ in kernel_plans],
            "query_id int, __kq int",
        )
        w = Window.partitionBy("query_id").orderBy(F.col("score").desc())
        cand = (
            cand.withColumn("__rnk", F.rank().over(w))
            .join(F.broadcast(kdf), "query_id")
            .where(F.col("__rnk") <= F.col("__kq"))
            .drop("__rnk", "__kq")
        )
    rows = cand.collect()
    if not rows:
        return empty()
    k_of = {qi: k_q for qi, _, _, k_q, _ in kernel_plans}
    cand_pdf = pd.DataFrame([r.asDict() for r in rows])
    win = pd.concat(
        [_cut_to_ties(g, k_of[qi]) for qi, g in cand_pdf.groupby("query_id")],
        ignore_index=True,
    )
    out = _fetch(reader, win, key_cols, extra_cols).sort_values(
        ["query_id", "score", *key_cols],
        ascending=[True, False] + [True] * len(key_cols),
        kind="mergesort",
    )
    out = out[out.groupby("query_id").cumcount() < out["query_id"].map(k_of)]
    schema = StructType(
        [StructField("query_id", IntegerType()),
         *_result_schema(reader, key_cols, extra_cols).fields]
    )
    return reader.spark.createDataFrame(
        out[["query_id", *key_cols, *extra_cols, "score"]], schema=schema
    )


def _msearch_candidates(reader, queries, k):
    """Build the one-job candidate plan: term-pruned union postings scan
    cogrouped with norms/deletes/filter-sets, per-segment multi-query BM25
    kernel. Returns (candidates_df, kernel_plans) — candidates_df is None
    when no query has any indexed term (the all-empty batch)."""
    cfg = reader.cfg
    specs = list(queries)

    # -- per-query analysis over ONE stats lookup --------------------------
    all_tokens: list[str] = []
    toks_by_q: list[list[str]] = []
    for q in specs:
        toks = tokenize_text(q["query_text"], cfg.analyzer)
        toks_by_q.append(toks)
        all_tokens.extend(toks)
    stats = reader.query_term_stats(list(dict.fromkeys(all_tokens)))
    n = reader.n_docs

    # filter dedup: identical Column expressions share one filter-set pass
    filt_ids: dict[str, int] = {}
    filt_cols: list[Column] = []
    plans = []  # (query_id, weights, need, k_q, filter_id)
    for qi, (q, toks) in enumerate(zip(specs, toks_by_q)):
        uniq = list(dict.fromkeys(toks))
        present = [t for t in uniq if stats.get(t, (0, 0))[0] > 0]
        operator = q.get("operator", "or")
        need = (
            len(uniq)
            if operator == "and"
            else max(1, int(q.get("minimum_should_match", 1)))
        )
        if not present or (operator == "and" and len(present) < len(uniq)):
            continue
        weights = {
            t: toks.count(t) * lucene_idf(n, stats[t][0]) for t in present
        }
        fc = q.get("filter_cond")
        if q.get("alias") is not None:
            # search-through-alias: the stored predicate joins this query's
            # filter context (dedup below still applies — two queries over
            # the same alias share one filter-set pass)
            from elasticsearch_spark.index.aliases import alias_filter

            fc = alias_filter(reader, q["alias"], fc)
        if fc is None:
            fid = -1
        else:
            fkey = str(fc)  # expression repr — dedup key for identical filters
            if fkey not in filt_ids:
                filt_ids[fkey] = len(filt_cols)
                filt_cols.append(fc)
            fid = filt_ids[fkey]
        plans.append((qi, weights, need, int(q.get("k", k)), fid))

    if not plans:
        return None, []

    union_terms = sorted({t for _, w, _, _, _ in plans for t in w})

    # -- one scan + aux assembly ------------------------------------------
    postings = (
        reader.postings()
        .where(F.col("term").isin(union_terms))
        .select("segment_id", *_MATCH_COLUMNS)
    )
    from elasticsearch_spark.index.deletes import deletes_df

    aux = reader.norms().select("segment_id", "n_docs", "doc_len_packed")
    dels = deletes_df(reader)
    if dels is not None:
        aux = aux.join(F.broadcast(dels), "segment_id", "left")
    else:
        aux = aux.withColumn("d_ids", F.lit(None).cast("array<int>"))
    aux = aux.select(
        "segment_id",
        F.lit(-1).alias("filter_id"),
        "n_docs",
        "doc_len_packed",
        "d_ids",
        F.lit(None).cast("string").alias("f_mode"),
        F.lit(None).cast("array<int>").alias("f_ids"),
    )
    for fid, fc in enumerate(filt_cols):
        fs = _filter_sets(reader, fc).select(
            "segment_id",
            F.lit(fid).alias("filter_id"),
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("binary").alias("doc_len_packed"),
            F.lit(None).cast("array<int>").alias("d_ids"),
            "f_mode",
            "f_ids",
        )
        aux = aux.unionByName(fs)

    k1, b, quantize = cfg.bm25.k1, cfg.bm25.b, cfg.bm25.quantize_norms
    avgdl = reader.avgdl
    kernel_plans = plans  # closure-shipped: ~terms-per-query floats, tiny

    def score_segment(key, post: pd.DataFrame, aux_pdf: pd.DataFrame) -> pd.DataFrame:
        out_cols = {
            "query_id": pd.Series([], dtype="int32"),
            "local_doc_id": pd.Series([], dtype="int32"),
            "score": pd.Series([], dtype="float64"),
            "segment_id": pd.Series([], dtype="object"),
        }
        base = aux_pdf[aux_pdf["filter_id"] == -1]
        if post.empty or base.empty:
            return pd.DataFrame(out_cols)
        n_docs = int(base["n_docs"].iloc[0])
        doc_lens = np.frombuffer(base["doc_len_packed"].iloc[0], dtype=np.uint32)
        dl_eff = effective_doc_length(doc_lens, quantize=quantize)
        live: np.ndarray | None = None
        dead = base["d_ids"].iloc[0]
        if dead is not None and len(dead):
            live = np.ones(n_docs, dtype=bool)
            live[np.asarray(dead, dtype=np.int64)] = False

        fmasks: dict[int, np.ndarray | None] = {-1: None}
        for _, frow in aux_pdf[aux_pdf["filter_id"] >= 0].iterrows():
            ids = np.asarray(frow["f_ids"], dtype=np.int64)
            if frow["f_mode"] == "allow":
                m = np.zeros(n_docs, dtype=bool)
                m[ids] = True
            else:
                m = np.ones(n_docs, dtype=bool)
                m[ids] = False
            fmasks[int(frow["filter_id"])] = m

        c0 = k1 * (1.0 - b)
        c1 = k1 * b / avgdl
        post = post.sort_values(["term", "first_doc"])
        # decode each union term ONCE; tfn is query-independent
        tfn_by_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, g in post.groupby("term", sort=False):
            docs, tfs = _decode_term(g)
            tfn = (tfs * (k1 + 1.0)) / (tfs + c0 + c1 * dl_eff[docs])
            tfn_by_term[t] = (docs, tfn)

        q_out, d_out, s_out = [], [], []
        score = np.zeros(n_docs, dtype=np.float64)
        nmatch = np.zeros(n_docs, dtype=np.int32)
        for qi, weights, need, k_q, fid in kernel_plans:
            score[:] = 0.0
            nmatch[:] = 0
            hit = False
            for t, w in weights.items():
                dt = tfn_by_term.get(t)
                if dt is None:
                    continue
                docs, tfn = dt
                score[docs] += w * tfn
                nmatch[docs] += 1
                hit = True
            if not hit:
                continue
            mask = nmatch >= need
            fm = fmasks.get(fid)
            if fid >= 0 and fm is None:
                continue  # no passing doc in this segment for the filter
            if fm is not None:
                mask &= fm
            if live is not None:
                mask &= live
            cand = np.flatnonzero(mask)
            if cand.size == 0:
                continue
            cs = score[cand]
            if cand.size > k_q:
                part = np.argpartition(-cs, k_q - 1)
                theta = cs[part[k_q - 1]]
                sel = cs >= theta  # tie group kept, cut at the global merge
                cand, cs = cand[sel], cs[sel]
            q_out.append(np.full(cand.size, qi, dtype=np.int32))
            d_out.append(cand.astype(np.int32))
            s_out.append(cs)
        if not q_out:
            return pd.DataFrame(out_cols)
        qa = np.concatenate(q_out)
        return pd.DataFrame(
            {
                "query_id": qa,
                "local_doc_id": np.concatenate(d_out),
                "score": np.concatenate(s_out),
                "segment_id": np.full(qa.size, key[0], dtype=object),
            }
        )

    cand = (
        postings.groupBy("segment_id")
        .cogroup(aux.groupBy("segment_id"))
        .applyInPandas(
            score_segment,
            "query_id int, local_doc_id int, score double, segment_id string",
        )
    )
    return cand, kernel_plans
