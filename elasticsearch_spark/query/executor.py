"""BM25 top-k execution over the segmented inverted index.

Spark shape of the reference's QUERY_THEN_FETCH with DFS statistics
(SURVEY.md §3.1):

  scatter  = cogrouped applyInPandas over (postings ⋈ term filter) grouped by
             segment — each group scores its segment with vectorized numpy,
             applying block-max pruning and per-segment top-k (the per-shard
             priority queue, search/query/QueryPhase.java:107-155);
  gather   = global orderBy(score DESC, key ASC).limit(k) — the TopDocs.merge
             analog with deterministic tie order
             (search/controller/SearchPhaseController.java:144-234);
  fetch    = broadcast join of the k winners back to the doc table
             (search/fetch/FetchPhase.java:103-157).

Scale notes: postings are pruned by ``term IN (...)`` predicate pushdown
(row-group stats; postings files are term-sorted), per-segment norm arrays
travel as one packed row each, and only ≤ k rows per segment reach the
gather. Filters are evaluated by Catalyst on the doc table (columnar,
predicate pushdown) and enter the scorer as per-segment id sets of the
SMALLER filter polarity (allow- or deny-list, see _filter_sets) — never
more than half a segment's ids ship.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elasticsearch_spark.analysis.analyzers import tokenize_text
from elasticsearch_spark.index import fsio
from elasticsearch_spark.index.codec import delta_decode, unpack_u32
from elasticsearch_spark.functions.smallfloat import effective_doc_length
from elasticsearch_spark.index.reader import IndexReader


def _ijoin(base: str, *parts: str) -> str:
    return "/".join([base.rstrip("/"), *parts])


# gather budget: past segments x k candidate rows, cut to the global
# top-k(+ties) IN Spark before collecting (same hatch as query/msearch.py)
_GATHER_MAX_ROWS = 200_000


def _n_segments(reader: IndexReader) -> int:
    """Segment count, memoized per reader: from the cached local norms when
    driver-readable, else ONE count() job on the (tiny) norms table."""
    n = getattr(reader, "_n_segments_cache", None)
    if n is None:
        norms = reader.local_norms()
        n = (len(norms) if norms is not None
             else reader.norms().select("segment_id").count())
        reader._n_segments_cache = n
    return n

# below this corpus size the filter-context polarity optimization is pure
# scheduling overhead (see _filter_sets)
_FILTER_TWO_PASS_MIN_DOCS = 200_000


def lucene_idf(n_docs: int, df: int) -> float:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — Lucene 5 BM25 idf."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _filter_sets(
    reader: IndexReader,
    filter_cond: Column,
    two_pass_min_docs: int | None = None,
) -> DataFrame:
    """Per-segment filter-context doc-id sets, smaller polarity chosen.

    The filter-bitset analog (index/cache/filter/). Returns one row per
    segment with >= 1 passing doc: (segment_id, f_mode, f_ids) where
    f_mode='allow' lists the passing local ids and f_mode='deny' the failing
    ones — whichever side is smaller. A low-selectivity filter (e.g. half
    the corpus) therefore never ships more than min(|pass|, |fail|) ids per
    segment, instead of materializing every passing id. Scores are
    filter-independent (ES filter context), so this is exact, not a
    post-filter approximation. Two narrow columnar scans: a count pass over
    the filter columns, then the id collection of the chosen side.
    """
    docs = reader.docs()
    passes = F.coalesce(filter_cond, F.lit(False))  # null == fails, like WHERE
    if two_pass_min_docs is None:
        two_pass_min_docs = _FILTER_TWO_PASS_MIN_DOCS
    if reader.n_docs <= two_pass_min_docs:
        # small corpus: the two-pass polarity choice saves at most a few
        # hundred KB but costs an extra narrow job of fixed scheduling
        # latency — ship the plain allow-list in one pass instead
        return (
            docs.where(passes)
            .groupBy("segment_id")
            .agg(F.sort_array(F.collect_list("local_doc_id")).alias("f_ids"))
            .select("segment_id", F.lit("allow").alias("f_mode"), "f_ids")
        )
    counts = (
        docs.groupBy("segment_id")
        .agg(
            F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
            F.count(F.lit(1)).alias("n_all"),
        )
        .where(F.col("n_pass") > 0)  # no passing doc → segment excluded
        .withColumn(
            "f_mode",
            F.when(F.col("n_pass") * 2 <= F.col("n_all"), F.lit("allow"))
            .otherwise(F.lit("deny")),
        )
    )
    sets = (
        docs.join(F.broadcast(counts.select("segment_id", "f_mode")), "segment_id")
        .where(F.when(F.col("f_mode") == "allow", passes).otherwise(~passes))
        .groupBy("segment_id", "f_mode")
        .agg(F.sort_array(F.collect_list("local_doc_id")).alias("f_ids"))
    )
    # deny-mode segments where EVERY doc passes have no collected row: keep
    # them with an empty deny list (mask nothing)
    return counts.join(sets, ["segment_id", "f_mode"], "left").select(
        "segment_id",
        "f_mode",
        F.coalesce("f_ids", F.array().cast("array<int>")).alias("f_ids"),
    )


def _allowed_mask(aux: pd.DataFrame, n_docs: int) -> np.ndarray | None:
    """Decode the filter-context / tombstone columns of the aux row into a
    bool mask (None == everything allowed)."""
    m: np.ndarray | None = None
    if "f_ids" in aux.columns:
        ids = np.asarray(aux["f_ids"].iloc[0], dtype=np.int64)
        if aux["f_mode"].iloc[0] == "allow":
            m = np.zeros(n_docs, dtype=bool)
            m[ids] = True
        else:
            m = np.ones(n_docs, dtype=bool)
            m[ids] = False
    elif "allowed_ids" in aux.columns:
        ids = np.asarray(aux["allowed_ids"].iloc[0], dtype=np.int64)
        m = np.zeros(n_docs, dtype=bool)
        m[ids] = True
    if "d_ids" in aux.columns and aux["d_ids"].iloc[0] is not None:
        dead = np.asarray(aux["d_ids"].iloc[0], dtype=np.int64)
        if dead.size:
            if m is None:
                m = np.ones(n_docs, dtype=bool)
            m[dead] = False  # liveDocs: tombstoned docs can never be hits
    return m


def _decode_term(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Decode the blocks of one term (rows pre-sorted) → (doc_ids, tfs)."""
    docs_parts, tf_parts = [], []
    for nd, db, tb in zip(g["n_docs"], g["docs_packed"], g["tfs_packed"]):
        docs_parts.append(delta_decode(unpack_u32(db, nd)))
        tf_parts.append(unpack_u32(tb, nd))
    return (
        np.concatenate(docs_parts).astype(np.int64),
        np.concatenate(tf_parts).astype(np.float64),
    )


def _segment_scorer(
    term_weights: dict[str, float],
    need: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    use_pruning: bool,
    quantize: bool,
):
    """Build the vectorized per-segment scoring function.

    Block-max pruning (vectorized variant of Block-Max WAND, Ding & Suel
    2011, SIGIR): cut the local docID axis at every posting-block boundary;
    within an elementary interval each term has at most one covering block,
    so bound(I) = Σ_t ub(block_t(I)) upper-bounds any doc's total score in I.
    θ = kth best exact score of the cheapest term gives a valid lower bound;
    intervals with bound < θ are skipped — blocks no surviving interval
    touches are never decoded. Results are identical to dense scoring
    (asserted in tests/test_search_engine.py).
    """
    terms = list(term_weights)

    def score_fn(post: pd.DataFrame, aux: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "local_doc_id": pd.Series([], dtype="int32"),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if post.empty or aux.empty:
            return empty
        n_docs = int(aux["n_docs"].iloc[0])
        doc_lens = np.frombuffer(aux["doc_len_packed"].iloc[0], dtype=np.uint32)
        dl_eff = effective_doc_length(doc_lens, quantize=quantize)
        allowed = _allowed_mask(aux, n_docs)

        c0 = k1 * (1.0 - b)  # norm constant part
        c1 = k1 * b / avgdl  # norm length coefficient

        post = post.sort_values(["term", "first_doc"])
        by_term = {t: g for t, g in post.groupby("term", sort=False)}
        present = [t for t in terms if t in by_term]
        if not present:
            return empty

        keep_blocks: dict[str, np.ndarray] | None = None
        if use_pruning and need <= 1 and len(present) > 1:
            keep_blocks = _prune_blocks(
                by_term, present, term_weights, dl_eff, allowed, k, c0, c1, k1
            )

        score = np.zeros(n_docs, dtype=np.float64)
        nmatch = np.zeros(n_docs, dtype=np.int32)
        for t in present:
            g = by_term[t]
            if keep_blocks is not None:
                g = g.iloc[keep_blocks[t]]
                if g.empty:
                    continue
            docs, tfs = _decode_term(g)
            tfn = (tfs * (k1 + 1.0)) / (tfs + c0 + c1 * dl_eff[docs])
            score[docs] += term_weights[t] * tfn
            nmatch[docs] += 1

        mask = nmatch >= need
        if allowed is not None:
            mask &= allowed
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return empty
        cscores = score[cand]
        if cand.size > k:
            # tie-aware top-k: keep everything above the kth score plus ALL
            # docs tied at it — the global gather breaks ties on the real
            # key columns (merged segments interleave key order, so a
            # local-id cut inside the tie group would be unsound)
            part = np.argpartition(-cscores, k - 1)
            theta = cscores[part[k - 1]]
            sel = cscores >= theta
            cand, cscores = cand[sel], cscores[sel]
        order = np.lexsort((cand, -cscores))
        cand, cscores = cand[order], cscores[order]
        return pd.DataFrame({"local_doc_id": cand.astype(np.int32), "score": cscores})

    return score_fn


def _prune_blocks(
    by_term: dict[str, pd.DataFrame],
    present: list[str],
    weights: dict[str, float],
    dl_eff: np.ndarray,
    allowed: np.ndarray | None,
    k: int,
    c0: float,
    c1: float,
    k1: float,
) -> dict[str, np.ndarray]:
    """Interval block-max pruning; returns surviving block positions per term."""
    ranges: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for t in present:
        g = by_term[t]
        first = g["first_doc"].to_numpy(np.int64)
        last = g["last_doc"].to_numpy(np.int64)
        max_tf = g["max_tf"].to_numpy(np.float64)
        min_dl = g["min_dl_eff"].to_numpy(np.float64)
        ub = weights[t] * (max_tf * (k1 + 1.0)) / (max_tf + c0 + c1 * min_dl)
        ranges[t] = (first, last, ub)

    # θ: exact kth-best single-term lower bound from the cheapest term
    seed = min(present, key=lambda t: len(by_term[t]))
    sdocs, stfs = _decode_term(by_term[seed])
    s_scores = weights[seed] * (stfs * (k1 + 1.0)) / (
        stfs + c0 + c1 * dl_eff[sdocs]
    )
    if allowed is not None:
        s_scores = s_scores[allowed[sdocs]]
    theta = float(np.partition(s_scores, -k)[-k]) if len(s_scores) > k else 0.0

    keep: dict[str, np.ndarray] = {}
    if theta <= 0.0:
        for t in present:
            keep[t] = np.arange(len(ranges[t][0]))
        return keep

    cuts = np.unique(
        np.concatenate([np.concatenate([r[0], r[1] + 1]) for r in ranges.values()])
    )
    iv_starts = cuts[:-1]
    n_iv = len(iv_starts)
    bound = np.zeros(n_iv, dtype=np.float64)
    cover: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t in present:
        first, last, ub = ranges[t]
        bi = np.searchsorted(first, iv_starts, side="right") - 1
        bic = np.clip(bi, 0, None)
        valid = (bi >= 0) & (iv_starts <= last[bic])
        bound += np.where(valid, ub[bic], 0.0)
        cover[t] = (bic, valid)
    alive = bound >= theta
    for t in present:
        bic, valid = cover[t]
        keep[t] = np.unique(bic[valid & alive])
    return keep


def search_topk(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    operator: str = "or",
    minimum_should_match: int = 1,
    filter_cond: Column | None = None,
    use_pruning: bool = True,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    local_postings_limit: int = 2_000_000,
    alias: str | None = None,
) -> DataFrame:
    """match-query top-k: analyze text → BM25 union/intersection → top-k.

    Reference semantics: index/search/MatchQuery.java:167-230 (OR default,
    minimum_should_match, AND operator); BM25 with global DFS stats; filters
    are non-scoring (filter context). Returns ≤ k rows
    (key_cols..., extra_cols..., score) in (score DESC, key ASC) order.

    ``alias``: search through a named filtered alias — the alias's stored
    predicate (index/aliases.py, IndexAliasesService.java analog) is
    AND-combined with ``filter_cond`` and applied as ordinary non-scoring
    filter context.

    ``mode``: "spark" always scatters the scoring over executors (the
    distributed path — required at cluster scale); "local" scores on the
    driver with the same numpy kernel over pyarrow-pruned postings reads
    (the single-node reference engine answers queries without any job
    scheduling — this path matches that latency class); "auto" picks
    "local" when the query's total matched postings (Σ df from the DFS
    stats) fit under ``local_postings_limit`` and the index is
    driver-readable, else "spark". Both paths share the scorer and are
    asserted identical in tests.
    """
    cfg = reader.cfg
    key_cols = list(cfg.key_cols)
    if alias is not None:
        from elasticsearch_spark.index.aliases import alias_filter

        filter_cond = alias_filter(reader, alias, filter_cond)

    tokens = tokenize_text(query_text, cfg.analyzer)
    if not tokens:
        return _empty_result(reader, extra_cols)

    stats = reader.query_term_stats(tokens)
    uniq = list(dict.fromkeys(tokens))
    present = [t for t in uniq if stats.get(t, (0, 0))[0] > 0]
    need = len(uniq) if operator == "and" else max(1, minimum_should_match)
    if operator == "and" and len(present) < len(uniq):
        return _empty_result(reader, extra_cols)
    if not present:
        return _empty_result(reader, extra_cols)

    n = reader.n_docs
    weights = {
        t: tokens.count(t) * lucene_idf(n, stats[t][0]) for t in present
    }

    score_fn = _segment_scorer(
        weights, need, k, cfg.bm25.k1, cfg.bm25.b, reader.avgdl, use_pruning,
        cfg.bm25.quantize_norms,
    )
    est = sum(stats[t][0] for t in present)
    return _execute(
        reader, score_fn, present, k, filter_cond, list(extra_cols), mode, est,
        local_postings_limit, _MATCH_COLUMNS,
    )


def terms_topk(
    reader: IndexReader,
    terms: Sequence[str],
    k: int = 10,
    minimum_should_match: int = 1,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    local_postings_limit: int = 2_000_000,
) -> DataFrame:
    """Disjunctive BM25 over PRE-ANALYZED dictionary terms — no analyzer
    round-trip. This is the scoring tail of every MultiTermQuery rewrite
    (fuzzy/MLT/fuzzy_like_this expansions pick terms straight from the term
    dictionary; re-tokenizing them through a stemming/synonym analyzer
    could transform or drop the very terms that were selected). Each term
    scores with weight = multiplicity · idf, exactly like search_topk."""
    terms = list(terms)
    if not terms:
        return _empty_result(reader, extra_cols)
    stats = reader.query_term_stats(terms)
    uniq = list(dict.fromkeys(terms))
    present = [t for t in uniq if stats.get(t, (0, 0))[0] > 0]
    if not present:
        return _empty_result(reader, extra_cols)
    need = max(1, minimum_should_match)
    n = reader.n_docs
    cfg = reader.cfg
    weights = {
        t: terms.count(t) * lucene_idf(n, stats[t][0]) for t in present
    }
    score_fn = _segment_scorer(
        weights, need, k, cfg.bm25.k1, cfg.bm25.b, reader.avgdl, True,
        cfg.bm25.quantize_norms,
    )
    est = sum(stats[t][0] for t in present)
    return _execute(
        reader, score_fn, present, k, filter_cond, list(extra_cols), mode, est,
        local_postings_limit, _MATCH_COLUMNS,
    )


def fuzzy_search_topk(
    reader: IndexReader,
    query_term: str,
    fuzziness: int = 2,
    prefix_length: int = 0,
    k: int = 10,
    max_expansions: int = 50,
    **kw,
) -> DataFrame:
    """fuzzy query over the INDEXED term dictionary (FuzzyQueryParser.java →
    MultiTermQuery rewrite): expand ``query_term`` within ``fuzziness``
    edits against reader.termstats() — a vocabulary-sized scan with
    length-window + prefix pushdown before the levenshtein — then score the
    expansion disjunctively via terms_topk. This is the scale path; the
    corpus-explode variant in query/online.py is the index-less fallback.

    ``max_expansions`` mirrors Lucene FuzzyQuery's top-terms rewrite
    (default 50): keep the closest-edit terms first (Lucene's boost order),
    breaking ties by df desc then term asc. The df-desc tiebreak is a
    deliberate divergence: Lucene's TopTermsRewrite breaks equal-boost ties
    by term order alone; preferring the higher-df term keeps the expansion
    set's recall higher at the same cap. Either way a bounded set, so a
    short term with fuzziness=2 over a 10^8-term dictionary cannot push a
    giant In() filter through the plan. The top-terms cut runs in Spark
    (TakeOrderedAndProject over the pushed candidate scan); only the ≤50
    winners reach the driver."""
    from elasticsearch_spark.ops.filters import fuzzy_terms

    q = (tokenize_text(query_term, reader.cfg.analyzer) or [""])[0]
    if not q:
        return _empty_result(reader, ())
    cand = reader.termstats().where(
        (F.length("term") >= len(q) - fuzziness)
        & (F.length("term") <= len(q) + fuzziness)
    )
    if prefix_length > 0:
        cand = cand.where(F.col("term").startswith(q[:prefix_length]))
    matched = fuzzy_terms(cand, "term", q, fuzziness).withColumn(
        "__dist", F.levenshtein(F.col("term"), F.lit(q))
    )
    if max_expansions is not None:
        matched = matched.orderBy(
            F.col("__dist").asc(), F.col("df").desc(), F.col("term").asc()
        ).limit(int(max_expansions))
    expanded = sorted(r["term"] for r in matched.select("term").collect())
    if not expanded:
        return _empty_result(reader, ())
    return terms_topk(reader, expanded, k=k, **kw)


# postings columns the match scorer touches (positions pruned away)
_MATCH_COLUMNS = [
    "term", "block_id", "n_docs", "first_doc", "last_doc", "max_tf",
    "min_dl_eff", "docs_packed", "tfs_packed",
]
_PHRASE_COLUMNS = _MATCH_COLUMNS + ["pos_packed"]


def phrase_topk(
    reader: IndexReader,
    phrase_text: str,
    k: int = 10,
    slop: int = 0,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    local_postings_limit: int = 2_000_000,
) -> DataFrame:
    """match_phrase top-k over the positional index.

    Reference semantics: index/search/MatchQuery.java:215-220 builds a Lucene
    PhraseQuery; with slop=0 scoring matches ExactPhraseScorer exactly —
    freq(doc) = number of positions p where term_i occurs at p+i for all i,
    score = (Σ_i idf(term_i)) · tfNorm(freq) with the standard BM25 norm.
    slop>0 uses bounded-displacement semantics: an anchor position p of the
    first term matches if every later term has an occurrence within ``slop``
    of its expected position p+i (each occurrence counts 1 toward freq —
    unlike Lucene's 1/(1+matchLength) weighting; divergence documented, the
    PyRefEngine oracle implements the same definition).
    """
    cfg = reader.cfg
    tokens = tokenize_text(phrase_text, cfg.analyzer)
    if not tokens:
        return _empty_result(reader, extra_cols)
    stats = reader.query_term_stats(tokens)
    if any(stats.get(t, (0, 0))[0] == 0 for t in tokens):
        return _empty_result(reader, extra_cols)
    if not reader.cfg.index_positions:
        raise ValueError("index was built with index_positions=False")

    n = reader.n_docs
    sum_idf = float(sum(lucene_idf(n, stats[t][0]) for t in tokens))
    score_fn = _segment_phrase_scorer(
        tokens, sum_idf, slop, k, cfg.bm25.k1, cfg.bm25.b, reader.avgdl,
        cfg.bm25.quantize_norms,
    )
    present = list(dict.fromkeys(tokens))
    est = sum(stats[t][1] for t in present)  # ttf: positions volume
    return _execute(
        reader, score_fn, present, k, filter_cond, list(extra_cols), mode, est,
        local_postings_limit, _PHRASE_COLUMNS,
    )


def _segment_phrase_scorer(
    tokens: list[str],
    sum_idf: float,
    slop: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    quantize: bool,
):
    """Vectorized per-segment phrase matcher + BM25 scorer.

    Positions are flattened to sortable keys ``doc << SHIFT | (pos - i)``;
    an exact phrase is the k-way sorted intersection of the per-offset key
    sets (docs never collide across the SHIFT boundary because within-doc
    positions < 2^SHIFT and doc gaps exceed any slop)."""
    SHIFT = 22  # max 4M positions per doc

    def score_fn(post: pd.DataFrame, aux: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "local_doc_id": pd.Series([], dtype="int32"),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if post.empty or aux.empty:
            return empty
        n_docs = int(aux["n_docs"].iloc[0])
        doc_lens = np.frombuffer(aux["doc_len_packed"].iloc[0], dtype=np.uint32)
        dl_eff = effective_doc_length(doc_lens, quantize=quantize)
        allowed = _allowed_mask(aux, n_docs)

        post = post.sort_values(["term", "first_doc"])
        by_term = {t: g for t, g in post.groupby("term", sort=False)}
        if any(t not in by_term for t in set(tokens)):
            return empty

        decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for t in set(tokens):
            docs, tfs, pos = _decode_term_pos(by_term[t])
            decoded[t] = (docs, tfs.astype(np.int64), pos)

        anchors = None
        for i, t in enumerate(tokens):
            docs, tfs, pos = decoded[t]
            doc_of_pos = np.repeat(docs, tfs)
            adj = pos.astype(np.int64) - i
            if slop == 0:
                # exact path: an anchor is a position of term 0 (adj >= 0), so
                # negative adj can never intersect — dropping it also keeps
                # keys unique for intersect1d(assume_unique)
                valid = adj >= 0
                keys = (doc_of_pos[valid] << SHIFT) + adj[valid]
            else:
                # sloppy path: keep negative adj — a term occurring before its
                # phrase offset (q < i) is still within slop of an anchor near
                # document start. doc << SHIFT dominates, so a negative low
                # part stays inside the doc's key range (doc gaps >> slop).
                keys = (doc_of_pos << SHIFT) + adj
            if anchors is None:
                anchors = keys
            elif slop == 0:
                anchors = np.intersect1d(anchors, keys, assume_unique=True)
            else:
                if anchors.size == 0 or keys.size == 0:
                    anchors = np.array([], dtype=np.int64)
                    break
                idx = np.searchsorted(keys, anchors)
                left = np.abs(keys[np.clip(idx - 1, 0, keys.size - 1)] - anchors)
                right = np.abs(keys[np.clip(idx, 0, keys.size - 1)] - anchors)
                anchors = anchors[np.minimum(left, right) <= slop]
            if anchors.size == 0:
                return empty

        match_docs = (anchors >> SHIFT).astype(np.int64)
        udocs, freqs = np.unique(match_docs, return_counts=True)
        if allowed is not None:
            keep = allowed[udocs]
            udocs, freqs = udocs[keep], freqs[keep]
        if udocs.size == 0:
            return empty
        c0 = k1 * (1.0 - b)
        c1 = k1 * b / avgdl
        f = freqs.astype(np.float64)
        score = sum_idf * (f * (k1 + 1.0)) / (f + c0 + c1 * dl_eff[udocs])
        cand, cscores = udocs, score
        if cand.size > k:
            part = np.argpartition(-cscores, k - 1)
            theta = cscores[part[k - 1]]
            sel = cscores >= theta
            cand, cscores = cand[sel], cscores[sel]
        order = np.lexsort((cand, -cscores))
        cand, cscores = cand[order], cscores[order]
        return pd.DataFrame({"local_doc_id": cand.astype(np.int32), "score": cscores})

    return score_fn


def _anchors_to_topk(
    anchors: np.ndarray,
    allowed: np.ndarray | None,
    dl_eff: np.ndarray,
    sum_idf: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    shift: int,
    empty: pd.DataFrame,
) -> pd.DataFrame:
    """Shared phrase-scorer tail: anchor keys → per-doc freq → BM25 top-k."""
    match_docs = (anchors >> shift).astype(np.int64)
    udocs, freqs = np.unique(match_docs, return_counts=True)
    if allowed is not None:
        keep = allowed[udocs]
        udocs, freqs = udocs[keep], freqs[keep]
    if udocs.size == 0:
        return empty
    c0 = k1 * (1.0 - b)
    c1 = k1 * b / avgdl
    f = freqs.astype(np.float64)
    score = sum_idf * (f * (k1 + 1.0)) / (f + c0 + c1 * dl_eff[udocs])
    cand, cscores = udocs, score
    if cand.size > k:
        part = np.argpartition(-cscores, k - 1)
        theta = cscores[part[k - 1]]
        sel = cscores >= theta
        cand, cscores = cand[sel], cscores[sel]
    order = np.lexsort((cand, -cscores))
    cand, cscores = cand[order], cscores[order]
    return pd.DataFrame({"local_doc_id": cand.astype(np.int32), "score": cscores})


def phrase_prefix_topk(
    reader: IndexReader,
    text: str,
    k: int = 10,
    max_expansions: int = 50,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    local_postings_limit: int = 2_000_000,
) -> DataFrame:
    """match_phrase_prefix top-k over the positional index.

    Reference semantics: index/search/MatchQuery.java:215-220 builds a
    MultiPhrasePrefixQuery — the final position matches ANY term whose
    prefix is the last analyzed token, expansion capped at ``max_expansions``
    (Lucene default 50) in term-dictionary order. Exact positions (slop=0):
    freq(doc) = #anchors p with term_i at p+i for the fixed terms and any
    expansion at p+(n-1); score = (Σ idf(fixed) + Σ idf(expansions)) ·
    tfNorm(freq) — Lucene MultiPhraseQuery sums the idf of every term it
    unions (TermStatistics list in idfExplain).
    """
    cfg = reader.cfg
    tokens = tokenize_text(text, cfg.analyzer)
    if not tokens:
        return _empty_result(reader, extra_cols)
    if not cfg.index_positions:
        raise ValueError("index was built with index_positions=False")
    fixed, prefix = tokens[:-1], tokens[-1]
    exp = reader.prefix_term_stats(prefix, max_expansions)
    if not exp:
        return _empty_result(reader, extra_cols)
    stats = reader.query_term_stats(fixed)
    if any(stats.get(t, (0, 0))[0] == 0 for t in fixed):
        return _empty_result(reader, extra_cols)

    n = reader.n_docs
    sum_idf = float(
        sum(lucene_idf(n, stats[t][0]) for t in fixed)
        + sum(lucene_idf(n, df) for _, df, _ in exp)
    )
    exp_terms = [t for t, _, _ in exp]
    score_fn = _segment_phrase_prefix_scorer(
        fixed, exp_terms, sum_idf, k, cfg.bm25.k1, cfg.bm25.b, reader.avgdl,
        cfg.bm25.quantize_norms,
    )
    present = list(dict.fromkeys([*fixed, *exp_terms]))
    est = sum(stats[t][1] for t in dict.fromkeys(fixed)) + sum(
        ttf for _, _, ttf in exp
    )
    return _execute(
        reader, score_fn, present, k, filter_cond, list(extra_cols), mode, est,
        local_postings_limit, _PHRASE_COLUMNS,
    )


def _segment_phrase_prefix_scorer(
    fixed: list[str],
    exp_terms: list[str],
    sum_idf: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    quantize: bool,
):
    """Per-segment MultiPhrasePrefix matcher: the prefix position is the
    sorted union of the expansion terms' position keys."""
    SHIFT = 22
    prefix_offset = len(fixed)

    def score_fn(post: pd.DataFrame, aux: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "local_doc_id": pd.Series([], dtype="int32"),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if post.empty or aux.empty:
            return empty
        n_docs = int(aux["n_docs"].iloc[0])
        doc_lens = np.frombuffer(aux["doc_len_packed"].iloc[0], dtype=np.uint32)
        dl_eff = effective_doc_length(doc_lens, quantize=quantize)
        allowed = _allowed_mask(aux, n_docs)

        post = post.sort_values(["term", "first_doc"])
        by_term = {t: g for t, g in post.groupby("term", sort=False)}
        if any(t not in by_term for t in set(fixed)):
            return empty
        exp_present = [t for t in exp_terms if t in by_term]
        if not exp_present:
            return empty

        def keys_of(t: str, offset: int) -> np.ndarray:
            docs, tfs, pos = _decode_term_pos(by_term[t])
            doc_of_pos = np.repeat(docs, tfs.astype(np.int64))
            adj = pos.astype(np.int64) - offset
            valid = adj >= 0  # exact positions: negative adj can't anchor
            return (doc_of_pos[valid] << SHIFT) + adj[valid]

        # union over expansions (one token per position → keys are unique)
        union_keys = np.sort(
            np.concatenate([keys_of(t, prefix_offset) for t in exp_present])
        )
        anchors = None
        for i, t in enumerate(fixed):
            keys = keys_of(t, i)
            anchors = (
                keys if anchors is None
                else np.intersect1d(anchors, keys, assume_unique=True)
            )
            if anchors.size == 0:
                return empty
        anchors = (
            union_keys if anchors is None
            else np.intersect1d(anchors, union_keys, assume_unique=True)
        )
        if anchors.size == 0:
            return empty
        return _anchors_to_topk(
            anchors, allowed, dl_eff, sum_idf, k, k1, b, avgdl, SHIFT, empty
        )

    return score_fn


def query_string_search(
    reader: IndexReader,
    query: str,
    k: int = 10,
    minimum_should_match: int = 1,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    local_postings_limit: int = 2_000_000,
    filter_fields: frozenset[str] | set[str] = frozenset(
        {"role", "tool", "conv_id", "ts"}
    ),
) -> DataFrame:
    """Lucene-syntax query_string execution (QueryStringQueryParser.java
    subset — see query/ast.py for the grammar and the scoring contract).

    Keyword-field / range sub-clauses (``filter_fields`` — must be stored
    columns of the index) become filter context; the scored tree is
    flattened to BooleanQuery clauses executed by the general bool scorer.
    """
    from elasticsearch_spark.query.ast import parse_query_string

    cfg = reader.cfg
    pq = parse_query_string(
        query, lambda s: tokenize_text(s, cfg.analyzer), set(filter_fields)
    )
    parsed_filter = pq.filter_cond()
    if parsed_filter is not None:
        filter_cond = (
            parsed_filter if filter_cond is None else (filter_cond & parsed_filter)
        )
    if not pq.clauses:
        if filter_cond is None:
            return _empty_result(reader, extra_cols)
        # pure filter query: constant score 1.0, key-ordered (filtered
        # match_all — ConstantScoreQuery semantics); tombstones excluded
        from elasticsearch_spark.index.deletes import live_docs

        out = (
            live_docs(reader)
            .where(filter_cond)
            .select(*cfg.key_cols, *extra_cols)
            .withColumn("score", F.lit(1.0))
            .orderBy(*[F.col(c).asc() for c in cfg.key_cols])
            .limit(k)
        )
        return out

    all_terms = sorted(
        {t for c in pq.clauses for t in (c.terms or [])}
        | {t for c in pq.clauses if c.phrase for t in c.phrase}
    )
    stats = reader.query_term_stats(all_terms)
    n = reader.n_docs

    prepared = []  # (occur, kind, payload)
    for c in pq.clauses:
        if c.phrase is not None:
            missing = [t for t in c.phrase if stats.get(t, (0, 0))[0] == 0]
            if missing:
                if c.occur == "must":
                    return _empty_result(reader, extra_cols)
                continue  # unmatched optional/prohibited phrase: no effect
            sum_idf = float(sum(lucene_idf(n, stats[t][0]) for t in c.phrase))
            prepared.append((c.occur, "phrase", (c.phrase, c.slop, sum_idf)))
        else:
            present = [t for t in c.terms if stats.get(t, (0, 0))[0] > 0]
            if not present:
                if c.occur == "must":
                    return _empty_result(reader, extra_cols)
                continue
            weights = {t: lucene_idf(n, stats[t][0]) for t in present}
            prepared.append((c.occur, "terms", weights))
    if not any(occ != "must_not" for occ, _, _ in prepared):
        return _empty_result(reader, extra_cols)

    score_fn = _segment_bool_scorer(
        prepared, minimum_should_match, k, cfg.bm25.k1, cfg.bm25.b,
        reader.avgdl, cfg.bm25.quantize_norms,
    )
    needed = sorted(
        {t for occ, kind, p in prepared
         for t in (p[0] if kind == "phrase" else p.keys())}
    )
    est = sum(stats.get(t, (0, 0))[0] for t in needed)
    needs_pos = any(kind == "phrase" for _, kind, _ in prepared)
    cols = _PHRASE_COLUMNS if needs_pos else _MATCH_COLUMNS
    return _execute(
        reader, score_fn, needed, k, filter_cond, list(extra_cols), mode, est,
        local_postings_limit, cols,
    )


def common_terms_search(
    reader: IndexReader,
    query_text: str,
    cutoff_frequency: float = 0.01,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    local_postings_limit: int = 2_000_000,
) -> DataFrame:
    """common terms query (CommonTermsQueryParser.java, 229 LoC).

    Terms are split at the document-frequency cutoff (df/N >
    cutoff_frequency → high). The low-frequency group is required
    (any-of/OR, the default low_freq_operator) and scores; the
    high-frequency group is optional and only contributes score — the
    stop-word-free way to keep 'the'/'a' from gating matches. If no
    low-frequency term exists in the index the high group gates instead
    (Lucene CommonTermsQuery degenerates to the plain disjunction).
    """
    from elasticsearch_spark.ops.mlt import common_terms_split

    low, high = common_terms_split(reader, query_text, cutoff_frequency)
    stats = reader.query_term_stats(low + high)
    n = reader.n_docs
    lw = {t: lucene_idf(n, stats[t][0]) for t in low if stats.get(t, (0, 0))[0] > 0}
    hw = {t: lucene_idf(n, stats[t][0]) for t in high if stats.get(t, (0, 0))[0] > 0}
    prepared = []
    if lw:
        prepared.append(("must", "terms", lw))
        if hw:
            prepared.append(("should", "terms", hw))
    elif hw:
        prepared.append(("should", "terms", hw))
    else:
        return _empty_result(reader, extra_cols)

    cfg = reader.cfg
    score_fn = _segment_bool_scorer(
        prepared, 1, k, cfg.bm25.k1, cfg.bm25.b, reader.avgdl,
        cfg.bm25.quantize_norms,
    )
    needed = sorted({*lw, *hw})
    est = sum(stats[t][0] for t in needed)
    return _execute(
        reader, score_fn, needed, k, filter_cond, list(extra_cols), mode, est,
        local_postings_limit, _MATCH_COLUMNS,
    )


def simple_query_string_search(
    reader: IndexReader,
    query: str,
    k: int = 10,
    **kw,
) -> DataFrame:
    """simple_query_string: fault-tolerant user syntax
    (SimpleQueryStringParser.java, reg. IndicesQueriesModule:104) — never
    raises on malformed input; any parse/plan failure degrades to treating
    the whole input as a plain match query (lenient mode)."""
    try:
        return query_string_search(reader, query, k=k, **kw)
    except Exception:
        import re

        cleaned = re.sub(r'["()\[\]+\-~^:]', " ", query)
        return search_topk(reader, cleaned, k=k)


def _segment_bool_scorer(
    prepared: list,
    msm: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    quantize: bool,
):
    """General BooleanQuery scorer: clause = any-of term set or a phrase.

    score(doc) = Σ over matching positive clauses of their BM25
    contributions (every matching term counts — Lucene BooleanQuery sums all
    matching SHOULD/MUST sub-scorers); must clauses required, must_not
    exclude, msm applies only when no must clause exists (BooleanQuery
    default minimumNumberShouldMatch behavior)."""
    SHIFT = 22
    has_must = any(occ == "must" for occ, _, _ in prepared)

    def score_fn(post: pd.DataFrame, aux: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "local_doc_id": pd.Series([], dtype="int32"),
                "score": pd.Series([], dtype="float64"),
            }
        )
        if post.empty or aux.empty:
            return empty
        n_docs = int(aux["n_docs"].iloc[0])
        doc_lens = np.frombuffer(aux["doc_len_packed"].iloc[0], dtype=np.uint32)
        dl_eff = effective_doc_length(doc_lens, quantize=quantize)
        allowed = _allowed_mask(aux, n_docs)

        post = post.sort_values(["term", "first_doc"])
        by_term = {t: g for t, g in post.groupby("term", sort=False)}
        c0 = k1 * (1.0 - b)
        c1 = k1 * b / avgdl
        term_cache: dict[str, tuple] = {}

        def decoded(t, with_pos):
            key = (t, with_pos)
            if key not in term_cache:
                g = by_term.get(t)
                if g is None:
                    term_cache[key] = None
                elif with_pos:
                    term_cache[key] = _decode_term_pos(g)
                else:
                    term_cache[key] = _decode_term(g)
            return term_cache[key]

        score = np.zeros(n_docs, dtype=np.float64)
        must_ok = np.ones(n_docs, dtype=bool) if has_must else None
        n_should = np.zeros(n_docs, dtype=np.int32)
        banned = np.zeros(n_docs, dtype=bool)
        any_positive = False

        for occ, kind, payload in prepared:
            matched = np.zeros(n_docs, dtype=bool)
            contrib = np.zeros(n_docs, dtype=np.float64)
            if kind == "terms":
                for t, w in payload.items():
                    dec = decoded(t, False)
                    if dec is None:
                        continue
                    docs, tfs = dec
                    tfn = (tfs * (k1 + 1.0)) / (tfs + c0 + c1 * dl_eff[docs])
                    contrib[docs] += w * tfn
                    matched[docs] = True
            else:  # phrase
                tokens, slop, sum_idf = payload
                anchors = None
                dead = False
                for i, t in enumerate(tokens):
                    dec = decoded(t, True)
                    if dec is None:
                        dead = True
                        break
                    docs, tfs, pos = dec
                    doc_of_pos = np.repeat(docs, tfs.astype(np.int64))
                    adj = pos.astype(np.int64) - i
                    if slop == 0:
                        # see _segment_phrase_scorer: negative adj can't
                        # intersect an anchor on the exact path
                        valid = adj >= 0
                        keys = (doc_of_pos[valid] << SHIFT) + adj[valid]
                    else:
                        # keep negative adj so slop matches near doc start
                        keys = (doc_of_pos << SHIFT) + adj
                    if anchors is None:
                        anchors = keys
                    elif slop == 0:
                        anchors = np.intersect1d(anchors, keys, assume_unique=True)
                    else:
                        if anchors.size == 0 or keys.size == 0:
                            anchors = np.array([], dtype=np.int64)
                            break
                        idx = np.searchsorted(keys, anchors)
                        left = np.abs(keys[np.clip(idx - 1, 0, keys.size - 1)] - anchors)
                        right = np.abs(keys[np.clip(idx, 0, keys.size - 1)] - anchors)
                        anchors = anchors[np.minimum(left, right) <= slop]
                if not dead and anchors is not None and anchors.size:
                    udocs, freqs = np.unique(
                        (anchors >> SHIFT).astype(np.int64), return_counts=True
                    )
                    f = freqs.astype(np.float64)
                    contrib[udocs] = sum_idf * (f * (k1 + 1.0)) / (
                        f + c0 + c1 * dl_eff[udocs]
                    )
                    matched[udocs] = True

            if occ == "must_not":
                banned |= matched
            elif occ == "must":
                must_ok &= matched
                score += contrib
                any_positive = True
            else:
                n_should += matched.astype(np.int32)
                score += contrib
                any_positive = True

        if not any_positive:
            return empty
        mask = ~banned
        if has_must:
            mask &= must_ok
        else:
            mask &= n_should >= max(1, msm)
        if allowed is not None:
            mask &= allowed
        cand = np.flatnonzero(mask & (score > 0.0))
        if cand.size == 0:
            return empty
        cscores = score[cand]
        if cand.size > k:
            part = np.argpartition(-cscores, k - 1)
            theta = cscores[part[k - 1]]
            sel = cscores >= theta
            cand, cscores = cand[sel], cscores[sel]
        order = np.lexsort((cand, -cscores))
        cand, cscores = cand[order], cscores[order]
        return pd.DataFrame({"local_doc_id": cand.astype(np.int32), "score": cscores})

    return score_fn


def _decode_term_pos(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one term's blocks → (doc_ids, tfs, absolute positions flat).

    pos_packed holds per-doc delta positions; absolute = segmented cumsum
    (reset at entry starts), vectorized via offset subtraction."""
    docs_parts, tf_parts, pos_parts = [], [], []
    for nd, db, tb, pb in zip(
        g["n_docs"], g["docs_packed"], g["tfs_packed"], g["pos_packed"]
    ):
        docs_parts.append(delta_decode(unpack_u32(db, nd)))
        tfs = unpack_u32(tb, nd)
        tf_parts.append(tfs)
        n_pos = int(tfs.sum())
        deltas = unpack_u32(pb, n_pos).astype(np.int64)
        # segmented cumsum: plain cumsum, then subtract the carry-over at
        # each entry start
        cs = np.cumsum(deltas)
        starts = np.cumsum(tfs.astype(np.int64))[:-1]
        carry = np.zeros(n_pos, dtype=np.int64)
        if starts.size:
            carry_vals = cs[starts - 1]
            carry[starts] = np.diff(np.concatenate([[0], carry_vals]))
            carry = np.cumsum(carry)
        pos_parts.append(cs - carry)
    return (
        np.concatenate(docs_parts).astype(np.int64),
        np.concatenate(tf_parts),
        np.concatenate(pos_parts),
    )


def _execute(
    reader: IndexReader,
    score_fn,
    present: list[str],
    k: int,
    filter_cond: Column | None,
    extra_cols: list[str],
    mode: str,
    est_postings: int,
    local_postings_limit: int,
    columns: list[str],
    postings_df: DataFrame | None = None,
) -> DataFrame:
    """Shared scatter/gather/fetch pipeline for match and phrase queries.

    ``postings_df``: pre-built postings scan (already term-pruned and
    term-namespaced) replacing ``reader.postings()`` — the
    field_masking_span path, which unions postings from two position-
    aligned indexes. Forces the distributed path (the driver-local
    fastpath reads a single index directory)."""
    key_cols = list(reader.cfg.key_cols)

    if postings_df is None and (mode == "local" or (
        mode == "auto"
        and est_postings <= local_postings_limit
        and fsio.driver_readable(reader.index_dir)
    )):
        allowed_map = None
        if filter_cond is not None:
            # one narrow Spark job: per-segment filter sets (smaller polarity
            # per segment — see _filter_sets); tiny result, collected
            allowed_map = {
                r["segment_id"]: (r["f_mode"], r["f_ids"])
                for r in _filter_sets(reader, filter_cond).collect()
            }
        from elasticsearch_spark.index.deletes import deletes_map

        local = _local_search(
            reader, score_fn, present, key_cols, extra_cols, k, columns,
            allowed_map, deletes_map(reader),
        )
        if local is not None:
            return local

    postings = (
        reader.postings()
        .where(F.col("term").isin(present))
        .select("segment_id", *columns)
    ) if postings_df is None else postings_df.select("segment_id", *columns)
    aux = reader.norms().select("segment_id", "n_docs", "doc_len_packed")
    from elasticsearch_spark.index.deletes import deletes_df

    dels = deletes_df(reader)
    if dels is not None:  # liveDocs: one tiny array per tombstoned segment
        aux = aux.join(F.broadcast(dels), "segment_id", "left")
    if filter_cond is not None:
        # per-segment filter sets computed entirely JVM-side (columnar scan +
        # hash agg — the filter-context bitset analog, index/cache/filter/);
        # one array per segment, never larger than the smaller filter side
        aux = aux.join(_filter_sets(reader, filter_cond), "segment_id", "inner")

    def cogroup_fn(key, post: pd.DataFrame, aux_pdf: pd.DataFrame) -> pd.DataFrame:
        out = score_fn(post, aux_pdf)
        out["segment_id"] = key[0]
        return out

    cand = (
        postings.groupBy("segment_id")
        .cogroup(aux.groupBy("segment_id"))
        .applyInPandas(cogroup_fn, "local_doc_id int, score double, segment_id string")
    )

    # gather: ≤ k rows (plus score ties) per segment reach the driver — the
    # TopDocs.merge scatter/gather boundary
    # (search/controller/SearchPhaseController.java:144-234). Prune to the
    # global top-k tie group, then run the fetch phase (_fetch): on a
    # driver-readable index one pruned pyarrow read of the winners' segment
    # doc tables (FetchPhase.java:103-157 — the coordinator loads k stored
    # documents; a distributed join for k rows is waste).
    #
    # distributed-merge escape hatch: on a pre-merge index with 10^4-10^5
    # segments the per-segment top-k rows alone would swamp the driver —
    # past the budget, rank() keeps exactly the global top-k tie group the
    # driver-side theta cut below would keep (results identical), so only
    # <= k(+ties) rows ever reach collect(). The single-partition window
    # sorts <= segments x k narrow rows JVM-side — the lesser evil by far.
    if _n_segments(reader) * k > _GATHER_MAX_ROWS:
        from pyspark.sql import Window

        w = Window.orderBy(F.col("score").desc())
        cand = (
            cand.withColumn("__rnk", F.rank().over(w))
            .where(F.col("__rnk") <= k)
            .drop("__rnk")
        )
    rows = cand.collect()
    if not rows:
        return _empty_result(reader, extra_cols)
    win = _cut_to_ties(pd.DataFrame([r.asDict() for r in rows]), k)
    fetched = _fetch(reader, win, key_cols, extra_cols)
    return _topk_frame(reader, fetched, extra_cols, k)


def _local_search(reader, score_fn, present, key_cols, extra_cols, k,
                  columns=None, allowed_map=None, del_map=None):
    """Driver-local query execution: same numpy scorer, pyarrow-pruned reads.

    The per-segment loop below is the exact computation each executor runs in
    the distributed path; a single driver runs it when the matched postings
    volume is small. Returns None if the index layout is not driver-readable
    (caller falls back to the Spark path).
    """
    import pyarrow.dataset as ds

    try:
        # dataset discovery + norms are cached per index layout on the
        # reader (invalidated on segment adds/removes via dir mtime) — they
        # were per-query fixed costs dominating warm local-path latency
        post_ds = reader.local_dataset("postings")
        if post_ds is None:
            post_ds = fsio.dataset(
                _ijoin(reader.index_dir, "postings"), partitioning="hive"
            )
        tbl = post_ds.to_table(
            filter=ds.field("term").isin(present),
            columns=[*columns, "segment_id"] if columns else None,
        )
    except OSError:
        return None
    if tbl.num_rows == 0:
        return _empty_result(reader, extra_cols)
    post = tbl.to_pandas()
    post["segment_id"] = post["segment_id"].astype(str)

    segs = sorted(post["segment_id"].unique())
    norms = reader.local_norms()
    if norms is not None:
        norms = norms[norms["segment_id"].isin(segs)]
    else:
        norm_ds = fsio.dataset(
            _ijoin(reader.index_dir, "norms"), partitioning="hive"
        )
        norms = norm_ds.to_table(
            filter=ds.field("segment_id").isin(segs)
        ).to_pandas()
        norms["segment_id"] = norms["segment_id"].astype(str)

    outs = []
    for seg, g in post.groupby("segment_id", sort=False):
        aux = norms[norms["segment_id"] == seg][["n_docs", "doc_len_packed"]]
        if allowed_map is not None:
            if seg not in allowed_map:
                continue  # no doc in this segment passes the filter
            mode, ids = allowed_map[seg]
            aux = aux.assign(f_mode=mode, f_ids=[list(ids)])
        if del_map and seg in del_map:
            aux = aux.assign(d_ids=[list(del_map[seg])])
        out = score_fn(g, aux)
        if len(out):
            outs.append(out.assign(segment_id=seg))
    if not outs:
        return _empty_result(reader, extra_cols)
    win = _cut_to_ties(pd.concat(outs, ignore_index=True), k)
    fetched = _fetch(reader, win, key_cols, extra_cols)
    return _topk_frame(reader, fetched, extra_cols, k)


def _cut_to_ties(win: pd.DataFrame, k: int) -> pd.DataFrame:
    """Keep the global top-k tie group: every row scoring >= the kth best
    (the gather's cut; ties are broken on the key columns after the fetch)."""
    if len(win) <= k:
        return win
    theta = np.partition(win["score"].to_numpy(), len(win) - k)[len(win) - k]
    return win[win["score"] >= theta]


def _topk_frame(
    reader: IndexReader, fetched: pd.DataFrame, extra_cols, k: int
) -> DataFrame:
    """Fetched winners → the result DataFrame: (score DESC, keys ASC)[:k]."""
    key_cols = list(reader.cfg.key_cols)
    fetched = fetched.sort_values(
        ["score", *key_cols], ascending=[False] + [True] * len(key_cols),
        kind="mergesort",
    ).head(k)
    return reader.spark.createDataFrame(
        fetched[[*key_cols, *extra_cols, "score"]],
        schema=_result_schema(reader, key_cols, extra_cols),
    )


def _result_schema(reader: IndexReader, key_cols, extra_cols):
    from pyspark.sql.types import DoubleType, StructField, StructType

    doc_fields = {f.name: f for f in reader.docs().schema.fields}
    return StructType(
        [doc_fields[c] for c in [*key_cols, *extra_cols]]
        + [StructField("score", DoubleType())]
    )


def _fetch(
    reader: IndexReader, win: pd.DataFrame, key_cols, extra_cols
) -> pd.DataFrame:
    """Fetch phase (FetchPhase.java:103-157): the stored fields of the winners.

    ``win`` holds (segment_id, local_doc_id, score[, query_id]) rows; returns
    them joined to ``key_cols`` + ``extra_cols``. A driver-readable index is
    read with ONE pyarrow scan of the docs dataset — every parquet file a
    writer left in a segment's directory, the builder's data.parquet and a
    merge's Spark part files alike — partition-pruned to the winners'
    segments and row-group pruned on local_doc_id. Other stores take one
    broadcast join in Spark.
    """
    cols = ["segment_id", "local_doc_id", *key_cols, *extra_cols]
    keys = win[["segment_id", "local_doc_id"]].drop_duplicates()
    segs = sorted(set(keys["segment_id"]))
    if fsio.driver_readable(reader.index_dir):
        import pyarrow.dataset as ds

        docs_ds = reader.local_dataset("docs")
        if docs_ds is None:
            docs_ds = fsio.dataset(
                _ijoin(reader.index_dir, "docs"), partitioning="hive"
            )
        docs = docs_ds.to_table(
            columns=cols,
            filter=ds.field("segment_id").isin(segs)
            & ds.field("local_doc_id").isin(sorted(set(keys["local_doc_id"]))),
        ).to_pandas()
        docs["segment_id"] = docs["segment_id"].astype(str)
    else:
        docs = (
            reader.docs()
            .where(F.col("segment_id").isin(segs))  # partition-pruned
            .select(*cols)
            .join(
                F.broadcast(reader.spark.createDataFrame(
                    keys, "segment_id string, local_doc_id int")),
                ["segment_id", "local_doc_id"],
            )
            .toPandas()
        )
    return win.merge(docs, on=["segment_id", "local_doc_id"], how="inner")


def _empty_result(reader: IndexReader, extra_cols: Iterable[str]) -> DataFrame:
    cols = [*reader.cfg.key_cols, *extra_cols]
    return (
        reader.docs()
        .select(*cols)
        .withColumn("score", F.lit(0.0))
        .where(F.lit(False))
    )
