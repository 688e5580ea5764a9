"""The two workloads, driven as one closed-loop client.

One Python process drives Spark ``local[nproc - 1]``; each operation is
issued only after the previous one has returned its rows. The core left over
runs the client itself (the driver-local route, result handling) and the
JVM's own threads (scheduler, GC, JIT): with ``local[nproc]`` they contend
with the task slots, and the figures are both slower and less steady
(README.md, "Cores").

- ``bulk``: load once, query many. One large ``build_index``, then the query
  phase on its few large segments. After every other metric is taken, one
  refresh tail (an append, a query burst, a merge of the refresh's segments)
  gives the write-path metrics, so append and merge cannot touch the rest.
- ``nrt``: trickle in, query between, then compact. A small base build, many
  small appends each followed by a reader reopen and a query burst,
  ``tiered_merge`` until at most its fan-in segments remain, then the same
  query phase as ``bulk`` on the merged index.

Sizes are fixed here (README.md says why); only ``scale`` shrinks them, for
the benchmark's own smoke tests: the base slice, nrt's append count and every
stream's least samples.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import elasticsearch_spark.index.merge as merge_mod
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.query import search_topk
from elasticsearch_spark.query.msearch import msearch_topk
from elasticsearch_spark.session import get_spark

from perfbench import check, inputs
from perfbench.layers import layer_metrics
from perfbench.host import RssSampler, burn, dir_bytes, nproc, stop_spark
from perfbench.trace import Tracer

# Distinct keys per slice (README.md, "Sizes").
SIZES = {
    "bulk": {"base_keys": 4_000, "batches": 1, "batch_keys": 160},
    "nrt": {"base_keys": 600, "batches": 3, "batch_keys": 160},
}
# Merges rebase without repacking: the default repack cannot fit a run
# (README.md, "Why merges do not repack").
REPACK = False
SETUP_CYCLES = 3
# The base build is timed this many times, each into a fresh directory; the
# last one is the index the run goes on with. A single 2 s build moved by a
# quarter between runs (README.md, "Build repeats").
BUILD_REPEATS = 3
# Passes over the core pool in the burst after each append: bulk makes one
# append and nrt three, so both time 27 ingest queries. nrt's bursts each
# search another index state (6, 9, then 12 segments on a 4-core host), and
# latency grows with the segment count, so the bursts form separate latency
# clusters: executor.ingest.p50_ms is the mean of the bursts' medians, not
# one median straddling them.
INGEST_PASSES = {"bulk": 3, "nrt": 1}
# Timed streams of the query phase, per workload: (class, pool, route,
# least samples). The streams are interleaved, each kept at the same share
# of its least samples, so that every stream spans the whole phase and host
# capacity swings reach all of them alike. The phase lasts --seconds or until
# every stream has its least samples; a stream on a small pool stops only at
# the end of a pass, so that every run draws the same multiset of queries.
# An msearch sample is one batch of the whole "mixed" pool. nrt's merged
# segments send every query down the distributed route, about 0.8 s each,
# so nrt affords fewer samples (README.md, "Samples").
STREAMS = {
    "bulk": (
        ("unfiltered", "unfiltered", "auto", 100),
        ("filtered", "filtered", "auto", 10),
        ("spark", "core", "spark", 9),
        ("msearch", "mixed", "auto", 4),
    ),
    "nrt": (
        ("unfiltered", "core", "auto", 9),
        ("filtered", "filtered", "auto", 5),
        ("spark", "core", "spark", 9),
        ("msearch", "mixed", "auto", 4),
    ),
}
SMALL_POOL = 16
WARMUP_KEYS = 64


def _active_manifest(index_dir: str) -> pd.DataFrame:
    man = pq.read_table(os.path.join(index_dir, "manifest")).to_pandas()
    superseded = set(man.loc[man["status"] == "superseded", "segment_id"])
    active = man[(man["status"] == "committed") & ~man["segment_id"].isin(superseded)]
    return active.drop_duplicates(subset=["segment_id"])


def _open_reader(spark, index_dir: str, old: IndexReader | None) -> IndexReader:
    if old is not None:  # unpin the previous layout's cached views
        for view in (old.postings(), old.docs(), old.norms(), old.termstats()):
            view.unpersist()
    return IndexReader(spark, index_dir).cache_views()


class Run:
    """State of one benchmark run: timings, results and operation counts."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 workdir: str, scale: float = 1.0) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.workdir = workdir
        sizes = SIZES[workload]
        self.n_cores = max(1, nproc() - 1)  # task slots and build partitions
        self.base_keys = max(WARMUP_KEYS, int(sizes["base_keys"] * scale))
        # Every slice writes one segment per core. nrt keeps enough appends
        # that its segments outnumber the merge fan-in, so tiered_merge has work.
        least = 1
        if workload == "nrt":
            least = math.ceil((merge_mod.MAX_MERGE_AT_ONCE + 1) / self.n_cores) - 1
        n_batches = max(least, round(sizes["batches"] * scale))
        self.batch_keys = [sizes["batch_keys"]] * n_batches
        self.pools = inputs.query_pools()
        self.streams = tuple((kind, pool, route, max(1, round(min_n * scale)))
                             for kind, pool, route, min_n in STREAMS[workload])
        self.cfg = inputs.index_config(self.n_cores)
        self.index_dir = os.path.join(workdir, "index")
        self.attempted = 0
        self.failed: set[int] = set()
        self.results: list[dict] = []  # one per executed query
        self.msearch_batches: list[dict] = []
        self.ingest_p50: list[float] = []  # one per append burst
        self.state = 0  # index of the last slice indexed
        self.lat: dict[str, list[float]] = {}
        self.e2e: dict[str, float] = {}
        self.diag: dict = {"nproc": nproc(), "spark_cores": self.n_cores, "seed": seed,
                           "workload": workload}
        self.warm_s = 0.0
        self.warmups = 0
        self.merge_io: list[tuple[int, int]] = []  # postings bytes in/out per group

    # -- operations ------------------------------------------------------
    def _op(self, fn, *args, **kwargs):
        """Run one engine operation; a raise counts as a failed operation."""
        self.attempted += 1
        op = self.attempted
        try:
            return op, fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed.add(op)
            return op, None

    def query(self, stream: str, q: dict, route: str) -> float:
        """Time one search_topk(...).collect(); spans are named by stream.
        Returns the latency; the caller keeps it, or drops a warm-up's."""
        t0 = time.perf_counter()

        def go():
            df = self.tr.call(
                f"executor.{stream}.call", search_topk, self.reader, q["query_text"],
                mode=route, **inputs.search_kwargs(q),
            )
            return self.tr.call(f"executor.{stream}.collect", df.collect)

        op, rows = self._op(go)
        dt = time.perf_counter() - t0
        if rows is not None:
            self.results.append({"op": op, "stream": stream, "state": self.state,
                                 "q": q, "rows": check.rows_of(rows)})
        return dt

    def msearch(self, batch: list[dict]) -> float:
        t0 = time.perf_counter()
        op, rows = self._op(
            self.tr.call, "msearch",
            lambda: msearch_topk(self.reader, [inputs.msearch_spec(q) for q in batch]).collect(),
        )
        dt = time.perf_counter() - t0
        if rows is not None:
            per_q = {i: [] for i in range(len(batch))}
            for r in rows:
                per_q[r["query_id"]].append((r["conv_id"], int(r["turn_idx"]), float(r["score"])))
            self.msearch_batches.append({"op": op, "batch": batch, "rows": per_q})
        return dt

    def open_reader(self) -> None:
        self.reader = self.tr.call("reader.open", _open_reader, self.spark, self.index_dir,
                                   getattr(self, "reader", None))

    # -- phases ------------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.n_cores, shuffle_partitions=self.n_cores,
                               app_name=f"perfbench-{self.workload}")
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr = Tracer(self.spark if self.trace else None)
        self.tr.record("session", t0, t0 + self.session_s)
        cycles = []
        with self.tr.phase("setup"):
            for i in range(SETUP_CYCLES):
                c0 = time.perf_counter()
                pdf = self.tr.call("fixtures", inputs.generate, self.seed,
                                   self.base_keys + sum(self.batch_keys))
                parts = inputs.slices(pdf, [self.base_keys, *self.batch_keys])
                sdfs = [self.spark.createDataFrame(p).cache() for p in parts]
                for s in sdfs:
                    s.count()
                cycles.append(time.perf_counter() - c0)
                if i + 1 < SETUP_CYCLES:
                    for s in sdfs:
                        s.unpersist()
            self.parts, self.sdfs = parts, sdfs
            self.fixture_s = cycles
            self._warm_build()
        self.setup_cycle_s = statistics.median(cycles)

    def _warm_build(self) -> None:
        """Untimed build of a tiny index, so JIT and Python-worker spawn land
        in setup, not in the first timed build."""
        t0 = time.perf_counter()
        base = self.parts[0]
        keys = base[list(inputs.KEY_COLS)].drop_duplicates().head(WARMUP_KEYS)
        tiny = base.merge(keys, on=list(inputs.KEY_COLS))
        warm_dir = os.path.join(self.workdir, "warmup")
        self.tr.call("builder.warmup", build_index, self.spark,
                     self.spark.createDataFrame(tiny), warm_dir, self.cfg)
        self.warmups += 1
        self.warm_s += time.perf_counter() - t0

    def build(self) -> None:
        with self.tr.phase("build"):
            times = []
            for i in range(BUILD_REPEATS):
                last = i == BUILD_REPEATS - 1
                out = self.index_dir if last else os.path.join(self.workdir, f"index-repeat{i}")
                t0 = time.perf_counter()
                self._op(self.tr.call, "builder", build_index, self.spark, self.sdfs[0],
                         out, self.cfg)
                times.append(time.perf_counter() - t0)
                if not last:
                    shutil.rmtree(out)
            self.e2e["build_turns_per_s"] = len(self.parts[0]) / statistics.median(times)
            self.open_reader()

    def append(self, batches: range) -> None:
        """Append each slice as new segments, reopen, and query a burst."""
        stream = inputs.Stream(self.pools["core"], np.random.default_rng([self.seed, 3]))
        with self.tr.phase("append"):
            for j in batches:
                t0 = time.perf_counter()
                self._op(self.tr.call, "builder.append", build_index, self.spark,
                         self.sdfs[j + 1], self.index_dir, self.cfg,
                         segment_prefix=f"b{j:03d}-")
                self.lat.setdefault("append", []).append(time.perf_counter() - t0)
                self.state = j + 1
                self.open_reader()
                burst = [self.query("ingest", stream.next(), "auto")
                         for _ in range(INGEST_PASSES[self.workload] * len(self.pools["core"]))]
                self.lat.setdefault("ingest", []).extend(burst)
                self.ingest_p50.append(statistics.median(burst))
        self.e2e["append_turns_per_s"] = (
            sum(len(self.parts[j + 1]) for j in batches) / sum(self.lat["append"]))

    def merge(self, refresh_only: bool) -> None:
        """nrt: tiered_merge passes until at most its fan-in segments remain.
        bulk: merge only the refresh's segments, the smallest group
        plan_merges forms, as TieredMergePolicy would."""
        with self.tr.phase("merge"):
            t0 = time.perf_counter()
            if refresh_only:
                active = _active_manifest(self.index_dir)
                n_new = int(active["segment_id"].str.startswith("b").sum())
                group = merge_mod.plan_merges(active, fan_in=n_new)[0]
                name = f"m-{min(group)}-{len(group):02d}"
                _, row = self._op(self.tr.call, "merge", merge_mod.merge_segments,
                                  self.spark, self.index_dir, group, name, repack=REPACK)
                rows = [row] if row else []
            else:
                rows = []
                while len(_active_manifest(self.index_dir)) > merge_mod.MAX_MERGE_AT_ONCE:
                    _, out = self._op(self.tr.call, "merge", merge_mod.tiered_merge,
                                      self.spark, self.index_dir, repack=REPACK)
                    if not out:
                        break
                    rows.extend(out)
            merge_s = time.perf_counter() - t0
            rewritten = sum(int(r["docs_indexed"]) for r in rows)
            self.open_reader()
        self.final_docs = (self.reader.n_docs,
                           int(_active_manifest(self.index_dir)["docs_indexed"].sum()))
        self.diag["merge_s"] = merge_s
        self.merge_rows = rows
        self.e2e["merge_turns_per_s"] = rewritten / merge_s

    def query_phase(self) -> None:
        with self.tr.phase("query"):
            steps, need = {}, {}
            for kind, pool, route, min_n in self.streams:
                stream = inputs.Stream(self.pools[pool], np.random.default_rng([self.seed, 2]))
                if kind == "msearch":
                    steps[kind] = lambda s=stream, p=pool: self.msearch([s.next() for _ in self.pools[p]])
                else:
                    steps[kind] = lambda s=stream, k=kind, r=route: self.query(k, s.next(), r)
                n_pool = len(self.pools[pool])
                need[kind] = (min_n, 1 if kind == "msearch" or n_pool > SMALL_POOL else n_pool)
                t_w = time.perf_counter()  # untimed warm-up of this route on this reader
                steps[kind]()
                self.warm_s += time.perf_counter() - t_w
                self.warmups += 1
                self.lat[kind] = []

            def pending(kind: str, time_up: bool) -> bool:
                n, (min_n, per_pass) = len(self.lat[kind]), need[kind]
                return not time_up or n < min_n or n % per_pass != 0

            t_end = time.perf_counter() + self.seconds
            while True:
                time_up = time.perf_counter() >= t_end
                kinds = [k for k in steps if pending(k, time_up)]
                if not kinds:
                    break
                kind = min(kinds, key=lambda k: len(self.lat[k]) / need[k][0])
                self.lat[kind].append(steps[kind]())
        self.query_state = self.state
        self.local = check.local_answers(self)
        self._index_sizes()

    def _index_sizes(self) -> None:
        live = pd.concat(self.parts[: self.state + 1])
        text_bytes = inputs.latest(live)["text"].str.encode("utf-8").str.len().sum()
        self.e2e["index_bytes_per_text_byte"] = dir_bytes(self.index_dir) / float(text_bytes)
        self.index_bytes = {
            sub: dir_bytes(os.path.join(self.index_dir, sub))
            for sub in ("postings", "docs", "norms", "segterms", "termstats")
        }
        self.query_segments = len(_active_manifest(self.index_dir))

    # -- whole run ---------------------------------------------------------
    def run(self) -> dict:
        self.diag["host_burn_before"] = burn()
        self.trace_patch()
        try:
            batches = range(len(self.batch_keys))
            if self.workload == "bulk":
                phases = [self.setup, self.build, self.query_phase,
                          lambda: self.append(batches),
                          lambda: self.merge(refresh_only=True)]
            else:
                phases = [self.setup, self.build,
                          lambda: self.append(batches),
                          lambda: self.merge(refresh_only=False), self.query_phase]
            with RssSampler() as rss:
                t_wall = time.perf_counter()
                for phase in phases:
                    t0 = time.perf_counter()
                    phase()
                    self.diag.setdefault("phase_s", []).append(time.perf_counter() - t0)
                self.wall_s = time.perf_counter() - t_wall
            self.peak_rss = rss.peak_bytes
            self.rss_sampler_s = rss.busy_s
            layer = layer_metrics(self) if self.trace else None
            t0 = time.perf_counter()
            check.verify(self)
            self.diag["verify_s"] = time.perf_counter() - t0
        finally:
            self.trace_unpatch()
            if hasattr(self, "spark"):
                stop_spark(self.spark)
        self.diag["host_burn_after"] = burn()
        self.diag["warmups"] = self.warmups
        self.diag["samples"] = {k: len(v) for k, v in self.lat.items()}
        self.diag["ingest_burst_p50_ms"] = [x * 1000 for x in self.ingest_p50]
        self.diag["rss_sampler_s"] = self.rss_sampler_s
        self.diag["wall_s"] = self.wall_s
        self.diag["setup_parts_s"] = [self.session_s, self.fixture_s, self.warm_s]
        metrics = layer if self.trace else self.end_to_end()
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": metrics,
        }

    def end_to_end(self) -> dict:
        lat = self.lat
        ms = 1000.0
        m = {
            "setup_s": (self.session_s + self.setup_cycle_s + self.warm_s, "s"),
            "build_turns_per_s": (self.e2e["build_turns_per_s"], "1/s"),
            "append_turns_per_s": (self.e2e["append_turns_per_s"], "1/s"),
            "merge_turns_per_s": (self.e2e["merge_turns_per_s"], "1/s"),
            "search_p50_ms": (statistics.median(lat["unfiltered"]) * ms, "ms"),
            "filtered_search_p50_ms": (statistics.median(lat["filtered"]) * ms, "ms"),
            "spark_search_p50_ms": (statistics.median(lat["spark"]) * ms, "ms"),
            "msearch_qps": (len(self.pools["mixed"]) * len(lat["msearch"]) / sum(lat["msearch"]),
                            "1/s"),
            "index_bytes_per_text_byte": (self.e2e["index_bytes_per_text_byte"], "ratio"),
            "peak_rss_mb": (self.peak_rss / 2**20, "MB"),
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    # -- tracing -----------------------------------------------------------
    def trace_patch(self) -> None:
        """Route tiered_merge's per-group calls through a span when tracing."""
        self._merge_segments = merge_mod.merge_segments
        if not self.trace:
            return
        inner = self._merge_segments

        def traced(spark, index_dir, group, merged_name, **kw):
            post = os.path.join(index_dir, "postings")
            b_in = sum(dir_bytes(os.path.join(post, f"segment_id={s}")) for s in group)
            row = self.tr.call("merge.group", inner, spark, index_dir, group, merged_name, **kw)
            self.merge_io.append((b_in, dir_bytes(os.path.join(post, f"segment_id={merged_name}"))))
            return row

        merge_mod.merge_segments = traced

    def trace_unpatch(self) -> None:
        merge_mod.merge_segments = self._merge_segments

