"""The benchmark's workloads.

Each workload drives the package only through its public entry points
and has the same life cycle, which ``run.py`` times from outside:

- ``setup``: write the seeded inputs and seed any state (part of
  ``setup_s``);
- ``cold``: the first operation after session start (``cold_op_s``);
- ``warmup``: untimed operations that fill caches and JIT code;
- ``op(i)``: the i-th timed operation, returning its headline latency
  (a chain, a merge, a query), the time it spent in the program in
  all (with its reads and maintenance) and the input rows it applied;
- ``finish``: the end-of-run output checks and the workload's own
  report metrics.

Checks run between timed intervals and feed ``ctx.tally``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import datagen
from stats import median, tail_percentile


@dataclass
class Context:
    spark: object
    seed: int
    data: str                          # inputs and outputs live here
    tracer: object
    tally: checks.Tally
    samples: dict[str, list[float]] = field(default_factory=dict)

    def sample(self, kind: str, value: float) -> None:
        self.samples.setdefault(kind, []).append(value)


class Workload:
    ops_per_second = 1.0           # nominal timed operations/s, 4 cores
    setup_repeats = 3              # setup_s is the median of these
    warmup_ops = 0                 # untimed operations before timing

    def n_ops(self, seconds: float) -> int:
        """Timed operations in a run: a fixed amount of work, so every
        run of a workload does the same operations."""
        return max(3, round(seconds * self.ops_per_second))

    def warmup(self, ctx: Context) -> None:
        """Untimed operations between the cold one and the timed ones:
        the JVM's JIT compiles Spark's planner and scheduler over the
        first operations, and their latency falls until it has."""
        for i in range(self.warmup_ops):
            self.op(ctx, -1 - i)

    def layer_probes(self, ctx: Context) -> None:
        """Traced runs only: standalone calls into single layers."""


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _dir_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """Bytes and files of the data files under ``path`` (Spark's
    ``.crc``/``_SUCCESS`` side files left out), counting only files
    last written at or after ``since`` (a ``time.time()``)."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(root, n))
                if st.st_mtime >= since:
                    size += st.st_size
                    files += 1
    return size, files


def _latency_report(prefix: str, values: list[float]) -> dict:
    out = {f"{prefix}_p50_s": median(values), f"{prefix}_n": len(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"{prefix}_p{tail[0]}_s"] = tail[1]
    return out


# --------------------------------------------------------------------------
# elt_chain — the Glue workflow: ingest → transform → quality → metric
# --------------------------------------------------------------------------

class EltChain(Workload):
    """One operation is one full chain run over the source folder after
    a seeded ``lineitem`` increment was appended to it
    (``datagen.chain_increment``: the next watermark slice, with
    replayed keys). The chain is the package's default
    ``PipelineConfig``: ``lineitem`` keyed by (l_orderkey,
    l_linenumber), watermark ``l_shipdate``, the two lineitem quality
    rules and the ``q01_line_revenue`` metric. Landing, staging and
    final grow with every cycle, as in a nightly job."""

    name = "elt_chain"
    ops_per_second = 0.2           # nominal chains/s on a 4-core host
    setup_repeats = 9              # a set-up is a session restart only
    warmup_ops = 1
    TABLE = "lineitem"

    def setup(self, ctx: Context) -> None:
        from elt_gluepipeline_spark.pipeline import PipelineConfig
        shutil.rmtree(ctx.data, ignore_errors=True)
        self.src = os.path.join(ctx.data, "source")
        self.cfg = PipelineConfig(source_dir=self.src,
                                  warehouse=os.path.join(ctx.data, "wh"))
        self.cycle = 0
        self.landed = 0

    def _chain(self, ctx: Context) -> tuple[float, int]:
        from elt_gluepipeline_spark import pipeline as P
        from elt_gluepipeline_spark.sources.state import (BookmarkStore,
                                                          RunManifest)
        inc = datagen.write_chain_increment(ctx.seed, self.cycle, self.src)
        self.cycle += 1
        manifest = RunManifest(self.cfg.path("_state", "manifests"),
                               f"cycle-{self.cycle:05d}")
        res: dict[str, dict] = {}
        wall0, t0 = time.time(), time.perf_counter()
        with ctx.tracer.span("pipeline.chain"):
            for stage in P.STAGES:
                fn = getattr(P, f"stage_{stage}")
                with ctx.tracer.span(f"pipeline.stage_{stage}", leaf=True):
                    res[stage] = fn(ctx.spark, self.cfg, manifest)
            manifest.flush()
        dt = time.perf_counter() - t0
        ctx.sample("write_amp", _dir_bytes(self.cfg.warehouse, wall0)[0]
                   / inc["bytes"])

        t = self.TABLE
        self.landed += inc["rows"]
        clean, bad = res["quality"][t]
        bookmark = BookmarkStore(self.cfg.path("_state", "bookmarks")).get(t)
        problems = [msg for ok, msg in (
            (res["ingest"][t] == inc["rows"],
             f"ingested {res['ingest'][t]} of {inc['rows']}"),
            (res["transform"][t] == self.landed == clean + bad,
             f"landed {self.landed} != final {clean} + quarantine {bad}"),
            (bookmark == str(inc["max_watermark"]),
             f"bookmark {bookmark} != {inc['max_watermark']}"),
            (res["metric"]["q01_line_revenue"] == clean,
             "q01 rows != final rows"),
        ) if not ok]
        ctx.tally.record(not problems,
                         f"chain {self.cycle}: {'; '.join(problems)}")
        return dt, inc["rows"]

    def cold(self, ctx: Context) -> float:
        dt, _ = self._chain(ctx)
        return dt

    def op(self, ctx: Context, i: int) -> tuple[float, float, int]:
        dt, rows = self._chain(ctx)
        ctx.sample("chain", dt)
        return dt, dt, rows

    def finish(self, ctx: Context) -> dict:
        """DuckDB re-derives the quarantine count and the q01 metric
        from the generated source files alone."""
        rules = " OR ".join(f"({sql})" for _, sql in
                            self.cfg.quality_rules[self.TABLE])
        con = duckdb.connect()
        want_bad = checks.chain_quarantine_expected(con, self.src, rules)
        got_bad = len(checks.read_output(
            con, self.cfg.path("quarantine", self.TABLE)))
        q01_ok = checks.frames_match(
            checks.read_output(con, self.cfg.path("metrics",
                                                  "q01_line_revenue")),
            checks.chain_q01_expected(con, self.src, rules))
        ctx.tally.record(want_bad == got_bad and q01_ok,
                         f"final: quarantine {got_bad} vs {want_bad}, "
                         f"q01 oracle match {q01_ok}")
        write_b, files = _dir_bytes(self.cfg.warehouse)
        chains = ctx.samples.get("chain", [])
        return {**_latency_report("chain", chains),
                "chains": self.cycle,
                "warehouse_mb": write_b / 2**20, "warehouse_files": files}


# --------------------------------------------------------------------------
# cdc_upsert — bucketed snapshot merges, reads beside writes, maintenance
# --------------------------------------------------------------------------

class CdcUpsert(Workload):
    """One operation is one change batch: a ``bucketed_merge`` of a
    small parquet-backed batch (Zipf-skewed keys, about one change in
    seven a delete), then a read through ``read_bucketed_snapshot``,
    alternately a point read of one key and a range read over 50 keys.
    Every third batch also runs maintenance, alternately
    ``expire_tombstones`` and a ``rebucket`` that rewrites the whole
    table at the same bucket count (a compaction), so every merge of a
    run works on the same layout."""

    name = "cdc_upsert"
    ops_per_second = 1 / 3         # nominal batches/s on a 4-core host
    warmup_ops = 2
    BATCH_ROWS = 60
    N_BUCKETS = 16
    KEY, SEQ, OP = "o_orderkey", "seq", "op"

    def setup(self, ctx: Context) -> None:
        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            bucketed_merge)
        shutil.rmtree(ctx.data, ignore_errors=True)
        self.batches = os.path.join(ctx.data, "batches")
        self.snap = os.path.join(ctx.data, "snapshot")
        os.makedirs(self.batches)
        seed_path = os.path.join(self.batches, "seed.parquet")
        seed_rows = datagen.snapshot_seed(ctx.seed)
        datagen.write_table(seed_rows, seed_path)
        self.applied = [seed_path]
        bucketed_merge(ctx.spark.read.parquet(seed_path),
                       **self._merge_args())
        self.model = {r[self.KEY]: r for r in seed_rows.to_pylist()}
        self.batch = 0
        self.rng = np.random.default_rng(ctx.seed)
        self.stats = {"touched_frac": [], "rewrite_mb": []}

    def _merge_args(self) -> dict:
        return dict(snapshot_dir=self.snap, primary_keys=[self.KEY],
                    order_by=[F.col(self.SEQ).desc()],
                    n_buckets=self.N_BUCKETS, op_col=self.OP)

    def _live(self, row) -> bool:
        return row is not None and row[self.OP] != "D"

    def _merge(self, ctx: Context) -> tuple[float, int]:
        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            bucketed_merge)
        path = datagen.write_change_batch(ctx.seed, self.batch,
                                          self.BATCH_ROWS, self.batches)
        self.batch += 1
        wall0 = time.time()
        with ctx.tracer.span("streaming.bucketed_merge", leaf=True):
            dt, touched = _timed(lambda: bucketed_merge(
                ctx.spark.read.parquet(path), **self._merge_args()))
        self.applied.append(path)
        for r in pq.read_table(path).to_pylist():
            self.model[r[self.KEY]] = r
        rewritten = _dir_bytes(self.snap, wall0)[0]
        self.stats["touched_frac"].append(len(touched) / self.N_BUCKETS)
        self.stats["rewrite_mb"].append(rewritten / 2**20)
        ctx.sample("write_amp", rewritten / os.path.getsize(path))
        return dt, self.BATCH_ROWS

    def _read(self, ctx: Context) -> tuple[bool, float]:
        """A point read (even batches) or a range read over 50 keys (odd
        batches), checked against the in-memory keep-latest model."""
        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            read_bucketed_snapshot)
        keys = sorted(self.model)
        key = int(keys[int(self.rng.integers(0, len(keys)))])
        lo = int(self.rng.integers(0, max(keys) - 50))

        def point():
            df = read_bucketed_snapshot(ctx.spark, self.snap, op_col=self.OP)
            return df.filter(F.col(self.KEY) == key).collect()

        def range_count():
            df = read_bucketed_snapshot(ctx.spark, self.snap, op_col=self.OP)
            return df.filter(F.col(self.KEY).between(lo, lo + 49)).count()

        fn = point if self.batch % 2 == 0 else range_count
        with ctx.tracer.span("streaming.read_bucketed_snapshot", leaf=True):
            dt, got = _timed(fn)
        ctx.sample("read", dt)
        if fn is range_count:
            return got == sum(1 for k in range(lo, lo + 50)
                              if self._live(self.model.get(k))), dt
        want = self.model.get(key)
        return ([(r[self.SEQ], r[self.OP]) for r in got]
                == ([(want[self.SEQ], want[self.OP])]
                    if self._live(want) else [])), dt

    def _expire(self, ctx: Context) -> float:
        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            expire_tombstones)
        horizon = (self.batch - 1) * 1_000_000
        with ctx.tracer.span("streaming.expire_tombstones", leaf=True):
            dt, _ = _timed(lambda: expire_tombstones(
                ctx.spark, self.snap, op_col=self.OP,
                expire_if=F.col(self.SEQ) < horizon))
        return dt

    def _rebucket(self, ctx: Context) -> float:
        from elt_gluepipeline_spark.streaming.bucketed_upsert import rebucket
        with ctx.tracer.span("streaming.rebucket", leaf=True):
            dt, _ = _timed(lambda: rebucket(
                ctx.spark, self.snap, primary_keys=[self.KEY],
                new_n_buckets=self.N_BUCKETS, op_col=self.OP))
        return dt

    def _maintain(self, ctx: Context) -> float:
        dt = self._expire(ctx) if self.batch % 6 == 1 else self._rebucket(ctx)
        ctx.sample("maintain", dt)
        return dt

    def layer_probes(self, ctx: Context) -> None:
        """Each maintenance call once more, traced: the traced batches
        of a short run need not include one."""
        self._expire(ctx)
        self._rebucket(ctx)

    def _cycle(self, ctx: Context) -> tuple[float, float, int]:
        dt, rows = self._merge(ctx)
        ok, busy = self._read(ctx)
        if self.batch % 3 == 1:
            busy += self._maintain(ctx)
        ctx.tally.record(ok, f"batch {self.batch}: read mismatch")
        return dt, dt + busy, rows

    def cold(self, ctx: Context) -> float:
        return self._cycle(ctx)[0]

    def op(self, ctx: Context, i: int) -> tuple[float, float, int]:
        dt, busy, rows = self._cycle(ctx)
        ctx.sample("merge", dt)
        return dt, busy, rows

    def finish(self, ctx: Context) -> dict:
        from elt_gluepipeline_spark.streaming.bucketed_upsert import (
            read_bucketed_snapshot)
        got = read_bucketed_snapshot(ctx.spark, self.snap,
                                     op_col=self.OP).toPandas()
        want = checks.keep_latest_expected(duckdb.connect(), self.applied,
                                           self.KEY, self.SEQ, self.OP)
        ctx.tally.record(checks.frames_match(got, want),
                         "final snapshot != DuckDB keep-latest")
        s = self.stats
        return {**_latency_report("merge", ctx.samples.get("merge", [])),
                **_latency_report("read", ctx.samples.get("read", [])),
                **_latency_report("maintain",
                                  ctx.samples.get("maintain", [])),
                "buckets_touched_frac": median(s["touched_frac"]),
                "rewrite_mb": median(s["rewrite_mb"]),
                "snapshot_mb": _dir_bytes(self.snap)[0] / 2**20,
                "batches": self.batch}


# --------------------------------------------------------------------------
# analytics / curation — registry queries forced through a noop sink
# --------------------------------------------------------------------------

class Queries(Workload):
    """One operation is one registry query, built and forced with a
    noop sink; the seed permutes the query order on each pass. The
    cold pass collects every result once and checks it against the
    query's DuckDB oracle (a row count where there is none) before the
    timed passes start. Operator caches are released after every query,
    outside its timed interval, as bench.py does."""

    queries: tuple[str, ...] = ()
    tail_q = 50                    # percentile the passes must resolve

    def n_ops(self, seconds: float) -> int:
        from stats import passes_for_tail
        n = len(self.names)
        passes = max(passes_for_tail(n, self.tail_q),
                     round(seconds * self.ops_per_second / n))
        return passes * n

    def setup(self, ctx: Context) -> None:
        from elt_gluepipeline_spark.plans import registry
        shutil.rmtree(ctx.data, ignore_errors=True)
        datagen.write_base_tables(ctx.seed, ctx.data)
        self.specs = registry()
        self.names = self.queries or tuple(
            n for n, sp in self.specs.items()
            if sp.build.__module__.endswith(".reference"))
        self.rng = np.random.default_rng(ctx.seed)
        self.order: list[str] = []
        self.handles: list[int] = []

    def _release(self) -> None:
        from elt_gluepipeline_spark.operators._cache import (
            release_operator_caches)
        self.handles.append(release_operator_caches())

    def cold(self, ctx: Context) -> float:
        from tools.check_correctness import _connect
        con = _connect(ctx.data)
        lat = []
        for name in self.rng.permutation(self.names):
            spec = self.specs[name]
            dt, got = _timed(lambda: spec.build(ctx.spark,
                                                ctx.data).toPandas())
            self._release()
            lat.append(dt)
            ok = (checks.frames_match(got, con.sql(spec.oracle).df())
                  if spec.oracle else len(got) > 0)
            ctx.tally.record(ok, f"{name}: result != DuckDB oracle")
        return median(lat)

    def warmup(self, ctx: Context) -> None:
        for name in self.names:
            self.specs[name].build(ctx.spark, ctx.data).write.format(
                "noop").mode("overwrite").save()
            self._release()

    def op(self, ctx: Context, i: int) -> tuple[float, float, int]:
        if i % len(self.names) == 0:
            self.order = list(self.rng.permutation(self.names))
        spec = self.specs[self.order[i % len(self.names)]]
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("plans.query"):
            with tr.span("plans.build", leaf=True):
                df = spec.build(ctx.spark, ctx.data)
            with tr.span("plans.exec", leaf=True):
                df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self._release()
        ctx.tally.record(True)         # checked in the cold pass
        ctx.sample("query", dt)
        return dt, dt, 0

    def finish(self, ctx: Context) -> dict:
        q = ctx.samples.get("query", [])
        n = len(self.names)
        passes = [sum(q[i:i + n]) for i in range(0, len(q) - n + 1, n)]
        return {**_latency_report("query", q),
                "queries_per_s": len(q) / sum(q) if q else None,
                "pass_s": median(passes),
                "operators.cache_handles": median(self.handles)}


class Analytics(Queries):
    """The 81 ``plans/reference.py`` queries: the read-only SQL path
    (plans, Catalyst planning, codegen, aggregates/joins/windows)."""

    name = "analytics"
    ops_per_second = 2.0
    tail_q = 90


class Curation(Queries):
    """The dedup, similarity and graph family, without the
    artifact-backed vector queries (nothing is fitted while timing)."""

    name = "curation"
    ops_per_second = 0.5
    queries = ("q17_minhash_neardup", "q56_neardup_groups",
               "q59_dedupe_corpus", "q157_triangles", "q162_tfidf_cosine",
               "q170_prefix_join", "q171_lsh_recall", "q172_keep_best",
               "q177_winnowing")

    def layer_probes(self, ctx: Context) -> None:
        """Each heavy operator once, standalone, forced with a noop
        sink, on the generated ``documents`` and ``lineitem`` tables."""
        from elt_gluepipeline_spark.operators import dedup, graph
        from elt_gluepipeline_spark.sources.readers import read_table
        docs = read_table(ctx.spark, ctx.data, "documents")
        li = (read_table(ctx.spark, ctx.data, "lineitem")
              .select(F.col("l_orderkey").alias("s"),
                      F.col("l_partkey").alias("d"))
              .filter(F.col("s") < F.col("d")).distinct())
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
        calls = {
            "shingle_base_cached": lambda: dedup.shingle_base_cached(
                docs, "doc_id", "text"),
            "minhash_lsh_pairs": lambda: pairs,
            "prefix_filter_jaccard_pairs":
                lambda: dedup.prefix_filter_jaccard_pairs(docs, "doc_id",
                                                          "text"),
            "connected_components": lambda: dedup.connected_components(
                pairs.select("id_a", "id_b")),
            "tfidf_cosine_pairs": lambda: dedup.tfidf_cosine_pairs(
                docs, "doc_id", "text"),
            "triangle_counts": lambda: graph.triangle_counts(li),
        }
        for name, build in calls.items():
            with ctx.tracer.span(f"operators.{name}", leaf=True):
                build().write.format("noop").mode("overwrite").save()
            self._release()


WORKLOADS = {w.name: w for w in (EltChain, CdcUpsert, Analytics, Curation)}
