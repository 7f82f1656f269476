"""Tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import io
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest

import checks
import datagen
import run
from spans import Span, Tracer, covered, layer_self_times, self_times
from stats import nearest_rank, passes_for_tail, tail_percentile


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


# ---------------------------------------------------------------- generators

def test_base_tables_byte_identical_per_seed(tmp_path):
    for name in ("a", "b", "c"):
        datagen.write_base_tables(7 if name != "c" else 8,
                                  str(tmp_path / name))
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert set(a) == {f"{t}.parquet" for t in datagen.TABLES}
    assert all(a[f] != c[f] for f in a if f not in (
        "region.parquet", "nation.parquet"))


def test_base_tables_match_the_testdata_contract():
    tables = datagen.base_tables(3)
    li, orders = tables["lineitem"], tables["orders"]
    assert li.schema.field("l_shipdate").type == "timestamp[us]"
    assert li.schema.field("l_linenumber").type == "int32"
    assert orders.num_rows * datagen.LINES_PER_ORDER == li.num_rows
    docs = tables["documents"].to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()
    assert docs.text.str.endswith(" dup").sum() > 10     # near-copies
    assert docs.text.duplicated().sum() > 0              # exact copies


def test_chain_increments_deterministic_sliced_and_replaying(tmp_path):
    for d in ("x", "y"):
        for cycle in range(3):
            datagen.write_chain_increment(11, cycle, str(tmp_path / d))
    assert _digests(str(tmp_path / "x")) == _digests(str(tmp_path / "y"))

    incs = [datagen.chain_increment(11, c).to_pandas() for c in range(3)]
    for prev, cur in zip(incs, incs[1:]):
        assert prev.l_shipdate.max() < cur.l_shipdate.min()
    replayed = set(incs[0].l_orderkey) & set(incs[1].l_orderkey)
    assert len(replayed) == int(datagen.CHAIN_ORDERS_PER_CYCLE
                                * datagen.REPLAY_FRAC)
    assert not incs[1].duplicated(["l_orderkey", "l_linenumber"]).any()


def test_change_batches_deterministic_skewed_with_deletes(tmp_path):
    p1 = datagen.write_change_batch(5, 3, 400, str(tmp_path / "a"))
    p2 = datagen.write_change_batch(5, 3, 400, str(tmp_path / "b"))
    assert open(p1, "rb").read() == open(p2, "rb").read()
    batch = pq.read_table(p1).to_pandas()
    assert 0.08 < (batch.op == "D").mean() < 0.22
    counts = batch.o_orderkey.value_counts()
    assert counts.iloc[0] > 20 * counts.median()          # Zipf hot key
    assert batch.o_orderkey.between(0, datagen.SIZES["orders"] - 1).all()
    assert batch.seq.is_monotonic_increasing


# ----------------------------------------------------------- percentile rule

@pytest.mark.parametrize("n,q", [(20, 50), (39, 50), (40, 75), (100, 90),
                                 (199, 90), (200, 95), (1000, 99)])
def test_tail_percentile_has_ten_samples_beyond(n, q):
    values = list(range(n))
    got_q, value = tail_percentile(values)
    assert got_q == q
    assert sum(v > value for v in values) >= 10
    higher = [p for p in (50, 75, 90, 95, 99) if p > q]
    for p in higher:
        assert nearest_rank(values, p)[1] < 10


def test_tail_percentile_none_below_twenty_samples():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile([]) is None


def test_passes_for_tail():
    assert passes_for_tail(81, 90) == 2     # 162 samples, 16 beyond p90
    assert passes_for_tail(9, 50) == 3      # 27 samples, 13 beyond p50
    assert passes_for_tail(100, 90) == 1


# ------------------------------------------------------------- span arithmetic

def _span(name, start, end, sid, parent=None, request=0):
    return Span(name, start, end, sid, parent, request)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_times_subtract_children_once():
    spans = [_span("pipeline.chain", 0, 10, 1),
             _span("pipeline.stage_ingest", 1, 3, 2, parent=1),
             _span("pipeline.stage_transform", 3, 6, 3, parent=1),
             _span("plans.build", 4, 5, 4, parent=3)]
    st = self_times(spans)
    assert st == {1: 5, 2: 2, 3: 2, 4: 1}
    assert layer_self_times(spans) == {"pipeline": 10 - 1, "plans": 1}
    # self times partition the root's wall time
    assert sum(st.values()) == spans[0].duration


def test_tracer_records_nesting_and_is_inert_when_off():
    off = Tracer(False)
    with off.span("a.b"):
        pass
    assert off.spans == []
    tr = Tracer(True)
    tr.request = 4
    with tr.span("plans.query"):
        with tr.span("plans.build"):
            pass
    child, parent = tr.spans
    assert (child.parent, parent.parent) == (parent.span_id, None)
    assert child.request == parent.request == 4
    buf = io.StringIO()
    tr.write(buf)
    rows = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert [r["name"] for r in rows] == ["plans.query", "plans.build"]


# ------------------------------------------------------------- error counting

def test_wrong_result_is_counted_in_error_rate(tmp_path):
    files = [datagen.write_change_batch(9, b, 200, str(tmp_path))
             for b in range(3)]
    con = duckdb.connect()
    want = checks.keep_latest_expected(con, files, "o_orderkey", "seq", "op")
    assert (want.op != "D").all() and want.o_orderkey.is_unique
    wrong = want.copy()
    wrong.loc[wrong.index[0], "o_totalprice"] += 0.01

    tally = checks.Tally()
    tally.record(checks.frames_match(want.sample(frac=1, random_state=1),
                                     want), "reordered copy")
    tally.record(checks.frames_match(wrong, want), "one value off")
    tally.record(checks.frames_match(want.iloc[1:], want), "row missing")
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.error_rate == pytest.approx(2 / 3)
    assert tally.problems == ["one value off", "row missing"]


def test_chain_oracle_counts_rule_breaking_rows(tmp_path):
    for cycle in range(2):
        datagen.write_chain_increment(4, cycle, str(tmp_path))
    from elt_gluepipeline_spark.pipeline import PipelineConfig
    rules = " OR ".join(f"({sql})" for _, sql in
                        PipelineConfig("", "").quality_rules["lineitem"])
    con = duckdb.connect()
    li = pd.concat(datagen.chain_increment(4, c).to_pandas()
                   for c in range(2))
    bad = ((li.l_extendedprice <= 0) | (li.l_quantity >= 48)).sum()
    assert checks.chain_quarantine_expected(con, str(tmp_path), rules) == bad
    q01 = checks.chain_q01_expected(con, str(tmp_path), rules)
    assert len(q01) == len(li) - bad


# ---------------------------------------------------------- declared metrics

def test_benchmark_json_declares_what_run_reports():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    spec = json.load(open(path))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["elt_chain",
                                                      "cdc_upsert"]
