"""Tests of the benchmark's own helpers; none starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import json
import os
import random
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.measure import STAGE_COUNTERS, percentile, stage_delta, tail_percentile  # noqa: E402
from perfbench.workloads import pipeline_order, read_plan  # noqa: E402


def _stage(rnd: random.Random) -> dict:
    return {c: rnd.randint(0, 1000) for c in STAGE_COUNTERS}


def test_stage_delta_never_negative():
    rnd = random.Random(0)
    for _ in range(500):
        before = {sid: _stage(rnd) for sid in rnd.sample(range(40), 20)}
        after = {}
        for sid in rnd.sample(range(40), 20):  # some stages evicted, some new
            prev = before.get(sid, {c: 0 for c in STAGE_COUNTERS})
            after[sid] = {c: prev[c] + rnd.randint(0, 50) for c in STAGE_COUNTERS}
        assert all(v >= 0 for v in stage_delta(before, after).values())


def test_stage_delta_ignores_evicted_stages():
    before = {1: {"tasks": 100, "shuffle_write_b": 5000}, 2: {"tasks": 4}}
    after = {2: {"tasks": 6}, 3: {"tasks": 8, "shuffle_write_b": 10}}
    d = stage_delta(before, after)
    assert d["tasks"] == 2 + 8
    assert d["shuffle_write_b"] == 10


def test_tail_percentile_has_ten_samples_beyond():
    for n, want in [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
                    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)]:
        xs = list(range(n))
        got = tail_percentile(xs)
        if want is None:
            assert got is None
            continue
        assert got[0] == want, n
        assert sum(1 for x in xs if x > got[1]) >= 10 - 1, n  # interpolation may sit on a sample
        assert got[1] == percentile(xs, want)


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, row_group_size=max(table.num_rows, 1))
    return buf.getvalue()


def test_same_seed_gives_byte_identical_inputs():
    a, b = gen.shape_table(7, 5000), gen.shape_table(7, 5000)
    assert _parquet_bytes(a) == _parquet_bytes(b)
    assert _parquet_bytes(a) != _parquet_bytes(gen.shape_table(8, 5000))
    ra, rb = gen.relational_tables(7, 1), gen.relational_tables(7, 1)
    assert ra.keys() == rb.keys()
    for name in ra:
        assert _parquet_bytes(ra[name]) == _parquet_bytes(rb[name]), name
    assert _parquet_bytes(ra["lineitem"]) != _parquet_bytes(gen.relational_tables(8, 1)["lineitem"])


def test_same_seed_gives_byte_identical_csv(tmp_path):
    t = gen.shape_table(3, 2000)
    paths = []
    for i in range(2):
        c, y = tmp_path / f"{i}.csv", tmp_path / f"{i}.yaml"
        gen.write_shape_csv(t, str(c), str(y))
        paths.append((c.read_bytes(), y.read_bytes()))
    assert paths[0] == paths[1]


def test_shape_table_has_nulls_and_sorted_key():
    t = gen.shape_table(1, 20_000)
    ids = t.column("id").to_numpy()
    assert (np.diff(ids) > 0).all()
    for c in ("price", "category", "text"):
        share = t.column(c).null_count / t.num_rows
        assert 0.03 < share < 0.07, c


def test_same_seed_gives_same_operation_sequence():
    t = gen.shape_table(5, 20_000)
    ids, uids = t.column("id").to_numpy(), t.column("uid").to_numpy()

    def plans(seed):
        rng = np.random.default_rng([seed, 7])
        return [read_plan(rng, ids, uids) for _ in range(3)]

    assert plans(5) == plans(5)
    assert plans(5) != plans(6)
    assert pipeline_order(5) == pipeline_order(5)
    assert sorted(pipeline_order(5)) == sorted(pipeline_order(6))
    assert len(pipeline_order(5)) == 26


def test_benchmark_json_lists_the_per_layer_metrics():
    from perfbench.layers import PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER


def test_warm_summary_reads_the_first_warm_pass():
    from perfbench.workloads import Sample, warm_summary

    samples = [Sample("cold", 0, 9.0, True)]
    for p, scale in ((1, 1.0), (2, 0.5), (3, 0.5)):  # later passes run faster
        samples += [Sample("a", p, scale * 0.1, True), Sample("a", p, scale * 0.3, True),
                    Sample("b", p, scale * 0.4, True)]
    pass_s, geo_ms = warm_summary(samples)
    assert abs(pass_s - (0.1 + 0.3 + 0.4)) < 1e-9
    assert abs(geo_ms - (200 * 400) ** 0.5) < 1e-6
