"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.oracle import LatestWins, merge_key, query_mismatch
from perfbench.spans import Span, Tracer
from perfbench.stats import percentile, quartile_spread, reportable_percentile
from perfbench.workloads import first_visible


def _blob_bytes(blobs):
    return [(os.path.basename(b.path), b.mtime_ms, open(b.path, "rb").read()) for b in blobs]


def test_generator_is_deterministic_per_seed(tmp_path):
    def make(seed, sub):
        rng = gen.rng_for(seed, 1)
        return gen.write_blobs(str(tmp_path / sub), rng, np.arange(1000), 5, 1_700_000_000_000)

    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    assert _blob_bytes(a) == _blob_bytes(b)
    assert _blob_bytes(a) != _blob_bytes(c)
    ta, tb = gen.query_tables(7, 0.001), gen.query_tables(7, 0.001)
    assert all(ta[name].equals(tb[name]) for name in ta)
    assert not gen.query_tables(8, 0.001)["orders"].equals(ta["orders"])


def test_blobs_never_repeat_a_key_version_pair(tmp_path):
    rng = gen.rng_for(3, 1)
    blobs = gen.write_blobs(str(tmp_path / "base"), rng, np.arange(2000), 8, 1_700_000_000_000)
    ups = gen.write_blobs(
        str(tmp_path / "up"), rng, gen.upsert_ids(rng, 2000, 300, 50), 3, 1_700_000_000_008
    )
    mtimes = [b.mtime_ms for b in blobs + ups]
    assert len(set(mtimes)) == len(mtimes)
    pairs = set()
    for b in blobs + ups:
        t = pq.read_table(b.path)
        keys = list(zip(t["l_orderkey"].to_pylist(), t["l_linenumber"].to_pylist()))
        assert len(set(keys)) == len(keys)
        for k in keys:
            assert (k, b.version_us) not in pairs
            pairs.add((k, b.version_us))
    # no temp file is left behind by write-then-rename
    assert not [f for f in os.listdir(tmp_path / "base") if f.startswith(".")]


def test_percentile_rule_needs_ten_samples_beyond():
    assert reportable_percentile(19) is None
    assert reportable_percentile(20) == 50.0
    assert reportable_percentile(99) == 50.0
    assert reportable_percentile(100) == 90.0
    assert reportable_percentile(200) == 95.0
    assert reportable_percentile(1000) == 99.0
    assert reportable_percentile(10_000) == 99.9
    xs = list(np.random.default_rng(1).exponential(size=37))
    for p in (0, 10, 50, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_quartile_spread_matches_statistics_quantiles():
    xs = [1.0, 1.1, 0.9, 1.05, 1.2, 0.95, 1.0, 1.02, 0.98, 1.01]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_freshness_bookkeeping_under_ms_mtime_rounding(tmp_path):
    # an mtime set with sub-ms detail is seen by the engine in whole ms
    path = str(tmp_path / "b.parquet")
    pq.write_table(gen.lineitem_rows(gen.rng_for(1, 0), np.arange(3)), path)
    ns = 1_700_000_000_123 * 1_000_000 + 999_999
    os.utime(path, ns=(ns, ns))
    ms = gen.mtime_ms_of(path)
    assert ms == 1_700_000_000_123
    version_us = ms * 1000
    # a watermark exactly at the truncated version makes the blob visible;
    # one µs short does not; the first covering hook wins
    hooks = [(1.0, version_us - 1), (2.0, version_us), (3.0, version_us + 5)]
    assert first_visible(hooks, version_us) == 2.0
    assert first_visible(hooks[:1], version_us) is None
    assert first_visible([(0.5, None)], version_us) is None


def _expected_frame(oracle: LatestWins):
    return oracle.con.execute(
        "SELECT * EXCLUDE (l_shipdate), make_timestamp(l_shipdate) AS l_shipdate "
        f"FROM ({oracle._latest()})"
    ).df()


def test_oracle_catches_an_injected_wrong_row(tmp_path):
    rng = gen.rng_for(5, 1)
    base = gen.write_blobs(str(tmp_path / "b"), rng, np.arange(400), 4, 1_700_000_000_000)
    up = gen.write_blobs(
        str(tmp_path / "u"), rng, gen.upsert_ids(rng, 400, 60, 10), 1, 1_700_000_000_004
    )
    oracle = LatestWins()
    oracle.add(base)
    oracle.add(up)
    assert oracle.count() == 410
    assert oracle.max_version_us == up[0].version_us
    good = _expected_frame(oracle)
    assert oracle.mismatches(good) == 0

    wrong = good.copy()
    wrong.loc[0, "l_quantity"] += 1
    assert oracle.mismatches(wrong) == 2  # one row missing, one extra
    stale = good.copy()
    stale.loc[stale["createdon"] == up[0].version_us, "createdon"] -= 1000
    assert oracle.mismatches(stale) > 0  # an older version survived
    assert oracle.mismatches(good.iloc[1:]) == 1


def test_merge_key_matches_sha256_of_joined_keys():
    import hashlib

    assert merge_key(12, 3) == hashlib.sha256(b"12||3").hexdigest()


def test_query_mismatch_is_order_insensitive():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert query_mismatch(a, a.iloc[::-1]) is None
    assert query_mismatch(a, a.assign(v=[0.5, 1.25])) is not None
    assert query_mismatch(a, a.iloc[:1]) is not None


def test_self_time_subtracts_the_union_of_children():
    tracer = Tracer(spark=None, run_id="t", enabled=False)
    tracer.spans = [
        Span(1, "outer", "a", 0.0, 10.0),
        Span(2, "c1", "b", 1.0, 4.0, parent=1),
        Span(3, "c2", "b", 3.0, 6.0, parent=1),  # overlaps c1
        Span(4, "c3", "c", 8.0, 12.0, parent=1),  # runs past the parent
    ]
    selfs = tracer.self_times()
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert tracer.layer_self_s() == pytest.approx({"a": 3.0, "b": 6.0, "c": 4.0})


def test_setup_counts_the_median_preload(monkeypatch):
    from perfbench import run as run_mod

    clock = iter([10.0, 16.0, 16.0, 18.0, 18.0, 21.0, 30.0])  # preloads of 6, 2, 3 s
    monkeypatch.setattr(run_mod.time, "perf_counter", lambda: next(clock))
    r = run_mod.Run(None, "", 1, 15, None, None, t0=0.0)
    assert r.preload(lambda i: i) == run_mod.PRELOAD_REPEATS - 1
    r.start_measuring()
    assert r.preload_s == [6.0, 2.0, 3.0]
    # 30 s to the first timed operation, less the two preloads past the median
    assert r.setup_s == pytest.approx(30.0 - (6.0 + 2.0))


def test_result_metrics_carry_manifest_units_in_manifest_order():
    from perfbench.run import manifest_units, with_units

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    units = manifest_units(root)["end_to_end"]
    values = {name: i + 0.5 for i, name in enumerate(reversed(list(units)))}
    out = with_units({**values, "extra": 1.0}, units)
    assert list(out) == list(units)
    assert all(set(m) == {"value", "unit"} and m["unit"] == units[n] for n, m in out.items())
    with pytest.raises(KeyError):
        with_units({}, units)
