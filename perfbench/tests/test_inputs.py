"""Unit tests for the input cache, its batch writer, the cached oracle
and the drain content hash:

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import workloads  # noqa: E402
from gamechanger_data_spark.datagen import (  # noqa: E402
    FeedSpec, all_events, pandas_oracle, write_feed,
)
from gamechanger_data_spark.functions.text import normalize_text_pandas  # noqa: E402
from workloads import (  # noqa: E402
    _frames_equal, cached_feed, cached_oracle, content_hash, write_batch,
)


def _spec(seed):
    return FeedSpec(n_convs=5, max_turns=3, n_batches=2, events_per_batch=20, seed=seed,
                    with_version_hash=False, evolve_batch=None)


def test_cached_feed_is_reused_and_only_the_newest_are_kept(tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "INPUT_CACHE_KEEP", 2)
    cache = str(tmp_path)
    first = cached_feed(cache, "w", _spec(1), 2)
    marker = os.path.join(first, "kept")
    open(marker, "w").close()
    assert cached_feed(cache, "w", _spec(1), 2) == first  # not regenerated
    assert os.path.exists(marker)
    assert cached_feed(cache, "w", _spec(1), 3) != first  # another shape
    os.utime(first, (0, 0))  # oldest
    cached_feed(cache, "w", _spec(2), 2)
    assert not os.path.exists(first)
    assert len(os.listdir(cache)) == 2
    assert not [n for n in os.listdir(cache) if ".tmp-" in n]


def test_write_batch_writes_the_files_of_write_feed(tmp_path):
    spec = FeedSpec(n_convs=5, max_turns=3, n_batches=3, events_per_batch=40, seed=4,
                    with_version_hash=False, evolve_batch=2)
    write_feed(str(tmp_path / "ref"), spec, parts_per_batch=3)
    for b in range(spec.n_batches):
        write_batch(str(tmp_path / "par"), spec, b, 3)

    def files(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    ref, par = files(tmp_path / "ref"), files(tmp_path / "par")
    assert ref == par and any(f.endswith("ready.marker") for f in ref)
    for f in ref:
        if f.endswith(".parquet"):
            assert pq.read_table(tmp_path / "ref" / f).equals(pq.read_table(tmp_path / "par" / f))


def test_content_hash_ignores_row_order_and_null_kind_but_not_values():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "z"], "change_op": ["upsert"] * 3})
    b = a.iloc[::-1].copy()
    b["v"] = b["v"].replace({None: np.nan})
    cols = ["change_op", "k", "v"]
    assert content_hash(a, cols) == content_hash(b, cols)
    c = a.copy()
    c.loc[0, "change_op"] = "delete"
    assert content_hash(a, cols) != content_hash(c, cols)
    d = a.copy()
    d.loc[2, "v"] = "zz"
    assert content_hash(a, cols) != content_hash(d, cols)


def test_cached_oracle_is_the_pandas_oracle_and_is_reused(tmp_path):
    spec = FeedSpec(n_convs=6, max_turns=4, n_batches=3, events_per_batch=60, seed=3,
                    with_version_hash=False, evolve_batch=2)
    feed = cached_feed(str(tmp_path), "w", spec, 2)
    got = cached_oracle(feed)
    want = pandas_oracle(all_events(spec), normalize=normalize_text_pandas)
    assert len(got) == len(want) and _frames_equal(got, want)
    path = os.path.join(feed, "oracle.parquet")
    stamp = os.stat(path).st_mtime_ns
    assert _frames_equal(cached_oracle(feed), want)
    assert os.stat(path).st_mtime_ns == stamp  # read back, not recomputed
