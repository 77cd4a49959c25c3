"""The idempotence-token window both stores share: a commit keeps only the
tokens of the last ``_TOKEN_KEEP`` versions (or eras), and replaying a
kept token returns its committed version without writing anything."""

from __future__ import annotations

import json
import os

import pytest

from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore
from incr_iter_hadoop_spark.sources.scd2_store import Scd2Store


def _preserve(spark, path):
    store = PreserveStore(spark, path).initialize(
        spark.createDataFrame([(1, 1, 1.0)], "g bigint, s bigint, v double"),
        group_keys=["g"],
        source_keys=["s"],
        agg_sql={"total": "CAST(SUM(v) AS DOUBLE)"},
        num_buckets=2,
    )

    def commit(i: int, token: str) -> int:
        delta = spark.createDataFrame(
            [(i % 3, 10 + i, float(i), "+")],
            "g bigint, s bigint, v double, op string",
        )
        return store.refresh(delta, token=token)

    return store, commit, "refresh_tokens"


def _scd2(spark, path):
    store = Scd2Store(spark, path).initialize(
        spark.createDataFrame([(1, 1.0)], "k bigint, v double"),
        key_cols=["k"],
        num_buckets=2,
    )

    def commit(i: int, token: str) -> int:
        changes = spark.createDataFrame([(i % 3, float(i))], "k bigint, v double")
        return store.apply_era(changes, token=token)

    return store, commit, "era_tokens"


def _tree(root: str) -> dict[str, float]:
    """Every path under ``root`` with its mtime."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in [d, *(os.path.join(d, f) for f in files)]:
            out[name] = os.path.getmtime(name)
    return out


@pytest.mark.parametrize("make", [_preserve, _scd2], ids=["preserve", "scd2"])
def test_token_window_keeps_the_last_versions_and_replay_writes_nothing(
    spark, tmp_path, make
):
    store, commit, key = make(spark, str(tmp_path / "store"))
    keep = store._TOKEN_KEEP
    versions = [commit(i, f"tok{i}") for i in range(keep + 2)]
    assert versions == list(range(1, keep + 3))

    meta_path = os.path.join(store.path, "meta.json")
    with open(meta_path) as f:
        meta_bytes = f.read()
    assert json.loads(meta_bytes)[key] == {
        f"tok{i}": versions[i] for i in range(2, keep + 2)
    }

    before = _tree(store.path)
    assert commit(keep + 1, f"tok{keep + 1}") == versions[-1]
    assert _tree(store.path) == before
    with open(meta_path) as f:
        assert f.read() == meta_bytes
