"""The Harvester top-up: grid -> anti-join -> evaluate -> outer-merge
-> publish.

Two properties are pinned here:

- its fixed driver cost: the Spark jobs it issues (schema inference on
  the store read, the emptiness probe, the publish write) and the
  filesystem metadata calls it makes (listing, sidecars, the .bak
  swap), counted for the three ways into ``harvest_combos``, so a
  refactor of the path cannot add a job or a round trip unnoticed;
- which stored points count as present, so that NaN cells, all-NULL
  points and kept failures are re-run by a missing-only top-up and
  picked by ``missing.parse_into_cases`` alike.
"""

import uuid

import pytest

from xyzpy_spark import fsutil
from xyzpy_spark.farming import Runner

_FS_CALLS = [n for n in fsutil.__all__ if n not in ("hadoop_fs", "jpath")]


def _sumprod(a, b):
    return float(a + b), float(a * b)


@pytest.fixture
def runner(spark):
    return Runner(
        _sumprod, var_names=["s", "p"], attrs={"note": "cost"}, spark=spark
    )


def _driver_cost(spark, monkeypatch, action):
    """(Spark jobs, outermost fsutil calls) issued by ``action()``."""
    calls = []
    depth = [0]

    def counted(orig):
        def call(*a, **kw):
            if not depth[0]:
                calls.append(orig.__name__)
            depth[0] += 1
            try:
                return orig(*a, **kw)
            finally:
                depth[0] -= 1
        return call

    sc = spark.sparkContext
    group = f"topup-cost-{uuid.uuid4().hex[:8]}"
    with monkeypatch.context() as m:
        for name in _FS_CALLS:
            m.setattr(fsutil, name, counted(getattr(fsutil, name)))
        sc.setJobGroup(group, group, False)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return jobs, len(calls)


def test_topup_driver_cost(spark, runner, tmp_path, monkeypatch):
    store = str(tmp_path / "store.parquet")
    h = runner.harvester(store)
    grid = {"a": [1, 2, 3], "b": [10, 20]}
    grown = {"a": [1, 2, 3, 4], "b": [10, 20]}

    # first harvest into no store: listing + .bak probe, then the
    # publish (attrs write, exists, rename, temp-dir cleanup)
    first = _driver_cost(spark, monkeypatch, lambda: h.harvest_combos(grid))
    assert h.full_df.count() == 6

    # missing-only top-up over the store: one listing, one attrs read,
    # one limit(1) probe over the anti-join, then the publish with its
    # .bak swap (AQE runs each shuffle stage as its own job)
    topup = _driver_cost(
        spark, monkeypatch, lambda: h.harvest_combos(grown)
    )
    assert h.full_df.count() == 8

    # full re-run: no anti-join and no probe, same publish
    rerun = _driver_cost(
        spark, monkeypatch,
        lambda: h.harvest_combos(grown, missing_only=False),
    )
    assert h.full_df.count() == 8

    assert {"first": first, "topup": topup, "rerun": rerun} == {
        "first": (2, 6),
        "topup": (10, 8),
        "rerun": (5, 8),
    }


def _holey(a, b):
    if (a, b) == (1, 10):
        return float("nan"), float("nan")  # every cell NaN: missing
    if (a, b) == (1, 20):
        return float("nan"), 1.0  # one cell set: present
    if (a, b) == (2, 10):
        return None, None  # every cell NULL: missing
    if (a, b) == (2, 20):
        raise ValueError("boom")  # kept failure: missing
    return float(a), float(b)


def test_present_point_rule_topup_and_parse_into_cases(
    spark, tmp_path, monkeypatch
):
    from xyzpy_spark.missing import parse_into_cases

    combos = {"a": [1, 2, 3], "b": [10, 20]}
    r = Runner(_holey, var_names=["x", "y"], spark=spark)
    h = r.harvester(str(tmp_path / "store.parquet"))
    store = h.harvest_combos(combos, on_error="keep")
    assert "_error" in store.columns and store.count() == 6

    rerun = []
    orig = r.run_grid_df

    def recording(grid_df, **kw):
        rerun.extend((p["a"], p["b"]) for p in grid_df.collect())
        return orig(grid_df, **kw)

    monkeypatch.setattr(r, "run_grid_df", recording)
    h.harvest_combos(combos, missing_only=True, on_error="keep")
    expected = {(1, 10), (2, 10), (2, 20)}
    assert sorted(rerun) == sorted(expected)

    # the same store through the public primitive, naming every
    # non-dim column: _error is never an output variable
    todo = parse_into_cases(
        spark, combos, df=h.full_df,
        var_names=[c for c in h.full_df.columns if c not in ("a", "b")],
    )
    assert {(p["a"], p["b"]) for p in todo.collect()} == expected
