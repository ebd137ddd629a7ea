"""The three workloads: seeded inputs, the timed operation, and the
output check for each.

Every input comes from the ``--seed``: grid coordinates, kernel
constants, hole positions and the corpus tables.  A workload object
has

- ``prepare()``: build its inputs (repeatable; part of set-up),
- ``reference()``: compute the expected outputs (once; not set-up),
- ``before_op()``: untimed per-operation reset (store restore),
- ``op(rec)``: the timed operation, with ``rec`` the span recorder,
- ``check()``: compare the program's output with a reference computed
  without Spark; returns a list of mismatches (empty = correct),
- ``points`` / ``rows``: the volume one operation delivers, for the
  throughput metrics.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np

from . import corpus
from .kernel import N_SPEC, kernel, kernel_np

DIMS = ("a", "b", "c", "d")
VARS = ("energy", "spec")
STORE_COLS = DIMS + ("k",) + VARS

# seed-store grid shape (a, b, c, d) per size; the top-up extends ``a``
SHAPES = {
    "full": {"seed": (128, 16, 16, 4), "ext": 3, "docs": 600, "vecs": 400},
    "tiny": {"seed": (16, 4, 4, 2), "ext": 1, "docs": 120, "vecs": 120},
}
HOLE_FRAC = 0.01


# -- seeded inputs -------------------------------------------------------


def coords(seed: int, shape) -> dict[str, list]:
    """Sorted, distinct coordinates per dim; floats for a/b, ints for c/d."""
    # one stream per dim, drawn in order: a longer ``a`` extends the
    # shorter one and leaves the other dims unchanged
    rng = [np.random.default_rng([seed, 0, i]) for i in range(4)]
    na, nb, nc, nd = shape
    a = np.round(np.cumsum(rng[0].uniform(0.01, 0.02, na)) - 0.5, 6)
    b = np.round(np.cumsum(rng[1].uniform(0.02, 0.04, nb)) + 1.0, 6)
    c = np.sort(rng[2].permutation(1000)[:nc])
    d = np.sort(rng[3].permutation(50)[:nd])
    return {
        "a": [float(x) for x in a], "b": [float(x) for x in b],
        "c": [int(x) for x in c], "d": [int(x) for x in d],
    }


def constants(seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 1])
    w = np.round(rng.uniform(0.5, 2.0, 4), 4)
    return {f"w{i}": float(x) for i, x in enumerate(w)}


def holes(seed: int, n_points: int) -> np.ndarray:
    """Sorted linear indices of the seed store's hole points."""
    rng = np.random.default_rng([seed, 3])
    n = max(1, int(round(HOLE_FRAC * n_points)))
    return np.sort(rng.choice(n_points, n, replace=False))


def grid_arrays(combos: dict) -> dict[str, np.ndarray]:
    """Row-major cartesian grid, last dim fastest (the library's order)."""
    mesh = np.meshgrid(
        *[np.asarray(combos[d]) for d in DIMS], indexing="ij"
    )
    return {d: m.ravel() for d, m in zip(DIMS, mesh)}


def evaluate(combos: dict, consts: dict):
    """(grid arrays, energy[n], spec[n, 8]) by the vectorized kernel."""
    g = grid_arrays(combos)
    energy, spec = kernel_np(g["a"], g["b"], g["c"], g["d"], **consts)
    return g, energy, spec


def long_table(combos, consts, hole_idx=()):
    """The long-format store as numpy columns (explode mode), with
    energy/spec set to NaN at every row of a hole point."""
    g, energy, spec = evaluate(combos, consts)
    energy = energy.astype(float)
    spec = spec.astype(float)
    energy[hole_idx] = np.nan
    spec[hole_idx] = np.nan
    n = len(energy)
    cols = {d: np.repeat(g[d], N_SPEC) for d in DIMS}
    cols["k"] = np.tile(np.arange(N_SPEC, dtype=np.int64), n)
    cols["energy"] = np.repeat(energy, N_SPEC)
    cols["spec"] = spec.reshape(-1)
    return cols


def write_store(cols: dict, path: str, attrs: dict, n_files: int = 4) -> None:
    """Write a store the way a Harvester publish leaves it: parquet
    part files, ``_SUCCESS`` and the ``_attrs.json`` sidecar."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"a": pa.float64(), "b": pa.float64(), "c": pa.int64(),
             "d": pa.int64(), "k": pa.int64(), "energy": pa.float64(),
             "spec": pa.float64()}
    arrays = {}
    for c in STORE_COLS:
        v = cols[c]
        mask = np.isnan(v) if v.dtype.kind == "f" else None
        arrays[c] = pa.array(v, types[c], mask=mask)
    table = pa.table(arrays)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(path, f"part-{i:05d}-seed.snappy.parquet"),
        )
    open(os.path.join(path, "_SUCCESS"), "w").close()
    with open(os.path.join(path, "_attrs.json"), "w") as fh:
        json.dump(attrs, fh)


def write_seed_store(seed: int, seed_shape, path: str) -> None:
    """The seed store (1% holes), written without Spark."""
    combos = coords(seed, seed_shape)
    consts = constants(seed)
    hole_idx = holes(seed, int(np.prod(seed_shape)))
    write_store(long_table(combos, consts, hole_idx), path, consts)


def listing(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out.append((os.path.relpath(p, path), os.path.getsize(p)))
    return sorted(out)


def make_runner(spark, consts):
    from xyzpy_spark import Runner

    return Runner(
        kernel, list(VARS), var_dims={"spec": ["k"]},
        var_coords={"k": list(range(N_SPEC))}, constants=consts,
        spark=spark,
    )


def _close(x, y, rtol=1e-9) -> bool:
    return abs(x - y) <= rtol * max(1.0, abs(x), abs(y))


def expected_store(combos, consts) -> dict:
    """Row count, set values and the kernel's closed-form sums of a
    store that holds every point of ``combos``."""
    _, energy, spec = evaluate(combos, consts)
    return {
        "rows": len(energy) * N_SPEC, "set": len(energy) * N_SPEC,
        "energy": float(energy.sum()) * N_SPEC, "spec": float(spec.sum()),
    }


def store_mismatches(spark, path, want: dict) -> list[str]:
    from pyspark.sql import functions as F

    got = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("rows"), F.count("energy").alias("set"),
        F.sum("energy").alias("energy"), F.sum("spec").alias("spec"),
    ).collect()[0].asDict()
    bad = []
    for k in ("rows", "set"):
        if got[k] != want[k]:
            bad.append(f"store {k}: {got[k]} != {want[k]}")
    for k in ("energy", "spec"):
        if got[k] is None or not _close(got[k], want[k]):
            bad.append(f"store sum({k}): {got[k]!r} != {want[k]!r}")
    return bad


# -- workloads -------------------------------------------------------------


class Workload:
    name = ""
    points = rows = 0
    # the loop runs --seconds and at least this many timed operations,
    # so the median never rests on the first, still-warming operation
    min_ops = 3
    # warm up with a tiny operation before the full-size one
    tiny_warmup = True

    def __init__(self, spark, seed: int, size: str, work: str, helper):
        """``helper`` is an executor on a separate process: bulky input
        generation and the references run there, so their memory never
        counts as the program's."""
        self.spark, self.seed, self.work = spark, seed, work
        self.helper = helper
        self.shape = SHAPES[size]
        self.consts = constants(seed)

    def prepare(self) -> None:
        pass

    def reference(self) -> None:
        """Compute what ``check`` compares with (once, after set-up)."""

    def before_op(self) -> None:
        pass

    def op(self, rec) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []


class _SeedStore(Workload):
    """Shared set-up: the seed store (1% holes) written without Spark."""

    def prepare(self):
        seed_shape = self.shape["seed"]
        self.seed_combos = coords(self.seed, seed_shape)
        self.points = int(np.prod(seed_shape))
        self.pristine = os.path.join(self.work, "seed_pristine")
        self.helper.submit(
            write_seed_store, self.seed, seed_shape, self.pristine
        ).result()
        self.pristine_listing = listing(self.pristine)
        self.runner = make_runner(self.spark, self.consts)


class SweepTopup(_SeedStore):
    """``harvest_combos(missing_only=True)`` over the seed store, with
    ``a`` extended: the holes and the new slice are evaluated, merged
    and the whole store republished."""

    name = "sweep_topup"

    def prepare(self):
        super().prepare()
        # the request appends ``ext`` new ``a`` values to the seed grid
        shape = list(self.shape["seed"])
        shape[0] += self.shape["ext"]
        self.combos = coords(self.seed, shape)
        self.points = int(np.prod(shape))
        self.rows = self.points * N_SPEC
        self.store = os.path.join(self.work, "topup_store")

    def before_op(self):
        """Restore the pristine seed store and prove the restore."""
        for p in (self.store, self.store + ".bak"):
            shutil.rmtree(p, ignore_errors=True)
        shutil.copytree(self.pristine, self.store)
        if listing(self.store) != self.pristine_listing:
            raise RuntimeError("restored store differs from the seed store")
        base = os.path.basename(self.store)
        left = [
            f for f in os.listdir(self.work)
            if f.startswith(base + ".bak") or f.startswith(base + ".tmp-")
        ]
        if left:
            raise RuntimeError(f"publish leftovers before the run: {left}")

    def op(self, rec):
        with rec.span("op", workload=self.name):
            self.runner.harvester(self.store).harvest_combos(
                self.combos, missing_only=True
            )

    def reference(self):
        self.want = expected_store(self.combos, self.consts)

    def check(self):
        return store_mismatches(self.spark, self.store, self.want)


class ReduceStore(_SeedStore):
    """Five reductions over the seed store, collected to the driver."""

    name = "reduce_store"
    N_REDUCTIONS = 5

    def prepare(self):
        super().prepare()
        self.rows = self.points * N_SPEC * self.N_REDUCTIONS

    def reference(self):
        self.expected = self.helper.submit(
            reduce_reference, self.seed, self.shape["seed"]
        ).result()

    def check(self):
        return compare_reductions(self.result, self.expected)

    def op(self, rec):
        import xyzpy_spark.missing as missing
        import xyzpy_spark.operators.reductions as red

        with rec.span("op", workload=self.name):
            df = self.runner.harvester(self.pristine).load_full_df()
            out = {
                "median_band": red.aggregate_over(
                    df, ["c", "d"], ["energy"], method="median", err=0.5
                ),
                "mean_stderr": red.aggregate_over(
                    df, ["d"], list(VARS), method="mean", err="stderr"
                ),
                "histogram": red.histogram(df, "spec", by=["d"]),
                "heatmap": red.heatmap_table(
                    df, "c", "b", "energy", agg="mean",
                    x_values=self.seed_combos["c"],
                ),
                # a point is missing when no k carries data
                "missing": missing.find_missing_cases(
                    df, list(DIMS) + ["k"], list(VARS), ignore_dims=["k"]
                ),
            }
            self.result = {k: v.toPandas() for k, v in out.items()}


class CorpusPipeline(Workload):
    """Four registry queries over the seeded corpus, each built and
    then run by collecting its result (at most a few thousand rows),
    so every pass can be checked without running it twice."""

    name = "corpus_pipeline"
    # a pass takes longer than --seconds and the runs are the longest
    # of the benchmark; passes after the warm-up vary little within a
    # run, so one timed pass is enough
    min_ops = 1
    # a cold pass is mostly plan build, whose cost does not shrink with
    # the corpus: a tiny pass would cost as much as a full one
    tiny_warmup = False

    def prepare(self):
        import __spark_entry__ as entry

        self.table_dir = os.path.join(self.work, "corpus")
        corpus.make_corpus(
            self.seed, self.shape["docs"], self.shape["vecs"], self.table_dir
        )
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: registry[q] for q in corpus.QUERIES}
        self.oracles = {q: oracles[q] for q in corpus.QUERIES}
        n_in = self.shape["docs"] + self.shape["vecs"]
        self.points = n_in
        # two queries read each table
        self.rows = 2 * n_in
        self.expected = None
        self.last = {}

    def op(self, rec):
        self.last = {}
        with rec.span("op", workload=self.name):
            for q, fn in self.fns.items():
                with rec.span(f"pipeline.{q}.build"):
                    df = fn(self.spark, self.table_dir)
                with rec.span(f"pipeline.{q}.exec"):
                    self.last[q] = (df.columns, df.collect())

    def reference(self):
        self.twins = self.helper.submit(
            corpus.oracle_all, self.table_dir, self.oracles
        ).result()

    def check(self):
        """The first pass is compared with the DuckDB twins and pins the
        digests; every later pass must reproduce them."""
        if self.expected is None:
            return self._oracle_check()
        bad = []
        for q, (cols, rows) in self.last.items():
            got = (len(rows), corpus.digest([tuple(r) for r in rows], cols))
            if got != self.expected[q]:
                bad.append(f"{q}: {got[0]} rows/digest differ from set-up")
        return bad

    def _oracle_check(self) -> list[str]:
        bad, self.expected = [], {}
        for q, (cols, rows) in self.last.items():
            rows = [tuple(r) for r in rows]
            ocols, orows = self.twins[q]
            if not rows:
                bad.append(f"{q}: empty result")
            if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
                bad.append(f"{q}: shape {len(rows)}x{sorted(cols)} vs "
                           f"oracle {len(orows)}x{sorted(ocols)}")
            elif (corpus.normalize(rows, cols)
                  != corpus.normalize(orows, ocols)):
                bad.append(f"{q}: values differ from the oracle")
            self.expected[q] = (len(rows), corpus.digest(rows, cols))
        return bad


WORKLOADS = {w.name: w for w in (SweepTopup, ReduceStore, CorpusPipeline)}


# -- reduce_store reference ------------------------------------------------


def reduce_reference(seed: int, seed_shape) -> dict:
    """The five reductions computed with pandas/numpy from the same
    arrays the seed store is written from."""
    import pandas as pd

    combos = coords(seed, seed_shape)
    df = pd.DataFrame(long_table(
        combos, constants(seed), holes(seed, int(np.prod(seed_shape)))
    ))
    ref = {}
    g = df.groupby(["c", "d"])[["energy"]]
    med = g.median()
    lo, hi = g.quantile(0.25), g.quantile(0.75)
    ref["median_band"] = pd.concat(
        {"": med, "_lo": lo, "_hi": hi}, axis=1
    )
    ref["median_band"].columns = [v + s for s, v in ref["median_band"].columns]
    g = df.groupby("d")[list(VARS)]
    mean, err = g.mean(), g.std(ddof=1) / np.sqrt(g.count())
    err.columns = [v + "_err" for v in err.columns]
    ref["mean_stderr"] = pd.concat([mean, err], axis=1)

    x = df["spec"].to_numpy()
    ok = ~np.isnan(x)
    xs, ds = x[ok], df["d"].to_numpy()[ok]
    lo_, hi_ = float(xs.min()), float(xs.max())
    # the reference's auto bin count: min(max(3, sqrt(n)), 50)
    bins = int(min(max(3, round(math.sqrt(len(xs)))), 50))
    width = (hi_ - lo_) / bins or 1.0
    b = np.minimum(np.floor((xs - lo_) / width).astype(np.int64), bins - 1)
    hist = pd.DataFrame({"d": ds, "bin": b}).groupby(["d", "bin"]).size()
    ref["histogram"] = hist.rename("count").to_frame()
    ref["histogram"]["spec"] = lo_ + (
        hist.index.get_level_values("bin").to_numpy() + 0.5
    ) * width

    heat = df.pivot_table(
        index="b", columns="c", values="energy", aggfunc="mean"
    )
    ref["heatmap"] = heat[combos["c"]]

    miss = df[np.isnan(df["energy"].to_numpy())][list(DIMS)]
    ref["missing"] = sorted(set(map(tuple, miss.itertuples(index=False))))
    return ref


def _frames_close(got, want, what: str) -> list[str]:
    if got.shape != want.shape:
        return [f"{what}: shape {got.shape} != {want.shape}"]
    g = got.to_numpy(dtype=float)
    w = want.to_numpy(dtype=float)
    if not np.allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True):
        return [f"{what}: values differ (max abs diff "
                f"{np.nanmax(np.abs(g - w)):.3g})"]
    return []


def compare_reductions(result: dict, ref: dict) -> list[str]:
    bad = []
    r = result["median_band"].set_index(["c", "d"]).sort_index()
    bad += _frames_close(r[ref["median_band"].columns], ref["median_band"],
                         "aggregate_over median band")
    r = result["mean_stderr"].set_index("d").sort_index()
    bad += _frames_close(r[ref["mean_stderr"].columns], ref["mean_stderr"],
                         "aggregate_over mean/stderr")
    r = result["histogram"].set_index(["d", "bin"]).sort_index()
    bad += _frames_close(r[["count", "spec"]], ref["histogram"], "histogram")
    r = result["heatmap"].set_index("b").sort_index()
    bad += _frames_close(r, ref["heatmap"], "heatmap_table")
    got = sorted(map(tuple, result["missing"][list(DIMS)]
                     .itertuples(index=False)))
    if got != ref["missing"]:
        bad.append(f"find_missing_cases: {len(got)} points != "
                   f"{len(ref['missing'])}")
    return bad
