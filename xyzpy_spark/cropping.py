"""Staged, decoupled sweep execution: sow -> grow -> reap.

Spark analog of the reference's Crop layer (``xyzpy/gen/cropping.py``):
a sweep is *sown* to disk as a batched grid, *grown* by any number of
independent processes/sessions at any later time (each growing a
subset of batches), and *reaped* back into one deterministic result
table — the pattern for runs too big or too long for one driver
session, or grown by a separate cluster allocation.

Mapping (SURVEY §2.3):

- ``Crop`` dir layout (reference ``cropping.py:35-38, 290-293``) ->
  ``{parent}/.xyz-{name}/`` with ``grid/`` (parquet, partitioned by
  ``batch``), ``results/`` (parquet appended per grown batch),
  ``fn.pkl`` (cloudpickled kernel) and ``spec.json``.
- ``choose_batch_settings`` (``cropping.py:236-288``) -> contiguous
  ``batch = loc * num_batches // n`` ranges (sizes differ by <=1, the
  remainder-spreading rule) — pure arithmetic on the grid's ``_loc``.
- ``grow`` (``cropping.py:1318-1463``) -> read ONLY the requested
  batch partitions (partition-pruned scan), evaluate via the standard
  mapInPandas harness, write ``results/batch=N`` atomically per batch
  (idempotent re-grow).
- ``Reaper``/``reap`` (``cropping.py:862-909, 1471-1535``) -> read
  results, left-join the full grid for ``allow_incomplete`` null fill,
  ``orderBy(_loc)`` — deterministic pairing by key, never file order
  (SURVEY §7 risk #4).
- progress/audit (``cropping.py:412-457, 1151-1199``) -> batch-count
  scans + per-batch row-count audit against expected sizes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import fsutil
from .grid import LOC_COL, case_grid, combo_grid, grid_size
from .prepare import parse_cases, parse_combos, parse_constants
from .runner import (
    VarSpec,
    _result_schema,
    _union_dims,
    evaluate_grid,
    resolve_var_specs,
)
from .utils import OverlapPool, local_df


def _crop_dir(name: str, parent_dir: str) -> str:
    return fsutil.join(parent_dir, f".xyz-{name}")


class Crop:
    """A named, disk-staged sweep (see module docstring)."""

    def __init__(
        self, name: str, parent_dir: str = ".", spark: SparkSession | None = None
    ):
        self.name = name
        self.location = _crop_dir(name, parent_dir)
        self._spark = spark

    # -- paths ----------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = SparkSession.builder.getOrCreate()
        return self._spark

    @property
    def grid_path(self) -> str:
        return fsutil.join(self.location, "grid")

    @property
    def results_path(self) -> str:
        return fsutil.join(self.location, "results")

    @property
    def fn_path(self) -> str:
        return fsutil.join(self.location, "fn.pkl")

    @property
    def spec_path(self) -> str:
        return fsutil.join(self.location, "spec.json")

    def exists(self) -> bool:
        return fsutil.exists(self.spark, self.spec_path)

    def delete(self) -> None:
        fsutil.delete(self.spark, self.location)

    # -- sow ------------------------------------------------------------
    def sow_combos(
        self,
        fn,
        combos=None,
        *,
        cases=None,
        fn_args=None,
        var_names=None,
        var_dims=None,
        var_coords=None,
        var_types=None,
        constants=None,
        num_batches: int | None = None,
        batchsize: int | None = None,
        explode: bool = True,
    ) -> int:
        """Stage the grid + kernel to disk; returns the batch count.

        Batch assignment is ``loc * num_batches // n`` — contiguous
        ranges whose sizes differ by at most one (the reference's
        remainder-spreading rule, ``cropping.py:1305-1310``), written
        as real parquet partitions so growing batch *k* is a
        partition-pruned scan.
        """
        combos = parse_combos(combos)
        cases = parse_cases(cases, fn_args)
        constants = parse_constants(constants)
        n = (len(cases) or 1) * (grid_size(combos) if combos else 1)
        if num_batches is None:
            if batchsize is not None:
                num_batches = -(-n // batchsize)
            else:
                num_batches = min(
                    n, self.spark.sparkContext.defaultParallelism
                )
        num_batches = max(1, min(num_batches, n))

        specs, coords = resolve_var_specs(
            fn, combos, cases, constants, {},
            var_names, var_dims, var_coords, var_types,
        )
        if cases:
            grid = case_grid(self.spark, cases, combos)
        else:
            grid = combo_grid(self.spark, combos)
        grid = grid.withColumn(
            "batch",
            F.expr(f"(`{LOC_COL}` * {num_batches}) div {n}"),
        )
        fsutil.mkdirs(self.spark, self.location)
        fn_bytes = cloudpickle.dumps(fn)
        # the OUTPUT spec is part of the sown identity too: an
        # identical grid re-sown with different var_names/dims/coords/
        # types must not early-return, or reap would decode results
        # with the stale spec.  Hash the same CANONICAL serialization
        # spec.json stores (not repr(): numpy reprs truncate >1000
        # elements and track global printoptions, so repr-keys could
        # both miss real changes and spuriously clear grown results)
        canon_specs = [
            {
                "name": s.name,
                "dims": list(s.dims),
                "type": s.scalar_type.json(),
            }
            for s in specs
        ]
        canon_coords = {
            d: [x.item() if hasattr(x, "item") else x for x in v]
            for d, v in coords.items()
        }
        sow_key = hashlib.sha256(
            json.dumps(
                {
                    "combos": repr(combos),
                    "cases": repr(cases),
                    "constants": {k: repr(v) for k, v in constants.items()},
                    "n": n,
                    "num_batches": num_batches,
                    "explode": explode,
                    "fn": hashlib.sha256(fn_bytes).hexdigest(),
                    "specs": canon_specs,
                    "coords": canon_coords,
                },
                sort_keys=True,
                default=repr,
            ).encode()
        ).hexdigest()
        if fsutil.exists(self.spark, self.spec_path):
            try:
                old_key = self._load_spec().get("sow_key")
            except (OSError, json.JSONDecodeError):
                old_key = None
            if old_key == sow_key:
                # identical re-sow (same grid, kernel, batching):
                # already-grown batches stay valid via the stable _loc
                # join, so keep them — destroying results here would
                # throw away reusable grow work for a no-op
                return num_batches
        # the sown sweep CHANGED: stale results would otherwise make
        # the crop look grown and reap the OLD sweep's values
        fsutil.delete(self.spark, self.results_path)
        grid.write.mode("overwrite").partitionBy("batch").parquet(
            self.grid_path
        )
        fsutil.write_bytes(self.spark, self.fn_path, fn_bytes)
        spec = {
            "sow_key": sow_key,
            "n": n,
            "num_batches": num_batches,
            "constants": {k: repr(v) for k, v in constants.items()},
            "explode": explode,
            "var_specs": canon_specs,
            "coords": canon_coords,
        }
        fsutil.write_text(self.spark, self.spec_path, json.dumps(spec))
        fsutil.write_bytes(
            self.spark,
            fsutil.join(self.location, "constants.pkl"),
            cloudpickle.dumps(constants),
        )
        return num_batches

    # -- introspection --------------------------------------------------
    def _load_spec(self) -> dict:
        return json.loads(fsutil.read_text(self.spark, self.spec_path))

    def _load_specs(self) -> tuple[list[VarSpec], dict]:
        from pyspark.sql import types as T

        spec = self._load_spec()
        var_specs = [
            VarSpec(
                s["name"],
                tuple(s["dims"]),
                T._parse_datatype_json_string(s["type"]),
            )
            for s in spec["var_specs"]
        ]
        coords = {d: tuple(v) for d, v in spec["coords"].items()}
        return var_specs, coords

    @property
    def num_batches(self) -> int:
        return int(self._load_spec()["num_batches"])

    @property
    def n_points(self) -> int:
        return int(self._load_spec()["n"])

    def grown_batches(self) -> set[int]:
        return {
            int(d.split("=", 1)[1])
            for d in fsutil.listdir(self.spark, self.results_path)
            if d.startswith("batch=")
        }

    def missing_batches(self) -> set[int]:
        return set(range(self.num_batches)) - self.grown_batches()

    def is_ready_to_reap(self) -> bool:
        return not self.missing_batches()

    def progress(self) -> float:
        return 1.0 - len(self.missing_batches()) / self.num_batches

    # -- grow -----------------------------------------------------------
    def grow(
        self,
        batch_ids=None,
        *,
        num_workers: int | None = None,
        on_error: str = "raise",
    ) -> None:
        """Evaluate the kernel over selected batches; write results.

        Runnable from ANY session that sees the crop directory (the
        decoupling point).  Each batch's output directory is staged to
        a temp dir and swapped in (delete+rename via the scheme-aware
        fsutil.replace — atomic on HDFS/local, copy+delete on S3A), so
        crashed/duplicate grows are safely re-runnable; one grower per
        batch, the reference's own discipline.
        """
        if batch_ids is None:
            batch_ids = sorted(self.missing_batches())
        elif isinstance(batch_ids, int):
            batch_ids = [batch_ids]
        fn = cloudpickle.loads(fsutil.read_bytes(self.spark, self.fn_path))
        constants = cloudpickle.loads(
            fsutil.read_bytes(
                self.spark, fsutil.join(self.location, "constants.pkl")
            )
        )
        var_specs, coords = self._load_specs()
        explode = bool(self._load_spec()["explode"])

        grid = self.spark.read.parquet(self.grid_path)

        def _grow_one(b: int) -> None:
            part = grid.where(F.col("batch") == int(b)).drop("batch")
            if num_workers:
                part = part.repartition(num_workers)
            out = evaluate_grid(
                part, fn, var_specs, coords,
                constants=constants, explode=explode, on_error=on_error,
            )
            tmp = fsutil.join(self.results_path, f"_tmp_batch_{b}")
            final = fsutil.join(self.results_path, f"batch={b}")
            out.write.mode("overwrite").parquet(tmp)
            fsutil.replace(self.spark, tmp, final)

        # batches are independent (disjoint staged dirs, idempotent
        # tmp+replace swaps), so overlap a bounded number of grow jobs
        # (guide §2.6): the next batch's tasks back-fill executors
        # idled by the current batch's tail.  Results are unchanged —
        # each batch writes only its own dir; a kernel error still
        # raises: first failure wins after IN-FLIGHT batches settle,
        # and QUEUED batches are cancelled (r13 ADVICE — iterating
        # futures in submit order ran every queued batch to completion
        # before surfacing the error), so only valid re-reapable batch
        # dirs remain behind.
        try:
            conc = int(os.environ.get("XYZPY_GROW_CONCURRENCY", "2"))
        except ValueError:
            # a non-integer env value must not crash a grow (r13
            # ADVICE); fall back to the documented default
            conc = 2
        pool_size = min(len(batch_ids), max(1, conc))
        if pool_size <= 1:
            for b in batch_ids:
                _grow_one(b)
        else:
            from concurrent.futures import FIRST_EXCEPTION, wait

            with OverlapPool(
                self.spark, max_workers=pool_size, name="xyzpy-grow"
            ) as pool:
                futs = [pool.submit(_grow_one, b) for b in batch_ids]
                done, not_done = wait(futs, return_when=FIRST_EXCEPTION)
                for f in not_done:
                    f.cancel()
                for f in futs:
                    if not f.cancelled():
                        f.result()

    # -- audit ----------------------------------------------------------
    def expected_batch_sizes(self) -> dict[int, int]:
        n, nb = self.n_points, self.num_batches
        sizes: dict[int, int] = {}
        # assignment loc*nb//n == b  <=>  ceil(b*n/nb) <= loc < ceil((b+1)*n/nb)
        for b in range(nb):
            lo = (b * n + nb - 1) // nb
            hi = ((b + 1) * n + nb - 1) // nb
            sizes[b] = hi - lo
        return sizes

    def check_bad(self, *, delete: bool = False) -> list[int]:
        """Row-count audit of grown batches vs expected grid sizes
        (reference ``check_bad``, ``cropping.py:1151-1199``); returns
        (and optionally deletes, for re-grow) mismatching batches."""
        var_specs, coords = self._load_specs()
        inner = 1
        if self._load_spec()["explode"]:
            for d in _union_dims(s.dims for s in var_specs):
                inner *= len(coords[d])
        expected = {
            b: sz * inner for b, sz in self.expected_batch_sizes().items()
        }
        bad = []
        grown = self.grown_batches()
        if grown:
            counts = {
                r["batch"]: r["cnt"]
                for r in self.spark.read.parquet(self.results_path)
                .groupBy("batch")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            for b in grown:
                if counts.get(b, 0) != expected[b]:
                    bad.append(b)
                    if delete:
                        fsutil.delete(
                            self.spark,
                            fsutil.join(self.results_path, f"batch={b}"),
                        )
        return sorted(bad)

    # -- reap -----------------------------------------------------------
    def reap(
        self,
        *,
        allow_incomplete: bool = False,
        keep_loc: bool = False,
        wait: bool = False,
        timeout: float | None = None,
        poll_interval: float = 0.2,
    ) -> DataFrame:
        """Collect grown results into the final long table.

        Joins results against the sown grid on ``_loc`` so ungrown
        points surface as null rows under ``allow_incomplete``
        (reference ``all_nan_result`` fill, ``cropping.py:472-487``);
        refuses to reap an incomplete crop otherwise
        (``check_ready_to_reap``, ``cropping.py:131-139``).

        ``wait=True`` blocks until every batch has been grown —
        polling the results directory every ``poll_interval`` seconds
        like the reference ``Reaper``'s ``wait_to_load`` loop
        (reference ``cropping.py:1513-1524``) — so decoupled grow
        jobs (another process / cluster) can be reaped from a
        blocking caller.  ``timeout`` (seconds) bounds the wait;
        ``TimeoutError`` names the still-missing batches.  With
        ``allow_incomplete`` the wait is skipped (there is nothing to
        wait for — partial results are the point).
        """
        if wait and not allow_incomplete:
            deadline = (
                None if timeout is None else time.monotonic() + timeout
            )
            while self.missing_batches():
                if deadline is not None and time.monotonic() > deadline:
                    missing = sorted(self.missing_batches())
                    raise TimeoutError(
                        f"crop {self.name!r}: timed out after "
                        f"{timeout}s waiting for batches "
                        f"{missing[:10]}"
                        f"{'...' if len(missing) > 10 else ''}"
                    )
                time.sleep(poll_interval)
        missing = self.missing_batches()
        if missing and not allow_incomplete:
            raise RuntimeError(
                f"crop {self.name!r} not ready to reap: "
                f"missing batches {sorted(missing)[:10]}"
                f"{'...' if len(missing) > 10 else ''}"
            )
        if fsutil.exists(self.spark, self.results_path):
            results = self.spark.read.parquet(self.results_path).drop(
                "batch"
            )
        else:
            # zero batches grown: an empty results frame with the
            # schema evaluate_grid would produce, so the null-fill
            # join below yields the documented all-null grid
            var_specs, coords = self._load_specs()
            results = local_df(self.spark, [], _result_schema(
                var_specs, coords, explode=self._load_spec()["explode"],
            ))
        if missing:
            grid = self.spark.read.parquet(self.grid_path)
            param_cols = [
                c for c in grid.columns if c not in (LOC_COL, "batch")
            ]
            out_cols = [
                c
                for c in results.columns
                if c not in param_cols and c != LOC_COL
            ]
            results = grid.select(LOC_COL, *param_cols).join(
                results.select(LOC_COL, *out_cols), LOC_COL, "left_outer"
            )
        results = results.orderBy(LOC_COL)
        return results if keep_loc else results.drop(LOC_COL)

    def reap_harvest(self, harvester, dims, **kwargs) -> DataFrame:
        """Reap then merge into a Harvester store (reference
        ``reap_harvest``, ``cropping.py:1037-1069``)."""
        df = self.reap(**kwargs)
        return harvester.add_df(df, dims)


def load_crops(parent_dir: str = ".", spark=None) -> dict[str, Crop]:
    """Discover crops under a directory (reference ``load_crops``,
    ``cropping.py:1236-1261``)."""
    out = {}
    sess = spark or SparkSession.getActiveSession()
    if sess is None:
        sess = SparkSession.builder.getOrCreate()
    if not fsutil.is_dir(sess, parent_dir):
        return out
    for d in sorted(fsutil.listdir(sess, parent_dir, dirs_only=True)):
        if d.startswith(".xyz-"):
            name = d[len(".xyz-"):]
            crop = Crop(name, parent_dir, spark=spark)
            if crop.exists():
                out[name] = crop
    return out
