"""The benchmark's workloads: seeded inputs, the operations one pass runs,
and the check each operation's result must pass.

An operation's ``build`` calls the engine and returns the frames it
produced (any eager jobs the engine fires on the way count as build time);
the runner then collects every frame with ``toPandas()`` (the action) and
hands the collected results to ``check``, outside the timed region.
``check`` returns ``None`` when the result is right, or a one-line reason.
"""

from __future__ import annotations

import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Op:
    name: str
    build: Callable  # (spark, state) -> list[DataFrame]
    check: Callable  # (state, list[pandas.DataFrame]) -> str | None
    cleanup: Callable | None = None  # (spark, state) -> None, untimed


class _Scaled:
    """A fraction of ``tools/gen_scale_data.py``'s integer scale (1 = the
    sf0.1 row counts): multiplying a row count by it yields an int, so the
    generator's own functions write a smaller catalog of the same shape."""

    def __init__(self, fraction: float):
        self.fraction = fraction

    def __rmul__(self, rows: int) -> int:
        return max(1, int(round(rows * self.fraction)))

    def __gt__(self, other: float) -> bool:
        return self.fraction > other


class _Collected:
    """A result already collected, in the shape ``oracle.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


# ---------------------------------------------------------------------------
# relational: registered queries over a seeded catalog
# ---------------------------------------------------------------------------


class Relational:
    """Registered queries over a seeded catalog with the test catalogs'
    shape at sf0.01 (one tenth of sf0.1's rows), checked against DuckDB.

    - ``x78_kcore``: an iterative graph loop, 25 jobs fired in ``build()``;
    - ``x217_vacuum_lifecycle``: snapshot commits, vacuum and time travel
      through ``sources/snapshots.py``;
    - ``d35_approx_distinct`` and ``d46_try_cast``: single-plan scans and
      aggregations, the execution hot spots of the relational surface.
    """

    name = "relational"
    planned_pass_s = 6.0  # a warm pass on a 4-core machine
    scale = 0.01
    queries = (
        "x78_kcore",
        "x217_vacuum_lifecycle",
        "d35_approx_distinct",
        "d46_try_cast",
    )

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, out_dir: str) -> str:
        import pyarrow.parquet as pq

        tools = os.path.join(ROOT, "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        import gen_scale_data as gen

        os.makedirs(out_dir, exist_ok=True)
        rng = np.random.RandomState(self.seed % 2**32)
        k = self.scale / 0.1
        for name, table in (
            ("documents", gen.gen_documents(int(5_000 * k), rng)),
            ("embeddings", gen.gen_embeddings(int(2_000 * k), rng)),
            ("events", gen.gen_events(int(100_000 * k), rng)),
        ):
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        gen.gen_tpch(out_dir, _Scaled(k), rng)
        return out_dir

    def warm(self, spark, sf_dir: str) -> None:
        """List every table and read one row, as ``bench.py`` does, so the
        first query touching a table is not charged its cold listing."""
        from deepcell_data_engineering_spark.catalog import TABLE_NAMES, load_table

        for t in TABLE_NAMES:
            load_table(spark, sf_dir, t).limit(1).collect()

    def state(self, spark, sf_dir: str, work_dir: str) -> dict:
        from deepcell_data_engineering_spark.oracle import duckdb_connect

        return {"sf_dir": sf_dir, "duckdb": duckdb_connect(sf_dir)}

    def ops(self) -> list[Op]:
        from deepcell_data_engineering_spark.oracle import compare
        from deepcell_data_engineering_spark.relational import QUERIES

        def op(name: str) -> Op:
            spec = QUERIES[name]

            def build(spark, st):
                return [spec.build(spark, st["sf_dir"])]

            def check(st, results):
                res = compare(name, _Collected(results[0]), st["duckdb"], spec.oracle)
                return None if res.ok else f"{name}: {res.detail}"

            return Op(name, build, check)

        return [op(n) for n in self.queries]


# ---------------------------------------------------------------------------
# image_pipeline: the paper's crop -> NPZ -> stitch -> relabel flow
# ---------------------------------------------------------------------------


def synthetic_fov(
    rng: np.random.RandomState, stacks: int, size: int, pitch: int = 16
) -> tuple[np.ndarray, np.ndarray]:
    """Two-channel microscopy stand-in: random rectangular cells, at most
    one per ``pitch``-square slot and never touching, on a noisy
    background. Returns (X [stacks, size, size, 2], y [stacks, size, size])."""
    y = np.zeros((stacks, size, size), dtype=np.int32)
    for s in range(stacks):
        cell = 1
        for r0 in range(0, size - pitch + 1, pitch):
            for c0 in range(0, size - pitch + 1, pitch):
                if rng.rand() < 0.3:
                    continue
                h, w = rng.randint(3, pitch - 3, size=2)
                r = r0 + rng.randint(1, pitch - h)
                c = c0 + rng.randint(1, pitch - w)
                y[s, r : r + h, c : c + w] = cell
                cell += 1
    x = rng.rand(stacks, size, size, 2).astype(np.float32) * 40.0
    x += (y > 0)[..., None] * np.float32(60.0)
    return x, y


class ImagePipeline:
    """The paper's pre- and post-annotation image flow on seeded synthetic
    microscopy (4 fovs x 2 stacks x 128x128 x 2 channels).

    1. ``preannotate``: adjust_images -> reorder_channels -> crop_and_slice
       (64x64 crops, overlap 0.25, slices of 2) -> write_npz_units;
    2. ``postannotate``: read_npz_units -> reconstruct_image_stack ->
       relabel_data(all_frames) -> cell_counts.

    Its time is set by the number of Python-worker tasks, not by the pixel
    count. The inputs have uniform dimensions, so ``crop_and_slice`` runs
    without its guard jobs (``validate=False``).
    """

    name = "image_pipeline"
    planned_pass_s = 8.0  # a warm pass on a 4-core machine
    fovs, stacks, size = 4, 2, 128
    crop = 64

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, out_dir: str) -> dict:
        rng = np.random.RandomState(self.seed % 2**32)
        return {f"fov{f}": synthetic_fov(rng, self.stacks, self.size) for f in range(self.fovs)}

    def _images(self, spark, arrays: dict):
        from deepcell_data_engineering_spark.sources.images import images_df, rows_from_arrays

        rows = []
        for fov, (x, y) in arrays.items():
            rows += rows_from_arrays(fov, x, y, channels=["DAPI", "Membrane"])
        return images_df(spark, rows)

    def warm(self, spark, arrays: dict) -> None:
        self._images(spark, arrays).count()

    def state(self, spark, arrays: dict, work_dir: str) -> dict:
        return {"arrays": arrays, "images": self._images(spark, arrays), "work_dir": work_dir, "pass": 0}

    def ops(self) -> list[Op]:
        return [
            Op("preannotate", self._pre, self._check_pre),
            Op("postannotate", self._post, self._check_post, self._cleanup_post),
        ]

    # -- stage 1 ----------------------------------------------------------

    def _pre(self, spark, st):
        from deepcell_data_engineering_spark.functions.imaging import adjust_images
        from deepcell_data_engineering_spark.operators.channels import reorder_channels
        from deepcell_data_engineering_spark.operators.reconstruct import crop_and_slice
        from deepcell_data_engineering_spark.sources.images import write_npz_units

        st["pass"] += 1
        st["units_dir"] = os.path.join(st["work_dir"], f"units_{st['pass']}")
        adjusted = adjust_images(st["images"], {"blur": 0.5, "gamma_adjust": 1.2}, channel="DAPI")
        reordered = reorder_channels(adjusted, ["Membrane", "DAPI"], full_blank=True)
        units, st["log"] = crop_and_slice(
            reordered,
            crop_size=(self.crop, self.crop),
            overlap_frac=0.25,
            slice_len=2,
            validate=False,
        )
        return [write_npz_units(units, st["units_dir"], blank_labels="include")]

    def _check_pre(self, st, results):
        written = results[0]["path"].dropna()
        on_disk = [f for f in os.listdir(st["units_dir"]) if f.endswith(".npz")]
        if len(written) == 0 or len(written) != len(on_disk):
            return f"preannotate: manifest lists {len(written)} units, {len(on_disk)} on disk"
        return None

    # -- stage 2 ----------------------------------------------------------

    def _post(self, spark, st):
        from deepcell_data_engineering_spark.operators.labels import cell_counts
        from deepcell_data_engineering_spark.operators.reconstruct import reconstruct_image_stack
        from deepcell_data_engineering_spark.operators.relabel import relabel_data
        from deepcell_data_engineering_spark.sources.images import read_npz_units

        loaded = read_npz_units(spark, os.path.join(st["units_dir"], "*.npz"))
        restored = reconstruct_image_stack(loaded, st["log"])
        relabeled = relabel_data(restored, relabel_type="all_frames")
        return [
            relabeled.select("fov", "stack", "height", "width", "y"),
            cell_counts(relabeled),
        ]

    def _check_post(self, st, results):
        from deepcell_data_engineering_spark.sources.codecs import decode_y

        masks, counts = results
        if len(masks) != self.fovs * self.stacks:
            return f"postannotate: {len(masks)} frames restored"
        n_cells = {(r.fov, r.stack): r.n_cells for r in counts.itertuples()}
        for r in masks.itertuples():
            want = st["arrays"][r.fov][1][r.stack]
            got = decode_y(r.y, r.height, r.width)
            n_want = len(np.unique(want[want > 0]))
            if not np.array_equal(got > 0, want > 0):
                return f"postannotate: {r.fov}/{r.stack} mask support differs"
            if len(np.unique(got[got > 0])) != n_want or n_cells.get((r.fov, r.stack)) != n_want:
                return f"postannotate: {r.fov}/{r.stack} cell count differs"
        return None

    def _cleanup_post(self, spark, st):
        shutil.rmtree(st["units_dir"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (Relational, ImagePipeline)}
