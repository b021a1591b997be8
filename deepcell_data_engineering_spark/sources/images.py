"""The ``images`` table: the engine's core relational layout for image units.

One row per atomic image unit (fov, stack, crop, slice) — the relational
re-expression of the reference's 7D dense tensor contract
(caliban_toolbox/settings.py:31-33): the four leading tensor dims become
key columns, rows/cols become the binary payload's shape, and channel /
compartment names become data columns. Before cropping, crop = 0
(utils/crop_utils.py:104-105); before slicing, slice = 0
(utils/slice_utils.py:86-87).

Scale posture: Parquet at rest, partitioned by fov (and any ontology
levels above it); payloads are zstd-compressed binary; all per-image
compute is Arrow-batched pandas UDFs over mapInPandas/applyInPandas.

Python workers run only those pixel kernels. Rows built on the driver
(``images_df``, the slice dims) become Arrow ``LocalRelation``s
through ``session.local_frame`` and are scanned inside the JVM; guard and
extent probes are one aggregate action (``probe_images``); and
``read_npz_units`` lists a ``dir/*.npz`` glob as one directory, so the
listing runs on the driver with no Spark job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from deepcell_data_engineering_spark.sources.codecs import (
    decode_npz,
    encode_npz,
    decode_x,
    decode_y,
    encode_x,
    encode_y,
)
from deepcell_data_engineering_spark.session import local_frame

IMAGES_SCHEMA = StructType(
    [
        StructField("fov", StringType(), False),
        StructField("stack", IntegerType(), False),
        StructField("crop", IntegerType(), False),
        StructField("slice", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("channels", ArrayType(StringType()), True),
        StructField("X", BinaryType(), True),
        StructField("compartment", StringType(), True),
        StructField("y", BinaryType(), True),
    ]
)

IMAGE_KEY = ["fov", "stack", "crop", "slice"]

# Hadoop glob metacharacters (``GlobPattern``)
_GLOB_CHARS = re.compile(r"[*?\[{\\]")


def rows_from_arrays(
    fov: str,
    x_stack: np.ndarray | None,
    y_stack: np.ndarray | None,
    channels: list[str] | None = None,
    compartment: str = "whole_cell",
) -> list[dict]:
    """Build images-table rows from dense per-fov arrays.

    ``x_stack``: float [stacks, h, w, c]; ``y_stack``: int [stacks, h, w].
    """
    n_stacks = (x_stack if x_stack is not None else y_stack).shape[0]
    rows = []
    for s in range(n_stacks):
        x = x_stack[s] if x_stack is not None else None
        y = y_stack[s] if y_stack is not None else None
        h, w = (x.shape[:2] if x is not None else y.shape[:2])
        nchan = x.shape[2] if x is not None else 0
        rows.append(
            {
                "fov": fov,
                "stack": s,
                "crop": 0,
                "slice": 0,
                "height": int(h),
                "width": int(w),
                "channels": channels
                if channels is not None
                else [f"channel{i}" for i in range(nchan)],
                "X": encode_x(x) if x is not None else None,
                "compartment": compartment,
                "y": encode_y(y) if y is not None else None,
            }
        )
    return rows


def images_df(spark: SparkSession, rows: Iterable[dict]) -> DataFrame:
    return local_frame(spark, rows, IMAGES_SCHEMA)


@dataclass
class ImageProbe:
    """What ``probe_images`` learns about an images frame."""

    height: int
    width: int
    stack_len: int
    fov_names: list[str]  # sorted; empty unless validated


def probe_images(
    df: DataFrame, for_crop: bool, for_slice: bool, validate: bool
) -> ImageProbe:
    """The frame size (max height and width) and stack extent of ``df``
    from ONE aggregate action, the probe the crop and slice grids are built
    from (AQE submits its one shuffle stage as a job of its own).

    With ``validate`` the same job carries the guards, raised here with
    the operators' messages: ``for_crop`` requires un-cropped rows
    (crop_utils.py:104-105) that share one (height, width); ``for_slice``
    requires un-sliced rows (slice_utils.py:86-87). It also lists the
    sorted fov names for the logs. Min/max pairs stand in for distinct
    counts, so the aggregate needs no second shuffle; only a failing dims
    guard runs one more action, to count the distinct dims for its message.
    """
    aggs = [F.max("height").alias("h"), F.max("width").alias("w"),
            F.max("stack").alias("s")]
    if validate:
        aggs += [
            F.min("height").alias("h0"), F.min("width").alias("w0"),
            F.min("crop").alias("c0"), F.max("crop").alias("c1"),
            F.min("slice").alias("s0"), F.max("slice").alias("s1"),
            F.array_sort(F.collect_set("fov")).alias("fovs"),
        ]
    r = df.agg(*aggs).collect()[0]
    if validate:
        if for_crop and r["c0"] != r["c1"]:
            raise ValueError("images have already been cropped")
        if for_slice and r["s0"] != r["s1"]:
            raise ValueError("images have already been sliced")
        if for_crop and (r["h"] is None or (r["h0"], r["w0"]) != (r["h"], r["w"])):
            n = df.select("height", "width").distinct().count()
            raise ValueError(f"images must share dimensions; found {n} distinct (h, w)")
    if r["s"] is None:
        raise ValueError("images frame is empty: nothing to crop or slice")
    return ImageProbe(
        height=int(r["h"]),
        width=int(r["w"]),
        stack_len=int(r["s"]) + 1,
        fov_names=list(r["fovs"]) if validate else [],
    )


# ---------------------------------------------------------------------------
# Synthetic generators mirroring the reference's test fixtures (FIXTURES.md)
# ---------------------------------------------------------------------------


def blank_images(
    spark: SparkSession,
    fovs: int = 2,
    stacks: int = 1,
    height: int = 200,
    width: int = 200,
    n_channels: int = 1,
) -> DataFrame:
    """All-zero fixture — the `_blank_data_xr` analog (crop_utils_test.py:35-64)."""
    rows = []
    for f in range(fovs):
        x = np.zeros((stacks, height, width, n_channels), dtype=np.float32)
        y = np.zeros((stacks, height, width), dtype=np.int32)
        rows += rows_from_arrays(f"fov{f + 1}", x, y)
    return images_df(spark, rows)


def rectangle_grid_labels(height: int, width: int, cell_h: int = 10, cell_w: int = 8,
                          pitch_r: int = 35, pitch_c: int = 37) -> np.ndarray:
    """Grid-of-rectangles label mask with unique ids 1..n
    (reshape_data_test.py:163-169 semantics)."""
    y = np.zeros((height, width), dtype=np.int32)
    cell_id = 1
    for r0 in range(0, height - cell_h, pitch_r):
        for c0 in range(0, width - cell_w, pitch_c):
            y[r0 : r0 + cell_h, c0 : c0 + cell_w] = cell_id
            cell_id += 1
    return y


# ---------------------------------------------------------------------------
# NPZ interop: sink (S13 save_npzs_for_caliban) and source (S15 load_npzs)
# ---------------------------------------------------------------------------


def write_npz_units(
    df: DataFrame,
    out_dir: str,
    blank_labels: str = "include",
) -> DataFrame:
    """Sink: one compressed NPZ per (fov, crop, slice) unit.

    Blank-label routing mirrors io_utils.py:80-111: units whose y sums to
    0 are 'skip'ped, 'include'd normally, or written under 'separate/'.
    Runs distributed via foreachPartition-style mapInPandas (each task
    writes its own files — on a cluster ``out_dir`` is shared storage).
    Returns the manifest DataFrame (unit key -> path).
    """
    import os

    if blank_labels not in ("skip", "include", "separate"):
        raise ValueError(f"invalid blank_labels mode: {blank_labels}")

    schema = StructType(
        [
            StructField("fov", StringType()),
            StructField("crop", IntegerType()),
            StructField("slice", IntegerType()),
            StructField("path", StringType()),
            StructField("blank", IntegerType()),
        ]
    )

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        os.makedirs(os.path.join(out_dir, "separate"), exist_ok=True)
        for pdf in batches:
            out = []
            for (fov, crop, slc), grp in pdf.groupby(["fov", "crop", "slice"]):
                grp = grp.sort_values("stack")
                h, w = int(grp.iloc[0]["height"]), int(grp.iloc[0]["width"])
                nchan = len(grp.iloc[0]["channels"]) if grp.iloc[0]["channels"] is not None else 0
                has_x = grp.iloc[0]["X"] is not None
                xs = (
                    np.stack([decode_x(r["X"], h, w, nchan) for _, r in grp.iterrows()])
                    if has_x
                    else None
                )
                ys = np.stack([decode_y(r["y"], h, w) for _, r in grp.iterrows()])
                blank = int(ys.sum() == 0)
                name = f"{fov}_crop_{int(crop)}_slice_{int(slc)}.npz"
                if blank and blank_labels == "skip":
                    out.append({"fov": fov, "crop": int(crop), "slice": int(slc),
                                "path": None, "blank": blank})
                    continue
                sub = "separate" if blank and blank_labels == "separate" else ""
                path = os.path.join(out_dir, sub, name)
                with open(path, "wb") as fh:
                    fh.write(encode_npz(xs, ys[..., None]))
                out.append({"fov": fov, "crop": int(crop), "slice": int(slc),
                            "path": path, "blank": blank})
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    # repartition by unit key so each unit's frames land in one task
    return (
        df.repartition("fov", "crop", "slice")
        .mapInPandas(write_partition, schema=schema)
    )


def read_npz_units(
    spark: SparkSession,
    glob_path: str,
    compartment: str = "whole_cell",
) -> DataFrame:
    """Source: scan NPZ unit files via Spark's binaryFile source + Arrow
    decode — the S15 load path. File names carry the unit key
    (``{fov}_crop_{c}_slice_{s}.npz``).

    A glob whose wildcards are all in its last part (``dir/*.npz``) is
    read as the directory ``dir`` with that part as ``pathGlobFilter``:
    one root path is listed on the driver, where a glob that expands past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) files
    makes Spark run a listing job. Files in subdirectories (the blank
    units under ``separate/``) stay out, as they do for the glob."""
    reader = spark.read.format("binaryFile")
    parent, name = glob_path.rsplit("/", 1) if "/" in glob_path else (".", glob_path)
    if _GLOB_CHARS.search(name) and not _GLOB_CHARS.search(parent):
        bin_df = reader.option("pathGlobFilter", name).load(parent or "/")
    else:
        bin_df = reader.load(glob_path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                m = re.search(r"([^/]+)_crop_(\d+)_slice_(\d+)\.npz$", r["path"])
                if not m:
                    continue
                fov, crop, slc = m.group(1), int(m.group(2)), int(m.group(3))
                arrays = decode_npz(bytes(r["content"]))
                xs, ys = arrays.get("X"), arrays.get("y")
                n_stacks = (xs if xs is not None else ys).shape[0]
                for s in range(n_stacks):
                    x = xs[s] if xs is not None else None
                    y = ys[s] if ys is not None else None
                    h, w = (x.shape[:2] if x is not None else y.shape[:2])
                    rows.append(
                        {
                            "fov": fov,
                            "stack": s,
                            "crop": crop,
                            "slice": slc,
                            "height": int(h),
                            "width": int(w),
                            "channels": [f"channel{i}" for i in range(x.shape[2])]
                            if x is not None
                            else None,
                            "X": encode_x(x) if x is not None else None,
                            "compartment": compartment,
                            "y": encode_y(y) if y is not None else None,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])

    return bin_df.mapInPandas(decode, schema=IMAGES_SCHEMA)


def write_combined_npz(df: DataFrame, out_path: str) -> int:
    """S17 `concatenate_npz_files`/`create_combined_npz`
    (pipeline.py:70-110): union all units along the batch axis into ONE
    compressed NPZ artifact. The single-file sink is the NPZ analog of
    ``coalesce(1).write`` — all rows funnel to one task which streams
    them into the archive in deterministic key order. Returns the batch
    count. (At 100 TB you would keep Parquet; this sink exists for
    format parity with the reference's notebook hand-off.)"""

    def write_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate ALL batches, then sort ONCE: Arrow may deliver the
        # single partition as several batches, and per-batch sorting would
        # interleave the batch axis
        parts = [pdf for pdf in batches if len(pdf)]
        xs, ys, n = [], [], 0
        if parts:
            whole = pd.concat(parts).sort_values(["fov", "crop", "slice", "stack"])
            for payload_col in ("X", "y"):
                present = whole[payload_col].notna()
                if present.any() and not present.all():
                    raise ValueError(
                        f"mixed null/non-null {payload_col} payloads would "
                        "misalign the combined batch axis; fill or drop them first"
                    )
            for _, r in whole.iterrows():
                h, w = int(r["height"]), int(r["width"])
                nchan = len(r["channels"]) if r["channels"] is not None else 0
                if r["X"] is not None:
                    xs.append(decode_x(r["X"], h, w, nchan))
                if r["y"] is not None:
                    ys.append(decode_y(r["y"], h, w))
                n += 1
        if n:
            with open(out_path, "wb") as fh:
                fh.write(
                    encode_npz(
                        np.stack(xs) if xs else None,
                        np.stack(ys)[..., None] if ys else None,
                    )
                )
        yield pd.DataFrame({"n": [n]})

    counts = df.coalesce(1).mapInPandas(write_all, schema="n long").collect()
    return int(counts[0]["n"]) if counts else 0


def fill_missing_units(
    images: DataFrame, expected_units: DataFrame
) -> DataFrame:
    """J2 semantics (io_utils.py:196-218): left-join the expected unit key
    set against found rows; absent units become blank-label rows."""
    joined = expected_units.join(images, on=IMAGE_KEY, how="left")
    return joined
