"""Crop fan-out and conflict-resolving stitch (SURVEY §2.5 R1–R3, R7).

Semantics source (reference, for parity — implementation is Spark-native):
- grid arithmetic: caliban_toolbox/utils/crop_utils.py:38-82
- crop materialization + zero right/bottom padding: crop_utils.py:85-138
- stitch with label-conflict resolution: crop_utils.py:141-221
  (running-max label offset :174-176, per-cell majority-overlap vote
  :190-206 with ties to the smallest stitched id, first-writer-wins per
  pixel :209, padding trim :216-219)

Spark design:
- The crop grid is pure driver-side arithmetic (a few dozen tuples) —
  logically the J5 cross join with a generated dim table, executed as a
  1-row→N-rows fan-out inside mapInPandas so the full-size payload is
  sliced exactly once per task with no shuffle and no payload duplication
  through a join.
- Stitch is the reference's one order-dependent fold; it parallelizes
  across (fov, stack) — the natural 100 TB axis (millions of groups) —
  via groupBy().applyInPandas, bit-identical per group.

Note: crop_utils.py:169 indexes crops as ``row * len(row_starts) + col``
while generation (:130-136) uses ``row * len(col_starts) + col``; these
agree only for square grids (all reference tests use square grids). We use
the generation order consistently on both sides.
"""

from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.sources.codecs import (
    decode_x,
    decode_y,
    encode_x,
    encode_y,
)
from deepcell_data_engineering_spark.sources.images import IMAGES_SCHEMA, probe_images


def compute_crop_indices(
    img_len: int,
    crop_size: int | None = None,
    crop_num: int | None = None,
    overlap_frac: float = 0.0,
) -> tuple[np.ndarray, np.ndarray, int]:
    """1-D tiling grid (crop_utils.py:38-82 semantics).

    Returns (start_indices, end_indices, padding). Crops start at 0 and
    are spaced ``crop_size - overlap_pix`` apart; the final crop overruns
    the image by ``padding`` pixels (zero-filled at crop time).
    """
    if crop_size is not None:
        overlap_pix = math.floor(crop_size * overlap_frac)
    elif crop_num is not None:
        non_overlap = int(np.ceil(img_len / crop_num))
        overlap_pix = math.floor(non_overlap * overlap_frac)
        crop_size = non_overlap + overlap_pix
    else:
        raise ValueError("either crop_size or crop_num must be given")
    starts = np.arange(0, img_len - overlap_pix, crop_size - overlap_pix)
    ends = starts + crop_size
    padding = int(ends[-1] - img_len)
    return starts, ends, padding


def crop_grid_df(
    lengths: DataFrame,
    crop_size: int,
    overlap_frac: float = 0.0,
    len_col: str = "img_len",
) -> DataFrame:
    """R1 as a *generated dimension table* (the J5 cross-join input):
    for every distinct image length, one row per 1-D crop with
    (crop_idx, crop_start, crop_end, padding) — pure sequence arithmetic,
    JVM-side, broadcastable. Same grid as ``compute_crop_indices``:
    starts = arange(0, len - overlap, stride), ends = starts + size,
    padding = last end - len (crop_utils.py:38-82)."""
    overlap_pix = math.floor(crop_size * overlap_frac)
    stride = crop_size - overlap_pix
    grid = (
        lengths.select(F.col(len_col))
        .where(F.col(len_col) > overlap_pix)
        .distinct()
        .select(
            len_col,
            F.posexplode(
                F.sequence(
                    F.lit(0), F.col(len_col) - overlap_pix - 1, F.lit(stride)
                )
            ).alias("crop_idx", "crop_start"),
        )
        .withColumn("crop_end", F.col("crop_start") + crop_size)
    )
    w = Window.partitionBy(len_col)
    return grid.withColumn(
        "padding", F.max("crop_end").over(w) - F.col(len_col)
    )


@dataclass
class CropLog:
    """Reconstruction log for the crop transform — the engine's relational
    form of the reference's ``log_data`` sidecar (reshape_data.py:138-149)."""

    row_starts: list[int]
    row_ends: list[int]
    col_starts: list[int]
    col_ends: list[int]
    row_padding: int
    col_padding: int
    num_crops: int
    original_height: int
    original_width: int
    fov_names: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(asdict(self))

    @classmethod
    def from_json(cls, s: str) -> "CropLog":
        return cls(**json.loads(s))


def crop_images(
    df: DataFrame,
    crop_size: tuple[int, int] | None = None,
    crop_num: tuple[int, int] | None = None,
    overlap_frac: float = 0.0,
    validate: bool = True,
    dims: tuple[int, int] | None = None,
) -> tuple[DataFrame, CropLog]:
    """Tile every image unit into overlapping 2D crops (R2/R3).

    Input rows must be un-cropped (crop = 0, enforced like
    crop_utils.py:104-105). Output: one row per (input row × grid cell),
    with ``crop`` = row-major grid counter and zero-padded edges.

    The guards (un-cropped input, uniform dims, fov-name listing) and the
    grid's (height, width) come from one aggregate action
    (``probe_images``). ``validate=False`` drops the guards for composed
    pipelines that have already validated their input once: the grid then
    comes from ``dims`` (no job at all) or the probe's max height and
    width, and the log carries no fov names.
    """
    fov_names: list[str] = []
    if validate or dims is None:
        probe = probe_images(df, for_crop=True, for_slice=False, validate=validate)
        height, width, fov_names = probe.height, probe.width, probe.fov_names
    else:
        height, width = dims

    r_starts, r_ends, r_pad = compute_crop_indices(
        height, None if crop_size is None else crop_size[0],
        None if crop_num is None else crop_num[0], overlap_frac)
    c_starts, c_ends, c_pad = compute_crop_indices(
        width, None if crop_size is None else crop_size[1],
        None if crop_num is None else crop_num[1], overlap_frac)

    log = CropLog(
        row_starts=[int(v) for v in r_starts],
        row_ends=[int(v) for v in r_ends],
        col_starts=[int(v) for v in c_starts],
        col_ends=[int(v) for v in c_ends],
        row_padding=r_pad,
        col_padding=c_pad,
        num_crops=len(r_starts) * len(c_starts),
        original_height=height,
        original_width=width,
        fov_names=fov_names,
    )

    crop_h = int(r_ends[0] - r_starts[0])
    crop_w = int(c_ends[0] - c_starts[0])
    grid = [
        (int(i * len(c_starts) + j), int(rs), int(re), int(cs), int(ce))
        for i, (rs, re) in enumerate(zip(r_starts, r_ends))
        for j, (cs, ce) in enumerate(zip(c_starts, c_ends))
    ]
    pad_h, pad_w = height + r_pad, width + c_pad

    def fanout(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                nchan = len(r["channels"]) if r["channels"] is not None else 0
                x = y = None
                if r["X"] is not None:
                    x = np.zeros((pad_h, pad_w, nchan), dtype=np.float32)
                    x[:height, :width] = decode_x(r["X"], height, width, nchan)
                if r["y"] is not None:
                    y = np.zeros((pad_h, pad_w), dtype=np.int32)
                    y[:height, :width] = decode_y(r["y"], height, width)
                for crop_id, rs, re, cs, ce in grid:
                    out.append(
                        {
                            "fov": r["fov"],
                            "stack": r["stack"],
                            "crop": crop_id,
                            "slice": r["slice"],
                            "height": crop_h,
                            "width": crop_w,
                            "channels": r["channels"],
                            "X": encode_x(x[rs:re, cs:ce]) if x is not None else None,
                            "compartment": r["compartment"],
                            "y": encode_y(y[rs:re, cs:ce]) if y is not None else None,
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGES_SCHEMA.fields])

    return df.mapInPandas(fanout, schema=IMAGES_SCHEMA), log


def stitch_crops(df: DataFrame, log: CropLog) -> DataFrame:
    """Inverse of crop_images for label masks, with the reference's exact
    conflict semantics (crop_utils.py:141-221).

    Missing crop units are tolerated as blanks (io_utils.py:215-218
    missing-annotation policy) — they simply contribute nothing.
    Parallel across (fov, stack) groups; sequential crop fold within a
    group for bit-exact parity.
    """
    n_col = len(log.col_starts)
    rs, re = log.row_starts, log.row_ends
    cs, ce = log.col_starts, log.col_ends
    H, W = log.original_height, log.original_width
    pad_h, pad_w = H + log.row_padding, W + log.col_padding
    crop_h = re[0] - rs[0]
    crop_w = ce[0] - cs[0]

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        fov = pdf.iloc[0]["fov"]
        stack = int(pdf.iloc[0]["stack"])
        slc = int(pdf.iloc[0]["slice"])
        compartment = pdf.iloc[0]["compartment"]
        crops = {int(r["crop"]): decode_y(r["y"], crop_h, crop_w)
                 for _, r in pdf.iterrows() if r["y"] is not None}
        stitched = np.zeros((pad_h, pad_w), dtype=np.int64)
        for i in range(len(rs)):
            for j in range(n_col):
                counter = i * n_col + j
                if counter not in crops:
                    continue  # missing unit -> blank
                crop = crops[counter].astype(np.int64)
                lowest_allowed = stitched.max()
                crop = np.where(crop == 0, crop, crop + lowest_allowed)
                region = stitched[rs[i]:re[i], cs[j]:ce[j]]
                for cell in np.unique(crop)[np.unique(crop) != 0]:
                    vals, counts = np.unique(region[crop == cell], return_counts=True)
                    keep = vals != 0
                    vals, counts = vals[keep], counts[keep]
                    if len(vals) > 0:
                        crop[crop == cell] = vals[np.argmax(counts)]
                stitched[rs[i]:re[i], cs[j]:ce[j]] = np.where(region > 0, region, crop)
        out = stitched[:H, :W].astype(np.int32)
        return pd.DataFrame(
            [
                {
                    "fov": fov,
                    "stack": stack,
                    "crop": 0,
                    "slice": slc,
                    "height": H,
                    "width": W,
                    "channels": None,
                    "X": None,
                    "compartment": compartment,
                    "y": encode_y(out),
                }
            ],
            columns=[f.name for f in IMAGES_SCHEMA.fields],
        )

    return (
        df.groupBy("fov", "stack", "slice")
        .applyInPandas(lambda pdf: stitch(pdf), schema=IMAGES_SCHEMA)
    )
