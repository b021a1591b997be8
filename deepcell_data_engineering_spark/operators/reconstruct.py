"""R9: full post-annotation reconstruction driven by the recon log.

The reference's `reconstruct_image_stack` (reshape_data.py:194-234) reads
the ``log_data.json`` sidecar, loads unit NPZs (S15), stitches slices if
the stack was sliced, then stitches crops if it was cropped. Here the log
is a first-class JSON-serializable object combining the crop and slice
logs, and reconstruction is the same composite over the DataFrame
operators — two grouped shuffles ((fov, crop) then (fov, stack)), fovs
processed in parallel.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame

from deepcell_data_engineering_spark.operators.cropping import (
    CropLog,
    crop_images,
    stitch_crops,
)
from deepcell_data_engineering_spark.operators.slicing import (
    SliceLog,
    slice_images,
    stitch_slices,
)
from deepcell_data_engineering_spark.sources.images import probe_images


@dataclass
class ReconLog:
    """Merged reconstruction log — the engine's form of the reference's
    single log_data dict carrying both crop and slice parameters
    (reshape_data.py:138-149, 186-189)."""

    crop: CropLog | None = None
    slice: SliceLog | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "crop": json.loads(self.crop.to_json()) if self.crop else None,
                "slice": json.loads(self.slice.to_json()) if self.slice else None,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "ReconLog":
        d = json.loads(s)
        return cls(
            crop=CropLog(**d["crop"]) if d.get("crop") else None,
            slice=SliceLog(**d["slice"]) if d.get("slice") else None,
        )


def crop_and_slice(
    images: DataFrame,
    crop_size: tuple[int, int] | None = None,
    overlap_frac: float = 0.0,
    slice_len: int | None = None,
    slice_overlap: int = 0,
    validate: bool = True,
) -> tuple[DataFrame, ReconLog]:
    """Forward pipeline (R3 then R6), emitting one merged log.

    ONE aggregate action (``probe_images``) over the narrow ORIGINAL input
    gives the crop grid's dims, the stack extent and, with ``validate``,
    every guard (un-cropped, un-sliced, uniform dims) and the fov names.
    The crop and slice steps then run job-free: the slice step never
    probes the crop-fanned intermediate (its ``slice``/``stack`` columns
    are untouched by cropping, and probing post-fan-out rows would cost a
    full fan-out materialization)."""
    log = ReconLog()
    if crop_size is None and slice_len is None:
        return images, log
    probe = probe_images(
        images,
        for_crop=crop_size is not None,
        for_slice=slice_len is not None,
        validate=validate,
    )
    out = images
    if crop_size is not None:
        out, log.crop = crop_images(
            out,
            crop_size=crop_size,
            overlap_frac=overlap_frac,
            validate=False,
            dims=(probe.height, probe.width),
        )
        log.crop.fov_names = probe.fov_names
    if slice_len is not None:
        out, log.slice = slice_images(
            out,
            slice_len=slice_len,
            slice_overlap=slice_overlap,
            validate=False,
            stack_len=probe.stack_len,
        )
        if crop_size is None:
            log.slice.fov_names = probe.fov_names
    return out, log


def reconstruct_image_stack(df: DataFrame, log: ReconLog) -> DataFrame:
    """Inverse pipeline: slices first, then crops — exactly the
    reference's order (reshape_data.py:216-224: 'num_slices' check before
    'num_crops'). Missing units are tolerated by the stitches (blank
    fill), matching io_utils.py:215-218."""
    out = df
    if log.slice is not None:
        out = stitch_slices(out, log.slice)
    if log.crop is not None:
        out = stitch_crops(out, log.crop)
    return out
