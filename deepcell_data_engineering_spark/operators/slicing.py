"""Stack slicing and slice stitching (SURVEY §2.5 R4–R6, R8).

Semantics source: caliban_toolbox/utils/slice_utils.py:40-161 — 1-D
chunking of the z/t axis with overlap, final slice truncated to the stack
end; stitching scatters chunks back with ascending-slice writes (later
slices win in overlap regions).

Spark design: in the relational layout each row is one frame, so slicing
is pure relational algebra — a broadcast range join of frames against the
tiny slice dim table (a frame joins every slice whose [start, end) covers
it), with the within-slice index computed as ``stack - start``. No UDF, no
payload decode: Catalyst plans a broadcast nested-loop join over a
handful of slice tuples, and payloads are moved, never interpreted.

The slice dim is built on the driver as an Arrow ``LocalRelation``
(``session.local_frame``), so it is scanned inside the JVM: Python workers
run only pixel kernels, and this module runs none.

Stitching back is likewise relational: for each output frame pick the row
from the highest covering slice (the reference's last-writer-wins order)
via one row_number window.

This is the batch twin of a sliding window (slide = slice_len - overlap);
with overlap = 0 it is exactly a tumbling window (§2.6).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.session import local_frame
from deepcell_data_engineering_spark.sources.images import probe_images


def compute_slice_indices(
    stack_len: int, slice_len: int, slice_overlap: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """1-D chunk grid along the stack axis (slice_utils.py:40-68)."""
    if slice_overlap >= slice_len:
        raise ValueError("slice overlap must be less than the length of the slice")
    spacing = slice_len - slice_overlap
    starts = np.arange(0, stack_len - slice_overlap, spacing)
    ends = starts + slice_len
    if ends[-1] != stack_len:
        ends[-1] = stack_len  # truncate the final slice to the stack end
    return starts, ends


@dataclass
class SliceLog:
    """Reconstruction log for the slice transform."""

    slice_start_indices: list[int]
    slice_end_indices: list[int]
    num_slices: int
    original_stack_len: int
    fov_names: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(asdict(self))

    @classmethod
    def from_json(cls, s: str) -> "SliceLog":
        return cls(**json.loads(s))


def slice_images(
    df: DataFrame,
    slice_len: int,
    slice_overlap: int = 0,
    validate: bool = True,
    stack_len: int | None = None,
) -> tuple[DataFrame, SliceLog]:
    """Chunk the stack axis into overlapping slices (R5/R6).

    Input rows must be un-sliced (slice = 0, slice_utils.py:86-87).
    Output rows have ``slice`` = chunk index and ``stack`` = within-chunk
    frame index. Frames in overlap regions are duplicated into every
    covering slice — exactly the dense tensor's fan-out, as a join.

    The guards (un-sliced input, fov-name listing) and the stack extent
    come from one aggregate action (``probe_images``). ``validate=False``
    drops the guards for composed pipelines; pass ``stack_len`` as well to
    make plan construction job-free.
    """
    fov_names: list[str] = []
    if validate or stack_len is None:
        probe = probe_images(df, for_crop=False, for_slice=True, validate=validate)
        fov_names = probe.fov_names
        if stack_len is None:
            stack_len = probe.stack_len
    starts, ends = compute_slice_indices(stack_len, slice_len, slice_overlap)
    log = SliceLog(
        slice_start_indices=[int(v) for v in starts],
        slice_end_indices=[int(v) for v in ends],
        num_slices=len(starts),
        original_stack_len=int(stack_len),
        fov_names=fov_names,
    )

    slice_dim = local_frame(
        df.sparkSession,
        [(int(i), int(s), int(e)) for i, (s, e) in enumerate(zip(starts, ends))],
        "slice_id INT, start INT, end INT",
    )
    sliced = (
        df.drop("slice")
        .join(
            F.broadcast(slice_dim),
            (F.col("stack") >= F.col("start")) & (F.col("stack") < F.col("end")),
        )
        .withColumn("stack", F.col("stack") - F.col("start"))
        .withColumn("slice", F.col("slice_id"))
        .drop("slice_id", "start", "end")
        .select("fov", "stack", "crop", "slice", "height", "width",
                "channels", "X", "compartment", "y")
    )
    return sliced, log


def stitch_slices(df: DataFrame, log: SliceLog) -> DataFrame:
    """Inverse of slice_images (slice_utils.py:126-161): place each chunk
    frame back at ``slice_start + within_index``; in overlap regions the
    higher slice index wins (the reference writes slices in ascending
    order, so later writes overwrite). One window, no UDF."""
    slice_dim = local_frame(
        df.sparkSession,
        [(int(i), int(s)) for i, s in enumerate(log.slice_start_indices)],
        "slice_id INT, start INT",
    )
    placed = (
        df.join(F.broadcast(slice_dim), df["slice"] == slice_dim["slice_id"])
        .withColumn("stack", F.col("stack") + F.col("start"))
        # guard: truncated final slice can't write past the original stack
        .where(F.col("stack") < F.lit(log.original_stack_len))
    )
    w = Window.partitionBy("fov", "crop", "stack").orderBy(F.col("slice").desc())
    return (
        placed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("slice", F.lit(0))
        .select("fov", "stack", "crop", "slice", "height", "width",
                "channels", "X", "compartment", "y")
    )
