"""Dataset build pipeline (SURVEY §2.8): subset → reshape → clean →
balance → summarize.

Semantics source: caliban_toolbox/dataset_builder.py:256-692 and
build.py:101-176. The dataset table is the ``images`` schema plus
``img_idx BIGINT`` (batch order), ``tissue STRING``, ``platform STRING``
— the relational form of the reference's dict-of-arrays
{'X','y','tissue_list','platform_list'} (dataset_builder.py:241-248).

Spark design highlights:
- subset = isin predicate (semi-join shape), validated driver-side.
- resize-by-cell-size: ratio = sqrt(resize_target / median_cell_size)
  computed relationally from labels_long, broadcast-joined, applied in
  one Arrow pass (resize kernels are numpy-only: bilinear for X,
  nearest for labels — no cv2/skimage in env).
- balance: the category→choice assignment is driver-side numpy with the
  reference's exact RNG call pattern (np.random.seed; per-category
  np.random.choice), broadcast-joined; rows never leave executors.
- summarize = one GROUPING SETS aggregation (the reference hand-rolls
  two dict loops, dataset_builder.py:651-692).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from deepcell_data_engineering_spark.operators.labels import labels_long
from deepcell_data_engineering_spark.operators.relabel import (
    connected_components_np,
)
from deepcell_data_engineering_spark.sources.codecs import (
    decode_x,
    decode_y,
    encode_x,
    encode_y,
)
from deepcell_data_engineering_spark.session import local_frame
from deepcell_data_engineering_spark.sources.images import IMAGES_SCHEMA

DATASET_SCHEMA = StructType(
    [StructField("img_idx", LongType(), False)]
    + IMAGES_SCHEMA.fields
    + [
        StructField("tissue", StringType(), True),
        StructField("platform", StringType(), True),
    ]
)

_DS_COLS = [f.name for f in DATASET_SCHEMA.fields]


# ---------------------------------------------------------------------------
# P1/P6: subset
# ---------------------------------------------------------------------------


def _validate_categories(spec, available: list[str], name: str) -> list[str]:
    """'all' / scalar / list normalization + membership validation
    (dataset_builder.py:498-526)."""
    if spec == "all":
        return list(available)
    if isinstance(spec, str):
        spec = [spec]
    bad = [s for s in spec if s not in available]
    if bad:
        raise ValueError(f"unknown {name} value(s): {bad}; available: {sorted(available)}")
    return list(spec)


def subset_dataset(df: DataFrame, tissues="all", platforms="all") -> DataFrame:
    """Keep images whose tissue AND platform match (dataset_builder.py:256-290)."""
    avail_t = [r["tissue"] for r in df.select("tissue").distinct().collect()]
    avail_p = [r["platform"] for r in df.select("platform").distinct().collect()]
    tissues = _validate_categories(tissues, avail_t, "tissue")
    platforms = _validate_categories(platforms, avail_p, "platform")
    out = df.where(F.col("tissue").isin(tissues) & F.col("platform").isin(platforms))
    if out.limit(1).count() == 0:
        raise ValueError(
            f"No matching images for tissues={tissues} platforms={platforms}"
        )
    return out


# ---------------------------------------------------------------------------
# numpy resize kernels (no cv2/skimage in env)
# ---------------------------------------------------------------------------


def resize_bilinear(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """[h, w, c] float bilinear resize (align_corners=False convention)."""
    h, w = img.shape[:2]
    r = (np.arange(new_h) + 0.5) * h / new_h - 0.5
    c = (np.arange(new_w) + 0.5) * w / new_w - 0.5
    r0 = np.clip(np.floor(r).astype(int), 0, h - 1)
    c0 = np.clip(np.floor(c).astype(int), 0, w - 1)
    r1 = np.clip(r0 + 1, 0, h - 1)
    c1 = np.clip(c0 + 1, 0, w - 1)
    fr = np.clip(r - r0, 0, 1)[:, None, None]
    fc = np.clip(c - c0, 0, 1)[None, :, None]
    top = img[r0][:, c0] * (1 - fc) + img[r0][:, c1] * fc
    bot = img[r1][:, c0] * (1 - fc) + img[r1][:, c1] * fc
    return (top * (1 - fr) + bot * fr).astype(img.dtype)


def resize_nearest(img: np.ndarray, new_h: int, new_w: int) -> np.ndarray:
    """[h, w] label resize, nearest-neighbor (labeled_image=True path)."""
    h, w = img.shape[:2]
    r = np.clip(((np.arange(new_h) + 0.5) * h / new_h).astype(int), 0, h - 1)
    c = np.clip(((np.arange(new_w) + 0.5) * w / new_w).astype(int), 0, w - 1)
    return img[r][:, c]


def _tile_grid(length: int, tile: int, stride: int) -> list[int]:
    """Start offsets covering [0, length) with the final tile clamped."""
    if length <= tile:
        return [0]
    starts = list(range(0, length - tile + 1, stride))
    if starts[-1] + tile < length:
        starts.append(length - tile)
    return starts


def compute_resize_ratios(
    df: DataFrame, resize_target: float, by: str = "by_tissue"
) -> DataFrame:
    """ratio = sqrt(resize_target / median_cell_size) per tissue or per
    image (dataset_builder.py:366)."""
    keys = {"by_tissue": ["tissue"], "by_image": ["img_idx"]}[by]
    ll = labels_long(df, extra_keys=["img_idx", "tissue"])
    med = ll.groupBy(*keys).agg(F.median("area").alias("median_cell_size"))
    return med.withColumn(
        "resize_ratio", F.sqrt(F.lit(resize_target) / F.col("median_cell_size"))
    )


def reshape_dataset(
    df: DataFrame,
    output_shape: tuple[int, int],
    resize="false",
    resize_target: float = 400.0,
    stride_ratio: float = 1.0,
    tolerance: float = 1.5,
) -> DataFrame:
    """D7+R11: optional resize (scalar ratio / by_tissue / by_image), then
    pad-and-tile every image into output_shape tiles. Tiles inherit the
    parent row's tissue/platform/img_idx (R12 is a no-op relationally)."""
    final_h, final_w = output_shape

    if resize in ("by_tissue", "by_image"):
        ratios = compute_resize_ratios(df, resize_target, by=resize)
        key = "tissue" if resize == "by_tissue" else "img_idx"
        df = df.join(
            F.broadcast(ratios.select(key, "resize_ratio")), on=key, how="left"
        ).withColumn("resize_ratio", F.coalesce("resize_ratio", F.lit(1.0)))
    elif resize == "false" or resize is False:
        df = df.withColumn("resize_ratio", F.lit(1.0))
    else:
        df = df.withColumn("resize_ratio", F.lit(float(resize)))

    def reshape(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                h, w = int(row["height"]), int(row["width"])
                nchan = len(row["channels"]) if row["channels"] is not None else 0
                x = decode_x(row["X"], h, w, nchan) if row["X"] is not None else None
                y = decode_y(row["y"], h, w) if row["y"] is not None else None
                ratio = float(row["resize_ratio"])
                if ratio > tolerance or ratio < 1 / tolerance:
                    nh, nw = int(h * ratio), int(w * ratio)
                    if x is not None:
                        x = resize_bilinear(x, nh, nw)
                    if y is not None:
                        y = resize_nearest(y, nh, nw)
                    h, w = nh, nw
                # pad so tiles divide evenly (build.py:144-176)
                pad_h = math.ceil(h / final_h) * final_h
                pad_w = math.ceil(w / final_w) * final_w
                if x is not None and (pad_h != h or pad_w != w):
                    xp = np.zeros((pad_h, pad_w, x.shape[2]), dtype=x.dtype)
                    xp[:h, :w] = x
                    x = xp
                if y is not None and (pad_h != h or pad_w != w):
                    yp = np.zeros((pad_h, pad_w), dtype=y.dtype)
                    yp[:h, :w] = y
                    y = yp
                stride_h = max(int(final_h * stride_ratio), 1)
                stride_w = max(int(final_w * stride_ratio), 1)
                tile_id = 0
                for rs in _tile_grid(pad_h, final_h, stride_h):
                    for cs in _tile_grid(pad_w, final_w, stride_w):
                        rec = row.to_dict()
                        rec.pop("resize_ratio", None)
                        rec.update(
                            {
                                "crop": tile_id,
                                "height": final_h,
                                "width": final_w,
                                "X": encode_x(x[rs : rs + final_h, cs : cs + final_w])
                                if x is not None
                                else None,
                                "y": encode_y(y[rs : rs + final_h, cs : cs + final_w])
                                if y is not None
                                else None,
                            }
                        )
                        out.append(rec)
                        tile_id += 1
            yield pd.DataFrame(out, columns=_DS_COLS)

    return df.mapInPandas(reshape, schema=DATASET_SCHEMA)


# ---------------------------------------------------------------------------
# D8: clean labels
# ---------------------------------------------------------------------------


def clean_labels(
    df: DataFrame,
    relabel: bool = False,
    small_object_threshold: int = 0,
    min_objects: int = 0,
) -> DataFrame:
    """Optional CC relabel + small-object removal, then drop images with
    fewer than min_objects cells (dataset_builder.py:397-439)."""

    def clean(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_rows = []
            for _, row in pdf.iterrows():
                if row["y"] is None:
                    continue
                y = decode_y(row["y"], int(row["height"]), int(row["width"]))
                if relabel:
                    y = connected_components_np(y)
                if small_object_threshold > 0:
                    ids, counts = np.unique(y[y > 0], return_counts=True)
                    small = ids[counts < small_object_threshold]
                    if small.size:
                        y = np.where(np.isin(y, small), 0, y)
                n_cells = len(np.unique(y)) - 1
                if n_cells < min_objects:
                    continue
                rec = row.to_dict()
                rec["y"] = encode_y(y)
                keep_rows.append(rec)
            yield pd.DataFrame(keep_rows, columns=_DS_COLS)

    return df.mapInPandas(clean, schema=DATASET_SCHEMA)


# ---------------------------------------------------------------------------
# D9/J6: balance
# ---------------------------------------------------------------------------


def balance_dataset(
    df: DataFrame,
    seed: int = 0,
    category: str = "tissue",
    exact_parity: bool = True,
) -> DataFrame:
    """Upsample every category to the max category count by seeded
    choice-with-replacement — the reference's exact RNG call pattern
    (dataset_builder.py:441-496): np.random.seed(seed), then one
    np.random.choice per under-represented category in np.unique order.
    Assignment is driver-side over image ids; rows stay distributed.

    ``exact_parity=False`` is the 1e9-image path: the driver sees only
    per-category counts. Members get a within-category dense rank
    (operators/ranking.py — no per-category single-task window); a
    generated draws table (spark.range x category dim) picks member
    ranks by seeded hash, and one distributed join materializes the
    choice. Same output contract — every category lands on the max
    count, full categories keep each member exactly once — different
    (still seed-deterministic) draws than numpy."""
    if not exact_parity:
        from deepcell_data_engineering_spark.operators.ranking import (
            global_dense_rank,
        )

        members = df.select("img_idx", category).distinct()
        cat_counts = members.groupBy(category).agg(
            F.count(F.lit(1)).alias("__n")
        )  # O(#categories)
        stats = cat_counts.collect()
        if not stats:
            return df
        max_counts = max(r["__n"] for r in stats)
        ranked = global_dense_rank(
            members, "img_idx", partition_cols=[category], out_col="__r"
        )
        spark = df.sparkSession
        cat_dim = F.broadcast(
            local_frame(
                spark,
                [(r[category], int(r["__n"])) for r in stats],
                f"{category} {df.schema[category].dataType.simpleString()}, __n long",
            )
        )
        draws = (
            spark.range(max_counts)
            .select(F.col("id").cast("int").alias("copy"))
            .crossJoin(cat_dim)
            .withColumn(
                "__r",
                F.when(
                    F.col("__n") == max_counts, F.col("copy").cast("long")
                ).otherwise(
                    F.pmod(
                        F.xxhash64(F.col(category), F.col("copy"), F.lit(seed)),
                        F.col("__n"),
                    )
                ),
            )
            .select(category, "copy", "__r")
        )
        assign = draws.join(ranked, on=[category, "__r"]).select("img_idx", "copy")
        return df.drop("copy").join(assign, on="img_idx", how="inner")

    order = [
        (int(r["img_idx"]), r[category])
        for r in df.select("img_idx", category).distinct().orderBy("img_idx").collect()
    ]
    cat_list = np.array([c for _, c in order])
    idx_list = np.array([i for i, _ in order])
    uniq, counts = np.unique(cat_list, return_counts=True)
    max_counts = int(counts.max())

    np.random.seed(seed)
    rows = []
    for cat in uniq:
        members = idx_list[cat_list == cat]
        if len(members) == max_counts:
            chosen = np.arange(len(members))
        else:
            chosen = np.random.choice(range(len(members)), size=max_counts, replace=True)
        for copy, local in enumerate(chosen):
            rows.append((int(members[local]), copy))

    assign = local_frame(df.sparkSession, rows, "img_idx BIGINT, copy INT")
    return df.drop("copy").join(F.broadcast(assign), on="img_idx", how="inner")


# ---------------------------------------------------------------------------
# A2: summarize (grouping sets)
# ---------------------------------------------------------------------------


def summarize_dataset(df: DataFrame) -> DataFrame:
    """Per-tissue, per-platform, and overall cell & image counts in ONE
    grouping-sets aggregation (vs the reference's two driver loops)."""
    # one output "image" per ROW (duplicated/tiled rows count separately,
    # exactly like the reference's batch axis) — tag rows with a unique id
    tagged = df.withColumn("_rid", F.monotonically_increasing_id())
    per_image = (
        labels_long(tagged, extra_keys=["_rid"])
        .groupBy("_rid")
        .agg(F.countDistinct("cell_id").alias("n_cells"))
    )
    counts = (
        tagged.select("_rid", "tissue", "platform")
        .join(per_image, on="_rid", how="left")
        .na.fill({"n_cells": 0})
    )
    counts.createOrReplaceTempView("_summarize_counts")
    return df.sparkSession.sql(
        """SELECT COALESCE(tissue, 'all') AS tissue,
                  COALESCE(platform, 'all') AS platform,
                  SUM(n_cells) AS cell_num,
                  COUNT(*) AS image_num
           FROM _summarize_counts
           GROUP BY GROUPING SETS ((tissue), (platform), ())
           ORDER BY tissue, platform"""
    )


# ---------------------------------------------------------------------------
# D10/D11: build orchestration
# ---------------------------------------------------------------------------


def validate_output_shape(output_shape) -> list[tuple[int, int]]:
    """D11 `_validate_output_shape` (dataset_builder.py:528-564): accept
    one (h, w) pair (applied to all three splits) or a list of exactly
    three pairs; anything else is an error."""
    err = ValueError(
        "output_shape must be an (h, w) pair or a list of three (h, w) pairs"
    )
    try:
        shapes = list(output_shape)
    except TypeError:
        raise err from None
    if len(shapes) == 2 and all(isinstance(v, int) for v in shapes):
        return [tuple(shapes)] * 3
    if len(shapes) == 3 and all(
        len(s) == 2 and all(isinstance(v, int) for v in s) for s in shapes
    ):
        return [tuple(s) for s in shapes]
    raise err


def build_dataset(
    df: DataFrame,
    tissues="all",
    platforms="all",
    output_shape=(512, 512),
    resize="false",
    data_split: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int = 0,
    balance: bool = False,
    relabel: bool = False,
    small_object_threshold: int = 0,
    min_objects: int = 0,
    cache: bool = True,
    exact_parity: bool = True,
) -> dict[str, DataFrame]:
    """D10 `build_dataset` (dataset_builder.py:566-649): the composed
    training-set query. Per split: subset (P1) -> reshape (D7/R11) ->
    clean (D8) -> balance (D9, train/val only — the test split is NEVER
    resampled, dataset_builder.py:644-646).

    Each split is one lazy DataFrame pipeline; ``cache=True`` persists
    the split frames the way the reference caches reloads keyed on
    seed/split (dataset_builder.py:616-617). Balance runs after clean so
    resampling sees the post-filter population, matching the reference's
    stage order."""
    from deepcell_data_engineering_spark.dataset.splitter import train_val_test_split

    shapes = validate_output_shape(output_shape)
    # persist the split assignment: each split's pipeline (plus the
    # emptiness probe) would otherwise re-run the split join from scratch
    split_df = train_val_test_split(
        df, data_split=data_split, seed=seed, exact_parity=exact_parity
    ).persist()
    split_counts = {
        r["split"]: r["n"]
        for r in split_df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out: dict[str, DataFrame] = {}
    for (split, shape), balance_this in zip(
        zip(("train", "val", "test"), shapes), (balance, balance, False)
    ):
        part = split_df.where(F.col("split") == split).drop("split")
        if split_counts.get(split, 0) == 0:
            # empty frame with the SAME post-reshape schema as the other
            # splits, so unionByName across splits always works
            out[split] = local_frame(df.sparkSession, [], DATASET_SCHEMA)
            continue
        part = subset_dataset(part, tissues=tissues, platforms=platforms)
        part = reshape_dataset(part, shape, resize=resize)
        if relabel or small_object_threshold or min_objects:
            part = clean_labels(
                part,
                relabel=relabel,
                small_object_threshold=small_object_threshold,
                min_objects=min_objects,
            )
        if balance_this:
            part = balance_dataset(part, seed=seed, exact_parity=exact_parity)
        part = part.select(*_DS_COLS)  # uniform schema ('copy' etc. dropped)
        out[split] = part.persist() if cache else part
    return out
