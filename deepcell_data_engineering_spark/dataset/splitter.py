"""Seeded dataset splits and nested tranches (SURVEY §2.8 D5/D6).

Semantics source: caliban_toolbox/dataset_splitter.py:94-153 (nested
prefix tranches over a seeded permutation, duplication up to min_size) and
build.py:179-263 (train/val/test split with small-N edge cases).

RNG-parity design (SURVEY §7.4 #2): permutations are computed on the
DRIVER over compact image indices with ``np.random.RandomState(seed)`` —
bit-identical to the reference for the tranche splitter — and broadcast-
joined onto the distributed table. The data never moves to the driver;
only the index permutation does. (The reference's train/val/test split
delegates to sklearn's shuffle; sklearn is not available here, so that
split is seeded-numpy deterministic with the same edge-case contract, not
bit-identical to sklearn.)

Scale design (``exact_parity=False``): at ~1e9 images even the index
permutation bottlenecks the driver, so the scale path replaces the numpy
permutation with a seeded hash order — ``xxhash64(img_idx, seed)`` ranks
images via the distributed dense rank of operators/ranking.py — and
assigns splits by rank boundary. Same size contract (including the
small-N edge cases), same determinism per seed, prefix-nesting preserved
for tranches (every tranche is a prefix of ONE hash order); the only
driver data is one count per range partition. Not bit-identical to the
numpy permutation, which is exactly the trade the flag names.
"""

from __future__ import annotations

import math
import warnings

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.operators.ranking import global_dense_rank
from deepcell_data_engineering_spark.session import local_frame


def _hash_ranked(df: DataFrame, seed: int) -> DataFrame:
    """Distinct img_idx ranked by the seeded hash order — the scale
    path's permutation. Returns (img_idx, __r) with __r in [0, n)."""
    ids = df.select("img_idx").distinct().withColumn(
        "__h", F.xxhash64(F.col("img_idx"), F.lit(int(seed)))
    )
    return global_dense_rank(ids, ["__h", "img_idx"], out_col="__r").drop("__h")


def _index_assignment_df(df: DataFrame, rows: list[tuple[int, int, str]]):
    """(img_idx, copy, split) assignment joined back onto the table."""
    spark = df.sparkSession
    assign = local_frame(spark, rows, "img_idx BIGINT, copy INT, split STRING")
    return df.join(F.broadcast(assign), on="img_idx", how="inner")


def _n_images(df: DataFrame) -> int:
    n = df.select(F.max("img_idx")).collect()[0][0]
    if n is None:
        raise ValueError("empty dataset")
    return int(n) + 1


def split_tranches(
    df: DataFrame,
    split_counts: list[int] | None = None,
    split_proportions: list[float] | None = None,
    min_size: int = 1,
    seed: int = 0,
    exact_parity: bool = True,
) -> dict[str, DataFrame]:
    """Nested prefix tranches (dataset_splitter.py:94-153): one seeded
    permutation; each tranche is a prefix of it, so smaller tranches are
    subsets of larger ones. Tranches below ``min_size`` tile their
    indices up to min_size (duplication).

    ``exact_parity=False``: the permutation becomes the seeded hash
    order (module docstring) — prefixes still nest because every tranche
    cuts the SAME order; nothing O(n) touches the driver."""
    if (split_counts is None) == (split_proportions is None):
        raise ValueError("exactly one of split_counts or split_proportions must be supplied")
    n = _n_images(df)

    if split_counts is not None:
        split_counts = sorted(split_counts)
        if split_counts[0] <= 0:
            raise ValueError("smallest split_count must be greater than 0")
        if len(set(split_counts)) != len(split_counts):
            raise ValueError("duplicate split_counts are not allowed")
        if not all(isinstance(c, int) for c in split_counts):
            raise ValueError("all split_counts must be integers")
        keys = [str(c) for c in split_counts]
    else:
        split_proportions = sorted(split_proportions)
        if split_proportions[0] <= 0:
            raise ValueError("smallest split_proportion must be non-zero")
        if split_proportions[-1] > 1:
            raise ValueError("largest split_proportion cannot be greater than 1")
        if len(set(split_proportions)) != len(split_proportions):
            raise ValueError("duplicate splits are not allowed")
        split_counts = [max(int(n * p), 1) for p in split_proportions]
        keys = [str(p) for p in split_proportions]

    if not exact_parity:
        ranked = _hash_ranked(df, seed)
        out_s: dict[str, DataFrame] = {}
        for key, count in zip(keys, split_counts):
            prefix = ranked.where(F.col("__r") < count)
            if count < min_size:
                # tiny tranche by definition — tiling via a generated
                # copy dim keeps the reference's duplicated-batch counts
                mult = int(np.ceil(min_size / count))
                copies = df.sparkSession.range(mult).select(
                    F.col("id").cast("int").alias("copy")
                )
                assign = (
                    prefix.crossJoin(F.broadcast(copies))
                    .withColumn("__pos", F.col("copy") * count + F.col("__r"))
                    .where(F.col("__pos") < min_size)
                    .select("img_idx", "copy")
                )
            else:
                assign = prefix.select("img_idx", F.lit(0).alias("copy"))
            out_s[key] = df.join(assign, on="img_idx", how="inner")
        return out_s

    permuted = np.random.RandomState(seed=seed).permutation(np.arange(n))
    out: dict[str, DataFrame] = {}
    for key, count in zip(keys, split_counts):
        idx = permuted[:count]
        if len(idx) < min_size:
            multiplier = int(np.ceil(min_size / len(idx)))
            idx = np.tile(idx, multiplier)[:min_size]
        rows = [(int(v), int(c), key) for c, v in enumerate(idx)]
        # `copy` disambiguates duplicated indices so downstream row counts
        # match the reference's duplicated batches
        out[key] = _index_assignment_df(df, rows).drop("split")
    return out


def _validate_ratios(data_split: tuple[float, float, float]) -> None:
    total = round(float(sum(data_split)), 2)
    if total != 1:
        raise ValueError(f"data splits must sum to 1, supplied splits sum to {total}")
    if 0 in data_split:
        raise ValueError("all splits must be non-zero")


def _split_sizes(n: int, data_split: tuple[float, float, float]) -> dict[str, int]:
    """The reference's small-N sizing contract (build.py:179-263)."""
    train_ratio, val_ratio, test_ratio = data_split
    if n == 1:
        warnings.warn("Only one image, returning training split only")
        sizes = {"train": 1, "val": 0, "test": 0}
    elif n == 2:
        warnings.warn("Only two images, returning training and val split only")
        sizes = {"train": 1, "val": 1, "test": 0}
    else:
        val_remainder_ratio = round(1 - train_ratio, 2)
        if n * val_remainder_ratio < 1:
            warnings.warn("Not enough data for specified split; returning modified split")
            sizes = {"train": n - 2, "val": 1, "test": 1}
        else:
            n_remainder = math.ceil(n * val_remainder_ratio)
            test_remainder_ratio = round(test_ratio / (val_ratio + test_ratio), 2)
            if n_remainder * test_remainder_ratio < 1:
                warnings.warn("Not enough data for test split; returning modified split")
                sizes = {"train": n - n_remainder - 1, "val": n_remainder, "test": 1}
            else:
                n_test = math.ceil(n_remainder * test_remainder_ratio)
                sizes = {
                    "train": n - n_remainder,
                    "val": n_remainder - n_test,
                    "test": n_test,
                }
    return sizes


def _assignment_rows(ids, sizes: dict[str, int], rng) -> list[tuple[int, int, str]]:
    perm = rng.permutation(np.asarray(ids))
    rows = []
    pos = 0
    for split in ("train", "val", "test"):
        for v in perm[pos : pos + sizes[split]]:
            rows.append((int(v), 0, split))
        pos += sizes[split]
    return rows


def train_val_test_split(
    df: DataFrame,
    data_split: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int | None = None,
    exact_parity: bool = True,
) -> DataFrame:
    """Seeded 3-way split with the reference's small-N contract
    (build.py:179-263): N=1 → train only; N=2 → train+val; ratio
    underflow → guarantee ≥1 image per split. Returns the input with a
    ``split`` column ('train'/'val'/'test').

    ``exact_parity=False``: same size contract, but assignment is by
    seeded-hash rank boundary (module docstring) — the driver sees one
    scalar count and one count per range partition, never the index
    permutation."""
    _validate_ratios(data_split)
    n = _n_images(df)
    sizes = _split_sizes(n, data_split)
    if not exact_parity:
        ranked = _hash_ranked(df, 0 if seed is None else seed)
        b1, b2 = sizes["train"], sizes["train"] + sizes["val"]
        assign = ranked.select(
            "img_idx",
            F.lit(0).alias("copy"),
            F.when(F.col("__r") < b1, "train")
            .when(F.col("__r") < b2, "val")
            .otherwise("test")
            .alias("split"),
        )
        return df.join(assign, on="img_idx", how="inner")
    rng = np.random.RandomState(seed=seed)
    rows = _assignment_rows(np.arange(n), sizes, rng)
    return _index_assignment_df(df, rows)


def per_experiment_split(
    df: DataFrame,
    exp_col: str = "fov",
    data_split: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int | None = None,
    exact_parity: bool = True,
) -> DataFrame:
    """D4 `_load_all_experiments` split scoping (dataset_builder.py:
    165-254): the 3-way split runs WITHIN each experiment, then the
    per-experiment splits union — so every experiment contributes to
    every split (no experiment ends up test-only).

    ``exact_parity=True``: one seeded RNG drawn in sorted experiment
    order keeps the assignment bit-deterministic vs the reference; the
    per-experiment id LISTS are collected to the driver — bounded by
    total image count, which caps this mode at ~1e7 images.

    ``exact_parity=False`` (the scale path): only one COUNT per
    experiment reaches the driver (for the small-N sizing contract,
    which is scalar logic); assignment is the seeded per-experiment
    hash order — ``row_number`` over ``xxhash64(img_idx, seed)``
    partitioned by experiment — cut at the same size boundaries. Same
    size contract per experiment, same determinism per seed, nothing
    O(images) on the driver; not bit-identical to the numpy
    permutation, which is exactly the trade the flag names."""
    _validate_ratios(data_split)
    if not exact_parity:
        from pyspark.sql import Window

        counts = (
            df.groupBy(exp_col)
            .agg(F.count_distinct("img_idx").alias("__n"))
            .collect()
        )
        bounds = []
        for r in sorted(counts, key=lambda r: r[exp_col]):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                sizes = _split_sizes(int(r["__n"]), data_split)
            bounds.append(
                (r[exp_col], sizes["train"], sizes["train"] + sizes["val"])
            )
        bdf = local_frame(
            df.sparkSession,
            bounds,
            f"{exp_col} {df.schema[exp_col].dataType.simpleString()}, "
            "__b1 bigint, __b2 bigint",
        )
        w = Window.partitionBy(exp_col).orderBy(
            F.xxhash64("img_idx", F.lit(0 if seed is None else int(seed))),
            "img_idx",
        )
        assign = (
            df.select(exp_col, "img_idx")
            .distinct()
            .withColumn("__r", F.row_number().over(w) - 1)
            .join(F.broadcast(bdf), on=exp_col)
            .select(
                "img_idx",
                F.lit(0).alias("copy"),
                F.when(F.col("__r") < F.col("__b1"), "train")
                .when(F.col("__r") < F.col("__b2"), "val")
                .otherwise("test")
                .alias("split"),
            )
        )
        return df.join(assign, on="img_idx", how="inner")
    groups = (
        df.groupBy(exp_col).agg(F.collect_list("img_idx").alias("ids")).collect()
    )
    rng = np.random.RandomState(seed=seed)
    rows: list[tuple[int, int, str]] = []
    for g in sorted(groups, key=lambda r: r[exp_col]):
        ids = sorted(int(i) for i in g["ids"])
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            sizes = _split_sizes(len(ids), data_split)
        rows += _assignment_rows(ids, sizes, rng)
    return _index_assignment_df(df, rows)
