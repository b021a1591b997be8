"""Round-trip invariants for crop/slice/stitch (reshape_data_test.py:146-293
semantics: same shape, same nonzero support, same number of distinct cells,
corner tags intact)."""

import numpy as np
import pytest

from deepcell_data_engineering_spark.operators.cropping import (
    compute_crop_indices,
    crop_images,
    stitch_crops,
)
from deepcell_data_engineering_spark.operators.slicing import (
    compute_slice_indices,
    slice_images,
    stitch_slices,
)
from deepcell_data_engineering_spark.operators.labels import cell_counts, labels_long
from deepcell_data_engineering_spark.sources.codecs import decode_y
from deepcell_data_engineering_spark.sources.images import (
    images_df,
    rectangle_grid_labels,
    rows_from_arrays,
)


def _collect_masks(df):
    out = {}
    for r in df.collect():
        out[(r["fov"], r["stack"], r["crop"], r["slice"])] = decode_y(
            r["y"], r["height"], r["width"]
        )
    return out


def test_compute_crop_indices_matches_reference_arithmetic():
    starts, ends, padding = compute_crop_indices(200, crop_size=50, overlap_frac=0.2)
    # overlap_pix = floor(50*0.2) = 10; spacing 40; starts 0,40,...,160 (< 190)
    assert list(starts) == [0, 40, 80, 120, 160]
    assert list(ends) == [50, 90, 130, 170, 210]
    assert padding == 10
    starts, ends, padding = compute_crop_indices(200, crop_num=2, overlap_frac=0.0)
    assert list(starts) == [0, 100] and padding == 0


def test_compute_slice_indices_truncates_final():
    starts, ends = compute_slice_indices(10, 4, 0)
    assert list(starts) == [0, 4, 8] and list(ends) == [4, 8, 10]
    starts, ends = compute_slice_indices(10, 4, 1)
    assert list(starts) == [0, 3, 6] and list(ends) == [4, 7, 10]
    with pytest.raises(ValueError):
        compute_slice_indices(10, 4, 4)


@pytest.mark.parametrize("crop_size,overlap", [((50, 50), 0.1), ((100, 100), 0.2)])
def test_crop_stitch_round_trip(spark, crop_size, overlap):
    h = w = 200
    y0 = rectangle_grid_labels(h, w)
    rows = []
    for fov in ["fov1", "fov2"]:
        rows += rows_from_arrays(
            fov,
            np.random.default_rng(0).random((1, h, w, 1)).astype(np.float32),
            y0[None, ...],
        )
    images = images_df(spark, rows)

    cropped, log = crop_images(images, crop_size=crop_size, overlap_frac=overlap)
    n_row = len(log.row_starts)
    n_col = len(log.col_starts)
    assert cropped.count() == 2 * n_row * n_col

    stitched = stitch_crops(cropped, log)
    masks = _collect_masks(stitched)
    assert len(masks) == 2
    for (_, _, crop, slc), m in masks.items():
        assert (crop, slc) == (0, 0)
        assert m.shape == (h, w)
        # same nonzero support
        np.testing.assert_array_equal(m > 0, y0 > 0)
        # same number of distinct cells
        assert len(np.unique(m)) == len(np.unique(y0))
        # label identity preserved up to renaming: each original cell maps
        # to exactly one stitched id and vice versa
        for cell in np.unique(y0)[1:]:
            assert len(np.unique(m[y0 == cell])) == 1


def test_stitch_tolerates_missing_crops(spark):
    h = w = 100
    y0 = rectangle_grid_labels(h, w, cell_h=8, cell_w=8, pitch_r=25, pitch_c=25)
    images = images_df(spark, rows_from_arrays("fov1", None, y0[None, ...]))
    cropped, log = crop_images(images, crop_size=(50, 50), overlap_frac=0.0)
    # drop one unit — io_utils.py:215-218 missing-annotation tolerance
    partial = cropped.where("crop != 3")
    stitched = stitch_crops(partial, log)
    m = list(_collect_masks(stitched).values())[0]
    assert m.shape == (h, w)
    assert (m[50:, 50:] == 0).all()  # missing quadrant is blank
    np.testing.assert_array_equal(m[:50, :50] > 0, y0[:50, :50] > 0)


@pytest.mark.parametrize("slice_len,overlap", [(4, 0), (4, 1)])
def test_slice_stitch_round_trip(spark, slice_len, overlap):
    stacks, h, w = 10, 40, 40
    rng = np.random.default_rng(1)
    # corner tags: y[s, 0, 0] = s + 1 (reshape_data_test.py:209-210 analog)
    ys = np.zeros((stacks, h, w), dtype=np.int32)
    for s in range(stacks):
        ys[s, 0, 0] = s + 1
        ys[s, 10:20, 10:20] = 100 + s
    xs = rng.random((stacks, h, w, 2)).astype(np.float32)
    images = images_df(spark, rows_from_arrays("fov1", xs, ys))

    sliced, log = slice_images(images, slice_len, overlap)
    starts, ends = log.slice_start_indices, log.slice_end_indices
    expected_rows = sum(e - s for s, e in zip(starts, ends))
    assert sliced.count() == expected_rows

    restored = stitch_slices(sliced, log)
    masks = _collect_masks(restored)
    assert len(masks) == stacks
    for (_, stack, _, _), m in masks.items():
        np.testing.assert_array_equal(m, ys[stack])


def test_crop_then_slice_then_stitch_both(spark):
    stacks, h, w = 8, 80, 80
    ys = np.zeros((stacks, h, w), dtype=np.int32)
    for s in range(stacks):
        ys[s, : s + 1, : s + 1] = 1  # growing corner squares (:253-254)
        ys[s, 40:50, 40:50] = 7
    images = images_df(spark, rows_from_arrays("fov1", None, ys))

    cropped, crop_log = crop_images(images, crop_size=(40, 40), overlap_frac=0.1)
    sliced, slice_log = slice_images(cropped, slice_len=4, slice_overlap=1)
    # reconstruct: stitch slices first, then crops (reshape_data.py:194-234)
    unsliced = stitch_slices(sliced, slice_log)
    restored = stitch_crops(unsliced, crop_log)
    masks = _collect_masks(restored)
    assert len(masks) == stacks
    for (_, stack, _, _), m in masks.items():
        np.testing.assert_array_equal(m > 0, ys[stack] > 0)
        assert len(np.unique(m)) == len(np.unique(ys[stack]))


def test_labels_long_and_counts(spark):
    y = np.zeros((2, 60, 60), dtype=np.int32)
    y[0, 0:20, 0:20] = 1
    y[0, 30:34, 40:50] = 2
    y[1, 5:10, 5:10] = 9
    images = images_df(spark, rows_from_arrays("fov1", None, y))
    ll = labels_long(images).orderBy("stack", "cell_id").collect()
    assert [(r["stack"], r["cell_id"], r["area"]) for r in ll] == [
        (0, 1, 400),
        (0, 2, 40),
        (1, 9, 25),
    ]
    r = [x for x in ll if x["cell_id"] == 2][0]
    assert (r["rmin"], r["rmax"], r["cmin"], r["cmax"]) == (30, 33, 40, 49)
    counts = {r["stack"]: r["n_cells"] for r in cell_counts(images).collect()}
    assert counts == {0: 2, 1: 1}


def test_crop_grid_df_matches_numpy_grid(spark):
    from deepcell_data_engineering_spark.operators.cropping import (
        compute_crop_indices,
        crop_grid_df,
    )

    lens = spark.createDataFrame([(31,), (40,), (7,)], "img_len bigint")
    out = crop_grid_df(lens, crop_size=10, overlap_frac=0.4).collect()
    by_len = {}
    for r in out:
        by_len.setdefault(r["img_len"], []).append(r)
    for img_len, rows in by_len.items():
        rows.sort(key=lambda r: r["crop_idx"])
        starts, ends, padding = compute_crop_indices(img_len, crop_size=10, overlap_frac=0.4)
        assert [r["crop_start"] for r in rows] == starts.tolist()
        assert [r["crop_end"] for r in rows] == ends.tolist()
        assert all(r["padding"] == padding for r in rows)


def test_reconstruct_image_stack_composite(spark):
    from deepcell_data_engineering_spark.operators.reconstruct import (
        ReconLog,
        crop_and_slice,
        reconstruct_image_stack,
    )

    stacks, h, w = 6, 60, 60
    ys = np.zeros((stacks, h, w), dtype=np.int32)
    for s in range(stacks):
        ys[s, 5 : 5 + s + 1, 5 : 5 + s + 1] = 3
    images = images_df(spark, rows_from_arrays("fovA", None, ys))
    units, log = crop_and_slice(
        images, crop_size=(30, 30), overlap_frac=0.1, slice_len=3, slice_overlap=1
    )
    # log survives a JSON round trip (the recon_log sidecar contract)
    log2 = ReconLog.from_json(log.to_json())
    restored = reconstruct_image_stack(units, log2)
    masks = _collect_masks(restored)
    assert len(masks) == stacks
    for (_, stack, _, _), m in masks.items():
        np.testing.assert_array_equal(m > 0, ys[stack] > 0)


def test_write_combined_npz(spark, tmp_path):
    from deepcell_data_engineering_spark.sources.codecs import decode_npz
    from deepcell_data_engineering_spark.sources.images import write_combined_npz

    ys = np.zeros((3, 16, 16), dtype=np.int32)
    ys[:, :4, :4] = 5
    xs = np.ones((3, 16, 16, 2), dtype=np.float32)
    images = images_df(spark, rows_from_arrays("fovZ", xs, ys))
    out = str(tmp_path / "combined.npz")
    n = write_combined_npz(images, out)
    assert n == 3
    arrays = decode_npz(open(out, "rb").read())
    assert arrays["X"].shape == (3, 16, 16, 2)
    assert arrays["y"].shape == (3, 16, 16, 1)
    np.testing.assert_array_equal(arrays["y"][..., 0], ys)


def test_crop_slice_validate_false_runs_no_guard_jobs(spark):
    """validate=False must build the plan without any guard collect jobs
    (composed pipelines validate once up front), and produce the same
    rows as the validated path."""
    import numpy as np

    from deepcell_data_engineering_spark.operators.cropping import crop_images
    from deepcell_data_engineering_spark.operators.slicing import slice_images
    from deepcell_data_engineering_spark.sources.images import images_df, rows_from_arrays

    ys = np.arange(4 * 20 * 20, dtype=np.int32).reshape(4, 20, 20) % 7
    images = images_df(spark, rows_from_arrays("fov1", None, ys))

    v_crops, v_log = crop_images(images, crop_size=(10, 10))
    q_crops, q_log = crop_images(
        images, crop_size=(10, 10), validate=False, dims=(20, 20)
    )
    assert q_log.row_starts == v_log.row_starts
    assert q_log.num_crops == v_log.num_crops
    assert q_log.fov_names == []  # not listed in the fast path
    assert q_crops.count() == v_crops.count()

    v_slices, vs_log = slice_images(images, slice_len=2)
    q_slices, qs_log = slice_images(images, slice_len=2, validate=False, stack_len=4)
    assert qs_log.slice_start_indices == vs_log.slice_start_indices
    assert q_slices.count() == v_slices.count()

    # with dims and stack_len given, plan construction runs zero jobs
    df_cls = type(images)
    calls = []
    orig_collect, orig_first = df_cls.collect, df_cls.first

    def spy_collect(self):
        calls.append("collect")
        return orig_collect(self)

    def spy_first(self):
        calls.append("first")
        return orig_first(self)

    df_cls.collect, df_cls.first = spy_collect, spy_first
    try:
        crop_images(images, crop_size=(10, 10), validate=False, dims=(20, 20))
        slice_images(images, slice_len=2, validate=False, stack_len=4)
    finally:
        df_cls.collect, df_cls.first = orig_collect, orig_first
    assert calls == []


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by job group. AQE is
    off meanwhile: it runs each shuffle stage of an action as a job of its
    own, and the count here is of actions (the aggregate probe is one)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _kernel_images(spark, fovs=("fov1", "fov2"), stacks=4, size=20):
    """A frame produced by a Python UDF (the adjust kernel), as in the
    pre-annotation pipeline."""
    from deepcell_data_engineering_spark.functions.imaging import adjust_images

    rng = np.random.default_rng(0)
    rows = []
    for fov in fovs:
        ys = (rng.random((stacks, size, size)) > 0.7).astype(np.int32)
        xs = rng.random((stacks, size, size, 1)).astype(np.float32)
        rows += rows_from_arrays(fov, xs, ys)
    return adjust_images(images_df(spark, rows), {"gamma_adjust": 1.2})


@pytest.mark.parametrize("validate", [False, True])
def test_crop_and_slice_runs_one_job(spark, validate):
    """One aggregate probe gives the dims, the stack extent and (with
    validate) every guard and the fov names; the log matches the
    separately validated crop and slice logs."""
    from deepcell_data_engineering_spark.operators.reconstruct import crop_and_slice

    images = _kernel_images(spark)
    (units, log), n_jobs = _jobs_run(
        spark,
        lambda: crop_and_slice(
            images, crop_size=(8, 8), overlap_frac=0.25, slice_len=3,
            validate=validate,
        ),
    )
    assert n_jobs == 1
    _, crop_log = crop_images(images, crop_size=(8, 8), overlap_frac=0.25)
    _, slice_log = slice_images(images, slice_len=3)
    crop_log.fov_names = crop_log.fov_names if validate else []
    assert log.crop == crop_log
    slice_log.fov_names = []  # only the crop log lists fovs when both run
    assert log.slice == slice_log
    assert units.count() == 2 * 4 * crop_log.num_crops


def test_crop_images_probe_never_calls_first(spark):
    """Without dims the unvalidated crop takes its grid from one aggregate
    job, never from .first() on the kernel's output (which closes the
    Arrow stream early and throws the Python worker away)."""
    images = _kernel_images(spark)
    df_cls = type(images)
    orig_first, orig_head = df_cls.first, df_cls.head

    def refuse(self, *a, **k):
        raise AssertionError("probe used first()/head()")

    df_cls.first, df_cls.head = refuse, refuse
    try:
        (_, log), n_jobs = _jobs_run(
            spark, lambda: crop_images(images, crop_size=(8, 8), validate=False)
        )
    finally:
        df_cls.first, df_cls.head = orig_first, orig_head
    assert n_jobs == 1
    assert (log.original_height, log.original_width) == (20, 20)


def test_guard_errors_from_one_probe(spark):
    from deepcell_data_engineering_spark.operators.reconstruct import crop_and_slice

    ys = np.zeros((2, 20, 20), dtype=np.int32)
    images = images_df(spark, rows_from_arrays("fov1", None, ys))
    cropped, _ = crop_images(images, crop_size=(10, 10))
    with pytest.raises(ValueError, match="already been cropped"):
        crop_and_slice(cropped, crop_size=(5, 5), slice_len=1)
    sliced, _ = slice_images(images, slice_len=1)
    with pytest.raises(ValueError, match="already been sliced"):
        crop_and_slice(sliced, slice_len=1)
    mixed = images.unionByName(
        images_df(spark, rows_from_arrays("fov2", None, np.zeros((1, 8, 8), np.int32)))
    )
    with pytest.raises(ValueError, match="found 2 distinct"):
        crop_and_slice(mixed, crop_size=(4, 4))
    with pytest.raises(ValueError, match="found 0 distinct"):
        crop_images(images.limit(0), crop_size=(4, 4))
    with pytest.raises(ValueError, match="empty"):
        crop_and_slice(images.limit(0), crop_size=(4, 4), slice_len=1, validate=False)


def test_read_npz_units_lists_without_a_job(spark, tmp_path):
    """A dir/*.npz glob over 40 files is listed as one directory: no
    listing job, exactly the glob's files (not the blank units under
    separate/, not other files); a wildcard in the directory part still
    reads through the glob."""
    from deepcell_data_engineering_spark.sources.codecs import encode_npz
    from deepcell_data_engineering_spark.sources.images import read_npz_units

    units = tmp_path / "units"
    (units / "separate").mkdir(parents=True)
    y = np.ones((1, 4, 4, 1), dtype=np.int32)
    for c in range(40):
        (units / f"fov1_crop_{c}_slice_0.npz").write_bytes(encode_npz(None, y))
    (units / "separate" / "fov9_crop_0_slice_0.npz").write_bytes(encode_npz(None, y))
    (units / "fov8_crop_0_slice_0.txt").write_bytes(b"not an npz")

    df, n_jobs = _jobs_run(spark, lambda: read_npz_units(spark, str(units / "*.npz")))
    assert n_jobs == 0
    got = sorted((r["fov"], r["crop"]) for r in df.select("fov", "crop").collect())
    assert got == sorted(("fov1", c) for c in range(40))

    nested = read_npz_units(spark, str(tmp_path / "uni*" / "fov1_crop_1?_*.npz"))
    assert sorted(r["crop"] for r in nested.select("crop").collect()) == list(range(10, 20))
