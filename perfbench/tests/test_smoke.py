"""Smoke runs of the benchmark on tiny inputs (an sf0.001-shaped catalog and
a single-fov image): every metric BENCHMARK.json names is emitted with its
unit, and every operation's result passes its check.

Each run starts its own JVM, so the four runs take a few minutes. Run with
``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import json
import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import ImagePipeline, Relational  # noqa: E402


class TinyRelational(Relational):
    scale = 0.001


class TinyImagePipeline(ImagePipeline):
    fovs, stacks, size = 1, 2, 64
    crop = 32


TINY = {"relational": TinyRelational, "image_pipeline": TinyImagePipeline}

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(autouse=True)
def restore_environment():
    """A run points TMPDIR and Spark's settings at its own work directory,
    which it deletes at the end; later tests need the old environment."""
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = None


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_named_metric_is_emitted(workload, trace, capsys):
    argv = ["--workload", workload, "--seed", "5", "--seconds", "0", "--trace", str(trace)]
    assert run.main(argv, workloads=TINY) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    # one first pass and the minimum of warm passes
    n_ops = len(TINY[workload](5).ops())
    assert result["attempted"] == n_ops * (1 + run.MIN_WARM_PASSES)
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)), name
