"""The build-once lifecycle of persisted artifacts
(``sources/persisted``): a failed build publishes nothing, a published
artifact is never rebuilt, a losing racer uses the winner's copy, and a
new version prunes only the superseded versions of its own prefix."""

from __future__ import annotations

import os

import pytest

from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources import persisted
from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.persisted import (
    artifact_dir,
    build_once,
)


def _write(root: str, text: str) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "data"), "w") as fh:
        fh.write(text)


def _read(root: str) -> str:
    with open(os.path.join(root, "data")) as fh:
        return fh.read()


def _leftovers(parent) -> list[str]:
    return [n for n in os.listdir(parent) if ".build" in n]


@pytest.fixture
def area(tmp_path, monkeypatch):
    """artifact_dir over a private warehouse, with one source file."""
    monkeypatch.setattr(persisted, "WAREHOUSE", str(tmp_path / "warehouse"))
    src = tmp_path / "sf1" / "table.parquet"
    src.parent.mkdir()
    src.write_text("rows")
    return str(src)


def test_failed_build_publishes_nothing_and_next_call_rebuilds(tmp_path):
    path = str(tmp_path / "idx_sf1_10_20_0123456789ab")

    def broken(tmp: str) -> None:
        _write(tmp, "half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        build_once(path, broken)
    assert not os.path.exists(path)
    assert _leftovers(tmp_path) == []

    assert build_once(path, lambda tmp: _write(tmp, "full")) == path
    assert _read(path) == "full"
    assert os.path.exists(os.path.join(path, "_BUILT"))


def test_published_artifact_is_never_rebuilt(tmp_path):
    path = str(tmp_path / "idx")
    build_once(path, lambda tmp: _write(tmp, "first"))

    def must_not_run(tmp: str) -> None:
        raise AssertionError("build called for a published artifact")

    assert build_once(path, must_not_run) == path
    assert _read(path) == "first"


def test_losing_racer_uses_the_winners_copy(tmp_path):
    path = str(tmp_path / "idx_sf1_10_20_0123456789ab")

    def racer(tmp: str) -> None:
        # another process publishes while this one is still building
        _write(path, "winner")
        open(os.path.join(path, "_BUILT"), "w").close()
        _write(tmp, "loser")

    assert build_once(path, racer) == path
    assert _read(path) == "winner"
    assert _leftovers(tmp_path) == []


def test_new_params_are_a_new_version_and_prune_the_old(area):
    old = artifact_dir("ann_index", "ivf", area, {"n_lists": 8})
    new = artifact_dir("ann_index", "ivf", area, {"n_lists": 16})
    assert old != new
    assert artifact_dir("ann_index", "ivf", area, {"n_lists": 8}) == old
    assert os.path.basename(old).startswith("ivf_sf1_4_")
    build_once(old, lambda tmp: _write(tmp, "8 lists"))
    build_once(new, lambda tmp: _write(tmp, "16 lists"))
    assert not os.path.exists(old)
    assert _read(new) == "16 lists"


def test_builder_code_is_part_of_the_key(area, tmp_path):
    import types

    builder = tmp_path / "builder.py"
    builder.write_text("A = 1\n")
    mod = types.ModuleType("builder")
    mod.__file__ = str(builder)
    keyed = artifact_dir("ann_index", "ivf", area, {}, code=(mod,))
    assert keyed != artifact_dir("ann_index", "ivf", area, {})


def test_prune_spares_a_prefix_that_merely_extends_this_one(tmp_path):
    stale = tmp_path / "ivf_sf1_10_20_0123456789ab"
    other = tmp_path / "ivf_sf1_new_10_20_0123456789ab"
    foreign = tmp_path / "ivf_sf1_cache"
    for d in (stale, other, foreign):
        d.mkdir()
    build_once(str(tmp_path / "ivf_sf1_10_21_ba9876543210"), lambda tmp: _write(tmp, "x"))
    assert not stale.exists()
    assert other.exists() and foreign.exists()
