"""The one crash-safe commit protocol (sources/atomic.py): heal ->
replay guard -> write tmp -> marker -> two renames, checked on plain
directories so every crash window is simulated without Spark."""

from __future__ import annotations

import os

import pytest

from recover_spark.sources.atomic import (
    APPEND_MARKER,
    BATCH_MARKER,
    commit_dir,
    heal_swap,
    replayed,
    write_text_atomic,
)


def _writer(payload: str):
    def write(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write(payload)

    return write


def _data(path: str) -> str:
    with open(os.path.join(path, "data")) as fh:
        return fh.read()


def _applied_batch(path: str) -> int | None:
    marker = os.path.join(path, BATCH_MARKER)
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        return int(fh.read())


def test_commit_swaps_in_with_marker_and_leaves_no_residue(tmp_path):
    state = str(tmp_path / "state")
    commit_dir(state, _writer("a"), batch_id=0)
    commit_dir(state, _writer("b"), batch_id=1)
    assert _data(state) == "b"
    assert _applied_batch(state) == 1
    assert not os.path.exists(state + ".tmp")
    assert not os.path.exists(state + ".old")
    assert replayed(state, 1) and replayed(state, 0)
    assert not replayed(state, 2)
    assert not replayed(state, None)


def test_crash_between_renames_heals_to_previous_generation(tmp_path):
    state = str(tmp_path / "state")
    commit_dir(state, _writer("a"), batch_id=3)
    os.rename(state, state + ".old")  # live -> .old landed, tmp -> live not
    assert not replayed(state, 4)  # heals, then the batch is new
    assert _data(state) == "a" and _applied_batch(state) == 3
    assert heal_swap(state) is False  # nothing left to heal


def test_crash_mid_write_leaves_live_generation_and_retry_commits(tmp_path):
    state = str(tmp_path / "state")
    commit_dir(state, _writer("a"), batch_id=0)

    def torn(tmp: str) -> None:
        os.makedirs(tmp)
        raise RuntimeError("crash")

    with pytest.raises(RuntimeError):
        commit_dir(state, torn, batch_id=1)
    assert _data(state) == "a" and _applied_batch(state) == 0
    commit_dir(state, _writer("b"), batch_id=1)  # stale tmp is cleared
    assert _data(state) == "b" and _applied_batch(state) == 1


def test_commit_without_batch_id_writes_no_marker(tmp_path):
    state = str(tmp_path / "state")
    commit_dir(state + "/", _writer("a"))
    assert _data(state) == "a"
    assert not os.path.exists(os.path.join(state, BATCH_MARKER))
    assert _applied_batch(state) is None


def test_write_text_atomic_and_append_marker(tmp_path):
    index = tmp_path / "index"
    index.mkdir()
    assert not replayed(str(index), 0, APPEND_MARKER)
    write_text_atomic(str(index / APPEND_MARKER), "5")
    assert replayed(str(index), 5, APPEND_MARKER)
    assert not replayed(str(index), 6, APPEND_MARKER)
    assert not replayed(str(index), 5)  # the in-state marker is separate
    assert sorted(os.listdir(index)) == [APPEND_MARKER]
