"""Decision-table unit test for streaming._bind_state_checkpoint — the
state-dir ↔ checkpoint pairing rule every parquet-state loop runs before
starting a drain.  Pure filesystem, no SparkSession: the matrix below IS
the contract, so a refactor that changes any cell fails here before it can
silently mispair state in an integration path.

Cell legend: state marker (s), checkpoint marker (c), populated flag,
checkpoint commits log, state _GEN applied cursor → expected outcome.
"""

from __future__ import annotations

import os

import pytest

from pyspark_engine.streaming import _bind_state_checkpoint, _read_bind


def _mk(tmp_path, name, marker=None, applied=None, sink=None, sink_in_out=False):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    if marker is not None:
        (d / "_PSE_BIND").write_text(marker)
    if applied is not None:
        (d / "_GEN").write_text(f"1 {applied}")
    if sink is not None:
        base = d / "out" if sink_in_out else d
        (base / f"sink_batch={sink}").mkdir(parents=True, exist_ok=True)
    return str(d)


def _mk_ckpt(tmp_path, name, marker=None, commits=()):
    d = tmp_path / name
    (d / "commits").mkdir(parents=True, exist_ok=True)
    for c in commits:
        (d / "commits" / str(c)).write_text("")
    if marker is not None:
        (d / "_PSE_BIND").write_text(marker)
    return str(d)


CASES = [
    # (s_marker, c_marker, populated, commits, applied, expect)
    # matched pair resumes, populated or not
    ("A", "A", True, (0, 1), 2, "ok"),
    ("A", "A", False, (), None, "ok"),
    # both fresh: bind
    (None, None, False, (), None, "bind"),
    # populated + fresh checkpoint (the old checkpoint=None hole)
    ("A", None, True, (), 2, "different checkpoint"),
    # populated + foreign bound checkpoint (the r9 wrong-checkpoint hole)
    ("A", "B", True, (0,), 2, "different checkpoint"),
    # unpopulated-but-bound state + foreign bound checkpoint
    ("A", "B", False, (0,), None, "already belongs"),
    # fresh state + used-but-unbound checkpoint (review finding r10: its
    # committed batches would be skipped over empty state)
    (None, None, False, (0, 1), None, "already belongs"),
    # fresh state + bound checkpoint
    (None, "B", False, (0,), None, "already belongs"),
    # crash-before-first-fold: bound but unpopulated state + fresh
    # checkpoint re-binds
    ("A", None, False, (), None, "bind"),
    # a populated state dir without _PSE_BIND (every drain binds before its
    # first batch) pairs with no checkpoint: refused whether the offered
    # checkpoint's commit cursor matches its applied cursor (clean stop)...
    (None, None, True, (0, 1, 2), 2, "not recognizably"),
    # ...or lags it by one (crash between fold and checkpoint commit)...
    (None, None, True, (0, 1), 2, "not recognizably"),
    # ...or the dir has neither cursor nor emissions...
    (None, None, True, (0,), None, "not recognizably"),
    # ...or the checkpoint is fresh...
    (None, None, True, (), 2, "not recognizably"),
    # ...or its commits belong to a foreign run...
    (None, None, True, (0, 1, 2, 3, 4), 2, "not recognizably"),
    # ...or it is bound to someone else
    (None, "B", True, (0,), 2, "not recognizably"),
]


@pytest.mark.parametrize(
    "commits,sink,sink_in_out,expect",
    [
        # the loops without _GEN (tws suppress / tt-join / as-of) leave
        # sink_batch=<id> partitions; without _PSE_BIND none of them pairs
        # with a checkpoint, whatever its commits say about the emissions
        ((0, 1, 2, 3, 4), 5, True, "not recognizably"),  # committed == 5-1
        ((0, 1, 2, 3, 4, 5), 5, True, "not recognizably"),  # clean stop
        ((0, 1, 2), 5, True, "not recognizably"),  # 2 < 4
        ((0, 1, 2), 5, False, "not recognizably"),  # flat as-of layout too
        ((0,), 0, True, "not recognizably"),  # single-batch run
        ((0, 1, 2, 3, 4, 5, 6, 7), 5, True, "not recognizably"),  # ahead
    ],
)
def test_bind_legacy_adoption_sink_batch_cursor(tmp_path, commits, sink, sink_in_out, expect):
    root = _mk(tmp_path, "state", sink=sink, sink_in_out=sink_in_out)
    ckpt = _mk_ckpt(tmp_path, "ckpt", commits=commits)
    with pytest.raises(ValueError, match=expect) as ei:
        _bind_state_checkpoint(root, ckpt, True, "unit-test state")
    # the refusal names the recovery path, and writes no marker
    assert "fresh state_dir and checkpoint and replay the source" in str(ei.value)
    assert _read_bind(os.path.join(root, "_PSE_BIND")) is None
    assert _read_bind(os.path.join(ckpt, "_PSE_BIND")) is None


@pytest.mark.parametrize("s_marker,c_marker,populated,commits,applied,expect", CASES)
def test_bind_decision_table(tmp_path, s_marker, c_marker, populated, commits, applied, expect):
    root = _mk(tmp_path, "state", marker=s_marker, applied=applied)
    ckpt = _mk_ckpt(tmp_path, "ckpt", marker=c_marker, commits=commits)
    if expect in ("ok", "bind"):
        got = _bind_state_checkpoint(root, ckpt, populated, "unit-test state")
        assert got == ckpt
        sb, cb = _read_bind(os.path.join(root, "_PSE_BIND")), _read_bind(
            os.path.join(ckpt, "_PSE_BIND")
        )
        if expect == "bind":
            assert sb is not None and sb == cb  # freshly bound pair
        else:
            assert (sb, cb) == (s_marker, c_marker)  # untouched
    else:
        with pytest.raises(ValueError, match=expect):
            _bind_state_checkpoint(root, ckpt, populated, "unit-test state")
        # a refusal must never half-write markers
        assert _read_bind(os.path.join(root, "_PSE_BIND")) == s_marker
        assert _read_bind(os.path.join(ckpt, "_PSE_BIND")) == c_marker
