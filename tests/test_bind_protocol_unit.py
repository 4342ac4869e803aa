"""Decision-table unit test for streaming._bind_state_checkpoint — the
state-dir ↔ checkpoint pairing rule every parquet-state loop runs before
starting a drain (r9 verdict item 3).  Pure filesystem, no SparkSession:
the matrix below IS the contract, so a refactor that changes any cell
fails here before it can silently mispair state in an integration path.

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
    # legacy adoption: unbound populated state + unbound checkpoint whose
    # commit cursor matches the applied cursor (clean stop)...
    (None, None, True, (0, 1, 2), 2, "bind"),
    # ...or lags it by one (crash between fold and checkpoint commit)
    (None, None, True, (0, 1), 2, "bind"),
    # a populated dir with NEITHER cursor nor emissions has nothing to
    # cross-check: refused by default (r10 review — the old
    # "adopts freely" residual window), opt-in via PSE_ADOPT_LEGACY=1
    (None, None, True, (0,), None, "not recognizably"),
    # legacy populated state + FRESH checkpoint: nothing recognizable
    (None, None, True, (), 2, "not recognizably"),
    # legacy populated state + inconsistent used checkpoint (foreign run)
    (None, None, True, (0, 1, 2, 3, 4), 2, "not recognizably"),
    # legacy populated state + BOUND checkpoint: belongs to someone else
    (None, "B", True, (0,), 2, "not recognizably"),
]


@pytest.mark.parametrize(
    "commits,sink,sink_in_out,expect",
    [
        # cursor-free loops (tws suppress / tt-join / as-of) leave
        # sink_batch=<id> partitions: the original checkpoint's commits must
        # LINE UP with the highest emitted batch — equal (clean stop) or one
        # less (crash between fold and checkpoint commit).  A checkpoint
        # behind that is a foreign run; one AHEAD is legal (trailing batches
        # may emit nothing) but unverifiable, so it needs the explicit
        # PSE_ADOPT_LEGACY=1 opt-in (r10 review finding)
        ((0, 1, 2, 3, 4), 5, True, "bind"),   # committed=4 == 5-1: adopt
        ((0, 1, 2, 3, 4, 5), 5, True, "bind"),  # clean stop
        ((0, 1, 2), 5, True, "not recognizably"),  # 2 < 4: foreign
        ((0, 1, 2), 5, False, "not recognizably"),  # flat as-of layout too
        ((0,), 0, True, "bind"),  # single-batch legacy run
        ((0, 1, 2, 3, 4, 5, 6, 7), 5, True, "not recognizably"),  # ahead: opt-in only
    ],
)
def test_bind_legacy_adoption_sink_batch_cursor(tmp_path, commits, sink, sink_in_out, expect):
    root = _mk(tmp_path, "state", sink=sink, sink_in_out=sink_in_out)
    ckpt = _mk_ckpt(tmp_path, "ckpt", commits=commits)
    if expect == "bind":
        assert _bind_state_checkpoint(root, ckpt, True, "unit-test state") == ckpt
    else:
        with pytest.raises(ValueError, match=expect):
            _bind_state_checkpoint(root, ckpt, True, "unit-test state")


@pytest.mark.parametrize(
    "commits,sink,expect_default",
    [
        # unauthenticatable legacy shapes: refused by default, adopted
        # under the documented PSE_ADOPT_LEGACY=1 opt-in
        ((0,), -1, "not recognizably"),  # emissions-free, cursor-free
        ((0, 1, 2, 3, 4, 5, 6, 7), 5, "not recognizably"),  # commits ahead
    ],
)
def test_bind_legacy_opt_in_adopts_unverifiable(tmp_path, monkeypatch, commits, sink, expect_default):
    root = _mk(tmp_path, "state", sink=None if sink == -1 else sink, sink_in_out=True)
    ckpt = _mk_ckpt(tmp_path, "ckpt", commits=commits)
    with pytest.raises(ValueError, match=expect_default):
        _bind_state_checkpoint(root, ckpt, True, "unit-test state")
    monkeypatch.setenv("PSE_ADOPT_LEGACY", "1")
    assert _bind_state_checkpoint(root, ckpt, True, "unit-test state") == ckpt


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


def test_bind_idempotent_after_adoption(tmp_path):
    """Adoption is one-time: the adopted pair is bound, so a second call is
    the plain matched-pair fast path and a foreign checkpoint is refused
    with the BOUND error from then on."""
    root = _mk(tmp_path, "state", applied=2)
    ckpt = _mk_ckpt(tmp_path, "ckpt", commits=(0, 1, 2))
    _bind_state_checkpoint(root, ckpt, True, "unit-test state")  # adopts
    _bind_state_checkpoint(root, ckpt, True, "unit-test state")  # fast path
    foreign = _mk_ckpt(tmp_path, "foreign", commits=(0, 1, 2))
    with pytest.raises(ValueError, match="different checkpoint"):
        _bind_state_checkpoint(root, foreign, True, "unit-test state")
