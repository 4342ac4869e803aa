"""Structured Streaming wiring: the runtime surface of the reference
(core/KafkaStream.cs Start/Dispose lifecycle, core/Kafka/* consumer/producer
plumbing, core/Processors/StreamThread.cs) re-expressed as
``readStream``/``writeStream`` around the SAME logical DSL.

Design (SURVEY §3.2, §4.2): every operator in dsl.py is a logical DataFrame
transformation, so the identical topology runs in batch (parquet in, result
out) and streaming (Kafka/file in, sink out) — the analog of the reference's
topology being driven either by unit-test drivers (TopologyTestDriver) or the
live consumer loop.  Batch is the correctness oracle; the parity tests in
tests/test_streaming.py replay the same data through both paths and require
identical final state.

Mappings:
  * consume loop + rebalance   → Spark microbatch scheduler (nothing to write)
  * changelog/state restore    → checkpointLocation (RocksDB/HDFS state store)
  * grace period               → withWatermark (KStream.with_watermark)
  * KTable upsert              → groupBy(key).agg(max_by(values, order)) in
                                 update/complete mode (dsl.KStream.to_table
                                 branches on df.isStreaming)
  * custom stateful processor  → applyInPandasWithState (stateful_map)
  * Kafka serdes               → serdes.decode_kafka / encode_kafka

The exact engines — ``engine='exact'`` of the continuous table joins,
suppress and the as-of join, plus the eager windowed join and cogroup — are
foreachBatch snapshot loops (the per-key ``engine='tws'`` engines live in
``tws.py``).  Each keeps only its per-batch fold and its result read; the
rest is one code path:

* ``_exact_drain`` — open the state dir, read its ping-pong generation
  (``_read_gen``), bind the dir to its checkpoint
  (``_bind_state_checkpoint``), run a crash-replayed batch whose fold
  already committed (``_read_applied``) through a noop sink, fold every
  other batch from generation slot ``cur`` into ``nxt`` and record it
  (``_write_gen``); it returns the checkpoint's last commit before the
  drain and the final generation;
* ``_drive`` — the availableNow foreachBatch start and wait; the as-of
  loop, which keeps no generation, uses it alone;
* ``_write_emissions`` / ``_read_log`` — the ``sink_batch=<id>`` emission
  log writer (one action per batch; no partition for a batch that emitted
  nothing) and its reader with the log's known schema, shared with the tws
  engines.  Exact suppress and the eager join log per batch, and
  ``_read_emissions`` is the result read of both suppress engines.

Every state dir has one owner: ``_dir_owner`` reads which engine wrote a
dir from the markers it carries, and engine auto-selection, every engine's
open (``_claim_dir``) and ``compact_emission_log`` ask it.

Kafka connectivity needs the external spark-sql-kafka package (same situation
as the reference needing librdkafka at runtime); the builders construct the
real plan and raise a clear error when the connector is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dsl import KStream, KTable, _as_tuple
from .runtime import configure
from .serdes import decode_kafka, encode_kafka

__all__ = [
    "StreamingBuilder",
    "run_available_now",
    "materialize_stream",
    "start_to_files",
    "start_to_kafka",
    "start_foreach_batch",
    "stateful_map",
    "suppress_buffered",
    "sessionize_streaming",
    "join_tables_streaming",
    "join_fk_streaming",
    "join_windowed_eager",
    "join_table_asof_streaming",
    "cogroup_streaming",
    "observed_metrics",
    "compact_emission_log",
]


def observed_metrics(query) -> dict:
    """Read the named ``observe`` metrics from a StreamingQuery's last
    progress event — the streaming read side of KStream.observe/peek (the
    KafkaStream metrics surface analog).  Returns {name: {metric: value}};
    empty before the first completed microbatch."""
    progress = query.lastProgress
    if not progress:
        return {}
    return dict(progress.get("observedMetrics") or {})


def _checkpoint(path: str | None) -> str:
    """Checkpoint dir (the changelog-topic analog: exactly-once state).  A
    real deployment MUST pass a durable path; tests get a throwaway one."""
    return path or os.path.join(tempfile.gettempdir(), f"pse-ckpt-{uuid.uuid4().hex}")


def _has_watermark(df: DataFrame) -> bool:
    """Whether the streaming plan carries an event-time watermark — used
    only to raise a DESCRIPTIVE error before Spark's opaque analysis
    exception; on any introspection failure err toward True (never block a
    legal plan)."""
    try:
        return "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True


def _read_gen(root: str) -> int:
    """Recover the ping-pong generation counter persisted by _write_gen.

    The foreachBatch upsert loops keep state in parquet generation dirs; the
    Structured Streaming checkpoint is durable, so on a restart with the same
    checkpoint already-committed microbatches are SKIPPED — the generation
    counter must therefore survive alongside the state dirs, or the loop
    would overwrite the newest generation / read a stale one.  A state dir
    that already holds generation data WITHOUT a readable marker is refused
    outright: guessing generation 0 would merge the continuation into a
    stale ping-pong slot and produce silently wrong aggregates."""
    try:
        with open(os.path.join(root, "_GEN")) as f:
            return int(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        existing = (
            [
                e
                for e in os.listdir(root)
                if e not in ("_GEN", "_GEN.tmp", "_PSE_BIND", "_PSE_BIND.tmp")
            ]
            if os.path.isdir(root)
            else []
        )
        if existing:
            raise ValueError(
                f"state dir {root!r} holds existing state {sorted(existing)[:4]} but no "
                "readable _GEN marker; refusing to guess the generation — pass a fresh "
                "state_dir or restore the marker"
            ) from None
        return 0


def _write_gen(root: str, n: int, applied_batch: int) -> None:
    """Atomically persist the generation counter next to the state dirs
    (write-then-rename, so a crash mid-write leaves the previous value).

    ``applied_batch`` records, IN THE SAME atomic write, the last microbatch
    id folded into this generation: a crash between the state write and the
    streaming checkpoint commit makes Spark REPLAY that batch on restart,
    and without the marker the replay would read the post-batch generation
    as its input snapshot and fold the batch a second time (for the
    suppress buffer: re-buffer and later re-emit already-emitted keys)."""
    tmp = os.path.join(root, "_GEN.tmp")
    with open(tmp, "w") as f:
        f.write(f"{int(n)} {int(applied_batch)}")
    os.replace(tmp, os.path.join(root, "_GEN"))


def _read_applied(root: str) -> int:
    """Last microbatch id recorded by _write_gen (or -1): foreachBatch state
    loops skip a replayed batch whose fold already committed to the state
    dirs — the idempotent-replay half of the _GEN contract."""
    try:
        with open(os.path.join(root, "_GEN")) as f:
            parts = f.read().split()
            return int(parts[1]) if len(parts) > 1 else -1
    except (OSError, ValueError):
        return -1


def _last_committed(checkpoint: str) -> int:
    """Highest microbatch id COMMITTED in a streaming checkpoint (or -1) —
    read from the commits log, the source of truth for which batches were
    durably delivered (a batch that wrote output but crashed pre-commit is
    replayed by Spark and must count as undelivered)."""
    commits = os.path.join(checkpoint, "commits")
    try:
        ids = [int(e) for e in os.listdir(commits) if e.isdigit()]
    except OSError:
        return -1
    return max(ids, default=-1)


def _read_bind(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip() or None
    except OSError:
        return None


# the tws suppress engine's delivery cursor, in its state dir
_DELIVERED = "_PSE_DELIVERED"


def _delivered_cursor(root: str, ckpt: str) -> int:
    """The last batch whose emissions a tws suppress call returned from the
    state dir ``root``: its ``_PSE_DELIVERED`` record, written for the
    checkpoint's current bind token, and never above the checkpoint's commit
    cursor (commits that went back are re-delivered).  Without a record for
    this bind — a dir written before the cursor existed, where every
    committed batch was returned — it is the commit cursor."""
    committed = _last_committed(ckpt)
    rec = (_read_bind(os.path.join(root, _DELIVERED)) or "").split()
    if len(rec) == 2 and rec[0] == _read_bind(os.path.join(ckpt, "_PSE_BIND")):
        return min(int(rec[1]), committed)
    return committed


def _store_delivered(root: str, ckpt: str, batch_id: int) -> None:
    path = os.path.join(root, _DELIVERED)
    with open(path + ".tmp", "w") as f:
        f.write(f"{_read_bind(os.path.join(ckpt, '_PSE_BIND'))} {batch_id}")
    os.replace(path + ".tmp", path)


def _bind_state_checkpoint(root: str, ckpt: str, populated: bool, what: str) -> str:
    """Pair a parquet state dir with the ONE streaming checkpoint allowed to
    drive it, and refuse every other combination.

    The state loops derive their replay-skip / delivery cursors from the
    checkpoint's batch ids, so a populated state dir paired with a
    WRONG-but-existing checkpoint (from a different query or topology) would
    silently skip foreign batch ids or re-deliver old emissions — the
    reference cannot make this mistake because its changelog topics are keyed
    by appId+store (core/State/Logging/
    ChangeLoggingTimestampedKeyValueBytesStore.cs:8).  At first use (both
    sides fresh) a random token is written to ``<root>/_PSE_BIND`` and
    ``<ckpt>/_PSE_BIND``; thereafter the pair must match:

      * tokens match — resume OK;
      * state dir populated + bound, checkpoint missing/mismatched — refused
        (covers both the old checkpoint=None hole and the wrong-checkpoint
        hole);
      * state dir populated but UNBOUND — refused whatever the checkpoint:
        every drain binds before its first batch, so nothing pairs it with
        the checkpoint that wrote it; recover with a fresh state dir and
        checkpoint and replay the source;
      * checkpoint bound elsewhere, or unbound but already holding committed
        batches, offered against a fresh/unpopulated state dir — refused
        (its committed batches would be skipped against empty state);
      * state dir bound but never populated (crash before the first fold) —
        re-bound to the offered checkpoint (unless that checkpoint already
        has foreign commits, refused above).

    A refusal writes no marker.  Returns ``ckpt`` so call sites can bind and
    resolve in one expression."""
    s_path = os.path.join(root, "_PSE_BIND")
    c_path = os.path.join(ckpt, "_PSE_BIND")
    sbind, cbind = _read_bind(s_path), _read_bind(c_path)
    if sbind is not None and sbind == cbind:
        return ckpt
    if populated and sbind is None:
        raise ValueError(
            f"state dir {root!r} holds {what} but no _PSE_BIND marker, so it is "
            "not recognizably paired with any checkpoint — refusing; start a fresh "
            "state_dir and checkpoint and replay the source"
        )
    if populated:
        raise ValueError(
            f"state dir {root!r} holds {what} bound to a different checkpoint "
            f"(state bind {sbind[:8]}, offered checkpoint bind "
            f"{cbind[:8] if cbind else 'none'}): its batch ids would renumber or "
            "skip and silently drop or re-deliver data; resuming requires the "
            "query's original checkpointLocation (or a fresh state_dir)"
        )
    committed = _last_committed(ckpt)
    if cbind is not None or committed >= 0:
        raise ValueError(
            f"checkpoint {ckpt!r} already belongs to a different {what} run "
            f"({'bind ' + cbind[:8] if cbind else f'committed batch {committed}, unbound'}); "
            "resuming it against this fresh state dir would skip its committed "
            "batches' folds — pass the original state_dir or a fresh checkpoint"
        )
    token = uuid.uuid4().hex
    os.makedirs(root, exist_ok=True)
    os.makedirs(ckpt, exist_ok=True)
    # state marker first: a crash between the writes leaves an UNPOPULATED
    # bound state dir, which re-binds on the next attempt (the reverse order
    # would leave a bound checkpoint that refuses its own retry)
    for p in (s_path, c_path):
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(token)
        os.replace(tmp, p)
    return ckpt


def _drive(df: DataFrame, ckpt: str, sink, output_mode: str = "append") -> None:
    """Run ``sink(batch, batch_id)`` as the foreachBatch sink of ``df`` on
    checkpoint ``ckpt`` with an availableNow trigger, and wait until the
    input available at the call is committed and the query stops — the
    drive half of ``_exact_drain``.  The as-of loop, which keeps no
    generation, uses it alone."""
    (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _exact_drain(df: DataFrame, root: str, checkpoint, what: str, fold, output_mode="append"):
    """The one drain path of the exact loops' ping-pong parquet state in
    ``root``: read its generation (``_read_gen``), bind the dir to its
    checkpoint (``_bind_state_checkpoint``; ``what`` names the state in
    refusals) and drive ``df`` (``_drive``).  Each micro-batch calls
    ``fold(batch, batch_id, cur, nxt)`` — read generation slot ``cur``,
    write slot ``nxt`` — and then records the new generation together with
    the batch id (``_write_gen``).  A crash-replayed batch whose fold
    already committed (``_read_applied``) is not folded again; it runs
    through a noop sink, so the upstream stateful operator's stores still
    commit for it.

    Returns ``(prior_batch, gen)``: the checkpoint's last committed batch
    before the drive (a loop that returns per-batch emissions returns the
    batches after it) and the generation the drive ended on (its state is
    slot ``gen % 2``)."""
    os.makedirs(root, exist_ok=True)
    gen = [_read_gen(root)]  # survives a restart on the same checkpoint
    # a fresh OR foreign checkpoint renumbers/skips batch ids, so the replay
    # skip below would silently drop or double-fold data — the state dir is
    # bound to its original checkpoint and every other pair refused
    ckpt = _bind_state_checkpoint(
        root, _checkpoint(checkpoint), gen[0] > 0, f"{what} generation {gen[0]}"
    )
    prior_batch = _last_committed(ckpt)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= _read_applied(root):
            batch.write.format("noop").mode("overwrite").save()
            return
        n = gen[0]
        fold(batch, batch_id, n % 2, (n + 1) % 2)
        gen[0] = n + 1
        _write_gen(root, n + 1, batch_id)

    _drive(df, ckpt, _sink, output_mode)
    return prior_batch, gen[0]


_COMPACT_TMP = "compact-tmp"
_COMPACT_TRASH_PREFIX = "compact-trash-"


def _check_no_pending_compaction(root: str) -> None:
    """A crashed compact_emission_log leaves recovery markers; draining over
    a half-swapped log would read a wrong snapshot.  Since compaction can now
    run AUTOMATICALLY at drain entry (_maybe_autocompact), a crashed pass must
    not wedge a previously fully-automatic pipeline behind a manual recovery
    call — the recovery is idempotent and provably
    safe (it finishes forward only in unambiguous states, else rolls back), so
    HEAL here and raise only if markers somehow survive recovery."""

    def _pending(entries) -> bool:
        return _COMPACT_TMP in entries or any(
            e.startswith(_COMPACT_TRASH_PREFIX) for e in entries
        )

    try:
        entries = os.listdir(root)
    except OSError:
        return
    if _pending(entries):
        _recover_compaction(os.path.join(root, "out"), root)
        if _pending(os.listdir(root)):
            raise ValueError(
                f"state dir {root!r} holds an interrupted emission-log compaction "
                "(compact-tmp/compact-trash present) that recovery could not "
                "clear; re-run compact_emission_log on it before draining"
            )


def _sink_partitions(log_dir: str, staged: bool = False) -> dict[int, str]:
    """The ``sink_batch=<id>`` partitions of an emission log as {id: path}
    — or, with ``staged``, the hidden ``.sink_batch=<id>`` dirs that
    ``_write_emissions(publish=False)`` left; {} for an absent dir.  The one
    parser of the log's dir names."""
    prefix = ".sink_batch=" if staged else "sink_batch="
    try:
        entries = os.listdir(log_dir)
    except OSError:
        return {}
    return {
        int(e[len(prefix) :]): os.path.join(log_dir, e)
        for e in entries
        if e.startswith(prefix) and e[len(prefix) :].isdigit()
    }


# The tws engines' state-dir version markers: engine kind -> (marker file,
# version).  Each tws engine stamps exactly one at the state-dir root before
# its first batch (tws._open_state_dir) and refuses a populated dir stamped
# with another version.  The marker — not the output columns — identifies
# the log kind for compaction (a tt-join whose USER schema carries a column
# named '__emit_reason' would be misclassified as a suppress log by a column
# sniff and have its committed emission history pruned outright).
_TWS_MARKERS = {
    "tt": ("_PSE_TWS_TTJOIN_V", "1"),
    "fk": ("_PSE_TWS_FKJOIN_V", "1"),
    "suppress": ("_PSE_TWS_SUPPRESS_V", "1"),
    "asof": ("_PSE_TWS_ASOF_V", "1"),
}

# markers stamped by the removed pandas keyed engines (formerly
# ``engine='keyed'``); their state schemas are not readable by either
# remaining engine
_LEGACY_KEYED_MARKERS = (
    ("_PSE_TTJOIN_V", "tt-join"),
    ("_PSE_FKJOIN_V", "fk-join"),
    ("_PSE_STATE_V", "suppress"),
)

# _dir_owner's answers, as refusals name them
_OWNER_NAMES = {
    "tt": "tws tt-join",
    "fk": "tws fk-join",
    "suppress": "tws suppress",
    "asof": "tws as-of",
    "exact": "exact ping-pong",
    "exact-asof": "exact as-of",
}


def _dir_owner(root: str | None) -> str | None:
    """The engine that wrote state dir ``root``, read from the markers the
    dir carries at its root: a ``_TWS_MARKERS`` kind (``'tt'``, ``'fk'``,
    ``'suppress'``, ``'asof'``) for its version marker, ``'exact'`` for the
    exact loops' ``_GEN``, ``'exact-asof'`` for ``sink_batch=<id>``
    partitions (the exact as-of join's output layout); None for an absent
    or unmarked dir.  The one owner check: engine auto-selection, every
    engine's open and ``compact_emission_log`` ask it.  Dirs no engine can
    read are refused here with their recovery path — the removed pandas
    keyed engine's markers, the flat ``part-`` output of the
    pre-exactly-once as-of join, and the markers of two engines at once."""
    if root is None or not os.path.isdir(root):
        return None
    entries = set(os.listdir(root))
    for marker, what in _LEGACY_KEYED_MARKERS:
        if marker in entries:
            raise ValueError(
                f"state dir {root!r} holds {what} state written by the removed "
                f"pandas keyed engine ({marker}); neither engine='tws' nor "
                "engine='exact' can read it — start a fresh state_dir and "
                "checkpoint and replay the source through engine='tws' or "
                "engine='exact'"
            )
    if any(e.startswith("part-") or e == "_SUCCESS" for e in entries):
        # new sink_batch=<id> partitions next to flat appended part files
        # would make the final read see conflicting directory structures,
        # and the flat rows carry no batch identity to replay-protect
        raise ValueError(
            f"out dir {root!r} holds flat append-mode output from the "
            "pre-exactly-once as-of join; pass a fresh out_dir"
        )
    owners = [kind for kind, (marker, _) in _TWS_MARKERS.items() if marker in entries]
    if "_GEN" in entries:
        owners.append("exact")
    if _sink_partitions(root):
        owners.append("exact-asof")
    if len(owners) > 1:
        raise ValueError(
            f"state dir {root!r} carries the markers of several engines "
            f"({', '.join(_OWNER_NAMES[o] for o in owners)}); no engine can tell "
            "whose state it holds — start a fresh state_dir and checkpoint"
        )
    return owners[0] if owners else None


def _claim_dir(root: str | None, what: str, *mine: str) -> str | None:
    """``_dir_owner(root)``, refused unless the dir is unmarked or owned by
    one of ``mine`` — the owner rule every engine's open applies; ``what``
    names the opener in the refusal."""
    owner = _dir_owner(root)
    if owner is not None and owner not in mine:
        engine = "exact" if owner.startswith("exact") else "tws"
        raise ValueError(
            f"{what}: state dir {root!r} was written by the {_OWNER_NAMES[owner]} "
            f"engine; resume it with engine='{engine}' on the operator that wrote "
            "it, or start a fresh state_dir"
        )
    return owner


def _recover_compaction(out_dir: str, root: str) -> None:
    """Finish or roll back an interrupted compaction (idempotent).

    Crash-state table (install sequence: write tmp → write tmp/_TARGET →
    rename dest→trash → remove _TARGET → rename tmp→dest → delete trash →
    prune).  The ONLY states where finishing forward is provably safe are
    the ones where the complete fold or the displaced base unambiguously
    exists; every ambiguous state rolls BACK (restore the old base, drop
    the fold) — a rolled-back compaction costs a re-run, a wrong
    forward-finish costs committed emission history (misreading a
    pre-swap state as post-install would prune live partitions)."""
    tmp = os.path.join(root, _COMPACT_TMP)
    target_path = os.path.join(tmp, "_TARGET")
    trash_ids = {}
    for e in list(os.listdir(root)):
        if e.startswith(_COMPACT_TRASH_PREFIX):
            trash_ids[int(e[len(_COMPACT_TRASH_PREFIX) :])] = os.path.join(root, e)

    def dest_of(n: int) -> str:
        return os.path.join(out_dir, f"sink_batch={n}")

    def prune_below(n: int) -> None:
        for k, p in _sink_partitions(out_dir).items():
            if k < n:
                shutil.rmtree(p, ignore_errors=True)

    if os.path.isdir(tmp):
        if os.path.exists(target_path):
            try:
                n = int(open(target_path).read().strip())
            except ValueError:
                n = None
            if n is None:
                # torn/empty _TARGET: only a non-atomic writer (older
                # code) crashing MID-WRITE can produce it, and that crash
                # point provably precedes the dest→trash swap — roll back
                # (drop the fold, out/ is intact, prune nothing)
                shutil.rmtree(tmp)
            elif not os.path.isdir(dest_of(n)):
                # crashed between dest→trash and the install: the fold is
                # complete and the old base is in trash — finish forward
                os.remove(target_path)
                os.rename(tmp, dest_of(n))
                if n in trash_ids:
                    shutil.rmtree(trash_ids.pop(n), ignore_errors=True)
                prune_below(n)
            else:
                # dest still present ⇒ the swap never started (crash right
                # after _TARGET was written): roll back — drop the fold
                # only, out/ is intact, prune NOTHING
                shutil.rmtree(tmp)
        else:
            # no _TARGET: either the fold write crashed midway (dest and
            # all partitions intact) or the crash hit between _TARGET
            # removal and the install (dest missing, old base in trash) —
            # both roll back; restore the old base first if it was
            # displaced
            for n, p in list(trash_ids.items()):
                if not os.path.isdir(dest_of(n)):
                    os.rename(p, dest_of(n))
                    trash_ids.pop(n)
            shutil.rmtree(tmp)
    for n, p in trash_ids.items():
        if os.path.isdir(dest_of(n)):
            # dest present with trash left over ⇒ install completed and the
            # crash hit during cleanup — finish forward
            shutil.rmtree(p, ignore_errors=True)
            prune_below(n)
        else:
            # trash without dest and without a fold: restore the old base
            os.rename(p, dest_of(n))


def compact_emission_log(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    key: Sequence[str] = (),
) -> dict:
    """Compact a per-key engine's unbounded emission log between drains:
    per-microbatch I/O is O(changed keys), but the returned
    snapshot is a latest-per-key fold over the ENTIRE ``out/sink_batch=*``
    history, so snapshot reconstruction degrades as O(total emissions
    ever) on long-lived state dirs.  This folds every partition up to the
    checkpoint's last COMMITTED batch into ONE base partition carrying
    that batch id and prunes the replaced partitions; batches beyond the
    commit cursor are untouched (crash-replay rewrites them).

    Works on the tws engines' tt-join, fk-join and suppress logs:

      * tt join: base = latest-per-key rows (updates only — exact fold);
        pass the JOIN KEY columns via ``key``.
      * fk join: base = latest-per-(left PK) rows by (sink_batch,
        op-rank), RETAINING last-op-D rows (a dropped D could resurrect a
        key if a crash leaves older U partitions behind); also prunes
        subscription-log files stage B's file-source checkpoint has
        provably consumed.  ``key`` = the left PK columns.
      * suppress: emissions are history, never re-read once a call has
        returned them — committed partitions up to the delivery cursor
        (``_delivered_cursor``) are pruned outright, except the newest
        committed partition, kept as the cursor trail.  Batches a resident
        query committed that no call has returned yet stay.

    Crash-safe and idempotent: the fold is written to ``compact-tmp``
    (completed by a ``_TARGET`` marker) before any partition is touched,
    the displaced base goes to ``compact-trash-<id>`` until the swap
    completes, and a re-run (or this function at next call) finishes or
    rolls back an interrupted pass; the engines refuse to drain over a
    half-swapped log until then.  It first stops the dir's resident tws
    queries (``tws.stop_resident``); run it from the SAME single-writer
    context as the drains.

    Returns a summary dict (kind, folded/pruned partition counts, rows)."""
    from .tws import stop_resident  # noqa: PLC0415 - tws imports this module

    root = state_dir
    # the version marker, not the output columns, names the log kind: the
    # fold differs per kind, and a guess can destroy committed history
    kind = _claim_dir(root, "compact_emission_log", "tt", "fk", "suppress")
    if kind is None:
        raise ValueError(
            f"compact_emission_log: cannot identify the engine that wrote {root!r} "
            "(no engine version marker found) — run at least one drain with the "
            "owning engine (which stamps the marker) before compacting"
        )
    stop_resident(root)  # a resident query must not write the log being rewritten
    is_fk = kind == "fk"
    out_dir = os.path.join(root, "out")
    _recover_compaction(out_dir, root)
    ck = os.path.join(checkpoint, "join") if is_fk else checkpoint
    bind_root = out_dir if is_fk else root
    sbind, cbind = _read_bind(os.path.join(bind_root, "_PSE_BIND")), _read_bind(
        os.path.join(ck, "_PSE_BIND")
    )
    if sbind is None or sbind != cbind:
        raise ValueError(
            f"compact_emission_log: {state_dir!r} is not bound to checkpoint "
            f"{checkpoint!r} — pass the pair the drains use"
        )
    committed = _last_committed(ck)
    parts = _sink_partitions(out_dir)
    foldable = sorted(k for k in parts if k <= committed)

    def _prune_consumed_sub() -> int:
        # prune sub-log files stage B's file-source log has consumed;
        # normalize URI forms (file:/abs, file:///abs, symlinks) so a
        # rendering difference cannot silently dead-end the prune
        def _canon(p: str) -> str:
            if p.startswith("file:"):
                p = p[len("file:") :]
                while p.startswith("//"):
                    p = p[1:]
            return os.path.realpath(p)

        consumed = set()
        src_log = os.path.join(ck, "sources", "0")
        try:
            for entry in os.listdir(src_log):
                if entry.startswith("."):
                    continue  # .N.crc sidecars are binary
                with open(os.path.join(src_log, entry), errors="replace") as f:
                    for line in f:
                        line = line.strip()
                        if line.startswith("{"):
                            try:
                                rec = json.loads(line)
                            except ValueError:
                                continue
                            if rec.get("path"):
                                consumed.add(_canon(rec["path"]))
        except OSError:
            pass
        sub_dir = os.path.join(root, "sub")
        sub_parts = _sink_partitions(sub_dir)
        removed = 0
        for k in sorted(sub_parts)[:-1]:  # keep the newest dir as cursor trail
            p = sub_parts[k]
            files = [
                _canon(os.path.join(p, x))
                for x in os.listdir(p)
                if not x.startswith(("_", "."))
            ]
            if files and all(x in consumed for x in files):
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    if len(foldable) <= 1:
        out = {"kind": kind, "folded": 0, "pruned": 0}
        if is_fk:
            out["sub_pruned"] = _prune_consumed_sub()  # still worth doing
        return out

    result: dict = {"kind": kind, "folded": len(foldable), "committed": committed}

    if kind == "suppress":
        delivered = _delivered_cursor(root, ck)
        gone = [k for k in foldable[:-1] if k <= delivered]
        for k in gone:
            shutil.rmtree(parts[k], ignore_errors=True)
        result["pruned"] = len(gone)
        return result

    if not key:
        raise ValueError("compact_emission_log needs the fold key columns for join logs")
    base_id = max(foldable)
    kept = spark.read.parquet(out_dir).filter(F.col("sink_batch") <= F.lit(int(committed)))
    base = _fold_emission_log(kept, key, kind).drop("sink_batch")
    tmp = os.path.join(root, _COMPACT_TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    base.write.mode("overwrite").parquet(tmp)
    result["base_rows"] = spark.read.parquet(tmp).count()
    # tmp+replace so a crash can never leave a torn marker (a torn _TARGET
    # used to wedge _recover_compaction's int() parse on every attempt)
    target = os.path.join(tmp, "_TARGET")
    with open(target + ".tmp", "w") as f:
        f.write(str(base_id))
    os.replace(target + ".tmp", target)  # tmp is now complete: recovery installs it
    dest = os.path.join(out_dir, f"sink_batch={base_id}")
    trash = os.path.join(root, f"{_COMPACT_TRASH_PREFIX}{base_id}")
    os.rename(dest, trash)
    os.remove(os.path.join(tmp, "_TARGET"))
    os.rename(tmp, dest)
    shutil.rmtree(trash, ignore_errors=True)
    pruned = 0
    for k in foldable:
        if k != base_id:
            shutil.rmtree(parts[k], ignore_errors=True)
            pruned += 1
    result["pruned"] = pruned

    if kind == "fk":
        result["sub_pruned"] = _prune_consumed_sub()
    return result


def _fold_emission_log(log: DataFrame, key: Sequence[str], kind: str) -> DataFrame:
    """The latest row per ``key`` of a tws tt- or fk-join emission log, by
    ``sink_batch``; inside one fk batch U wins over D, so a flip's
    retraction can never outlive its re-subscription.  The fold behind the
    joins' returned snapshots and the base partition compaction writes (the
    fk fold keeps last-op-D rows; the snapshot drops them)."""
    if kind != "fk":
        return KStream(log, tuple(key), None).to_table(order=("sink_batch",)).df
    ranked = log.withColumn("__op_rank", (F.col("op") == "U").cast("int"))
    fold = KStream(ranked, tuple(key), None).to_table(order=("sink_batch", "__op_rank"))
    return fold.df.drop("__op_rank")


def _container_cols(schema, cols) -> set[str]:
    """The container-typed (array/map/struct) members of ``cols`` — the one
    membership predicate shared by the tws key/order refusals, tws tunnel
    selection, and engine auto-selection."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _St

    cs = {c for c in cols if c}
    return {
        f.name
        for f in schema.fields
        if f.name in cs and isinstance(f.dataType, (ArrayType, MapType, _St))
    }


# committed emission-log partitions that trigger a fold at drain entry
_AUTOCOMPACT_EVERY = 32


def _maybe_autocompact(spark: SparkSession, state_dir: str, checkpoint: str, kind, key=()) -> None:
    """Compact-every-N policy: called by the tt-join, fk-join and suppress
    tws drains at ENTRY — after binding and version stamping, before the
    query starts.  As-of logs are not compacted (append-only join history;
    ``compact_emission_log`` has no as-of kind).  Entry-time (never
    post-drain) because the returned snapshot/emissions are LAZY reads over
    ``out/sink_batch=*``; a post-drain compaction would prune partitions the
    caller is about to scan.  When the committed partition count reaches
    ``_AUTOCOMPACT_EVERY``, the log folds into one base partition, bounding
    snapshot reconstruction at O(tail) instead of O(total emissions ever)
    across long-lived resumed drains.  A crash mid-compaction is covered by
    the existing recovery: the next drain's _check_no_pending_compaction
    finishes or rolls back the pass.  ``kind`` is the dir's
    ``_TWS_MARKERS`` kind; the fk join's log commits on
    ``<checkpoint>/join``."""
    committed = _last_committed(os.path.join(checkpoint, "join") if kind == "fk" else checkpoint)
    out_dir = os.path.join(state_dir, "out")
    if sum(1 for k in _sink_partitions(out_dir) if k <= committed) >= _AUTOCOMPACT_EVERY:
        compact_emission_log(spark, state_dir, checkpoint, key=tuple(key))


def _check_engine(engine: str, what: str) -> None:
    if engine not in ("tws", "exact"):
        raise ValueError(
            f"{what}: unknown engine {engine!r} — use engine='tws' (per-key state) "
            "or engine='exact' (the snapshot loop); the pandas keyed engine "
            "(formerly engine='keyed') was removed"
        )


def _select_engine(state_dir: str | None, hard) -> str:
    """engine=None auto-selection.  Order of precedence:

      * a ``state_dir`` no engine can read is refused (``_dir_owner``);
      * no ``google.protobuf`` (tws cannot run) → ``exact``;
      * ``state_dir`` written by the exact loop → ``exact``, so a dir
        resumes with the engine that wrote it;
      * container-typed columns in a position the tws binary tunnel cannot
        cover — keys, order columns, the fk column (``hard`` =
        [(StructType, cols)]) → ``exact``;
      * otherwise → ``tws`` (container VALUE columns ride tws's pickled
        -binary value-state tunnel)."""
    from .protoshim import ensure_protobuf  # noqa: PLC0415

    exact = _dir_owner(state_dir) == "exact" or not ensure_protobuf()
    return "exact" if exact or any(_container_cols(s, c) for s, c in hard) else "tws"


def _check_emit_final(obj, df: DataFrame, output_mode: str) -> None:
    """Enforce the suppress() contract at EVERY sink: an emit-final table
    must drain in append mode (that IS the suppression), and append on a
    windowed aggregation needs a watermark — so a suppressed aggregation
    built without grace gets a descriptive error here instead of Spark's
    opaque 'append not supported without watermark' analysis exception."""
    if df.isStreaming and getattr(obj, "suppress_config", None) is not None:
        raise ValueError(
            "this table is suppressed untilTimeLimit (KTable.suppress("
            "until_time_limit_ms=...)); its streaming realization is the "
            "time-ordered buffer — drain it with streaming.suppress_buffered "
            "instead of a plain sink (batch drains are identity and need no "
            "buffer)"
        )
    if not getattr(obj, "emit_final", False):
        return
    if output_mode != "append":
        raise ValueError(
            "suppress() marks the table emit-final; drain with output_mode='append' "
            "(append on a watermarked windowed aggregation IS emit-on-window-close)"
        )
    if df.isStreaming and not _has_watermark(df):
        raise ValueError(
            "suppress() on a streaming aggregation requires an event-time watermark "
            "to define window closure — give the window a grace period "
            "(e.g. TumblingWindowOptions.of(size, grace_ms=...)) or call "
            "with_watermark() upstream"
        )


class StreamingBuilder:
    """Streaming twin of ``StreamBuilder`` (core/StreamBuilder.cs:49-134):
    sources produce *streaming* DataFrames wrapped in the same KStream, so
    the whole DSL composes unchanged downstream."""

    def __init__(self, spark: SparkSession):
        self.spark = configure(spark)

    # ---------------- sources ----------------

    def kafka_stream(
        self,
        bootstrap: str,
        topics: str,
        value_schema: str,
        key: str = "key",
        key_type: str = "string",
        value_format: str = "json",
        ts_alias: str = "ts",
        starting_offsets: str = "earliest",
        **options,
    ) -> KStream:
        """Kafka-topic KStream source (core/StreamBuilder.cs:49-134 +
        SourceProcessor deserialize step).  ``value_schema`` is a DDL string;
        wire decode is pure Catalyst expressions (serdes.decode_kafka).

        A ``stub://<dir>`` bootstrap selects the in-process file-backed
        transport (kafka_stub.KafkaStubBroker) with the SAME source schema
        and decode path — the connectorless end-to-end test mode."""
        from .kafka_stub import KafkaStubBroker, is_stub

        if is_stub(bootstrap):
            if starting_offsets != "earliest":
                raise ValueError(
                    "the stub Kafka transport replays topics from the beginning "
                    "(file stream); startingOffsets='earliest' only — a real "
                    "bootstrap honors the full option"
                )
            broker = KafkaStubBroker(bootstrap)
            parts = [t.strip() for t in topics.split(",") if t.strip()]
            raw = broker.read_stream(self.spark, parts[0], **options)
            for t in parts[1:]:  # comma list = multi-topic subscribe
                raw = raw.unionByName(broker.read_stream(self.spark, t, **options))
        else:
            try:
                raw = (
                    self.spark.readStream.format("kafka")
                    .option("kafka.bootstrap.servers", bootstrap)
                    .option("subscribe", topics)
                    .option("startingOffsets", starting_offsets)
                    .options(**options)
                    .load()
                )
            except Exception as e:  # pragma: no cover - connector not bundled locally
                raise NotImplementedError(
                    "Kafka source requires the spark-sql-kafka connector on the "
                    "classpath (org.apache.spark:spark-sql-kafka-0-10)"
                ) from e
        df = decode_kafka(raw, value_schema, key_type=key_type, value_format=value_format, ts_alias=ts_alias)
        return KStream(df, ("key",) if key == "key" else _as_tuple(key), ts_alias)

    def file_stream(
        self,
        path: str,
        key=(),
        ts: str | None = None,
        fmt: str = "parquet",
        schema=None,
        max_files_per_trigger: int | None = None,
    ) -> KStream:
        """File-directory streaming source (new files = new records) — the
        local-testable source; also the pattern for object-store landing zones
        at scale.  Schema is inferred from a batch read when not given (driver
        metadata only, no data scan).

        The file source wants a directory; a single-file path is exposed
        through a symlink in a temp dir (read-only testdata friendly)."""
        if schema is None:
            schema = self.spark.read.format(fmt).load(path).schema
        if os.path.isfile(path):
            d = tempfile.mkdtemp(prefix="pse-src-")
            os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
            path = d
        reader = self.spark.readStream.format(fmt).schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        df = reader.load(path)
        return KStream(df, _as_tuple(key), ts)

    def table_stream(self, path: str, key, ts: str, order=None, **kw) -> KTable:
        """Streaming KTable source: changelog → latest-per-key, maintained
        incrementally (update mode).  See dsl.KStream.to_table streaming
        branch (max_by aggregate, one shuffle, state = one row per key)."""
        return self.file_stream(path, key=key, ts=ts, **kw).to_table(order=order)

    def rate_stream(self, rows_per_second: int = 10) -> KStream:
        """Synthetic load source (testing/backpressure experiments)."""
        df = (
            self.spark.readStream.format("rate")
            .option("rowsPerSecond", str(rows_per_second))
            .load()
        )
        return KStream(df, ("value",), "timestamp")


# ---------------- sinks (SinkProcessor / To analogs) ----------------


# sizing target for the bounded-drain state shuffle:
# one state/shuffle partition per ~64 MB of source data, capped at the
# session's configured partition count.  Stateful-streaming cost is per
# partition per micro-batch (state store open/commit/snapshot), NOT per row,
# so a KB-scale local drain on cpus-many partitions pays cpus × that fixed
# overhead for nothing — measured 7.3 s at 32 partitions vs 0.7 s at 8 for
# the same 100 k-row replay (BENCH_r13 vs BENCH_r13_c8).  At cluster scale
# bytes/64 MB exceeds any sane partition count, so the session derivation
# (cores-based, AQE-coalesced) is untouched — this only right-sizes drains
# whose input is provably small (guide §2.3 "fewer, larger partitions").
_DRAIN_TARGET_BYTES = 64 * 1024 * 1024


def _file_source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the file sources feeding a streaming frame
    (driver-side metadata only).  None when any leaf is not a file source —
    unbounded sources (Kafka, rate) must keep the session's sizing."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "StreamingRelation":
                return None
            opts = leaf.dataSource().options()
            popt = opts.get("path")
            if not popt.isDefined():
                return None
            path = popt.get()
            if os.path.isfile(path):
                total += os.path.getsize(path)
                continue
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        return total
    except Exception:
        return None


def run_available_now(obj, name: str | None = None, output_mode: str = "append") -> DataFrame:
    """Drain everything currently available through the streaming plan into an
    in-memory table and return it — the TopologyTestDriver analog
    (reference test harness: test/Streamiz.Kafka.Net.Tests/Helpers).

    ``output_mode``: append for stateless/watermark-expired output, complete
    for full aggregate state (how the parity tests read final KTable state).
    A table marked emit-final by ``KTable.suppress`` must drain in append
    mode (that IS the suppression); other modes are rejected.

    State/shuffle partitions for the drain are sized from the source bytes
    (see _DRAIN_TARGET_BYTES) — safe here because every drain starts a FRESH
    checkpoint (a restarted checkpoint pins its original partition count);
    the session value is restored afterwards.
    """
    df = obj.df if hasattr(obj, "df") else obj
    _check_emit_final(obj, df, output_mode)
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    src_bytes = _file_source_bytes(df)
    if src_bytes is not None:
        want = max(1, min(int(saved), -(-src_bytes // _DRAIN_TARGET_BYTES)))
        if want < int(saved):
            spark.conf.set("spark.sql.shuffle.partitions", str(want))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", _checkpoint(None))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return df.sparkSession.table(name)


def start_to_files(
    obj,
    path: str,
    fmt: str = "parquet",
    checkpoint: str | None = None,
    output_mode: str = "append",
    available_now: bool = False,
):
    """File sink (``To`` with a path destination).  Returns the
    StreamingQuery handle (the KafkaStream.Start analog — caller owns
    lifecycle, q.stop() ≈ Dispose)."""
    df = obj.df if hasattr(obj, "df") else obj
    _check_emit_final(obj, df, output_mode)
    w = (
        df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("path", path)
        .option("checkpointLocation", _checkpoint(checkpoint))
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_to_kafka(
    obj,
    bootstrap: str,
    topic: str | None = None,
    key_col: str = "key",
    value_cols: Sequence[str] | None = None,
    topic_expr=None,
    checkpoint: str | None = None,
    output_mode: str = "append",
    available_now: bool = False,
):
    """Kafka sink (core/Processors/SinkProcessor.cs:34-53).  ``topic_expr``
    (a Column) is the dynamic topic-name-extractor analog
    (IKStream.cs:90-137): Spark's Kafka sink routes on a ``topic`` column.
    ``available_now=True`` drains what's currently on the source and stops —
    the bounded mode scripts/kafka_smoke.py uses for its roundtrip check."""
    from .kafka_stub import KafkaStubBroker, is_stub

    df = obj.df if hasattr(obj, "df") else obj
    _check_emit_final(obj, df, output_mode)
    wire = encode_kafka(df, key_col, list(value_cols) if value_cols else None, topic=topic_expr)
    if is_stub(bootstrap):
        # in-process transport: the encode above and the streaming query are
        # the REAL produce path; only the broker append is file-backed
        broker = KafkaStubBroker(bootstrap)

        def _produce(batch: DataFrame, _batch_id: int) -> None:
            if not batch.isEmpty():
                broker.append(batch, topic)

        w = (
            wire.writeStream.foreachBatch(_produce)
            .outputMode(output_mode)
            .option("checkpointLocation", _checkpoint(checkpoint))
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()
    w = (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .outputMode(output_mode)
        .option("checkpointLocation", _checkpoint(checkpoint))
    )
    if topic is not None:
        w = w.option("topic", topic)
    if available_now:
        w = w.trigger(availableNow=True)
    try:
        return w.start()
    except Exception as e:  # pragma: no cover - connector not bundled locally
        raise NotImplementedError(
            "Kafka sink requires the spark-sql-kafka connector on the classpath"
        ) from e



_LAKEHOUSE_SOURCES = {
    "delta": ("io.delta.sql.DeltaSparkSessionExtension", "delta-spark"),
    "iceberg": ("org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions", "iceberg-spark-runtime"),
}


def lakehouse_available(spark: SparkSession, fmt: str) -> bool:
    """True when the Delta/Iceberg runtime is on the JVM classpath.  The
    reference sinks only to Kafka topics; a 100 TB training-data pipeline
    lands in a transactional table format instead, so these sinks are
    first-class here — gated lazily, like the Avro/Protobuf serdes, because
    the satellite jars aren't bundled with plain pyspark."""
    cls, _ = _LAKEHOUSE_SOURCES[fmt]
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def _require_lakehouse(spark: SparkSession, fmt: str) -> None:
    if fmt not in _LAKEHOUSE_SOURCES:
        raise ValueError(f"unsupported table format: {fmt!r} (delta|iceberg)")
    if not lakehouse_available(spark, fmt):
        _, pkg = _LAKEHOUSE_SOURCES[fmt]
        raise NotImplementedError(
            f"{fmt} sink requires the {pkg} package on the classpath "
            f"(spark.jars.packages) plus its SQL extension/catalog conf"
        )


def start_to_lakehouse(
    obj,
    path: str,
    fmt: str = "delta",
    checkpoint: str | None = None,
    output_mode: str = "append",
    available_now: bool = False,
):
    """Streaming sink into a transactional table format (exactly-once via
    checkpoint + the format's transaction log — the closest Spark analog of
    the reference's EOS Kafka transactions, SURVEY §7.2).  Same contract as
    start_to_files otherwise."""
    df = obj.df if hasattr(obj, "df") else obj
    _require_lakehouse(df.sparkSession, fmt)
    return start_to_files(
        obj, path, fmt=fmt, checkpoint=checkpoint,
        output_mode=output_mode, available_now=available_now,
    )


def write_lakehouse(obj, path: str, fmt: str = "delta", mode: str = "overwrite") -> None:
    """Batch twin of start_to_lakehouse (KStream.to with a table-format
    destination)."""
    df = obj.df if hasattr(obj, "df") else obj
    _require_lakehouse(df.sparkSession, fmt)
    df.write.format(fmt).mode(mode).save(path)


def start_foreach_batch(obj, fn: Callable[[DataFrame, int], None], checkpoint: str | None = None, available_now: bool = False):
    """Foreach terminal (IKStream.cs Foreach / KStreamPeekProcessor with
    forwardDownStream=false): arbitrary per-microbatch side effects with the
    batch id for idempotence."""
    df = obj.df if hasattr(obj, "df") else obj
    w = df.writeStream.foreachBatch(fn).option("checkpointLocation", _checkpoint(checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def materialize_stream(obj, store_name: str, output_mode: str = "complete") -> DataFrame:
    """Streaming interactive-query surface (SURVEY §2.7; KafkaStream.Store
    analog, core/KafkaStream.cs:474-479): drain the current stream state into
    a named in-memory table queryable via ``spark.table(store_name)`` /
    ``StoreRegistry``.  Batch KTables use KTable.materialize (temp view)
    instead; this is the streaming twin — state lands in the table as of the
    drain point, re-invoke to refresh."""
    return run_available_now(obj, name=store_name, output_mode=output_mode)


def read_state_store(
    spark,
    checkpoint: str,
    operator_id: int = 0,
    batch_id: int | None = None,
    store_name: str | None = None,
    join_side: str | None = None,
) -> DataFrame:
    """Read a streaming query's STATE STORE from its checkpoint as a
    DataFrame — Spark's State Data Source.  This is the closest analog of the
    reference's interactive queries over the real stores
    (KafkaStream.Store(StoreQueryParameters) →
    QueryableStoreTypes.KeyValueStore/WindowStore,
    core/State/QueryableStoreTypes.cs:24-41): unlike materialize_stream
    (which drains OUTPUT into a table), this reads the operator's internal
    keyed state — aggregation buffers, join buffers, dedup sets — exactly
    what the reference exposes via store queries, including time-travel to an
    earlier ``batch_id`` (the closest thing to replaying a changelog topic).

    Returns rows of (key struct, value struct, partition_id); flatten with
    ``select("key.*", "value.*")``.  Works on either provider (heap or
    RocksDB).  Distributed scan — no driver collect."""
    r = spark.read.format("statestore")
    if batch_id is not None:
        r = r.option("batchId", int(batch_id))
    if operator_id:
        r = r.option("operatorId", int(operator_id))
    if store_name:
        r = r.option("storeName", store_name)
    if join_side:
        r = r.option("joinSide", join_side)
    return r.load(checkpoint)


def read_state_metadata(spark, checkpoint: str) -> DataFrame:
    """Enumerate the stateful operators / state stores recorded in a
    checkpoint (Spark's state-metadata source) — the discovery half of the
    interactive-query surface (the reference's KafkaStream exposes the store
    registry by name; here the checkpoint is the registry)."""
    return spark.read.format("state-metadata").load(checkpoint)


def join_tables_streaming(
    left: KStream,
    right: KStream,
    how: str = "inner",
    l_order: Sequence[str] | None = None,
    r_order: Sequence[str] | None = None,
    ts_alias: str | None = None,
    store_name: str | None = None,
    state_dir: str | None = None,
    checkpoint: str | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Continuous KTable⋈KTable changelog join — the streaming realization of
    KTable.join (reference: KTableKTableJoinProcessor.cs:20-48 joins the two
    changelogs record-at-a-time against each other's state stores; output
    timestamp = max of the sides, :35).

    Spark has no built-in update-stream⋈update-stream join; two engines,
    selected by ``engine`` (None = ``"tws"`` when transformWithState's
    protobuf dependency is importable and the keys/order columns are
    scalar, else ``"exact"`` — see _select_engine):

      * ``"tws"`` — the per-key engine (tws.join_tables_tws): both tagged
        changelogs union into ONE ``transformWithState`` grouped by the JOIN
        KEY, per-key state = (latest left row, latest right row) — the
        reference's record-at-a-time shape.  Each key whose state changed
        emits its current joined row to an ``out/sink_batch=<id>``
        partition (overwritten on crash-replay — exactly-once), so
        per-microbatch I/O is O(changed keys), never O(table): the state
        lives in Spark's RocksDB store, which checkpoints per-batch deltas.
        The returned snapshot is the latest-per-key fold of the emission
        log.  Native types end to end (bigints exact, NaN preserved).
        Requires non-null order values and equal key dtypes across sides
        (raises descriptively).
      * ``"exact"`` — the SURVEY §7.3.2 parquet ping-pong loop: each
        microbatch (a) upserts each side's latest-per-key snapshot —
        ``max_by`` over the declared order merged with the previous
        snapshot, associative, so snapshot ∪ batch ≡ full-changelog replay
        — and (b) recomputes the equi-join over the two materialized
        states.  Per-batch I/O is O(table) (bounded by key cardinality,
        never stream length); kept for null-order changelogs, container
        keys/order columns, and as the differential oracle for tws.

    Emission cadence is per-microbatch instead of per-record (§7.3.3:
    coarser cadence, same final state — which is what the parity tests
    compare).  The exact engine drains with an availableNow trigger, the tws
    engine through its resident query (README "tws call contract"); both
    return the final joined snapshot (also registered under ``store_name``
    for the interactive-query surface).
    """
    if not (left.df.isStreaming and right.df.isStreaming):
        raise ValueError("join_tables_streaming requires streaming inputs; use KTable.join in batch")
    if how not in ("inner", "left", "full"):
        raise ValueError("table-table join supports inner|left|full")
    if len(left.key) != len(right.key):
        raise ValueError("join key arity mismatch")
    if engine is None:
        engine = _select_engine(
            state_dir,
            hard=[
                (left.df.schema, list(left.key) + list(l_order or ())),
                (right.df.schema, list(right.key) + list(r_order or ())),
            ],
        )
    _check_engine(engine, "join_tables_streaming")
    if engine == "tws":
        from .tws import join_tables_tws  # noqa: PLC0415 - optional protobuf dep

        return join_tables_tws(
            left, right, how, l_order, r_order, ts_alias, store_name, state_dir, checkpoint
        )

    def combine(l_t: KTable, r_t: KTable) -> KTable:
        return l_t.join(r_t, how=how, ts_alias=ts_alias)

    return _changelog_join_loop(
        left, right, combine, l_order, r_order, store_name, state_dir, checkpoint,
        state_prefix="pse-ttjoin-",
    )


def join_fk_streaming(
    left: KStream,
    right: KStream,
    fk,
    how: str = "inner",
    l_order: Sequence[str] | None = None,
    r_order: Sequence[str] | None = None,
    store_name: str | None = None,
    state_dir: str | None = None,
    checkpoint: str | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Continuous foreign-key table join — the streaming realization of
    ``KTable.join_fk`` (Kafka Streams 2.4 KIP-213; absent in the reference —
    SURVEY §2.5 note.  KS wires a subscription topic keyed by FK and a
    response topic keyed back by the left PK so FK *changes* re-subscribe).

    Two engines, selected by ``engine`` (None = ``"tws"`` for a string fk
    column when protobuf is importable and the key/fk/order columns are
    scalar — see _select_engine; Column fks = ``"exact"``):

      * ``"tws"`` — the literal KIP-213 two-stage architecture on per-key
        transformWithState state (tws.join_fk_tws): a PK-keyed subscription
        resolver emitting unsubscribe/subscribe records into a durable
        subscription log, then an FK-keyed join state holding (latest right
        row, subscriber list in LIST state) that fans out U/D emissions;
        per-microbatch I/O is O(changed keys + affected subscribers).
        Requires a string fk column name.
      * ``"exact"`` — the shared changelog-state loop: each microbatch
        upserts both tables' latest-per-key snapshots, then recomputes the
        FK equi-join over the snapshots (O(table) per batch, bounded by key
        cardinality).  Re-subscription is structural: the recompute always
        reads each left row's CURRENT fk value, so an FK flip atomically
        retracts the old join row and emits the new one.

    Both give the exact KIP-213 guarantee at per-microbatch cadence
    (§7.3.3); the parity test replays an FK flip across microbatches and
    compares against batch KTable.join_fk on both engines."""
    if not (left.df.isStreaming and right.df.isStreaming):
        raise ValueError("join_fk_streaming requires streaming inputs; use KTable.join_fk in batch")
    if how not in ("inner", "left"):
        raise ValueError("fk join supports inner|left")
    if len(right.key) != 1:
        raise ValueError("fk join requires single-column right key")
    if engine is None:
        if isinstance(fk, str):
            engine = _select_engine(
                state_dir,
                hard=[
                    (left.df.schema, list(left.key) + [fk] + list(l_order or ())),
                    (right.df.schema, list(r_order or ())),
                ],
            )
        else:
            engine = "exact"
    _check_engine(engine, "join_fk_streaming")
    if engine == "tws":
        if not isinstance(fk, str):
            raise ValueError(
                "the tws fk-join engine requires a string fk column name (the fk "
                "VALUE rides the subscription log); use engine='exact' for Column fks"
            )
        from .tws import join_fk_tws  # noqa: PLC0415 - optional protobuf dep

        return join_fk_tws(
            left, right, fk, how, l_order, r_order, store_name, state_dir, checkpoint
        )
    # the canonical FK naming has the LEFT fk column named like the RIGHT
    # key (departments keyed dept_id, employees carrying dept_id) — batch
    # join_fk accepts it because the right key never reaches the output.
    # The tagged-union state loop needs globally distinct names, so rename
    # the right key to a reserved one for the loop's lifetime; the combine
    # step joins fk == __fk_rk and the output is unchanged.
    rk = right.key[0]
    if rk in left.df.columns:
        if "__fk_rk" in left.df.columns or "__fk_rk" in right.df.columns:
            raise ValueError(
                "'__fk_rk' is reserved by join_fk_streaming for the right-key "
                "rename; rename that column on the input"
            )
        # the rename must follow EVERY reference to the old name: the
        # KStream's ts (a right ts column named like the key) and the
        # declared changelog order, or downstream resolution fails opaquely
        r_ts = "__fk_rk" if right.ts == rk else right.ts
        right = KStream(right.df.withColumnRenamed(rk, "__fk_rk"), ("__fk_rk",), r_ts)
        if r_order:
            r_order = tuple("__fk_rk" if c == rk else c for c in r_order)

    def combine(l_t: KTable, r_t: KTable) -> KTable:
        return l_t.join_fk(r_t, fk, how=how)

    return _changelog_join_loop(
        left, right, combine, l_order, r_order, store_name, state_dir, checkpoint,
        state_prefix="pse-fkjoin-",
    )


def _reserved_refusal(cols, reserved: dict[str, str], what: str) -> str | None:
    """User columns colliding with an engine's internal schema fields or its
    sink partition column, as a refusal (None when clear) — the collision
    otherwise surfaces as an opaque Arrow/parquet error MID-DRAIN, after
    state and checkpoint are already written.  ``reserved`` maps name → why
    it is reserved."""
    hit = {c: reserved[c] for c in cols if c in reserved}
    if not hit:
        return None
    msgs = "; ".join(f"{c!r} ({why})" for c, why in hit.items())
    return (
        f"{what}: column names collide with engine-internal fields — {msgs}; "
        "rename them on the input"
    )


def _check_reserved_columns(cols, reserved: dict[str, str], what: str) -> None:
    refusal = _reserved_refusal(cols, reserved, what)
    if refusal:
        raise ValueError(refusal)


def _hard_container_refusal(what: str, *pairs) -> str | None:
    """Container-typed columns in a tws key / order / fk position, as a
    refusal (None when all are scalar): grouping and order comparisons need
    scalar types, and the binary value tunnel covers VALUE columns only.
    ``pairs`` = (StructType, columns)."""
    bad = sorted(set().union(set(), *[_container_cols(s, c) for s, c in pairs]))
    if not bad:
        return None
    return (
        f"{what}: container-typed columns {bad} sit in a key/order/fk "
        "position; grouping and order comparisons need scalar types (the "
        "binary value tunnel only covers VALUE columns) — use engine='exact'"
    )


def _dtype_refusal(what: str, l_schema, r_schema, pairs) -> str | None:
    """The first (left, right) column pair whose dtypes differ, as a refusal
    (None when all match): the tws engines group or compare both sides'
    values in one typed state column."""
    l_ddl = {f.name: f.dataType.simpleString() for f in l_schema.fields}
    r_ddl = {f.name: f.dataType.simpleString() for f in r_schema.fields}
    for lc, rc in pairs:
        if l_ddl.get(lc) != r_ddl.get(rc):
            return (
                f"the {what} requires equal join-column dtypes across sides; "
                f"{lc}:{l_ddl.get(lc)} vs {rc}:{r_ddl.get(rc)} — cast one side or use engine='exact'"
            )
    return None


def _changelog_orders(
    left: KStream, right: KStream, l_order: Sequence[str] | None, r_order: Sequence[str] | None
) -> tuple[tuple, tuple]:
    """Each side's changelog order for the table⋈table joins: the declared
    columns, else the side's ts.  Refused when a side has neither or
    declares a column it lacks."""
    lord = tuple(l_order) if l_order else ((left.ts,) if left.ts else ())
    rord = tuple(r_order) if r_order else ((right.ts,) if right.ts else ())
    if not lord or not rord:
        raise ValueError("changelog order required per side (ts or explicit l_order/r_order)")
    for order, side in ((lord, left), (rord, right)):
        missing = [c for c in order if c not in side.df.columns]
        if missing:
            raise ValueError(f"order columns {missing} not in the side's columns")
    return lord, rord


def _changelog_join_loop(
    left: KStream,
    right: KStream,
    combine: Callable[[KTable, KTable], KTable],
    l_order: Sequence[str] | None,
    r_order: Sequence[str] | None,
    store_name: str | None,
    state_dir: str | None,
    checkpoint: str | None,
    state_prefix: str,
) -> DataFrame:
    """Shared state loop of the continuous table⋈table family: one streaming
    query over the union of both tagged changelogs; per microbatch (a)
    upsert each side's latest-per-key parquet snapshot (ping-pong
    generations, restart-safe via the _GEN marker) and (b) re-``combine``
    the two snapshots into the output store.  ``combine`` is the only thing
    the PK join and the FK join disagree on."""
    overlap = set(left.df.columns) & set(right.df.columns)
    if overlap:
        raise ValueError(f"sides must have disjoint column names; overlap: {sorted(overlap)}")
    _check_reserved_columns(
        list(left.df.columns) + list(right.df.columns),
        {"__side": "changelog union tag"},
        "changelog-state join loop",
    )
    l_cols, r_cols = list(left.df.columns), list(right.df.columns)
    lord, rord = _changelog_orders(left, right, l_order, r_order)
    root = state_dir or tempfile.mkdtemp(prefix=state_prefix)
    tagged = left.df.select(
        F.lit(1).alias("__side"),
        *l_cols,
        *[F.lit(None).cast(right.df.schema[c].dataType).alias(c) for c in r_cols],
    ).unionByName(
        right.df.select(
            F.lit(0).alias("__side"),
            *[F.lit(None).cast(left.df.schema[c].dataType).alias(c) for c in l_cols],
            *r_cols,
        )
    )
    sides = (
        ("l", F.col("__side") == 1, l_cols, left.key, lord),
        ("r", F.col("__side") == 0, r_cols, right.key, rord),
    )

    def _fold(batch: DataFrame, batch_id: int, cur: int, nxt: int) -> None:
        spark = batch.sparkSession
        for tag, pred, cols, key, order in sides:
            rows = batch.filter(pred).select(*cols)
            prev_path = os.path.join(root, f"{tag}-{cur}")
            if os.path.exists(prev_path):
                rows = spark.read.parquet(prev_path).unionByName(rows)
            latest = KStream(rows, key, None).to_table(order=order).df
            latest.write.mode("overwrite").parquet(os.path.join(root, f"{tag}-{nxt}"))
        l_t = KTable(spark.read.parquet(os.path.join(root, f"l-{nxt}")), left.key, left.ts)
        r_t = KTable(spark.read.parquet(os.path.join(root, f"r-{nxt}")), right.key, right.ts)
        combine(l_t, r_t).df.write.mode("overwrite").parquet(os.path.join(root, "out"))

    _exact_drain(tagged, root, checkpoint, "join-state", _fold)
    spark = left.df.sparkSession
    out_path = os.path.join(root, "out")
    if not os.path.exists(out_path):
        # no microbatch ever fired (both changelogs empty): empty join result
        l_t = KTable(spark.createDataFrame([], left.df.schema), left.key, left.ts)
        r_t = KTable(spark.createDataFrame([], right.df.schema), right.key, right.ts)
        return combine(l_t, r_t).df
    out = spark.read.parquet(out_path)
    if store_name is not None:
        out.createOrReplaceTempView(store_name)
    return out


def suppress_buffered(
    table: KTable,
    time_col: str | None = None,
    state_dir: str | None = None,
    checkpoint: str | None = None,
    store_name: str | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Streaming realization of ``KTable.suppress(until_time_limit_ms=...)``
    — Kafka Streams Suppressed.untilTimeLimit(d, BufferConfig) (KIP-328;
    the reference's roadmap Suppress, README.md:106).

    Semantics (ported from KS's InMemoryTimeOrderedKeyValueBuffer):

      * each key's update enters a time-ordered buffer stamped with its own
        event time; LATER updates replace the value but do NOT reset the
        clock (the entry keeps its first-buffered time);
      * an entry emits when stream time (running max event time) passes
        entry_time + limit;
      * the buffer is bounded by max_records and/or max_bytes (serialized
        JSON size — the analog of KS's measured byte size): on overflow,
        emit_early_when_full=True evicts-and-EMITS the earliest entries
        (BufferConfig.emitEarlyWhenFull), False raises — the
        shutDownWhenFull default, a crash in KS;
      * emission cadence is per-microbatch (§7.3.3): time checks run when a
        batch closes, not per record.

    Two engines, selected by ``engine`` (None = auto: ``"tws"`` when the
    raw changelog is available, bounds are off, the keys are scalar and
    protobuf is importable; ``"exact"`` otherwise):

      * ``"tws"`` — the per-key engine (tws.suppress_tws):
        ``transformWithState`` over the RAW changelog (threaded through
        ``KStream.to_table``), per-key buffer state in the checkpoint's
        RocksDB store, per-key event-time timers for emission.
        Per-microbatch I/O is O(changed keys + newly due keys), never
        O(buffered keys).  Emission batch ids match the KS per-batch rule
        exactly: a timer fires in the microbatch AFTER the one whose stream
        time passed the deadline (the watermark Spark hands a batch is the
        PREVIOUS batch's running max), so timer emissions are renumbered
        ``batch_id - 1``; an entry already due at creation emits in its own
        batch untagged.  Arbitrarily LATE updates are admitted exactly like
        KS: the watermark rides separate clock-copy rows, so Spark's
        stateful late-row filter can never drop a data row.  Requires an
        unbounded buffer (capacity bounds are buffer-GLOBAL — see below),
        a table built by plain ``to_table`` (default ts order, no
        tombstones), and post-epoch event times.
      * ``"exact"`` — the bounded-buffer engine: one parquet ping-pong
        buffer folded per microbatch.  Capacity bounds (max_records /
        max_bytes) need a total time-order across ALL keys per batch, which
        per-key state cannot see; per-batch O(buffer) I/O is within the
        operator's contract there because a KIP-328 bounded buffer is small
        by definition.  Auto-selected whenever bounds are configured or the
        raw changelog is unavailable.

    Both engines write each microbatch's emissions to an
    ``out/sink_batch=<id>`` partition with OVERWRITE, so a crash-replayed
    batch rewrites its own partition instead of appending duplicates
    (exactly-once emission), and both return only emissions newer than the
    checkpoint's last COMMITTED batch at drain start — for tws, newer than
    the batch its previous call on the dir returned (its delivery cursor,
    ``_PSE_DELIVERED`` in the state dir), so batches its resident query
    committed in the background in between are delivered too, also to the
    first call of a new process (a resumed drain never re-delivers, and a
    batch that crashed pre-commit is re-delivered — it was never returned
    to any caller).

    Drains the available input (exact: availableNow; tws: its resident
    query, which also returns the batches it committed in the background
    since the previous call) and returns the emitted records — columns = the
    table's columns plus ``__emit_reason`` ('time' | 'early') and
    ``__emit_batch`` — in emission order; entries still inside their time
    limit at drain end stay buffered (readable via ``store_name``), exactly
    like a KS buffer across restarts."""
    cfg = getattr(table, "suppress_config", None)
    if cfg is None:
        raise ValueError(
            "suppress_buffered needs a table from "
            "KTable.suppress(until_time_limit_ms=...) — for untilWindowCloses "
            "suppression drain the table in append mode instead"
        )
    df = table.df
    if not df.isStreaming:
        raise ValueError("suppress_buffered requires a streaming table; batch suppress is identity")
    tcol = time_col or table.ts
    if tcol is None or tcol not in df.columns:
        raise ValueError("suppress_buffered requires an event-time column (time_col or table.ts)")
    from .runtime import epoch_ms

    key = list(table.key)
    if not key:
        raise ValueError("suppress_buffered requires key columns")
    limit_ms = int(cfg["until_time_limit_ms"])
    max_records = cfg.get("max_records")
    max_bytes = cfg.get("max_bytes")
    emit_early = bool(cfg.get("emit_early_when_full"))
    bounded = max_records is not None or max_bytes is not None

    src = getattr(table, "_source_stream", None)
    tws_ok = (
        not bounded
        and src is not None
        and not getattr(table, "_source_tombstones", False)
        and tuple(getattr(table, "_source_order", ()) or ()) == (tcol,)
        and tcol in src.df.columns
        # the tws engine brings its OWN decoupled watermark (clock-copy
        # rows); a pre-watermarked source would re-introduce the stateful
        # late-row filter on the data copies
        and not _has_watermark(src.df)
    )
    if engine is None:
        if tws_ok:
            engine = _select_engine(state_dir, hard=[(df.schema, list(key))])
        else:
            engine = "exact"
    _check_engine(engine, "suppress_buffered")
    if engine == "tws":
        if bounded:
            raise ValueError(
                "the tws suppress engine cannot enforce max_records/max_bytes: "
                "capacity bounds are buffer-global (a total time-order across all "
                "keys), invisible to per-key state — use engine='exact'"
            )
        if not tws_ok:
            raise ValueError(
                "the tws suppress engine needs the raw changelog threaded by a "
                "plain KStream.to_table() (default ts order, no tombstones, no "
                "pre-existing watermark) whose ts column is the suppress time column"
            )
        from .tws import suppress_tws  # noqa: PLC0415 - optional protobuf dep

        return suppress_tws(table, src, tcol, limit_ms, state_dir, checkpoint, store_name)

    cols = list(df.columns)
    root = state_dir or tempfile.mkdtemp(prefix="pse-suppress-")
    out_dir = os.path.join(root, "out")
    st_path = os.path.join(root, "_STREAM_TIME")

    def _stream_time() -> int:
        try:
            with open(st_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -(1 << 62)

    def _fold(batch: DataFrame, batch_id: int, cur: int, nxt: int) -> None:
        from pyspark.sql.window import Window

        spark = batch.sparkSession
        new = batch.withColumn("__ev_ms", epoch_ms(tcol))
        batch_max = new.agg(F.max("__ev_ms")).collect()[0][0]
        st = max(_stream_time(), batch_max if batch_max is not None else -(1 << 62))
        prev_path = os.path.join(root, f"buf-{cur}")
        if os.path.exists(prev_path):
            prev = spark.read.parquet(prev_path)
            # update-in-place: new value wins, FIRST entry time sticks
            n2 = new.select(
                *[F.col(c).alias(f"__n_{c}") for c in cols], F.col("__ev_ms").alias("__n_ev")
            )
            cond = None
            for k in key:
                c = prev[k].eqNullSafe(n2[f"__n_{k}"])
                cond = c if cond is None else cond & c
            j = prev.join(n2, cond, "full_outer")
            merged = j.select(
                *[F.coalesce(n2[f"__n_{c}"], prev[c]).alias(c) for c in cols],
                F.coalesce(prev["__entry_ms"], n2["__n_ev"]).alias("__entry_ms"),
            )
        else:
            merged = new.select(*cols, F.col("__ev_ms").alias("__entry_ms"))
        merged = merged.localCheckpoint()  # cut lineage; buffer is bounded

        def _emit(rows: DataFrame, reason: str) -> DataFrame:
            return rows.select(
                *cols,
                F.lit(reason).alias("__emit_reason"),
                F.lit(batch_id).cast("long").alias("__emit_batch"),
            )

        is_due = F.col("__entry_ms") + F.lit(limit_ms) <= F.lit(st)
        emitted = _emit(merged.filter(is_due), "time")
        remaining = merged.filter(~is_due)
        # capacity bounds (the buffer is <= max_records rows by invariant, so
        # the single-partition rank window below is bounded, not a skew risk)
        if max_records is not None or max_bytes is not None:
            w = Window.orderBy(F.col("__entry_ms"), *[F.col(k) for k in key])
            sized = remaining.withColumn("__rank", F.row_number().over(w))
            n = sized.count()
            keep_rank = None
            if max_records is not None and n > max_records:
                keep_rank = n - int(max_records)
            if max_bytes is not None:
                sized = sized.withColumn(
                    "__bytes", F.length(F.to_json(F.struct(*[F.col(c) for c in cols])))
                )
                # keep the NEWEST suffix that fits: cumulative size from the
                # newest entry backwards
                wb = Window.orderBy(
                    F.col("__entry_ms").desc(), *[F.col(k).desc() for k in key]
                ).rowsBetween(Window.unboundedPreceding, 0)
                sized = sized.withColumn("__cum", F.sum("__bytes").over(wb))
                over_bytes = sized.filter(F.col("__cum") > F.lit(int(max_bytes)))
                nb = over_bytes.count()
                if nb:
                    keep_rank = max(keep_rank or 0, nb)
            if keep_rank:
                if not emit_early:
                    raise ValueError(
                        "suppress buffer full (shutDownWhenFull): "
                        f"{n} records exceed the configured bound; pass "
                        "emit_early_when_full=True for BufferConfig.emitEarlyWhenFull"
                    )
                early = sized.filter(F.col("__rank") <= keep_rank)
                emitted = emitted.unionByName(_emit(early, "early"))
                remaining = sized.filter(F.col("__rank") > keep_rank).select(*cols, "__entry_ms")
        # one OVERWRITE per batch partition, none for a batch that emitted
        # nothing: a crash-replayed batch rewrites its own emissions
        _write_emissions(emitted, out_dir, batch_id)
        remaining.write.mode("overwrite").parquet(os.path.join(root, f"buf-{nxt}"))
        with open(st_path + ".tmp", "w") as f:
            f.write(str(int(st)))
        os.replace(st_path + ".tmp", st_path)

    # this CALL returns only ITS OWN emissions: a resumed drain must not
    # re-deliver records from batches the checkpoint already COMMITTED (an
    # emitted-but-uncommitted batch replays and IS delivered — the previous
    # drain crashed before returning it)
    prior_batch, gen = _exact_drain(df, root, checkpoint, "suppress-buffer", _fold, "update")
    if store_name is not None:
        buf_path = os.path.join(root, f"buf-{gen % 2}")
        buf = (
            df.sparkSession.read.parquet(buf_path)
            if os.path.exists(buf_path)
            else df.sparkSession.createDataFrame([], df.schema)
        )
        buf.createOrReplaceTempView(store_name)
    return _read_emissions(df, out_dir, since=prior_batch)


def _has_emissions(out_dir: str) -> bool:
    """Whether an emission-log directory holds any ``sink_batch=*``
    partition: every tws engine's ``out/`` (and the fk join's ``sub/``)
    and the exact loops that log per batch.  A bare or absent dir means no
    micro-batch ever emitted (the tws engines leave a partition only for a
    batch that emitted rows)."""
    return bool(_sink_partitions(out_dir))


def _write_emissions(batch: DataFrame, log_dir: str, batch_id: int, publish: bool = True) -> None:
    """Write one micro-batch's emissions as the ``sink_batch=<id>``
    partition of ``log_dir`` in ONE action.  The foreachBatch DataFrame
    recomputes its lineage — the whole stateful plan — on every action, so
    the row count rides the write as an observed metric instead of a second
    action.  The write goes to a hidden ``.sink_batch=<id>`` staging dir
    (file listings skip a leading ``.``), removed when the batch emitted
    nothing and otherwise renamed into place: at once, or with
    ``publish=False`` by a later ``tws._publish_staged``.  So a reader
    polling the log — the fk join's stage B reads stage A's ``sub/`` — never
    lists a partly written partition or an empty one about to go.  A
    crash-replayed batch replaces its own partition."""
    part = os.path.join(log_dir, f"sink_batch={batch_id}")
    stage = os.path.join(log_dir, f".sink_batch={batch_id}")
    obs = Observation()
    batch.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(stage)
    if os.path.isdir(part):
        shutil.rmtree(part)
    if not obs.get["n"]:
        shutil.rmtree(stage)
    elif publish:
        os.rename(stage, part)


def _ddl(df: DataFrame) -> str:
    """``df``'s columns as a DDL list, names quoted (``_read_log`` form)."""
    return df._jdf.schema().toDDL()


def _read_log(spark, log_dir, schema, upto=None, since=-1) -> DataFrame:
    """The batches ``since < sink_batch <= upto`` (no upper bound when
    ``upto`` is None) of an emission log, read with the log's known DDL
    column ``schema`` (no schema-inference job)."""
    log = spark.read.schema(f"{schema}, sink_batch int").parquet(log_dir)
    keep = F.col("sink_batch") > F.lit(since)
    if upto is not None:
        keep &= F.col("sink_batch") <= F.lit(upto)
    return log.filter(keep)


def _read_emissions(df: DataFrame, out_dir: str, upto=None, since=-1) -> DataFrame:
    """A suppress engine's result: the emissions of the batches ``since <
    sink_batch <= upto`` in ``out_dir``, as the suppressed table ``df``'s
    columns plus ``__emit_reason`` (string) and ``__emit_batch`` (bigint);
    empty with that schema when no batch ever emitted."""
    cols = list(df.columns)
    if not _has_emissions(out_dir):
        return df.sparkSession.createDataFrame([], df.schema).select(
            *cols,
            F.lit(None).cast("string").alias("__emit_reason"),
            F.lit(None).cast("long").alias("__emit_batch"),
        )
    schema = f"{_ddl(df)}, __emit_reason string, __emit_batch bigint"
    log = _read_log(df.sparkSession, out_dir, schema, upto, since)
    return log.select(*cols, "__emit_reason", "__emit_batch")


# ---------------- custom stateful operator escape hatch ----------------


def stateful_map(
    grouped,
    fn: Callable,
    output_schema: str,
    state_schema: str,
    output_mode: str = "update",
    timeout: str = "NoTimeout",
):
    """Arbitrary per-key stateful processing via ``applyInPandasWithState`` —
    the analog of the reference's low-level Processor API + state store
    (core/Processors/IProcessor.cs + core/State/Stores.cs surface), for
    semantics the declarative operators can't express (session gap logic,
    custom eviction, cross-record state machines).

    ``fn(key, pdf_iter, state)`` per the applyInPandasWithState contract.
    Arrow-batched; state = one row per key in the state store; scale bound =
    state size per key, not stream length.  Only valid on streaming input —
    batch equivalents go through KGroupedStream.aggregate_py.
    """
    stream = grouped.stream
    df = stream.df
    if not df.isStreaming:
        raise ValueError("stateful_map requires a streaming KStream; use aggregate_py in batch")
    out = df.groupBy(*grouped.key).applyInPandasWithState(
        fn, output_schema, state_schema, output_mode, timeout
    )
    return KStream(out, grouped.key, None)


def _sessionize_step(
    buf: list,
    closed: int,
    new_events: list,
    wm: int,
    gap: int,
):
    """PURE per-key transition of the streaming sessionizer (no Spark, no
    state handle — unit/property-testable in isolation): merge the open
    buffer with the batch's new (t_ms, order) events, split on the gap rule
    (strict > : events exactly ``gap`` apart merge, identical to
    analytics.sessionize), emit every LEADING session whose end the
    watermark has passed (closure is monotone in session order), and return

        (emitted_rows [(t, order, session_idx, pos)...],
         remaining_buffer [(t, order)...],
         closed_count',
         next_timeout_ms or None)

    A session is closed when NO admissible event (ts >= watermark) can
    extend it: last + gap < wm STRICTLY, because an event exactly gap after
    the last would still merge."""
    buf = sorted(buf + list(new_events))
    sessions: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    for t, o in buf:
        if cur and t - cur[-1][0] > gap:
            sessions.append(cur)
            cur = []
        cur.append((t, o))
    if cur:
        sessions.append(cur)
    n_emit = 0
    while n_emit < len(sessions) and sessions[n_emit][-1][0] + gap < wm:
        n_emit += 1
    rows = [
        (t, o, closed + i + 1, pos)
        for i in range(n_emit)
        for pos, (t, o) in enumerate(sessions[i], 1)
    ]
    rest = sessions[n_emit:]
    rest_buf = [(t, o) for s in rest for t, o in s]
    # Timer at the earliest open session's close boundary (last + gap):
    # Spark fires EventTimeTimeout when the watermark STRICTLY exceeds the
    # timestamp, i.e. at the first wm with wm > last + gap — exactly the
    # closure rule above.  last+gap+1 here would leave a 1ms boundary where
    # a terminating run's final watermark equals last+gap+1: closed by the
    # rule, never flushed by timer.  wm+1 floor only because Spark rejects
    # timeouts at or below the current watermark (then rest[0] closes at
    # the very next watermark advance — still exact).
    timeout = max(rest[0][-1][0] + gap, wm + 1) if rest else None
    return rows, rest_buf, closed + n_emit, timeout


def sessionize_streaming(
    stream: KStream,
    order_col: str,
    gap_ms: int,
    key_type: str = "bigint",
    order_type: str = "bigint",
    evict_closed: bool = False,
) -> KStream:
    """TRUE streaming event-level sessionization — the stateful-processor
    realization of analytics.sessionize (which Spark cannot express natively:
    session WINDOW aggregation exists, per-event session ids do not).  Built
    on ``applyInPandasWithState`` with EventTimeTimeout, the same
    escape-hatch surface as stateful_map (the reference's low-level
    Processor API + state store analog).

    Per-user state = the OPEN sessions' (t_ms, order) pairs plus a count of
    sessions already closed (so session_idx numbering continues across
    emissions).  Each invocation merges new events, splits the buffer on the
    gap rule (inclusive merge at exactly ``gap_ms``, identical to
    analytics.sessionize), and emits — exactly once, append mode — every
    leading session whose end (last event + gap) the watermark has passed:
    closure is monotone in session order, so the closed prefix is always
    emission-safe.  A timer at the earliest open session's end guarantees
    eviction even for users who go silent.

    Scale: OPEN-session events leave state the moment their session closes,
    so per-user state is bounded by one gap horizon of events plus — for
    users with no open session — a constant-size counter row that preserves
    session_idx continuity (exact batch parity).  For unbounded-user-churn
    deployments pass ``evict_closed=True``: the counter row is removed too
    (state fully bounded by ACTIVE users), at the documented cost that a
    user returning after eviction restarts numbering at 1 — the same
    trade-off as a windowed store's retention expiring old windows.  The
    emitted rows carry (user, order, t_ms, session_idx 1-based, pos 1-based)
    exactly like the batch operator, pinned by
    test_sessionize_streaming_parity (emitted == batch sessionize restricted
    to watermark-closed sessions)."""
    from .runtime import epoch_ms

    if not stream.df.isStreaming:
        raise ValueError("sessionize_streaming requires a streaming KStream; use analytics.sessionize in batch")
    if len(stream.key) != 1 or stream.ts is None:
        raise ValueError("sessionize_streaming requires a single key column and a ts column")
    if not _has_watermark(stream.df):
        raise ValueError(
            "sessionize_streaming requires an event-time watermark (session closure "
            "and the eviction timers are watermark-driven) — call "
            "with_watermark(...) on the stream first"
        )
    user = stream.key[0]
    df = stream.df.select(
        F.col(user),
        F.col(stream.ts),
        F.col(order_col).alias("__o"),
        epoch_ms(F.col(stream.ts)).alias("__t_ms"),
    )
    gap = int(gap_ms)
    out_schema = (
        f"{user} {key_type}, {order_col} {order_type}, t_ms bigint, "
        "session_idx bigint, pos bigint"
    )
    state_schema = "tss array<bigint>, orders array<bigint>, closed bigint"

    def fn(key, pdfs, state):
        import pandas as pd  # noqa: PLC0415 - worker-side import

        if state.exists:
            tss, orders, closed = state.get
            buf = list(zip((int(t) for t in tss), (int(o) for o in orders)))
        else:
            buf, closed = [], 0
        new = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                new.extend(
                    zip((int(t) for t in pdf["__t_ms"]), (int(o) for o in pdf["__o"]))
                )
        rows, rest_buf, closed, timeout = _sessionize_step(
            buf, closed, new, state.getCurrentWatermarkMs(), gap
        )
        if rest_buf:
            state.update(([t for t, _ in rest_buf], [o for _, o in rest_buf], closed))
            state.setTimeoutTimestamp(timeout)
        elif evict_closed:
            # fully evict idle users (numbering restarts if they return)
            if state.exists:
                state.remove()
        else:
            # keep only the constant-size counter row: session_idx stays
            # continuous for returning users (exact batch parity)
            state.update(([], [], closed))
        if rows:
            yield pd.DataFrame(
                [(key[0], o, t, idx, pos) for (t, o, idx, pos) in rows],
                columns=[user, order_col, "t_ms", "session_idx", "pos"],
            )

    out = df.groupBy(user).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "EventTimeTimeout"
    )
    return KStream(out, (user,), None)


def join_windowed_eager(
    left: KStream,
    right: KStream,
    window,
    how: str = "inner",
    ts_alias: str = "ts",
    state_dir: str | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming KStream⋈KStream windowed join with the reference's EAGER
    emission timing (KStreamKStreamJoinProcessor.cs:51-66, pre-KIP-633
    Kafka Streams): an unmatched left/full-outer record emits its
    null-padded row the moment it processes, and a match arriving later
    emits the joined row IN ADDITION (the "spurious outer result" KIP-633
    later made suppressible).  Spark's native stream-stream join emits
    unmatched rows only after the watermark passes the window close — the
    correct modern semantics, used by the production path
    (dsl.KStream.join on watermarked streams); THIS loop exists for
    reference-exact conformance and for callers that want KS 2.x timing.

    Realization: one availableNow query over the tagged union of both
    sides; per microbatch the batch-join DELTA —
    ``join(all_l, all_r) exceptAll join(old_l, old_r)`` over the
    accumulated row buffers, reusing the batch ``KStream.join`` operator
    verbatim (identical schema and null-padding rules) — is exactly the
    eager emission set at microbatch granularity: new matches plus new
    unmatched-side rows, never retractions.  Buffers are ping-pong parquet
    generations (the _GEN applied-batch contract: crash-replays skip, a
    populated state_dir without its checkpoint is refused); emissions are
    idempotent per-batch overwrites.  Per batch this recomputes a join of
    the buffered windows — conformance-harness scale by design; the
    production path is the native interval join."""
    if not (left.df.isStreaming and right.df.isStreaming):
        raise ValueError("join_windowed_eager requires streaming inputs; use KStream.join in batch")
    if how not in ("inner", "left", "full"):
        raise ValueError("eager windowed join supports inner|left|full")
    l_cols, r_cols = list(left.df.columns), list(right.df.columns)
    root = state_dir or tempfile.mkdtemp(prefix="pse-ssjoin-")
    out_dir = os.path.join(root, "out")
    tagged = left.df.select(
        F.lit(1).alias("__side"),
        *l_cols,
        *[F.lit(None).cast(right.df.schema[c].dataType).alias(f"__r_{c}") for c in r_cols],
    ).unionByName(
        right.df.select(
            F.lit(0).alias("__side"),
            *[F.lit(None).cast(left.df.schema[c].dataType).alias(c) for c in l_cols],
            *[F.col(c).alias(f"__r_{c}") for c in r_cols],
        )
    )

    def _join(ldf: DataFrame, rdf: DataFrame) -> DataFrame:
        return KStream(ldf, left.key, left.ts).join(
            KStream(rdf, right.key, right.ts), window, how=how, ts_alias=ts_alias
        ).df

    def _fold(batch: DataFrame, batch_id: int, cur: int, nxt: int) -> None:
        spark = batch.sparkSession
        sides = {}
        for tag, pred, cols in (
            ("l", F.col("__side") == 1, l_cols),
            ("r", F.col("__side") == 0, [f"__r_{c}" for c in r_cols]),
        ):
            new = batch.filter(pred).select(
                *[F.col(c).alias(c.removeprefix("__r_")) for c in cols]
            )
            prev_path = os.path.join(root, f"{tag}-{cur}")
            old = (
                spark.read.parquet(prev_path)
                if os.path.exists(prev_path)
                else spark.createDataFrame([], new.schema)
            )
            allrows = old.unionByName(new).localCheckpoint()
            allrows.write.mode("overwrite").parquet(os.path.join(root, f"{tag}-{nxt}"))
            sides[tag] = (old, allrows)
        old_l, all_l = sides["l"]
        old_r, all_r = sides["r"]
        # eager emission set = what the full eager history would have added
        # this batch: new matches + new unmatched-side paddings, no retraction
        _write_emissions(_join(all_l, all_r).exceptAll(_join(old_l, old_r)), out_dir, batch_id)

    prior_batch, _ = _exact_drain(tagged, root, checkpoint, "eager-join", _fold)
    spark = left.df.sparkSession
    empty = _join(
        spark.createDataFrame([], left.df.schema), spark.createDataFrame([], right.df.schema)
    )
    if not _has_emissions(out_dir):
        return empty
    return _read_log(spark, out_dir, _ddl(empty), since=prior_batch).drop("sink_batch")


def _asof_tws_refusal(stream: KStream, table, matched_ts: str) -> str | None:
    """Why the tws as-of engine cannot run this join, judged from the
    schemas alone (None when it can): timestamp ts on both sides, equal key
    arity and dtypes, no reserved column names, no container-typed key or
    ts.  The one copy of the engine's schema guards — engine=None
    auto-selection picks ``'exact'`` on a refusal, and
    ``tws.join_table_asof_tws`` raises it."""
    what = "tws as-of engine"
    t_ts = getattr(table, "ts", None)
    if stream.ts is None or t_ts is None:
        return "as-of join requires ts on both sides"
    if len(stream.key) != len(table.key):
        return "join key arity mismatch"
    s_ts, t_ts_type = dict(stream.df.dtypes).get(stream.ts), dict(table.df.dtypes).get(t_ts)
    if s_ts != "timestamp" or t_ts_type != "timestamp":
        return (
            f"the {what} requires timestamp ts columns on both sides "
            f"({stream.ts}:{s_ts}, {t_ts}:{t_ts_type}) — use engine='exact'"
        )
    reserved = {
        "sink_batch": "emission-log partition column",
        "__side": "history/stream union tag",
        "__sts": "stream event-time projection",
        "__hts": "version event-time projection",
        **{f"__jk{i}": "join-key grouping column" for i in range(len(stream.key))},
    }
    return (
        _reserved_refusal([*stream.df.columns, *table.df.columns, matched_ts], reserved, what)
        or _hard_container_refusal(
            what,
            (stream.df.schema, [*stream.key, stream.ts]),
            (table.df.schema, [*table.key, t_ts]),
        )
        or _dtype_refusal(what, stream.df.schema, table.df.schema, zip(stream.key, table.key))
    )


def join_table_asof_streaming(
    stream: KStream,
    table,
    how: str = "inner",
    tolerance_ms: int | None = None,
    matched_ts: str = "matched_ts",
    out_dir: str | None = None,
    checkpoint: str | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Streaming realization of ``KStream.join_table_asof``: each microbatch
    of stream records performs the identical event-time as-of lookup into the
    static versioned history — the reference's per-record ValueGetter read
    (KStreamKTableJoinProcessor.cs:38-43) at microbatch granularity, with
    versioned (KIP-914-style) rather than processing-time semantics, so the
    result is INDEPENDENT of how records land in microbatches (append-only
    output; the parity test splits the stream across batches and compares to
    the one-shot batch join).

    Scale: per microbatch the as-of union+window pass shuffles (batch ∪
    history) by key — bounded by history size, not stream length; prune the
    history first with ``VersionedKTable.retain`` (the historyRetention
    analog).  Drains with availableNow and returns the accumulated result.

    Exactly-once: each microbatch OVERWRITES its own ``sink_batch=<id>``
    partition (a crash-replayed batch rewrites itself instead of appending
    duplicates), and the out dir is bound to its checkpoint like every other
    state loop — a fresh or foreign checkpoint would renumber batch ids over
    stale partitions.
    """
    if not stream.df.isStreaming:
        raise ValueError("join_table_asof_streaming requires a streaming stream side")
    if engine is None:
        # same precedence as _select_engine: resume with the engine that
        # wrote the dir; otherwise tws when it can run (a call the tws schema
        # guard refuses falls back to exact, which has no such constraints)
        from .protoshim import ensure_protobuf  # noqa: PLC0415

        engine = {"asof": "tws", "exact-asof": "exact"}.get(_dir_owner(out_dir)) or (
            "tws"
            if ensure_protobuf() and _asof_tws_refusal(stream, table, matched_ts) is None
            else "exact"
        )
    _check_engine(engine, "join_table_asof_streaming")
    if engine == "tws":
        from .tws import join_table_asof_tws  # noqa: PLC0415 - optional protobuf dep

        return join_table_asof_tws(
            stream, table, how, tolerance_ms, matched_ts, out_dir, checkpoint
        )
    root = out_dir or tempfile.mkdtemp(prefix="pse-asof-")
    populated = _claim_dir(root, "join_table_asof_streaming", "exact-asof") is not None
    ckpt = _bind_state_checkpoint(
        root, _checkpoint(checkpoint), populated, "prior as-of join output"
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        ks = KStream(batch, stream.key, stream.ts)
        out = ks.join_table_asof(
            table, how=how, tolerance_ms=tolerance_ms, matched_ts=matched_ts
        )
        out.df.write.mode("overwrite").parquet(os.path.join(root, f"sink_batch={batch_id}"))

    _drive(stream.df, ckpt, _apply)
    spark = stream.df.sparkSession
    if not _has_emissions(root):
        # no microbatch fired (empty stream): schema-correct empty result
        empty = KStream(
            spark.createDataFrame([], stream.df.schema), stream.key, stream.ts
        )
        return empty.join_table_asof(
            table, how=how, tolerance_ms=tolerance_ms, matched_ts=matched_ts
        ).df
    return spark.read.parquet(root).drop("sink_batch")


def cogroup_streaming(
    cogrouped,
    fill: dict[str, object] | None = None,
    state_dir: str | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming realization of KIP-150 cogroup (the successor API of the
    reference's KGroupedStream surface; batch twin = CogroupedKStream
    .aggregate, dsl.py).  Each participating grouped stream runs as its OWN
    native Structured Streaming aggregation in update mode — Spark maintains
    the running aggregate state, so ANY aggregate expression that streaming
    supports works unchanged (count/sum/avg/collect/max_by...), no hand-
    written merge functions.  Each microbatch emits the changed keys' new
    aggregate rows; a foreachBatch upsert (the join_tables_streaming
    ping-pong-generation pattern) materializes each side's latest-per-key
    table, and after the sides drain the per-stream tables are stitched by
    the SAME dsl.stitch_cogrouped full-outer/coalesce/fill code the batch
    path uses — so streaming replay == batch cogroup by construction
    (pinned by tests/test_streaming.py::test_cogroup_streaming_parity).

    Scale: per side, state = one row per key (Spark's streaming agg store);
    the upsert rewrite is bounded by key cardinality, never stream length;
    stitch joins reuse the aggregation partitioning.  Drains each side with
    an availableNow trigger and returns the stitched snapshot."""
    parts = getattr(cogrouped, "_parts", None)
    if parts is None:
        parts = list(cogrouped)
    if not parts:
        raise ValueError("cogroup requires at least one grouped stream")
    key = tuple(parts[0][0].key)
    # same contract the batch CogroupedKStream builder enforces: without it,
    # duplicate aggregate names or a key-arity mismatch would silently
    # misalign the stitch joins instead of failing fast
    seen: set[str] = set()
    for grouped, aggs in parts:
        if not aggs:
            raise ValueError("cogroup requires at least one named aggregate expression")
        if len(grouped.key) != len(key):
            raise ValueError(
                "all cogrouped streams must share the key arity; re-key with group_by first"
            )
        dup = seen.intersection(aggs)
        if dup:
            raise ValueError(f"duplicate aggregate column name(s): {sorted(dup)}")
        seen.update(aggs)
    root = state_dir or tempfile.mkdtemp(prefix="pse-cogroup-")
    tables = []
    for i, (grouped, aggs) in enumerate(parts):
        df = grouped.stream.df
        if not df.isStreaming:
            raise ValueError(
                "cogroup_streaming requires streaming inputs; use CogroupedKStream.aggregate in batch"
            )
        agg_df = df.groupBy(*grouped.key).agg(*[v.alias(k) for k, v in aggs.items()])
        side_root, kcols = os.path.join(root, f"side-{i}"), tuple(grouped.key)

        def _fold(batch: DataFrame, batch_id: int, cur: int, nxt: int) -> None:
            spark = batch.sparkSession
            # batch_id + 1 outranks every __gen already in the snapshot: the
            # earlier batches' ids and the generation counts older runs wrote
            rows = batch.withColumn("__gen", F.lit(batch_id + 1).cast("long"))
            prev = os.path.join(side_root, f"g-{cur}")
            if os.path.exists(prev):
                rows = spark.read.parquet(prev).unionByName(rows)
            latest = KStream(rows, kcols, None).to_table(order=("__gen",)).df
            latest.write.mode("overwrite").parquet(os.path.join(side_root, f"g-{nxt}"))

        side_ckpt = None if checkpoint is None else os.path.join(checkpoint, f"side-{i}")
        _, gen = _exact_drain(agg_df, side_root, side_ckpt, "cogroup-state", _fold, "update")
        final = os.path.join(side_root, f"g-{gen % 2}")
        if gen > 0 and os.path.exists(final):
            t = df.sparkSession.read.parquet(final).drop("__gen")
        else:  # side never fired: schema-correct empty aggregate table
            t = df.sparkSession.createDataFrame([], agg_df.schema)
        tables.append((t, kcols))
    from .dsl import stitch_cogrouped

    return stitch_cogrouped(tables, key, fill)
