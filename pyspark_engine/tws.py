"""transformWithState (arbitrary-state-v2) engines for the continuous
table operators — the per-key engines behind ``engine='tws'`` in
``streaming.py`` (the other engine, ``'exact'``, is the parquet snapshot
loop that doubles as their differential oracle): the tt join
(``join_tables_tws``), the fk join (``join_fk_tws``, two chained stages),
suppress (``suppress_tws``) and the versioned as-of join
(``join_table_asof_tws``).

Shared architecture: the changelogs are tagged and unioned into one
``transformWithState`` grouped by the state key; per-key state lives in
Spark's RocksDB store, which checkpoints per-batch deltas; each key whose
state changed appends its emission to an ``out/sink_batch=<id>`` partition
(overwritten on crash-replay — exactly-once); the tt and fk joins return
the latest-per-key fold of that emission log.  Per-microbatch I/O is
therefore O(changed keys), never O(table).  Each engine function keeps only
its processor, its input union and its output fold; the rest is one code
path:

* ``_open_state_dir`` — refuse a dir another engine wrote
  (``streaming._claim_dir``), create the state dir, heal an interrupted
  compaction, bind each emission log to its checkpoint, stamp the engine's
  version marker (``streaming._TWS_MARKERS``; ``streaming._dir_owner``
  reads it for resume and for ``streaming.compact_emission_log``) and,
  except for the as-of join, compact the log at the autocompaction cadence;
* ``_drain`` — drive the processor's RESIDENT query (below) until the
  input available at the call is committed, with one foreachBatch sink
  publishing each micro-batch through ``streaming._write_emissions``;
* ``streaming._read_log`` / ``_snapshot`` — the emission log read with its
  known schema up to the call's last committed batch, and the tt/fk
  latest-per-key fold (``streaming._fold_emission_log``, shared with
  compaction).  The emission-log writer and reader are shared with the
  exact loops that log per batch (suppress, the eager windowed join);
* processor side: ``_codec`` (state-cell load/store), ``_order_of`` (the
  changelog order tuple and its null-order refusal) and ``_norm``.

Each micro-batch runs its stateful plan ONCE.  The foreachBatch DataFrame
is a plain batch DataFrame over the stateful plan, and every action on it
recomputes that plan — transformWithState, the Python state workers and
the RocksDB commit.  So the sink hands its batch to ``_write_emissions``
(``streaming.py``), which writes the partition and counts its rows in the
same action (an observed metric) and publishes the partition only when the
count is not 0; the sink never probes the batch with a second action
(``tests/test_tws.py`` guards this).  The processors ship BY VALUE, with
the module helpers they call: unpickling one imports only pyspark and
the standard library, not this package or pandas, so neither the
query's pre-init worker nor the executor state workers import the
engine — which is why the processor-side helpers live here and not in
``streaming.py``.

Resident queries.  Starting a transformWithState query costs about a
second before its first batch: the query's pre-init Python worker imports
pyspark from Spark's ``pyspark.zip`` (a zip import caches no bytecode),
and each run reloads its RocksDB stores.  So a drain's query outlives the
call (``_drain``): one query per session and checkpoint, started with the
default trigger on the first call; a later call with the same plan only
waits in ``processAllAvailable`` until every input available at the call
is committed, and a changed plan stops it and starts a new run on the
same checkpoint.  Between calls the query processes new input in the
background and polls its sources every 100 ms while idle (Spark's 10 ms
default kept about half a JVM core busy).  It stops when a drain opens
another state dir (at most one dir's queries run; the fk join's two stages
share theirs), before compaction rewrites the dir's log, when it fails
(a failure between calls is raised by the next call on its dir; the call
after starts a new run) and with the session; ``stop_resident`` stops a
dir's queries on demand.  Every result a call returns is pinned to the
batches committed when it returned (``sink_batch <= upto``), so a
background batch cannot change it.  The suppress emissions a call returns
are the batches after the dir's durable delivery cursor
(``streaming._delivered_cursor``) — including those committed in the
background since the previous call, in this process or an earlier one —
and suppress compaction prunes no batch past that cursor.  The fk join's
stage A publishes its ``sub/`` partitions only when its drain returns, so
the resident stage B takes a call's subscription delta in one batch.

* **Native types.**  ``transformWithState`` hands the processor
  ``pyspark.sql.Row`` objects, where a nullable int64 column stays a Python
  ``int`` even beside union null-padding or real nulls, and typed value
  state round-trips int64/decimal/timestamp exactly (pinned by
  ``tests/test_tws.py`` and the suppress type matrix).
* **NaN is preserved.**  Rows and value state keep float NaN as NaN, so
  these engines agree with the ``exact`` loops.
* **Timers** (suppress): per-key event-time timers survive across
  invocations and are deleted/re-registered explicitly.

Known constraint (upstream): PySpark's value-state client cannot round
-trip NESTED CONTAINER fields (an ``array<struct<...>>`` value state
either comes back with field values scrambled or — under the shim runtime
on 4.1.2 — kills the worker with a cloudpickle "cannot pickle 'generator'
object" during the update).  Container-typed user VALUE columns therefore
ride the state as pickled ``binary`` (``_enc_c``/``_dec_c`` — bytes round
-trip exactly), decoded back to native Python form before every emission,
so input rows, the emission-log parquet, and the returned snapshots all
keep NATIVE container types; only the opaque state cell is encoded.
Container KEY / ORDER / FK columns stay refused
(``streaming._hard_container_refusal`` — grouping and order comparisons
need scalars; engine='exact' covers those).  The minimal upstream repro is
pinned as a STRICT xfail in ``tests/test_tws.py::
test_upstream_nested_container_value_state_roundtrip`` — when a Spark
upgrade makes it XPASS, the tunnel can be retired for native state.  The
fk-join subscriber list — the one engine-internal container — lives in
LIST state (struct elements round-trip exactly there).

Requires ``google.protobuf``: either the real wheel or the vendored
clean-room shim (``pyspark_engine.protoshim.ensure_protobuf`` wires the
shim into driver and workers; every public entry here calls it first).
Reference semantics: KTableKTableJoinProcessor.cs:20-48 (tt join),
KIP-213 subscription/response architecture (fk join),
KTableSuppressProcessor.cs / suppress-buffer due rule (suppress),
KStreamKTableJoinProcessor.cs:38-43 with KIP-914 versioned lookups (as-of).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Sequence

from pyspark import cloudpickle
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from .dsl import KStream, KTable, _not_null
from .protoshim import ensure_protobuf
from .streaming import (
    _TWS_MARKERS,
    _asof_tws_refusal,
    _bind_state_checkpoint,
    _changelog_orders,
    _check_no_pending_compaction,
    _checkpoint,
    _check_reserved_columns,
    _claim_dir,
    _container_cols,
    _delivered_cursor,
    _dtype_refusal,
    _fold_emission_log,
    _hard_container_refusal,
    _has_emissions,
    _last_committed,
    _maybe_autocompact,
    _read_bind,
    _read_emissions,
    _read_log,
    _sink_partitions,
    _store_delivered,
    _write_emissions,
)

_TWS_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

# The processors below pickle BY VALUE, together with the module helpers
# they call (_norm, _codec, _order_of, _enc_c, _dec_c): by reference,
# unpickling one would import this module, and with it the whole package
# plus pandas, in the driver's pre-init worker and in every executor state
# worker.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def require_tws(spark) -> None:
    """Raise descriptively when transformWithState cannot run here."""
    if not ensure_protobuf(spark):
        raise RuntimeError(
            "engine='tws' needs google.protobuf (transformWithState state "
            "client); neither the protobuf wheel nor the vendored shim "
            "(vendor/google/protobuf) is importable — use engine='exact'"
        )


# The session confs a tws query starts under.  A streaming query keeps the
# confs it started with, so they are scoped to the start (``_drain_confs``)
# and concurrent or later queries in the session — e.g. a ``stateful_map``
# checkpoint on the default HDFS provider — keep their own.
_DRAIN_CONFS = {
    # transformWithState requires the RocksDB state-store provider (the only
    # one with multi-column-family support)
    "spark.sql.streaming.stateStore.providerClass": _TWS_PROVIDER,
    # ``_norm``'s contract: tz-aware input rows normalize to UTC-naive and
    # the value-state round-trip reinterprets naive datetimes in the SESSION
    # tz, so on a non-UTC session order comparisons and emitted timestamps
    # would skew by the zone offset
    "spark.sql.session.timeZone": "UTC",
    # how often a resident query polls its sources while idle between
    # calls; Spark's 10 ms default keeps an idle query on about half a JVM
    # core
    "spark.sql.streaming.pollingDelay": "100ms",
}


@contextmanager
def _drain_confs(spark):
    """Set ``_DRAIN_CONFS`` on the session for the block and restore the
    caller's values on exit (scoping rather than raising keeps foreign
    sessions working)."""
    prev = {}
    # every set INSIDE the protected region: an exception between them must
    # still restore whatever was already flipped
    try:
        for key, value in _DRAIN_CONFS.items():
            try:
                prev[key] = spark.conf.get(key)
            except Exception:
                prev[key] = None
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _refuse(refusal: str | None) -> None:
    if refusal:
        raise ValueError(refusal)


def _enc_c(v):
    """Encode one container VALUE for the state round-trip.  Upstream
    PySpark 4.1.2 cannot round-trip nested containers through VALUE state
    (tests/test_tws.py::test_upstream_nested_container_value_state_roundtrip,
    strict xfail), so container-typed user value columns ride the state as
    pickled ``binary`` — bytes round-trip exactly — and are decoded back to
    their native Python form before every emission.
    Input rows and emitted rows stay NATIVE containers end to end; only the
    state cell is opaque."""
    import pickle  # noqa: PLC0415

    return None if v is None else pickle.dumps(v)


def _dec_c(v):
    import pickle  # noqa: PLC0415

    return None if v is None else pickle.loads(bytes(v))


def _codec(cols, tun):
    """(load, store) for the state cells of ``cols``: container columns in
    ``tun`` ride the state as pickled binary (_enc_c/_dec_c); the rest load
    through _norm and store as they are."""

    def load(vals):
        return [_dec_c(x) if c in tun else _norm(x) for c, x in zip(cols, vals)]

    def store(vals):
        return [_enc_c(v) if c in tun else v for c, v in zip(cols, vals)]

    return load, store


def _stamp_version(root: str, marker: str, version: str, populated: bool, what: str) -> None:
    """Version gate for a tws state dir the engine owns (``_open_state_dir``
    refused other owners): refuse a populated dir stamped with a different
    version, and stamp a fresh one."""
    ver_path = os.path.join(root, marker)
    ver = _read_bind(ver_path)
    if populated and ver != version:
        raise ValueError(
            f"state dir {root!r} holds {what} state with version "
            f"{ver or 'unknown'}, but this engine writes version {version} — "
            "drain the old run with the code that wrote it, or start a fresh state_dir"
        )
    if ver is None:
        with open(ver_path + ".tmp", "w") as f:
            f.write(version)
        os.replace(ver_path + ".tmp", ver_path)


def _publish_staged(log_dir: str, upto: int) -> None:
    """Rename the partitions that ``_write_emissions(publish=False)`` staged
    for the batches up to ``upto`` into place, oldest first."""
    for k, stage in sorted(_sink_partitions(log_dir, staged=True).items()):
        if k <= upto:
            part = os.path.join(log_dir, f"sink_batch={k}")
            if os.path.isdir(part):
                shutil.rmtree(part)
            os.rename(stage, part)


@dataclass
class _Resident:
    """The resident query of one checkpoint: the session and plan it runs
    (``sig`` plus the input DataFrame) and the state dir it writes; or, once
    it failed outside a call, the ``error`` the next call on the checkpoint
    raises."""

    spark: object
    root: str
    sig: tuple
    df: DataFrame | None
    query: object | None
    error: Exception | None = None


# checkpoint path -> its resident query
_RESIDENT: dict[str, _Resident] = {}


def _stop_where(pred) -> None:
    """Stop every running resident query whose entry matches ``pred`` and
    drop its entry.  A query first finishes the input it has: a new run
    would not run the no-data batch (due suppress timers) that a committed
    batch still owes.  A query that failed — in the background, or while
    finishing — keeps its entry with the error, which the next call on its
    checkpoint raises; the call after that starts a new run."""
    from pyspark.errors import StreamingQueryException  # noqa: PLC0415

    for key, res in list(_RESIDENT.items()):
        if res.error is None and pred(res):
            try:
                res.query.processAllAvailable()
            except StreamingQueryException as e:
                res.error = e
            res.query.stop()
            if res.error is None:
                del _RESIDENT[key]
            else:
                res.query = res.df = None


def stop_resident(state_dir: str) -> None:
    """Stop the resident tws queries of ``state_dir``.  The next call on
    the dir starts a new run on the same checkpoint.  The drains stop
    queries themselves (see ``_drain``); a caller needs this only to
    release a dir's queries early."""
    root = os.path.abspath(state_dir)
    _stop_where(lambda res: res.root == root)


def _open_state_dir(spark, kind, state_dir, checkpoint, what, logs=(("out", None),), key=()):
    """Open a tws state dir for one drain; returns (root, one checkpoint per
    log).  A dir that another engine (or another tws kind) wrote is refused
    first (``_claim_dir``).  Opening a dir stops the resident queries of
    every other dir, so at most one dir's queries run.  Then every engine
    opens its dir in the same order: heal an interrupted compaction, bind
    each emission log to its checkpoint, gate the engine version (``kind``
    names its marker in ``_TWS_MARKERS``), then compact at the
    autocompaction cadence on the fold ``key`` — except for the as-of join,
    since compaction has no as-of log kind.  ``logs`` = (log dir under the
    root, checkpoint sub-dir); a None sub-dir binds the root itself to the
    checkpoint (the fk join binds each of its two logs to its own
    sub-dir)."""
    root = os.path.abspath(state_dir or tempfile.mkdtemp(prefix=f"pse-{kind}-tws-"))
    _claim_dir(root, what, kind)
    _stop_where(lambda res: res.root != root)
    os.makedirs(root, exist_ok=True)
    _check_no_pending_compaction(root)
    base = _checkpoint(checkpoint)
    ckpts, populated = [], False
    for log, sub in logs:
        log_dir = os.path.join(root, log)
        emitted = _has_emissions(log_dir)
        bind_root, ckpt = (root, base) if sub is None else (log_dir, os.path.join(base, sub))
        ckpts.append(_bind_state_checkpoint(bind_root, ckpt, emitted, f"{what} {log}/ log"))
        populated = populated or emitted or _last_committed(ckpt) >= 0
    marker, version = _TWS_MARKERS[kind]
    _stamp_version(root, marker, version, populated, what)
    if kind != "asof":
        _maybe_autocompact(spark, root, base, kind, key=key)
    return root, ckpts


def _drain(
    df, keys, make, args, out_schema, time_mode, ckpt, log_dir,
    select=None, watermark=None, publish=True,
):
    """Drive the processor ``make(*args)`` over ``df`` grouped by ``keys``
    on ``ckpt`` until every input available at the call is processed and
    committed; each micro-batch's emissions — projected by
    ``select(batch_id)`` when given — land in ``<log_dir>/sink_batch=<id>``
    through _write_emissions (with its ``publish``), the one action a
    micro-batch takes.  ``watermark`` = (column, delay) is applied here,
    after the plan comparison below: each ``withWatermark`` node carries a
    fresh id, so two equal plans with watermarks never compare equal.

    The query is RESIDENT: one per session and checkpoint.  The first call
    starts it with the default trigger; a later call with the same input
    plan (``sameSemantics``), grouping keys, output schema, time mode,
    processor parameters and checkpoint bind token (a checkpoint deleted
    and bound again is a new one) reuses the running query, which keeps its
    pre-initialized state workers and loaded RocksDB stores.  Any other
    call stops it and starts a new run on the same checkpoint.  Either way
    the call waits in ``processAllAvailable`` twice: a wait ends at the
    first trigger that finds no new input, and the trigger running when the
    call begins may have listed the sources before the call's input landed;
    the trigger that ends the second wait started after the first ended.
    Between calls the query polls its sources every 100 ms and processes
    new input in the background.  The queries of a dir stop when a drain
    opens another dir (``_open_state_dir``), before a compaction rewrites
    the log (``compact_emission_log``) and with the session.  A query that
    fails during a call is stopped and the call raises; one that failed
    between calls makes the next call on the checkpoint raise its error.
    Either way the call after starts a new run.

    Returns ``upto``, the last batch committed when the call returns.
    Readers that filter on it are pinned to this call: batches that later
    input triggers cannot change them."""
    spark = df.sparkSession
    key = os.path.abspath(ckpt)
    bind = _read_bind(os.path.join(ckpt, "_PSE_BIND"))
    sig = (tuple(keys), out_schema, time_mode, log_dir, make.__name__, repr(args), watermark, bind)
    res = _RESIDENT.get(key)
    if res is not None and res.error is None and not (
        res.spark is spark
        and res.sig == sig
        and res.query.isActive
        and df.sameSemantics(res.df)
    ):
        _stop_where(lambda r: r is res)
    res = _RESIDENT.get(key)
    if res is not None and res.error is not None:
        del _RESIDENT[key]
        raise res.error
    if res is None:

        def _sink(batch: DataFrame, batch_id: int) -> None:
            if select is not None:
                batch = batch.select(*select(batch_id))
            _write_emissions(batch, log_dir, batch_id, publish)

        src = df if watermark is None else df.withWatermark(*watermark)
        proc = make(*args)
        with _drain_confs(spark):
            out = src.groupBy(*keys).transformWithState(proc, out_schema, "Update", time_mode)
            q = out.writeStream.foreachBatch(_sink).option("checkpointLocation", ckpt).start()
        res = _RESIDENT[key] = _Resident(spark, os.path.dirname(log_dir), sig, df, q)
    try:
        res.query.processAllAvailable()
        res.query.processAllAvailable()
    except Exception:
        del _RESIDENT[key]
        res.query.stop()
        raise
    return _last_committed(ckpt)


def _snapshot(spark, log_dir, schema, upto, key, kind, empty_out, store_name):
    """The tt/fk join's returned table: the latest-per-key fold of its
    emission log up to batch ``upto`` (fk keys whose last op is D are gone),
    cast to the batch join's schema and registered under ``store_name``;
    ``empty_out`` when no batch ever emitted."""
    if not _has_emissions(log_dir):
        return empty_out
    snap = _fold_emission_log(_read_log(spark, log_dir, schema, upto), key, kind)
    if kind == "fk":
        snap = snap.filter(F.col("op") == "U")
    snap = snap.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in empty_out.schema.fields]
    )
    if store_name is not None:
        snap.createOrReplaceTempView(store_name)
    return snap


def _norm(v):
    """Normalize a Row/state value to a timezone-naive, plain-Python form
    for ORDER comparisons and state tuples: tz-aware datetimes → UTC-naive
    (input rows arrive session-tz-aware, value state returns naive — the
    engines pin the session tz to UTC).  NaN is NOT coerced (Rows keep it,
    matching the exact loops)."""
    import datetime as dt

    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _order_of(order, key, key_pos, lookup, what):
    """The changelog order tuple of one row: each order column comes from
    the grouping ``key`` (at ``key_pos[c]``) or from ``lookup(c)``.  A null
    order value is refused — the latest-per-key fold needs a total order."""
    vals = []
    for c in order:
        v = _norm(key[key_pos[c]]) if c in key_pos else _norm(lookup(c))
        if v is None:
            raise ValueError(
                f"null order value in the tws {what} engine — the fold needs a "
                "total order per key; use engine='exact'"
            )
        vals.append(v)
    return tuple(vals)


# ------------------------------------------------------------------ tt join


def _import_stateful_processor():
    from pyspark.sql.streaming import StatefulProcessor

    return StatefulProcessor


def _make_tt_processor(
    state_schema,
    l_val,
    r_val,
    lord,
    rord,
    l_key_pos,
    r_key_pos,
    how,
    out_cols,
    merge_ts,
    l_ts_name,
    r_ts_name,
    ts_alias,
    tun=frozenset(),
):
    """Build the tt-join StatefulProcessor (factory so the class body closes
    over plain params — the instance cloudpickles to the workers).  ``tun``
    = container value columns riding the state as pickled binary (_enc_c):
    in-memory and emitted values stay native; only the state cell is
    encoded."""
    StatefulProcessor = _import_stateful_processor()
    n_l, n_r = len(l_val), len(r_val)
    l_idx = {c: i for i, c in enumerate(l_val)}
    r_idx = {c: i for i, c in enumerate(r_val)}
    out_row = Row(*out_cols)
    l_load, l_store = _codec(l_val, tun)
    r_load, r_store = _codec(r_val, tun)

    class TTJoin(StatefulProcessor):
        def init(self, handle):
            self.st = handle.getValueState("join", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            def make_ord(order, key_pos, lookup):
                return _order_of(order, key, key_pos, lookup, "tt-join")

            st = self.st.get()
            if st is not None:
                l_set, r_set = bool(st[0]), bool(st[1])
                l_vals = l_load(st[2 : 2 + n_l])
                r_vals = r_load(st[2 + n_l :])
            else:
                l_set = r_set = False
                l_vals, r_vals = [None] * n_l, [None] * n_r
            l_ord = make_ord(lord, l_key_pos, lambda c: l_vals[l_idx[c]]) if l_set else None
            r_ord = make_ord(rord, r_key_pos, lambda c: r_vals[r_idx[c]]) if r_set else None

            changed = False
            for row in rows:
                if row["__side"] == 1:
                    ov = make_ord(lord, l_key_pos, lambda c: row[c])
                    if (not l_set) or ov >= l_ord:
                        l_vals = [_norm(row[c]) for c in l_val]
                        l_ord, l_set, changed = ov, True, True
                else:
                    ov = make_ord(rord, r_key_pos, lambda c: row[c])
                    if (not r_set) or ov >= r_ord:
                        r_vals = [_norm(row[c]) for c in r_val]
                        r_ord, r_set, changed = ov, True, True
            if not changed:
                return
            self.st.update((l_set, r_set, *l_store(l_vals), *r_store(r_vals)))
            emit = (l_set and r_set) if how == "inner" else (l_set if how == "left" else True)
            if not emit:
                return
            vals = [_norm(k) for k in key]
            vals += [l_vals[l_idx[c]] if l_set else None for c in out_cols if c in l_idx]
            vals += [r_vals[r_idx[c]] if r_set else None for c in out_cols if c in r_idx]
            if merge_ts:
                # output ts = max of the sides (KTableKTableJoinProcessor.cs:35)
                def ts_of(is_set, key_pos, idx, side_vals, name):
                    if not is_set:
                        return None
                    return _norm(key[key_pos[name]]) if name in key_pos else side_vals[idx[name]]

                cands = [
                    t
                    for t in (
                        ts_of(l_set, l_key_pos, l_idx, l_vals, l_ts_name),
                        ts_of(r_set, r_key_pos, r_idx, r_vals, r_ts_name),
                    )
                    if t is not None
                ]
                vals.append(max(cands) if cands else None)
            yield out_row(*vals)

    return TTJoin()


def join_tables_tws(
    left: KStream,
    right: KStream,
    how: str,
    l_order: Sequence[str] | None,
    r_order: Sequence[str] | None,
    ts_alias: str | None,
    store_name: str | None,
    state_dir: str | None,
    checkpoint: str | None,
) -> DataFrame:
    """transformWithState engine of ``join_tables_streaming`` (see its
    docstring for the contract): the two tagged changelogs union into ONE
    ``transformWithState`` grouped by the JOIN KEY, whose per-key value
    state is (latest left row, latest right row) under the declared
    per-side orders — the record-at-a-time state-store shape of the
    reference's KTableKTableJoinProcessor.cs:20-48, at per-microbatch
    emission cadence (SURVEY §7.3.3).  A key whose state changed emits its
    CURRENT joined row to an ``out/sink_batch=<id>`` partition (overwritten
    on crash-replay — exactly-once), so per-microbatch I/O is O(changed
    keys), never O(table).  The returned snapshot is the latest-per-key fold
    of the emission log (a joined row only ever UPDATES — this path has no
    tombstones — so the fold is exact).

    Join-key columns never ride the union null-padded — both sides' keys
    map onto the shared non-null ``__jk*`` grouping columns — and value
    columns keep their NATIVE types in the union and the typed value state.
    No timeout and no watermark: there is no time semantics here, just
    fold-and-emit-on-change, so late data is admitted unconditionally
    (KTable upsert semantics).  Requires non-null order values (raises in
    the processor — loud beats a silently wrong fold) and equal key/ts
    dtypes across sides; use engine='exact' otherwise.  Parity with the
    exact loop is pinned by the engine-differential fuzz."""
    what = "tws tt-join engine"
    spark0 = left.df.sparkSession
    require_tws(spark0)
    overlap = set(left.df.columns) & set(right.df.columns)
    if overlap:
        raise ValueError(f"sides must have disjoint column names; overlap: {sorted(overlap)}")
    l_key, r_key = list(left.key), list(right.key)
    _check_reserved_columns(
        list(left.df.columns) + list(right.df.columns) + ([ts_alias] if ts_alias else []),
        {
            "sink_batch": "emission-log partition column",
            "__side": "changelog union tag",
            **{f"__jk{i}": "join-key grouping column" for i in range(len(l_key))},
        },
        what,
    )
    lord, rord = _changelog_orders(left, right, l_order, r_order)
    l_val = [c for c in left.df.columns if c not in l_key]
    r_val = [c for c in right.df.columns if c not in r_key]
    _refuse(
        _hard_container_refusal(
            what, (left.df.schema, l_key + list(lord)), (right.df.schema, r_key + list(rord))
        )
    )
    # container VALUE columns ride the state as pickled binary (see _enc_c)
    tun = _container_cols(left.df.schema, l_val) | _container_cols(right.df.schema, r_val)
    # ts_alias merging compares the two sides' ts, so their dtypes must match too
    merge_ts = bool(ts_alias is not None and left.ts and right.ts)
    paired = list(zip(l_key, r_key)) + ([(left.ts, right.ts)] if merge_ts else [])
    _refuse(_dtype_refusal(what, left.df.schema, right.df.schema, paired))
    l_ddl = {f.name: f.dataType.simpleString() for f in left.df.schema.fields}
    r_ddl = {f.name: f.dataType.simpleString() for f in right.df.schema.fields}
    out_l_val = [c for c in l_val if not (merge_ts and c == left.ts)]
    out_r_val = [c for c in r_val if not (merge_ts and c == right.ts)]
    empty_out = KTable(spark0.createDataFrame([], left.df.schema), left.key, left.ts).join(
        KTable(spark0.createDataFrame([], right.df.schema), right.key, right.ts),
        how=how,
        ts_alias=ts_alias,
    ).df

    jk = [f"__jk{i}" for i in range(len(l_key))]
    # to_table drops null keys
    l_src, r_src = _not_null(left.df, l_key), _not_null(right.df, r_key)

    def _ddl(c):
        return l_ddl.get(c) or r_ddl[c]

    def _ncol(c):
        return F.lit(None).cast(_ddl(c)).alias(c)

    tagged = l_src.select(
        F.lit(1).alias("__side"),
        *[F.col(k).alias(j) for k, j in zip(l_key, jk)],
        *[F.col(c) for c in l_val],
        *[_ncol(c) for c in r_val],
    ).unionByName(
        r_src.select(
            F.lit(0).alias("__side"),
            *[F.col(k).alias(j) for k, j in zip(r_key, jk)],
            *[_ncol(c) for c in l_val],
            *[F.col(c) for c in r_val],
        )
    )

    state_schema = "__l_set boolean, __r_set boolean" + "".join(
        f", `{c}` {'binary' if c in tun else _ddl(c)}" for c in l_val + r_val
    )
    out_cols = list(l_key) + out_l_val + out_r_val + ([ts_alias] if merge_ts else [])

    def _out_ddl(c):
        if merge_ts and c == ts_alias:
            return l_ddl[left.ts]
        if c in l_key:
            return l_ddl[c]
        return _ddl(c)

    out_schema = ", ".join(f"`{c}` {_out_ddl(c)}" for c in out_cols)
    l_key_pos = {c: i for i, c in enumerate(l_key)}
    r_key_pos = {c: i for i, c in enumerate(r_key)}

    root, (ckpt,) = _open_state_dir(spark0, "tt", state_dir, checkpoint, what, key=l_key)
    out_dir = os.path.join(root, "out")
    args = (
        state_schema,
        l_val,
        r_val,
        lord,
        rord,
        l_key_pos,
        r_key_pos,
        how,
        out_cols,
        merge_ts,
        left.ts if merge_ts else None,
        right.ts if merge_ts else None,
        ts_alias,
        frozenset(tun),
    )
    upto = _drain(tagged, jk, _make_tt_processor, args, out_schema, "None", ckpt, out_dir)
    return _snapshot(spark0, out_dir, out_schema, upto, l_key, "tt", empty_out, store_name)


# ----------------------------------------------------------------- suppress


def _make_suppress_processor(state_schema, cols, key, tcol, limit_ms, out_cols, tun=frozenset()):
    StatefulProcessor = _import_stateful_processor()
    out_row = Row(*out_cols)
    NEG = -(1 << 62)
    _load, _store = _codec(cols, tun)

    class SuppressBuffer(StatefulProcessor):
        def init(self, handle):
            self.h = handle
            self.st = handle.getValueState("buf", state_schema)

        def _rearm(self, entry):
            # TWS timers PERSIST across invocations (unlike GroupState
            # timeouts) — delete-all-then-register keeps exactly one.
            for ts in list(self.h.listTimers()):
                self.h.deleteTimer(ts)
            if entry is not None:
                # entry+limit-1 fires at the first wm >= entry+limit (TWS
                # fires timers with expiry STRICTLY below the watermark) —
                # the KS due rule.  A below-watermark registration is legal
                # (it would fire this very batch), so no wm+1 floor is
                # needed; the inline already-due branches emit before this
                # point and pass entry=None instead.
                self.h.registerTimer(entry + limit_ms - 1)

        def handleInputRows(self, key, rows, timerValues):
            wm = timerValues.getCurrentWatermarkInMs()
            # Spark initializes the watermark at 0 and only ratchets UP, so 0
            # means "no watermark yet"; pre-epoch event times can never
            # advance it (engine='exact' territory — the loud raise below)
            wm_eff = wm if wm > 0 else NEG
            st = self.st.get()
            if st is not None:
                entry, hist_ms = st[0], st[1]
                hist_vals = _load(st[2:])
            else:
                entry, hist_ms, hist_vals = None, None, None
            if entry is not None and entry + limit_ms <= wm_eff:
                # due BEFORE this batch's data (KS emitted it last batch; the
                # arrival pre-empts the timer): emit the pre-merge value,
                # renumbered like a timer firing; cancel the pending timer so
                # it cannot double-fire in this batch's timer phase
                yield out_row(*hist_vals, True)
                entry = None
            had_data = False
            for row in rows:
                if row["__clk"] != 0:  # clock copies only drive the watermark
                    continue
                ev = row["__ev_ms"]
                if ev is None:
                    continue
                if ev <= 0:
                    raise ValueError(
                        "pre-epoch (<= 1970-01-01T00:00:00) event time in the "
                        "tws suppress engine: Spark watermarks cannot advance "
                        "past it, so such entries would never emit — use "
                        "engine='exact'"
                    )
                had_data = True
                if hist_ms is None or ev >= hist_ms:
                    # later-wins on ties, in arrival order — the max_by(ts)
                    # fold of to_table
                    hist_ms = ev
                    hist_vals = [_norm(row[c]) for c in cols]
            if had_data and entry is None:
                # (re-)enter the buffer: clock = the state row's event time
                # (which a late record does NOT move backwards)
                entry = hist_ms
                if entry + limit_ms <= wm_eff:
                    # already due vs the previous batch's stream time: KS
                    # emits it in THIS batch — no renumbering
                    yield out_row(*hist_vals, False)
                    entry = None
            if hist_ms is not None:
                self.st.update((entry, hist_ms, *_store(hist_vals)))
                self._rearm(entry)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            st = self.st.get()
            if st is None or st[0] is None:
                return  # buffer entry already emitted inline and timer raced
            hist_vals = _load(st[2:])
            yield out_row(*hist_vals, True)
            # the buffer entry leaves; the latest-row memory stays (a late
            # record must still lose to it, like the update-mode aggregate)
            self.st.update((None, st[1], *_store(hist_vals)))

    return SuppressBuffer()


def suppress_tws(
    table: KTable,
    src: KStream,
    tcol: str,
    limit_ms: int,
    state_dir: str | None,
    checkpoint: str | None,
    store_name: str | None,
) -> DataFrame:
    """transformWithState engine of ``suppress_buffered`` (see its
    docstring for the contract): per-key buffer state in the checkpoint's
    RocksDB store (the KS changelog-backed InMemoryTimeOrderedKeyValueBuffer
    analog), per-key event-time timers for emission, and the latest-per-key
    fold of ``KStream.to_table`` re-derived INSIDE the processor (a stateful
    operator cannot chain downstream of the update-mode aggregate, so the
    engine consumes the raw changelog).

    State per key = (buffer entry time | null, latest event time, latest
    row); the latest-row half persists after emission so a late record
    cannot resurrect an older value (exactly the update-mode aggregate's
    memory).  Timers fire when the watermark STRICTLY exceeds the
    registered timestamp, so ``entry+limit-1`` fires at the first watermark
    >= entry+limit — the KS due rule; timer emissions belong to the batch
    whose stream time passed the deadline, one before the firing batch.
    Pre-epoch (<= 1970) event times cannot advance a Spark watermark at all
    (Spark floors it at 0, read here as "no watermark yet"), so the
    processor raises on the first such data row instead of buffering it
    forever — such changelogs use ``engine="exact"``.  The buffered view
    for ``store_name`` reads the transformWithState column family through
    the state source (``stateVarName``)."""
    from .runtime import epoch_ms

    what = "tws suppress engine"
    spark0 = src.df.sparkSession
    require_tws(spark0)
    key = list(table.key)
    cols = list(table.df.columns)
    _check_reserved_columns(
        cols,
        {
            "__ev_ms": "event-time projection",
            "__clk": "clock-copy tag",
            "__wm_ts": "watermark carrier",
            "__entry_ms": "buffer-entry state field",
            "__hist_ms": "latest-event state field",
            "__fired": "timer-emission flag",
            "__emit_reason": "emission metadata column",
            "__emit_batch": "emission metadata column",
            "sink_batch": "emission-log partition column",
        },
        what,
    )
    value_cols = [c for c in cols if c not in key]
    _refuse(_hard_container_refusal(what, (table.df.schema, key)))
    # container VALUE columns ride the state as pickled binary (see _enc_c)
    tun = _container_cols(table.df.schema, value_cols)
    ddl = {f.name: f.dataType.simpleString() for f in table.df.schema.fields}

    root, (ckpt,) = _open_state_dir(spark0, "suppress", state_dir, checkpoint, what)
    out_dir = os.path.join(root, "out")

    sdf = _not_null(src.df, key)  # to_table drops null keys
    # Decoupled watermark: Spark's stateful operators filter input rows
    # older than the late-events watermark, but KS admits arbitrarily late
    # updates into the suppress buffer.  So every row ships twice — a DATA
    # copy with NULL event time (never late-filtered, does not move the
    # watermark) and a CLOCK copy carrying ts with all value columns nulled
    # (shuffle weight) that exists only to advance the watermark; a clock
    # copy dropped as late is by definition one that would not have
    # advanced the running max anyway.  The processor folds only data
    # copies; timers ride the clock-driven watermark.
    sdf = sdf.select(*cols, epoch_ms(tcol).alias("__ev_ms")).select(
        "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("__clk")
    )

    def _clock_fill(c):
        return F.when(F.col("__clk") == 0, F.col(c)).otherwise(F.lit(None)).alias(c)

    sdf = sdf.select(
        *key,
        *[_clock_fill(c) for c in value_cols],
        F.when(F.col("__clk") == 0, F.col("__ev_ms")).otherwise(F.lit(0)).alias("__ev_ms"),
        "__clk",
        F.when(F.col("__clk") == 1, F.col(tcol)).alias("__wm_ts"),
    )

    state_schema = "__entry_ms long, __hist_ms long, " + ", ".join(
        f"`{c}` {'binary' if c in tun else ddl[c]}" for c in cols
    )
    out_schema = ", ".join(f"`{c}` {ddl[c]}" for c in cols) + ", __fired boolean"
    args = (state_schema, cols, key, tcol, limit_ms, cols + ["__fired"], frozenset(tun))

    def _emission_cols(batch_id):
        return [
            *cols,
            F.lit("time").alias("__emit_reason"),
            # timer-fired rows belong to the batch whose stream time passed
            # the deadline — one earlier than the firing batch
            (F.lit(int(batch_id)) - F.col("__fired").cast("long")).alias("__emit_batch"),
        ]

    # the call returns the batches after the dir's delivery cursor, stored
    # before the query starts (a first call that dies mid-drain leaves its
    # batches to the next call) and again once the result is built
    since = _delivered_cursor(root, ckpt)
    _store_delivered(root, ckpt, since)
    upto = _drain(
        sdf, key, _make_suppress_processor, args, out_schema, "EventTime", ckpt, out_dir,
        select=_emission_cols, watermark=("__wm_ts", "0 milliseconds"),
    )

    if store_name is not None:
        if upto < 0:
            # no batch ever committed ⇒ no state to read; anything else that
            # makes the statestore source fail (bad option, provider
            # mismatch, corrupted checkpoint) must surface, not be swallowed
            # into a silently-empty view
            buf = spark0.createDataFrame([], table.df.schema)
        else:
            state_df = (
                spark0.read.format("statestore")
                .option("path", ckpt)
                .option("batchId", upto)
                .option("stateVarName", "buf")
                .load()
            )
            def _view_col(c):
                col = F.col(f"value.`{c}`")
                if c in tun:
                    # tunneled container cells surface as binary in the state
                    # source — decode back to the native type (bounded
                    # interactive-query view, not a data-scale path)
                    col = F.udf(_dec_c, ddl[c])(col)
                return col.alias(c)

            buf = state_df.filter(F.col("value.__entry_ms").isNotNull()).select(
                *[_view_col(c) for c in cols]
            )
        buf.createOrReplaceTempView(store_name)
    out = _read_emissions(table.df, out_dir, upto, since)
    _store_delivered(root, ckpt, upto)
    return out


# ------------------------------------------------------------------ fk join


def _make_fk_stage_a(state_schema, l_val, lord, l_key_pos, sub_cols, tun_l=frozenset()):
    StatefulProcessor = _import_stateful_processor()
    n_lv = len(l_val)
    l_idx = {c: i for i, c in enumerate(l_val)}
    out_row = Row(*sub_cols)
    _load, _store = _codec(l_val, tun_l)

    class FKResolver(StatefulProcessor):
        def init(self, handle):
            self.st = handle.getValueState("sub", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            def make_ord(lookup):
                return _order_of(lord, key, l_key_pos, lookup, "fk-join")

            st = self.st.get()
            if st is not None:
                was_set, jfk = True, st[0]
                vals = _load(st[1:])
            else:
                was_set, jfk, vals = False, None, [None] * n_lv
            old_jfk = jfk
            cur_ord = make_ord(lambda c: vals[l_idx[c]]) if was_set else None
            changed = False
            for row in rows:
                ov = make_ord(lambda c: row[c])
                if (cur_ord is None) or ov >= cur_ord:
                    vals = [_norm(row[c]) for c in l_val]
                    jfk = row["__jfk_in"]
                    cur_ord, changed = ov, True
            if not changed:
                return
            self.st.update((jfk, *_store(vals)))
            key_vals = [_norm(k) for k in key]
            if was_set and old_jfk != jfk:
                # the unsubscribe half of the KIP-213 re-key round-trip
                yield out_row("D", old_jfk, *key_vals, *([None] * n_lv))
            yield out_row("U", jfk, *key_vals, *vals)

    return FKResolver()


def _make_fk_stage_b(
    r_state_schema,
    subs_schema,
    l_key,
    l_val,
    r_val,
    rord,
    rk,
    how,
    out_cols,
    tun_l=frozenset(),
    tun_r=frozenset(),
):
    StatefulProcessor = _import_stateful_processor()
    n_lk, n_lv, n_rv = len(l_key), len(l_val), len(r_val)
    r_idx = {c: i for i, c in enumerate(r_val)}
    out_row = Row(*out_cols)
    _load_r, _store_r = _codec(r_val, tun_r)
    _load_sub, _store_sub = _codec(list(l_key) + list(l_val), tun_l)
    # the right key is the grouping key (its SQL-canonical string)
    rk_pos = {rk: 0}

    class FKJoin(StatefulProcessor):
        def init(self, handle):
            self.rstate = handle.getValueState("right", r_state_schema)
            self.subs = handle.getListState("subs", subs_schema)

        def handleInputRows(self, key, rows, timerValues):
            def r_ord_of(lookup):
                return _order_of(rord, key, rk_pos, lookup, "fk-join")

            st = self.rstate.get()
            if st is not None:
                r_set = bool(st[0])
                r_vals = _load_r(st[1:])
            else:
                r_set, r_vals = False, [None] * n_rv
            subs = {}
            if self.subs.exists():
                for s in self.subs.get():
                    vals = _load_sub(s[1:])
                    subs[tuple(vals[:n_lk])] = {"sub": s[0], "vals": vals}
            cur_rord = r_ord_of(lambda c: r_vals[r_idx[c]]) if r_set else None
            right_changed = False
            lops = []
            for row in rows:
                op = row["op"]
                if op == "R":
                    ov = r_ord_of(lambda c: row[c])
                    if (cur_rord is None) or ov >= cur_rord:
                        r_vals = [_norm(row[c]) for c in r_val]
                        cur_rord, r_set, right_changed = ov, True, True
                else:
                    lops.append(
                        (
                            row["__sub"],
                            op,
                            tuple(_norm(row[c]) for c in l_key),
                            [_norm(row[c]) for c in l_key + l_val],
                        )
                    )
            changed, removed = {}, {}
            for sub, op, pkt, vals in sorted(lops, key=lambda t: t[0]):
                cur = subs.get(pkt)
                if op == "U":
                    if cur is None or cur["sub"] <= sub:
                        subs[pkt] = {"sub": sub, "vals": vals}
                        changed[pkt] = True
                        removed.pop(pkt, None)
                elif cur is None or cur["sub"] <= sub:
                    subs.pop(pkt, None)
                    removed[pkt] = True
                    changed.pop(pkt, None)
            if not (right_changed or changed or removed):
                return
            self.rstate.update((r_set, *_store_r(r_vals)))
            if subs:
                self.subs.put([(e["sub"], *_store_sub(e["vals"])) for e in subs.values()])
            else:
                self.subs.clear()
            if how == "left" or r_set:
                ups = subs.keys() if right_changed else [p for p in changed if p in subs]
                pad = r_vals if r_set else [None] * n_rv
                for pkt in ups:
                    yield out_row("U", *subs[pkt]["vals"], *pad)
            for pkt in removed:
                yield out_row("D", *pkt, *([None] * (n_lv + n_rv)))

    return FKJoin()


def join_fk_tws(
    left: KStream,
    right: KStream,
    fk: str,
    how: str,
    l_order: Sequence[str] | None,
    r_order: Sequence[str] | None,
    store_name: str | None,
    state_dir: str | None,
    checkpoint: str | None,
) -> DataFrame:
    """transformWithState engine of ``join_fk_streaming`` — the ACTUAL
    KIP-213 architecture, not a snapshot recompute: Kafka Streams realizes
    the FK join as a subscription topic keyed by FK plus a response path
    keyed back by the left PK, so an FK *change* unsubscribes from the old
    key and subscribes to the new one.  Here the same two stages run as two
    chained resident queries over per-key state (the subscription
    changelog between them is a durable parquet log — the
    subscription-topic analog):

      stage A (keyed by LEFT PK): folds the left changelog latest-per-key;
        a changed row emits ``U(new_fk, row)`` plus ``D(old_fk, pk)`` when
        its fk moved — the unsubscribe/subscribe pair — into
        ``sub/sink_batch=<id>`` partitions (overwritten on crash-replay);
      stage B (keyed by FK VALUE): one query over the union of the
        subscription log (a file stream, so resume skips consumed files)
        and the right changelog; per-fk state = (latest right row in VALUE
        state, the SUBSCRIBER LIST of left rows in LIST state).  A
        right-side change re-emits every subscriber (the response-topic
        fan-out); a left U/D re-emits/retracts just that pk.  Emissions
        land in ``out/sink_batch=<id>`` with op U/D; the final snapshot is
        the per-PK fold of the emission log, keeping keys whose LAST op is
        U.

    Per-microbatch I/O is O(changed keys + affected subscribers), never
    O(table) — the shape the exact loop's full-snapshot recompute
    (engine='exact') cannot give.  Caveat, documented: a single fk value
    with a huge subscriber list rewrites its whole list per update (Kafka
    Streams stores subscriptions as individual store entries, so it pays
    O(1) there) — mega-fan-in dims belong on the exact loop or the Delta
    MERGE path.  Ordering across the two stages is total: stage-A batch ids
    ride the subscription records, ties inside one stage-B batch resolve U
    over D, so a flip's retraction can never outlive its re-subscription.
    The fk join value is canonicalized SQL-side (``cast(fk as string)``) on
    BOTH stages so value-repr differences can never split a group.  Native
    types end to end; container-typed user VALUE columns ride both states
    as pickled binary (_enc_c — the upstream value-state client cannot
    round-trip nested containers).  Requires a string fk column name, equal
    fk/right-key dtypes, and non-null order values; ``engine='exact'``
    otherwise."""
    what = "tws fk-join engine"
    spark0 = left.df.sparkSession
    require_tws(spark0)
    l_key = list(left.key)
    rk = right.key[0]
    l_cols = list(left.df.columns)
    r_val = [c for c in right.df.columns if c != rk]
    overlap = set(l_cols) & set(r_val)
    if overlap:
        raise ValueError(
            f"left columns and right value columns must be disjoint; overlap: {sorted(overlap)}"
        )
    _check_reserved_columns(
        l_cols + list(right.df.columns),
        {
            "op": "subscription/emission op tag",
            "__jfk": "fk grouping column",
            "__jfk_in": "SQL-canonical fk string",
            "__sub": "stage-A batch cursor",
            "__op_rank": "final-fold tie-breaker",
            "sink_batch": "emission-log partition column",
        },
        what,
    )
    if fk not in l_cols:
        raise ValueError(f"fk column {fk!r} not in left columns")
    _refuse(_dtype_refusal(what, left.df.schema, right.df.schema, [(fk, rk)]))
    lord, rord = _changelog_orders(left, right, l_order, r_order)
    l_val = [c for c in l_cols if c not in l_key]
    _refuse(
        _hard_container_refusal(
            what, (left.df.schema, l_key + [fk] + list(lord)), (right.df.schema, list(rord))
        )
    )
    l_ddl = {f.name: f.dataType.simpleString() for f in left.df.schema.fields}
    r_ddl = {f.name: f.dataType.simpleString() for f in right.df.schema.fields}
    # container VALUE columns ride the state as pickled binary (see _enc_c);
    # the sub-log parquet keeps them NATIVE (stage A emits decoded values)
    tun_l = _container_cols(left.df.schema, l_val)
    tun_r = _container_cols(right.df.schema, r_val)
    empty_out = KTable(spark0.createDataFrame([], left.df.schema), left.key, left.ts).join_fk(
        KTable(spark0.createDataFrame([], right.df.schema), right.key, right.ts), fk, how=how
    ).df

    # the subscription log sub/ (stage A) and the emission log out/ (stage
    # B), each bound to its own checkpoint sub-dir
    root, (ckpt_a, ckpt_b) = _open_state_dir(
        spark0, "fk", state_dir, checkpoint, what, logs=(("sub", "sub"), ("out", "join")), key=l_key
    )
    subdir = os.path.join(root, "sub")
    outdir = os.path.join(root, "out")

    # ---------------- stage A: subscription resolver (keyed by left PK) ----------------
    # to_table drops null keys
    a_in = _not_null(left.df, l_key).select(
        *l_cols,
        F.col(fk).cast("string").alias("__jfk_in"),  # SQL-canonical join string
    )
    l_key_pos = {c: i for i, c in enumerate(l_key)}
    state_a = "__jfk string" + "".join(
        f", `{c}` {'binary' if c in tun_l else l_ddl[c]}" for c in l_val
    )
    sub_cols = ["op", "__jfk", *l_key, *l_val]
    sub_schema = "op string, __jfk string" + "".join(
        f", `{c}` {l_ddl[c]}" for c in l_key + l_val
    )

    args_a = (state_a, l_val, lord, l_key_pos, sub_cols, frozenset(tun_l))
    # stage A's partitions are published only once its drain returns, so
    # stage B takes the call's whole subscription delta in one batch
    upto_a = _drain(
        a_in, l_key, _make_fk_stage_a, args_a, sub_schema, "None", ckpt_a, subdir, publish=False
    )
    _publish_staged(subdir, upto_a)

    # ---------------- stage B: per-fk join state over sub-log ∪ right ----------------
    sub_stream = spark0.readStream.schema(sub_schema + ", sink_batch int").parquet(subdir)
    b_l = sub_stream.select(
        "op",
        "__jfk",
        F.col("sink_batch").alias("__sub"),
        *l_key,
        *l_val,
        *[F.lit(None).cast(r_ddl[c]).alias(c) for c in r_val],
    )
    r_src = right.df.filter(F.col(rk).isNotNull())
    b_r = r_src.select(
        F.lit("R").alias("op"),
        F.col(rk).cast("string").alias("__jfk"),
        F.lit(None).cast("int").alias("__sub"),
        *[F.lit(None).cast(l_ddl[c]).alias(c) for c in l_key + l_val],
        *[F.col(c) for c in r_val],
    )
    b_in = b_l.unionByName(b_r)
    state_b = "__r_set boolean" + "".join(
        f", `{c}` {'binary' if c in tun_r else r_ddl[c]}" for c in r_val
    )
    subs_schema = "__sub int" + "".join(
        f", `{c}` {'binary' if c in tun_l else l_ddl[c]}" for c in l_key + l_val
    )
    out_cols = ["op", *l_key, *l_val, *r_val]
    out_schema = (
        "op string"
        + "".join(f", `{c}` {l_ddl[c]}" for c in l_key + l_val)
        + "".join(f", `{c}` {r_ddl[c]}" for c in r_val)
    )
    args_b = (
        state_b,
        subs_schema,
        l_key,
        l_val,
        r_val,
        rord,
        rk,
        how,
        out_cols,
        frozenset(tun_l),
        frozenset(tun_r),
    )
    upto = _drain(b_in, ["__jfk"], _make_fk_stage_b, args_b, out_schema, "None", ckpt_b, outdir)
    return _snapshot(spark0, outdir, out_schema, upto, l_key, "fk", empty_out, store_name)


# ------------------------------------------------------------------ as-of join

def _make_asof_processor(hist_schema, r_vals, l_vals, n_key, how, tol_ms, out_cols, tun_r):
    """Per-key as-of lookup: the key's version history
    lives in LIST state (append-only — history rows arrive once, in the
    first batch that reads the staged history file); each stream record
    binary-searches the sorted versions for the latest ``hts <= sts`` —
    the reference's per-record ValueGetter read
    (KStreamKTableJoinProcessor.cs:38-43) with KIP-889/KIP-914 versioned
    rather than latest-only semantics.  Null-ts versions sort BEFORE every
    real version (the batch window's NULLS FIRST), emitting with a null
    ``matched_ts``; tolerance turns an out-of-window match into the no-match
    row, and ``inner`` drops rows whose matched_ts is null — all matching
    ``dsl.join_asof`` exactly (the differential fuzz is the gate)."""
    import bisect  # noqa: PLC0415
    import datetime as _dt  # noqa: PLC0415

    StatefulProcessor = _import_stateful_processor()
    out_row = Row(*out_cols)
    n_rv = len(r_vals)
    tol = _dt.timedelta(milliseconds=tol_ms) if tol_ms is not None else None
    _load_r, _store_r = _codec(r_vals, tun_r)

    class AsofLookup(StatefulProcessor):
        def init(self, handle):
            self.hist = handle.getListState("hist", hist_schema)

        def handleInputRows(self, key, rows, timerValues):
            new_h, pending = [], []
            for row in rows:
                if row["__side"] == 0:
                    new_h.append((_norm(row["__hts"]), *_store_r([row[c] for c in r_vals])))
                else:
                    pending.append(
                        (_norm(row["__sts"]), [_norm(row[c]) for c in l_vals])
                    )
            if new_h:
                # history is bounded by the versioned store's retention; it
                # arrives ONCE (first batch) — append, never rewrite
                self.hist.appendList(new_h)
            if not pending:
                return
            hist = []
            if self.hist.exists():
                for s in self.hist.get():
                    hist.append((_norm(s[0]), _load_r(s[1 : 1 + n_rv])))
            # null-ts versions first (batch NULLS FIRST), then ts; stable on
            # ties so the last-arrived equal-ts version wins like last()
            hist.sort(key=lambda e: (e[0] is not None, e[0] or 0))
            hts_keys = [(e[0] is not None, e[0] or 0) for e in hist]
            key_vals = [_norm(k) for k in key[:n_key]]
            for sts, lvs in pending:
                matched = None
                if hist:
                    # a null-ts stream row sorts after ONLY the null-ts
                    # versions in the batch window (NULLS FIRST), so it
                    # matches the last null-ts version — same as dsl.join_asof
                    probe = (False, 0) if sts is None else (True, sts)
                    i = bisect.bisect_right(hts_keys, probe)
                    if i > 0:
                        matched = hist[i - 1]
                if matched is not None and tol is not None:
                    mts = matched[0]
                    if sts is None or mts is None or mts < sts - tol:
                        matched = None
                if matched is None:
                    if how == "inner":
                        continue
                    yield out_row(*key_vals, sts, *lvs, *([None] * n_rv), None)
                else:
                    if how == "inner" and matched[0] is None:
                        continue  # matched_ts null (null-ts version) — batch drops it
                    yield out_row(*key_vals, sts, *lvs, *matched[1], matched[0])

    return AsofLookup()


def join_table_asof_tws(
    stream: KStream,
    table,
    how: str,
    tolerance_ms: int | None,
    matched_ts: str,
    out_dir: str | None,
    checkpoint: str | None,
) -> DataFrame:
    """transformWithState engine of ``join_table_asof_streaming``.  The
    exact engine re-joins each microbatch against the
    FULL history (per-batch shuffle bounded by history size); here the
    history shuffles ONCE into per-key LIST state — staged as a parquet
    file-source unioned with the stream, fully delivered in the first batch
    — and every later batch shuffles only its own records, with per-record
    lookups against RocksDB state.  The 100 TB shape: per-batch I/O is
    O(batch + touched keys' histories), never O(history).

    The history is BOUND at first drain (staged under ``<out_dir>/hist``);
    resumed drains reuse the staged version history — pass a fresh out_dir
    for a changed table (the exact engine re-reads the live table each
    drain instead).  Emissions append to ``<out_dir>/out/sink_batch=<id>``
    partitions (overwritten on crash-replay — exactly-once) and the return
    is the accumulated result across all drains, like the exact engine."""
    what = "tws as-of engine"
    spark0 = stream.df.sparkSession
    require_tws(spark0)
    if not stream.df.isStreaming:
        raise ValueError("join_table_asof_streaming requires a streaming stream side")
    _refuse(_asof_tws_refusal(stream, table, matched_ts))
    if how not in ("inner", "left"):
        raise ValueError("as-of join supports inner|left")
    s_ddl = {f.name: f.dataType.simpleString() for f in stream.df.schema.fields}
    t_ddl = {f.name: f.dataType.simpleString() for f in table.df.schema.fields}
    l_key = list(stream.key)
    l_vals = [c for c in stream.df.columns if c not in l_key and c != stream.ts]
    r_vals = [c for c in table.df.columns if c not in table.key and c != table.ts]
    overlap = (set(l_vals) | {stream.ts}) & set(r_vals)
    if overlap:
        raise ValueError(f"sides must have disjoint value column names; overlap: {sorted(overlap)}")
    tun_r = _container_cols(table.df.schema, r_vals)
    root, (ckpt,) = _open_state_dir(spark0, "asof", out_dir, checkpoint, what)
    emit_dir = os.path.join(root, "out")
    hist_dir = os.path.join(root, "hist")
    if os.path.isdir(hist_dir) and not os.path.exists(os.path.join(hist_dir, "_SUCCESS")):
        # torn staging (crash mid-write before this code staged atomically):
        # the drain never started, so nothing consumed it — restage
        shutil.rmtree(hist_dir)
    if not os.path.isdir(hist_dir):
        # stage the version history ONCE (single delivery, first batch);
        # null keys dropped on both sides (KStreamKTableJoinProcessor.cs:31-35).
        # Written to a tmp dir + os.rename so a crash mid-write can never
        # leave a partial hist_dir that a resumed drain would silently join
        # against
        tmp_hist = hist_dir + "-tmp"
        shutil.rmtree(tmp_hist, ignore_errors=True)
        _not_null(table.df, table.key).write.parquet(tmp_hist)
        os.rename(tmp_hist, hist_dir)

    jk = [f"__jk{i}" for i in range(len(l_key))]
    hist_schema_src = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in table.df.schema.fields)
    h_src = spark0.readStream.schema(hist_schema_src).parquet(hist_dir)
    h_tagged = h_src.select(
        F.lit(0).alias("__side"),
        *[F.col(k).alias(j) for k, j in zip(table.key, jk)],
        F.lit(None).cast("timestamp").alias("__sts"),
        F.col(table.ts).alias("__hts"),
        *[F.lit(None).cast(s_ddl[c]).alias(c) for c in l_vals],
        *[F.col(c) for c in r_vals],
    )
    s_tagged = _not_null(stream.df, l_key).select(
        F.lit(1).alias("__side"),
        *[F.col(k).alias(j) for k, j in zip(l_key, jk)],
        F.col(stream.ts).alias("__sts"),
        F.lit(None).cast("timestamp").alias("__hts"),
        *[F.col(c) for c in l_vals],
        *[F.lit(None).cast(t_ddl[c]).alias(c) for c in r_vals],
    )
    tagged = h_tagged.unionByName(s_tagged)

    hist_state = "__hts timestamp" + "".join(
        f", `{c}` {'binary' if c in tun_r else t_ddl[c]}" for c in r_vals
    )
    out_cols = [*l_key, stream.ts, *l_vals, *r_vals, matched_ts]
    out_schema = (
        "".join(f"`{c}` {s_ddl[c]}, " for c in l_key)
        + f"`{stream.ts}` timestamp"
        + "".join(f", `{c}` {s_ddl[c]}" for c in l_vals)
        + "".join(f", `{c}` {t_ddl[c]}" for c in r_vals)
        + f", `{matched_ts}` timestamp"
    )
    args = (hist_state, r_vals, l_vals, len(l_key), how, tolerance_ms, out_cols, frozenset(tun_r))
    upto = _drain(tagged, jk, _make_asof_processor, args, out_schema, "None", ckpt, emit_dir)

    if not _has_emissions(emit_dir):
        empty = KStream(
            spark0.createDataFrame([], stream.df.schema), stream.key, stream.ts
        )
        return empty.join_table_asof(
            table, how=how, tolerance_ms=tolerance_ms, matched_ts=matched_ts
        ).df
    return _read_log(spark0, emit_dir, out_schema, upto).drop("sink_batch")
