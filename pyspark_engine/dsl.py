"""Streamiz-shaped DSL compiled to PySpark DataFrames.

The reference (LGouellec/kafka-stream-net) builds a record-at-a-time processor
topology; here every DSL call is a *logical* DataFrame transformation and
Catalyst replaces the reference's whole runtime (SURVEY.md §3-4).  Design
rules, enforced throughout:

  * Expression-first: operators take ``pyspark.sql.Column`` expressions (the
    blessed JVM/codegen path).  Arbitrary Python lambdas go through the
    explicitly-named ``*_py`` escape hatches (Arrow-batched pandas UDFs /
    ``applyInPandas``), never row-at-a-time ``udf`` — reference "any C# lambda"
    surface per SURVEY §2.8.
  * No driver-side collect in any operator path.
  * Broadcast only for the GlobalKTable analog (reference replicates those
    tables to every instance: core/Processors/GlobalStreamThread.cs:15-110);
    regular joins shuffle on the key and rely on AQE for skew.
  * KTable = latest-value-per-key view of a changelog
    (core/Processors/KTableSourceProcessor.cs:7-62) — implemented with one
    window-function pass (single shuffle by key), never a Python groupByKey.

Null-handling parity (SURVEY §2.5 note):
  * table sources drop null keys (KTableSourceProcessor.cs:37-41)
  * grouped aggregations skip null keys (KStreamAggregateProcessor.cs:24-28,
    KStreamWindowAggregateProcessor.cs:45-49)
  * stream joins drop null-key records (KStreamKStreamJoinProcessor.cs:42-46,
    KStreamKTableJoinProcessor.cs:31-35)
  * join output timestamp = max(left.ts, right.ts)
    (KStreamKStreamJoinProcessor.cs:59-61, KTableKTableJoinProcessor.cs:35)
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable, Sequence
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .windows import (
    CustomWindowOptions,
    HoppingWindowOptions,
    JoinWindowOptions,
    SessionWindowOptions,
    TumblingWindowOptions,
    WindowOptions,
)


def _as_tuple(x) -> tuple[str, ...]:
    if x is None:
        return ()
    if isinstance(x, str):
        return (x,)
    return tuple(x)


def _interval_ms(ms: int) -> Column:
    """Millisecond-precision timestamp interval (join windows, window sizes)."""
    return F.expr(f"INTERVAL {int(ms)} MILLISECOND")


def _not_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    for c in cols:
        df = df.filter(F.col(c).isNotNull())
    return df


def _describe_plan(df: DataFrame, mode: str = "formatted") -> str:
    """Explain string for a DataFrame (shared by KStream/KTable.describe)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


# Installed by testing.TopologyTestDriver in async mode: a callable
# KTable -> KTable that drains a *streaming* table's current state through a
# real availableNow query and hands back the batch snapshot.  Consulted only
# at the plan shapes Structured Streaming cannot run in one query anyway —
# a join against a streaming aggregate, or re-aggregating a streaming
# aggregate — so installing it never displaces a legal all-streaming plan;
# it realizes the reference's bootstrap-then-serve table semantics
# (GlobalStreamThread pattern) instead of failing analysis.  Always unset in
# production; the hook is a test-harness affordance.  A ContextVar, not a
# module global (advisor finding, r8): two drivers building topologies
# concurrently — threads, or interleaved builds — must never see each
# other's hooks and snapshot through the wrong driver's state.
_TABLE_SNAPSHOT_HOOK: ContextVar[Callable[["KTable"], "KTable"] | None] = ContextVar(
    "pse_table_snapshot_hook", default=None
)


def _maybe_snapshot(table: "KTable") -> "KTable":
    hook = _TABLE_SNAPSHOT_HOOK.get()
    if hook is not None and table.df.isStreaming:
        return hook(table)
    return table


# Companion hook for the as-of join (same install site, async test driver
# only): join_asof ranks versions with a rowsBetween window — unsupported
# over streaming input — so its genuine streaming realization is the
# per-microbatch foreachBatch lookup (streaming.join_table_asof_streaming
# pattern).  The hook routes a streaming-input join_asof through that loop
# and hands back the accumulated batch result as a KStream.
_ASOF_STREAM_HOOK: ContextVar[Callable | None] = ContextVar(
    "pse_asof_stream_hook", default=None
)

# Third companion hook (async test driver only): pyspark Observation objects
# are batch-only, so a STREAMING KStream.observe(Observation) registers a
# generated metric name here ({name: observation}); the driver names the
# observe, harvests observedMetrics from every progress event of its drains,
# and injects the per-metric totals back into the Observation so
# ``observation.get`` works identically in both driver modes.
_OBSERVE_REGISTRY: ContextVar[dict | None] = ContextVar(
    "pse_observe_registry", default=None
)

# Fourth companion hook (async test driver only): routes a STREAMING
# stream-stream windowed join through streaming.join_windowed_eager — the
# reference's pre-KIP-633 eager unmatched-emission timing
# (KStreamKStreamJoinProcessor.cs:51-66) — instead of Spark's native
# watermark-gated interval join, whose unmatched rows emit only after
# window close (correct modern semantics, but not what the reference's
# conformance vectors observe).
_SS_JOIN_HOOK: ContextVar[Callable | None] = ContextVar(
    "pse_ss_join_hook", default=None
)


def _plan_has_watermark(df: DataFrame) -> bool:
    """Whether the streaming plan already carries an event-time watermark
    (used by the _SS_JOIN_HOOK guard; errs False so the hook still routes
    on introspection failure — the conformance default)."""
    try:
        return "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False


class StreamBuilder:
    """Entry point mirroring ``StreamBuilder`` (core/StreamBuilder.cs:49-636).

    ``stream`` ≈ consume a topic as KStream; ``table`` ≈ consume as KTable
    (upsert latest per key); ``global_table`` ≈ fully-replicated dimension,
    joined via ``broadcast()``.  In batch mode sources are parquet tables
    (name resolved under ``data_dir``) or pre-built DataFrames.
    """

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.data_dir = data_dir

    def _load(self, source) -> DataFrame:
        """Resolve a source: DataFrame passthrough, a table name under
        ``data_dir``, or a file path.  File format follows the extension —
        parquet (default), ``.csv`` (header), ``.json``/``.jsonl`` (lines) —
        the "External Source Connector" roadmap item the reference never
        shipped (feature.md:6; Kafka is its only connector), free on Spark.
        CSV/JSON callers pass ``schema=`` via read options in ``spark.read``
        style by pre-building the DataFrame when inference won't do.

        A null or empty source is a topology-construction error, matching
        the reference's guards (StreamBuilder.cs Stream/Table throw
        ArgumentException on null/empty topic names)."""
        if source is None or (isinstance(source, str) and not source.strip()):
            raise ValueError("source topic/path must be a non-empty string or a DataFrame")
        if isinstance(source, DataFrame):
            return source
        path = str(source)
        if self.data_dir is not None and "/" not in path:
            from .runtime import read_table

            return read_table(self.spark, self.data_dir, path)
        low = path.lower()
        if low.endswith(".csv"):
            return self.spark.read.option("header", "true").option("inferSchema", "true").csv(path)
        if low.endswith((".json", ".jsonl")):
            return self.spark.read.json(path)
        return self.spark.read.parquet(path)

    def stream(self, source, key=(), ts: str | Column | None = None, ts_alias: str = "ts") -> "KStream":
        """KStream source (core/StreamBuilder.cs:49-134).

        ``ts`` may be a column name or an arbitrary Column expression — the
        ITimestampExtractor analog (core/Processors/ITimestampExtractor.cs:
        10-29; e.g. extracting event time from a payload field instead of the
        broker timestamp).  An expression is materialized as ``ts_alias``."""
        df = self._load(source)
        if isinstance(ts, Column):
            df = df.withColumn(ts_alias, ts)
            ts = ts_alias
        return KStream(df, _as_tuple(key), ts)

    def table(self, source, key, ts: str | None = None, order=None, tombstones: bool = False) -> "KTable":
        """KTable source: latest value per key, null keys dropped
        (core/StreamBuilder.cs:249-372; KTableSourceProcessor.cs:7-62).

        ``order`` lists columns that totally order the changelog per key (the
        Kafka-offset analog); highest wins.  Defaults to ``(ts,)``.
        ``tombstones=True`` applies the reference's null-value delete rule —
        see KStream.to_table.
        """
        return KStream(self._load(source), _as_tuple(key), ts).to_table(
            order=order, tombstones=tombstones
        )

    def global_table(self, source, key, ts: str | None = None, order=None) -> "GlobalKTable":
        """GlobalKTable source (core/StreamBuilder.cs:524-636): replicated to
        every instance — the Spark analog is a broadcast join side."""
        tbl = self.table(source, key, ts, order=order)
        return GlobalKTable(tbl.df, tbl.key, tbl.ts)

    def versioned_table(self, source, key, ts: str, order=None) -> "VersionedKTable":
        """Versioned KTable source: the whole changelog is kept as history
        (see VersionedKTable) instead of collapsing to latest-per-key.  Null
        keys dropped (KTableSourceProcessor.cs:37-41).  ``order`` dedups to
        ONE version per (key, ts) — highest ``order`` wins, the last-writer-
        wins rule a real changelog gets from offsets — so as-of lookups are
        deterministic under ts ties."""
        ks = self.stream(source, key=key, ts=ts)
        df = _not_null(ks.df, ks.key)
        if order is not None:
            df = KStream(df, tuple(ks.key) + (ts,), None).to_table(order=order).df
        return VersionedKTable(df, ks.key, ts)


class KStream:
    """Unbounded record stream (core/Stream/IKStream.cs:21).

    Holds a DataFrame plus the designated key columns and optional event-time
    column; all remaining columns are the "value".  Every operator is a pure
    logical transformation — Catalyst sees the whole pipeline.
    """

    def __init__(self, df: DataFrame, key: Sequence[str] = (), ts: str | None = None):
        self.df = df
        self.key = _as_tuple(key)
        self.ts = ts

    def _with_df(self, df: DataFrame) -> "KStream":
        return KStream(df, self.key, self.ts)

    # ---------------- stateless transforms (SURVEY §2.2) ----------------

    def filter(self, predicate: Column) -> "KStream":
        """Keep matching records (KStreamFilterProcessor.cs:5-26)."""
        return self._with_df(self.df.filter(predicate))

    def filter_not(self, predicate: Column) -> "KStream":
        """Keep non-matching records (IKStream.cs:79)."""
        return self._with_df(self.df.filter(~predicate))

    def map(self, key: dict[str, Column], values: dict[str, Column]) -> "KStream":
        """Re-key + re-value, 1→1 (KStreamMapProcessor.cs:6-23).

        Changing the key marks a repartition in the reference; Spark inserts
        the shuffle automatically at the next keyed (stateful) operator.
        """
        cols = [v.alias(k) for k, v in key.items()]
        cols += [v.alias(k) for k, v in values.items()]
        if self.ts is not None:
            cols.append(F.col(self.ts))
        return KStream(self.df.select(*cols), tuple(key), self.ts)

    def map_values(self, **values: Column) -> "KStream":
        """New value, key unchanged — no repartition (IKStream.cs:313-372)."""
        cols = [F.col(c) for c in self.key]
        if self.ts is not None and self.ts not in values:
            cols.append(F.col(self.ts))
        cols += [v.alias(k) for k, v in values.items()]
        return KStream(self.df.select(*cols), self.key, self.ts)

    def with_values(self, **values: Column) -> "KStream":
        """Convenience: add/replace value columns, keep the rest."""
        return self._with_df(self.df.withColumns(dict(values)))

    def map_values_py(self, fn: Callable, return_type, *cols, alias: str) -> "KStream":
        """Arbitrary-Python value mapper via an Arrow-batched pandas UDF — the
        UDF escape hatch for opaque lambdas (SURVEY §2.8).  ~10-100× faster
        than row-at-a-time ``udf``; still slower than Column exprs, so only
        for logic expressions can't state."""
        u = F.pandas_udf(fn, return_type)
        return self.with_values(**{alias: u(*[F.col(c) for c in cols])})

    def transform_py(self, fn: Callable, schema: str, key=(), ts: str | None = None) -> "KStream":
        """Arbitrary 1→N Python record transform via ``mapInPandas`` — the
        analog of the reference's low-level Processor/Transform API
        (core/Processors/TransformProcessor.cs:8-27, dead code there; live
        here).  ``fn(iter_of_pdf) -> iter_of_pdf``; Arrow-batched, streams
        per partition with no shuffle.  Output key/ts must be re-declared
        (the transform may change both)."""
        return KStream(self.df.mapInPandas(fn, schema), _as_tuple(key), ts)

    def flat_map(self, arr: Column, alias: str, new_key, keep: Sequence[str] = ()) -> "KStream":
        """1→N records with new keys (KStreamFlatMapProcessor.cs:6-22):
        explode ``arr`` into ``alias`` and re-key on ``new_key``."""
        cols = [F.col(c) for c in keep]
        if self.ts is not None:
            cols.append(F.col(self.ts))
        df = self.df.select(*cols, F.explode(arr).alias(alias))
        return KStream(df, _as_tuple(new_key), self.ts)

    def flat_map_values(self, arr: Column, alias: str, keep: Sequence[str] = ()) -> "KStream":
        """1→N values, key preserved (KStreamFlatMapValuesProcessor.cs:6-23)."""
        cols = [F.col(c) for c in self.key]
        if self.ts is not None:
            cols.append(F.col(self.ts))
        cols += [F.col(c) for c in keep]
        df = self.df.select(*cols, F.explode(arr).alias(alias))
        return KStream(df, self.key, self.ts)

    def select_key(self, expr: Column, alias: str) -> "KStream":
        """New key, value unchanged (IKStream.cs:409,433)."""
        return KStream(self.df.withColumn(alias, expr), (alias,), self.ts)

    def rename(self, **renames: str) -> "KStream":
        """Rename columns (old=new), tracking key/ts designation — used to
        disambiguate the two sides of a self-join."""
        df = self.df
        for old, new in renames.items():
            df = df.withColumnRenamed(old, new)
        key = tuple(renames.get(k, k) for k in self.key)
        ts = renames.get(self.ts, self.ts) if self.ts else None
        return KStream(df, key, ts)

    def peek(self, name: str | None = None, *aggs: Column) -> "KStream":
        """Side-effect pass-through (KStreamPeekProcessor.cs:5-24).

        Spark-idiomatic peek: attach a named ``observe`` metric (accumulator
        semantics, zero plan impact) instead of a per-record callback.  With
        no metric it is the identity."""
        if name is None:
            return self
        metrics = aggs or (F.count(F.lit(1)).alias("records"),)
        return self._with_df(self.df.observe(name, *metrics))

    def observe(self, observation, *aggs: Column) -> "KStream":
        """Named metrics sensor — the KafkaStream metrics surface analog
        (reference exposes per-processor sensors via KafkaStream; this
        snapshot's Metrics subsystem is roadmap, so the surface here is the
        Spark-native one).  Batch: pass a ``pyspark.sql.Observation`` and
        read ``observation.get`` after an action — accumulator semantics,
        zero plan impact.  Streaming: pass a string name and read the values
        from each progress event (streaming.observed_metrics).  Under the
        async TopologyTestDriver an Observation object on a STREAMING plan
        is rewritten to a generated metric name and filled from the drain's
        progress events (summed across microbatches — exact for additive
        metrics like the default count; see testing._inject_observation), so
        the same test body runs in both driver modes."""
        metrics = aggs or (F.count(F.lit(1)).alias("records"),)
        if self.df.isStreaming and not isinstance(observation, str):
            reg = _OBSERVE_REGISTRY.get()
            if reg is None:
                raise ValueError(
                    "streaming observe needs a string metric name (read via "
                    "streaming.observed_metrics); Observation objects are "
                    "batch-only outside the TopologyTestDriver"
                )
            name = f"__pse_obs_{len(reg)}"
            reg[name] = observation
            return self._with_df(self.df.observe(name, *metrics))
        return self._with_df(self.df.observe(observation, *metrics))

    def metadata(self) -> "StreamMetadata":
        """FollowMetadata convenience layer — the StreamizMetadata ambient
        accessor surface (core/StreamizMetadata.cs:33-130, gated by
        StreamConfig.FollowMetadata) re-expressed columnar: see
        StreamMetadata.  Usage mirroring the reference's example::

            ks = builder.kafka_stream(..., include_meta=True)
            m = ks.metadata()
            ks.map_values(v=..., part=m.current_partition())
        """
        return StreamMetadata(self)

    def branch(self, *predicates: Column) -> list["KStream"]:
        """Split by ordered predicates, first-match wins, no-match dropped
        (KStreamBranchProcessor.cs:5-29).  Branch i = p_i ∧ ¬p_0 ∧ … ∧ ¬p_{i-1};
        each branch is an independent filtered view of one scan."""
        out: list[KStream] = []
        for i, p in enumerate(predicates):
            cond = p
            for earlier in predicates[:i]:
                cond = cond & ~earlier
            out.append(self._with_df(self.df.filter(cond)))
        return out

    def branch_with_default(self, *predicates: Column) -> list["KStream"]:
        """Branch plus a default branch for no-match records (Kafka Streams
        2.8 named-branch defaultBranch; the reference's Branch drops them).
        Returns len(predicates)+1 streams; the last is the remainder."""
        out = self.branch(*predicates)
        none_match = F.lit(True)  # zero predicates → the whole stream is the default branch
        for p in predicates:
            none_match = none_match & ~p
        out.append(self._with_df(self.df.filter(none_match)))
        return out

    def split(self, prefix: str = "") -> "BranchedKStream":
        """Named branching — the Kafka Streams 2.8 ``split(Named)`` surface
        (the reference snapshot only ships positional Branch,
        core/Stream/IKStream.cs:37; named branches are its successor API).
        Same first-match-wins semantics as ``branch``, but branches carry
        names: ``split("e-").branch(p, "hot").default_branch("rest")``
        returns {"e-hot": ..., "e-rest": ...}."""
        return BranchedKStream(self, prefix)

    def merge(self, other: "KStream") -> "KStream":
        """Stream union (absent in the reference snapshot — roadmap item;
        Spark gives it for free via unionByName)."""
        return self._with_df(self.df.unionByName(other.df))

    # ------------- sorts / top-k / set ops (§2.6 analogs — Spark-native
    # extensions; the reference snapshot lacks these, SURVEY §2.6) -------------

    def distinct(self) -> "KStream":
        """Distinct records (one shuffle on all columns, partial-agg combine)."""
        return self._with_df(self.df.distinct())

    def drop_duplicates(self, subset: Sequence[str] | None = None, within_watermark: bool = False) -> "KStream":
        """Exact record dedup by ``subset`` columns (default: all).

        Streaming: pass ``within_watermark=True`` (after with_watermark) to
        use ``dropDuplicatesWithinWatermark`` — dedup state is EVICTED once
        the watermark passes, so state stays bounded by the lateness budget
        instead of growing with the stream.  The 100 TB requirement for
        unbounded streams; plain dropDuplicates keeps every key forever."""
        cols = list(subset) if subset else None
        if within_watermark:
            df = self.df.dropDuplicatesWithinWatermark(cols) if cols else self.df.dropDuplicatesWithinWatermark()
        else:
            df = self.df.dropDuplicates(cols) if cols else self.df.dropDuplicates()
        return self._with_df(df)

    def top_k(self, n: int, order, by: Sequence[str] = ()) -> "KStream":
        """Top-k records.  Global (``by`` empty): orderBy+limit compiles to
        TakeOrderedAndProject — each partition keeps a k-heap, the driver
        merges k×partitions rows, no full sort.  Per-group: rank window
        (one shuffle on the group key).  Pass a total order for determinism."""
        order = [order] if isinstance(order, Column) else list(order)
        if not by:
            return self._with_df(self.df.orderBy(*order).limit(n))
        w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(*order)
        df = self.df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= n).drop("__rk")
        return self._with_df(df)

    def intersect(self, other: "KStream") -> "KStream":
        """INTERSECT DISTINCT (set semantics, like SQL INTERSECT)."""
        return self._with_df(self.df.intersect(other.df))

    def subtract(self, other: "KStream") -> "KStream":
        """EXCEPT DISTINCT (set semantics, like SQL EXCEPT)."""
        return self._with_df(self.df.subtract(other.df))

    def repartition(self, num: int | None = None) -> "KStream":
        """Explicit repartition by the stream key (the reference's roadmap
        `Repartition`/`Through` operator — a manual repartition topic).  In
        Spark a shuffle on the key; normally unnecessary (stateful ops insert
        it), useful to pre-co-locate ahead of several same-key operations so
        one exchange is reused."""
        cols = [F.col(c) for c in self.key]
        df = self.df.repartition(num, *cols) if num else self.df.repartition(*cols)
        return self._with_df(df)

    def describe(self, mode: str = "formatted") -> str:
        """Topology description (Topology.Describe → ITopologyDescription,
        core/Stream/Topology.cs:32, ITopologyDescription.cs:17-28).  The
        reference describes its processor graph grouped into sub-topologies
        split at repartition topics; the Spark-native meta-representation of
        the same pipeline is the Catalyst plan — stages split at exchanges
        play the sub-topology role, scans are source nodes, exchanges the
        repartition topics.  ``mode``: simple | extended | codegen | cost |
        formatted (explain modes)."""
        return _describe_plan(self.df, mode)

    def spread(self) -> "KStream":
        """Conditional round-robin repartition to session parallelism, taken
        ONLY when the scan has fewer input files than cores (parquet splits
        are row-group granular, so a single-row-group file is one real task
        no matter how many byte-range splits are cut — everything downstream
        of it serializes).  On a real corpus (files >> cores) this is a
        no-op by construction; use after pruning to the needed columns so
        the compensating shuffle moves narrow rows."""
        from .runtime import ensure_min_parallelism

        return self._with_df(ensure_min_parallelism(self.df))

    def sliding_agg(self, size_ms: int, **agg_exprs: Column) -> "KStream":
        """Per-record sliding-window aggregates (the KIP-450 sliding-window
        analog, absent in the reference — §2.4 note): for each record, the
        aggregate over this key's records in (ts - size, ts].  One RANGE-frame
        window pass — a single shuffle by key, no window explosion."""
        if self.ts is None:
            raise ValueError("sliding_agg requires a ts column")
        from .runtime import epoch_us

        ord_us = epoch_us(self.ts)
        w = (
            Window.partitionBy(*[F.col(c) for c in self.key])
            .orderBy(ord_us)
            .rangeBetween(-(size_ms * 1000 - 1), 0)
        )
        out = self.df.withColumns({k: v.over(w) for k, v in agg_exprs.items()})
        return self._with_df(out)

    def with_watermark(self, delay: str) -> "KStream":
        """Late-data bound on the event-time column — the streaming-mode
        realization of the reference's grace period
        (KStreamWindowAggregateProcessor.cs:51-58, where stream-time - grace
        closes a window).  No-op semantics on batch DataFrames (Spark ignores
        watermarks in batch), so topologies stay mode-agnostic."""
        if self.ts is None:
            raise ValueError("with_watermark requires a ts column")
        return self._with_df(self.df.withWatermark(self.ts, delay))

    # ---------------- table conversion (SURVEY §2.2 ToTable) ----------------

    def to_table(self, order: Sequence[str] | None = None, tombstones: bool = False) -> "KTable":
        """KStream → KTable upsert-by-key (IKStream.cs:1451-1462).

        Latest record per key wins, "latest" = max over ``order`` columns
        (default: the ts column — pass explicit tie-breakers for determinism,
        the Kafka-offset analog).  Null keys dropped
        (KTableSourceProcessor.cs:37-41).

        ``tombstones=True`` adds the reference's delete rule: a changelog
        record whose VALUE is null removes the key from the table
        (KTableSourceProcessor.cs:43-62 stores the null, and downstream
        reads treat it as absence — here the batch view drops the row).  In
        this engine the "value" is the multi-column projection of everything
        except key and order columns, so the rule is: latest row with ALL
        value columns null ⇒ key absent.  Opt-in because partial-null rows
        are ordinary data in a columnar engine and the default keeps every
        latest row.

        Implementation (batch AND streaming): ``groupBy(key).agg(max_by(
        struct(values), struct(order)))`` — a declarative aggregate, so Spark
        partial-aggregates map-side before the single shuffle and (streaming)
        maintains it incrementally with one state row per key.  Chosen over a
        row_number window pass, which would sort every changelog record
        within each partition; at changelog scale the partial-combine path
        shuffles only one pre-reduced row per key per map task."""
        if not self.key:
            raise ValueError("to_table requires key columns")
        order_cols = _as_tuple(order) or ((self.ts,) if self.ts else ())
        if not order_cols:
            raise ValueError("to_table requires an order (ts or explicit columns)")
        df = _not_null(self.df, self.key)
        value_cols = [c for c in df.columns if c not in self.key]
        ord_struct = F.struct(*[F.col(c) for c in order_cols])
        latest = F.max_by(F.struct(*[F.col(c) for c in value_cols]), ord_struct)
        df = df.groupBy(*self.key).agg(latest.alias("__v")).select(*self.key, "__v.*")
        if tombstones:
            payload = [c for c in value_cols if c not in order_cols]
            if payload:
                alive = F.lit(False)
                for c in payload:
                    alive = alive | F.col(c).isNotNull()
                df = df.filter(alive)
        out = KTable(df, self.key, self.ts)
        if self.df.isStreaming:
            # streaming.suppress_buffered's tws engine re-derives the
            # latest-per-key fold per key inside transformWithState, so it
            # needs the RAW changelog (a stateful operator cannot chain
            # downstream of this update-mode aggregate)
            out._source_stream = self
            out._source_tombstones = bool(tombstones)
            out._source_order = order_cols
        return out

    # ---------------- grouping (SURVEY §2.3) ----------------

    def group_by_key(self) -> "KGroupedStream":
        """Group by current key, no re-key (IKStream.cs:546,567)."""
        return KGroupedStream(self)

    def group_by(self, **key_exprs: Column) -> "KGroupedStream":
        """Re-key then group (IKStream.cs:456-527).  The reference would need
        a repartition topic (TODO there: GroupedStreamAggregateBuilder.cs:37-38);
        Spark shuffles on the new key automatically."""
        df = self.df.withColumns(dict(key_exprs))
        return KGroupedStream(KStream(df, tuple(key_exprs), self.ts))

    # ---------------- joins (SURVEY §2.5) ----------------

    def join(
        self,
        other: "KStream",
        window: JoinWindowOptions,
        how: str = "inner",
        ts_alias: str = "ts",
    ) -> "KStream":
        """KStream⋈KStream windowed join (KStreamKStreamJoinProcessor.cs:40-67).

        Match: equal keys ∧ right.ts ∈ [left.ts - before, left.ts + after]
        (JoinWindowOptions.cs:8-60).  Output timestamp = max(l.ts, r.ts)
        (:59-61).  Null-key records dropped on both sides (:42-46).
        ``how`` ∈ inner|left|full — left/full emit the unmatched side with
        nulls (eager-emission timing differences in the reference don't affect
        final state; SURVEY §7.3.4).

        Semantics delta (deliberate): the reference additionally drops
        records whose VALUE is null (KStreamKStreamJoinProcessor.cs:42-46 —
        a Kafka record's value is one opaque object, so a null value is a
        tombstone with nothing to join).  Here "the value" is the multi-column
        projection of everything except the key, and a row with SOME null
        columns is still a meaningful record — so only null KEYS are dropped;
        rows whose non-key columns are all null still join (pinned by
        tests/test_dsl_semantics.py::test_join_null_value_rows_kept).  To get
        reference behavior, pre-filter:
        ``stream.filter(F.col(payload_col).isNotNull())``.

        Sides must have disjoint column names (pre-project with map_values).
        Key arity must match pairwise.

        Scale: this is a shuffled sort-merge join on the key with the time
        bound as a secondary condition — both sides partition by key, no
        broadcast, no cross product.  In streaming the same predicate becomes
        a watermarked stream-stream interval join."""
        if len(self.key) != len(other.key):
            raise ValueError("join key arity mismatch")
        if self.ts is None or other.ts is None:
            raise ValueError("stream-stream join requires ts on both sides")
        ss_hook = _SS_JOIN_HOOK.get()
        if (
            ss_hook is not None
            and (self.df.isStreaming or other.df.isStreaming)
            and how in ("inner", "left", "full")
            # an explicit user watermark asks for the native watermark-gated
            # (emit-at-window-close) semantics — don't hijack it
            and not (_plan_has_watermark(self.df) or _plan_has_watermark(other.df))
        ):
            # async test driver: reference-exact eager emission timing
            return ss_hook(self, other, window, how, ts_alias)
        # alias-qualified refs so SELF-joins (both sides derived from the
        # same upstream plan, e.g. an aggregate fanned into two legs)
        # resolve unambiguously — same fix as KTable.join
        l = _not_null(self.df, self.key).alias("__ss_l")
        r = _not_null(other.df, other.key).alias("__ss_r")
        lc = lambda c: F.col(f"__ss_l.`{c}`")  # noqa: E731 — alias-qualified
        rc = lambda c: F.col(f"__ss_r.`{c}`")  # noqa: E731
        cond = None
        for lk, rk in zip(self.key, other.key):
            c = lc(lk) == rc(rk)
            cond = c if cond is None else cond & c
        cond = cond & (rc(other.ts) >= lc(self.ts) - _interval_ms(window.before_ms))
        cond = cond & (rc(other.ts) <= lc(self.ts) + _interval_ms(window.after_ms))
        joined = l.join(r, cond, how)
        out_key = []
        cols = []
        for lk, rk in zip(self.key, other.key):
            cols.append(F.coalesce(lc(lk), rc(rk)).alias(lk))
            out_key.append(lk)
        for c in self.df.columns:
            if c not in self.key and c != self.ts:
                cols.append(lc(c))
        for c in other.df.columns:
            if c not in other.key and c != other.ts:
                cols.append(rc(c))
        cols.append(F.greatest(lc(self.ts), rc(other.ts)).alias(ts_alias))
        return KStream(joined.select(*cols), tuple(out_key), ts_alias)

    def join_table(self, table: "KTable", how: str = "inner") -> "KStream":
        """KStream⋈KTable lookup join (KStreamKTableJoinProcessor.cs:28-43).

        Stream records with null keys are dropped even for left joins
        (:31-35); output keeps the stream record's timestamp.  Batch semantics
        = join against the table's final latest-per-key snapshot (SURVEY
        §7.3.1).

        Semantics delta (deliberate, same as ``join``): the reference also
        drops null-VALUE stream records (KStreamKTableJoinProcessor.cs:31-35
        guards key AND value); here only null keys are dropped, because the
        "value" is a multi-column projection where partial nulls are ordinary
        data.  Pre-filter the payload column(s) to reproduce the reference's
        rule exactly.

        Scale: shuffled equi-join on the key (both sides co-partition); use
        join_global for broadcast-size dims."""
        if how not in ("inner", "left"):
            raise ValueError("stream-table join supports inner|left")
        if len(self.key) != len(table.key):
            raise ValueError("join key arity mismatch")
        table = _maybe_snapshot(table)  # async test driver: bootstrap-then-serve
        l = _not_null(self.df, self.key)
        r = table.df
        cond = None
        for lk, rk in zip(self.key, table.key):
            c = l[lk] == r[rk]
            cond = c if cond is None else cond & c
        joined = l.join(r, cond, how)
        cols = [l[c] for c in self.df.columns]
        cols += [r[c] for c in table.df.columns if c not in table.key]
        return KStream(joined.select(*cols), self.key, self.ts)

    def join_table_salted(self, table: "KTable", n_salt: int = 8, how: str = "inner") -> "KStream":
        """join_table with explicit SKEW SALTING — the manual lever for when
        one key dominates the stream (the 100 TB hot-key case AQE's runtime
        skew split can miss, e.g. under a deliberately pinned partitioning):
        the stream side gets a deterministic salt (hash of the whole row mod
        ``n_salt``) appended to the join key, the table side is replicated
        ``n_salt``× via explode, and the equi-join on (key, salt) spreads
        each hot key over ``n_salt`` reducers.  Result set is IDENTICAL to
        join_table (q81's oracle is the unsalted join); cost is n_salt×
        duplication of the (small) table side — never salt when the table is
        broadcast-size, use join_global instead."""
        if how not in ("inner", "left"):
            raise ValueError("stream-table join supports inner|left")
        if len(self.key) != len(table.key):
            raise ValueError("join key arity mismatch")
        if n_salt < 1:
            raise ValueError("n_salt must be >= 1")
        l = _not_null(self.df, self.key).withColumn(
            "__salt", F.pmod(F.xxhash64(*self.df.columns), F.lit(n_salt)).cast("int")
        )
        r = table.df.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        cond = l["__salt"] == r["__salt"]
        for lk, rk in zip(self.key, table.key):
            cond = cond & (l[lk] == r[rk])
        joined = l.join(r, cond, how)
        cols = [l[c] for c in self.df.columns]
        cols += [r[c] for c in table.df.columns if c not in table.key]
        return KStream(joined.select(*cols), self.key, self.ts)

    def join_semi(self, table: "KTable") -> "KStream":
        """Left-semi join: keep stream records whose key exists in the table
        (absent in the reference — §2.5 extension; Spark-native).  Output =
        left columns only; no fan-out on duplicate table keys."""
        return self._join_existence(table, "left_semi")

    def join_anti(self, table: "KTable") -> "KStream":
        """Left-anti join: keep stream records whose key does NOT exist in
        the table (§2.5 extension)."""
        return self._join_existence(table, "left_anti")

    def _join_existence(self, table: "KTable", how: str) -> "KStream":
        if len(self.key) != len(table.key):
            raise ValueError("join key arity mismatch")
        l = _not_null(self.df, self.key)
        r = table.df
        cond = None
        for lk, rk in zip(self.key, table.key):
            c = l[lk] == r[rk]
            cond = c if cond is None else cond & c
        return KStream(l.join(r, cond, how), self.key, self.ts)

    def join_asof(
        self,
        other: "KStream",
        tolerance_ms: int | None = None,
        how: str = "left",
        matched_ts: str = "matched_ts",
    ) -> "KStream":
        """As-of join: each left record picks the LATEST right record with the
        same key and right.ts <= left.ts (optionally within ``tolerance_ms``).
        The classic enrich-with-most-recent-state operator (absent in the
        reference — §2.5 extension).

        Implementation is the scale path: tag the sides, union, and carry the
        latest right values forward with one ``last(..., ignorenulls)`` window
        pass ordered by (ts, side) — a single shuffle+sort by key, NO
        candidate fan-out (a join-then-max_by plan would materialize every
        (left, earlier-right) pair first).  Right records sort before left at
        equal ts, giving the inclusive <= bound.  The right value columns plus
        the matched timestamp travel as ONE struct, so every output column is
        guaranteed to come from the SAME right row even when some right values
        are null (per-column last(ignorenulls) would mix rows).  Sides must
        have disjoint non-key/non-ts column names; ties on right (key, ts) are
        broken by the remaining right sort being stable per the union order."""
        if self.ts is None or other.ts is None:
            raise ValueError("as-of join requires ts on both sides")
        if len(self.key) != len(other.key):
            raise ValueError("join key arity mismatch")
        if how not in ("inner", "left"):
            raise ValueError("as-of join supports inner|left")
        asof_hook = _ASOF_STREAM_HOOK.get()
        if asof_hook is not None and (self.df.isStreaming or other.df.isStreaming):
            # async test driver: realize through the real microbatch loop
            return asof_hook(self, other, tolerance_ms, how, matched_ts)
        from pyspark.sql import types as T

        l_vals = [c for c in self.df.columns if c not in self.key and c != self.ts]
        r_vals = [c for c in other.df.columns if c not in other.key and c != other.ts]
        key_names = list(self.key)
        rstruct = T.StructType(
            [T.StructField(c, other.df.schema[c].dataType) for c in r_vals]
            + [T.StructField("__rts", T.TimestampType())]
        )
        l = _not_null(self.df, self.key).select(
            *[F.col(k).alias(a) for k, a in zip(self.key, key_names)],
            F.col(self.ts).alias("__ts"),
            F.lit(1).alias("__side"),
            *[F.col(c) for c in l_vals],
            F.lit(None).cast(rstruct).alias("__rpack"),
        )
        r = _not_null(other.df, other.key).select(
            *[F.col(k).alias(a) for k, a in zip(other.key, key_names)],
            F.col(other.ts).alias("__ts"),
            F.lit(0).alias("__side"),
            *[F.lit(None).cast(self.df.schema[c].dataType).alias(c) for c in l_vals],
            F.struct(
                *[F.col(c).alias(c) for c in r_vals],
                F.col(other.ts).cast("timestamp").alias("__rts"),
            ).alias("__rpack"),
        )
        u = l.unionByName(r)
        w = (
            Window.partitionBy(*key_names)
            .orderBy(F.col("__ts"), F.col("__side"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = (
            u.select(
                *key_names,
                "__ts",
                "__side",
                *[F.col(c) for c in l_vals],
                F.last(F.col("__rpack"), ignorenulls=True).over(w).alias("__rp"),
            )
            .filter(F.col("__side") == 1)
            .select(
                *key_names,
                "__ts",
                "__side",
                *[F.col(c) for c in l_vals],
                *[F.col("__rp")[c].alias(c) for c in r_vals],
                F.col("__rp")["__rts"].alias(matched_ts),
            )
        )
        if tolerance_ms is not None:
            in_tol = F.col(matched_ts) >= F.col("__ts") - _interval_ms(tolerance_ms)
            filled = filled.select(
                *key_names,
                "__ts",
                *l_vals,
                *[F.when(in_tol, F.col(c)).otherwise(F.lit(None)).alias(c) for c in r_vals],
                F.when(in_tol, F.col(matched_ts)).otherwise(F.lit(None)).alias(matched_ts),
            )
        out = filled.withColumnRenamed("__ts", self.ts).drop("__side")
        if how == "inner":
            out = out.filter(F.col(matched_ts).isNotNull())
        return KStream(out, tuple(key_names), self.ts)

    def join_table_asof(
        self,
        table: "VersionedKTable",
        how: str = "inner",
        tolerance_ms: int | None = None,
        matched_ts: str = "matched_ts",
    ) -> "KStream":
        """Temporal stream⋈table join against a VERSIONED table: each stream
        record joins the table version AS OF the record's own event time
        (latest table row with same key and table.ts <= stream.ts).

        This closes the reference's per-record lookup semantics in batch: the
        reference joins each stream record against the table as the record is
        processed (KStreamKTableJoinProcessor.cs:38-43 — ValueGetter reads
        current store state), while ``join_table`` joins the FINAL snapshot
        (accepted SURVEY §7.3.1 delta).  With a versioned table the lookup is
        reproduced deterministically on EVENT time — the well-defined batch
        analog of "table state when the record arrived" (Kafka Streams gained
        the same semantics with versioned state stores, KIP-914).

        Stream records with null keys are dropped even for left joins
        (KStreamKTableJoinProcessor.cs:31-35).  ``tolerance_ms`` bounds the
        version age (the versioned store's history-retention analog).

        Scale: delegates to join_asof's union + single window pass — one
        shuffle+sort by key, NO per-record candidate fan-out, NO extra join
        against the history (a join-then-filter plan would materialize every
        (record, earlier-version) pair first)."""
        if how not in ("inner", "left"):
            raise ValueError("stream-table join supports inner|left")
        return self.join_asof(
            KStream(table.df, table.key, table.ts),
            tolerance_ms=tolerance_ms,
            how=how,
            matched_ts=matched_ts,
        )

    def aggregate_rollup(self, group_cols: Sequence[str], **agg_exprs: Column) -> "KStream":
        """Hierarchical subtotals (GROUP BY ROLLUP — §2.3 "absent" row;
        Spark-native extension).  Subtotal rows carry nulls in the rolled-up
        columns, matching SQL ROLLUP semantics; same partial-agg + single
        shuffle shape as a plain groupBy."""
        aggs = [v.alias(k) for k, v in agg_exprs.items()]
        return KStream(self.df.rollup(*group_cols).agg(*aggs), (), None)

    def aggregate_cube(self, group_cols: Sequence[str], **agg_exprs: Column) -> "KStream":
        """All grouping-set combinations (GROUP BY CUBE — §2.3 extension)."""
        aggs = [v.alias(k) for k, v in agg_exprs.items()]
        return KStream(self.df.cube(*group_cols).agg(*aggs), (), None)

    def join_global(self, gt: "GlobalKTable", key_mapper: Column, how: str = "inner") -> "KStream":
        """KStream⋈GlobalKTable join (IKStream.cs:836-931): key computed per
        record by ``key_mapper``, lookup in the replicated table.

        The replicated store maps to ``broadcast()`` — at 100 TB this is the
        design requirement, not an optimization: the dim ships to every
        executor once, the fact side never shuffles."""
        if how not in ("inner", "left"):
            raise ValueError("global-table join supports inner|left")
        if len(gt.key) != 1:
            raise ValueError("global-table join requires single-column table key")
        l = self.df
        r = F.broadcast(gt.df)
        joined = l.join(r, key_mapper == gt.df[gt.key[0]], how)
        cols = [l[c] for c in self.df.columns]
        cols += [gt.df[c] for c in gt.df.columns if c not in gt.key]
        return KStream(joined.select(*cols), self.key, self.ts)

    # ---------------- sinks (SURVEY §2.1) ----------------

    def to(self, path: str, fmt: str = "parquet", mode: str = "overwrite", **options) -> None:
        """Sink to storage (reference ``To`` → Kafka topic,
        core/Processors/SinkProcessor.cs:34-53; batch analog = file sink).

        A null/empty destination raises at topology-construction time
        (IKStream.To guards: ArgumentNullException / ArgumentException)."""
        if path is None or not str(path).strip():
            raise ValueError("sink destination must be a non-empty path")
        self.df.write.format(fmt).mode(mode).options(**options).save(path)

    def to_dynamic(self, topic_expr: Column, path: str, fmt: str = "parquet") -> None:
        """Dynamic-destination sink (topic name extractor,
        IKStream.cs:90-137): partition the output by a computed destination
        column — the batch analog of Kafka's per-record topic routing."""
        if path is None or not str(path).strip():
            raise ValueError("sink destination must be a non-empty path")
        self.df.withColumn("__dest", topic_expr).write.format(fmt).mode("overwrite").partitionBy("__dest").save(path)

    def print_(self, n: int = 20, writer=None, label: str | None = None,
               key: str = "key", value: str = "value") -> None:
        """Debug print sink (KStreamPrintProcessor.cs:5-26).

        With ``writer`` this is the ``Printed.ToWriter(...).WithLabel(...)``
        form (Printed.cs:44,55): one line per record, default mapper
        ``"{k} {v}"`` (Printed.cs:24) prefixed ``[label]: `` — records in
        event-time order (the driver's arrival order).  Driver-side by
        design, exactly like the reference's console sink — a debug tool,
        not a data path (``n`` bounds the default ``show``)."""
        if writer is not None:
            df = self.df.orderBy(self.ts) if self.ts else self.df
            prefix = f"[{label}]: " if label is not None else ""
            for r in df.collect():
                writer.write(f"{prefix}{r[key]} {r[value]}\n")
            return
        self.df.show(n, truncate=False)

    def for_each_batch(self, fn: Callable[[DataFrame], None]) -> None:
        """Terminal side-effect (Foreach, KStreamPeekProcessor with
        forwardDownStream=false).  Batch: hand the DataFrame to the callback
        once; streaming: ``writeStream.foreachBatch``."""
        fn(self.df)


class BranchedKStream:
    """Builder for KStream.split(): ordered named branches, first-match-wins
    (each branch i filters p_i ∧ ¬p_0 ∧ … ∧ ¬p_{i-1} over one scan, exactly
    like positional branch).  Terminal calls return ``dict[name, KStream]``."""

    def __init__(self, source: "KStream", prefix: str = ""):
        self._source = source
        self._prefix = prefix
        self._names: list[str] = []
        self._preds: list[Column] = []

    def branch(self, predicate: Column, name: str | None = None) -> "BranchedKStream":
        self._names.append(name if name is not None else str(len(self._preds) + 1))
        self._preds.append(predicate)
        return self

    def _built(self) -> dict[str, "KStream"]:
        streams = self._source.branch(*self._preds)
        return {self._prefix + n: s for n, s in zip(self._names, streams)}

    def no_default_branch(self) -> dict[str, "KStream"]:
        """No-match records are dropped (the reference Branch behavior)."""
        return self._built()

    def default_branch(self, name: str = "default") -> dict[str, "KStream"]:
        """No-match records land in one extra named branch."""
        out = self._built()
        rest = F.lit(True)
        for p in self._preds:
            rest = rest & ~p
        out[self._prefix + name] = self._source._with_df(self._source.df.filter(rest))
        return out


class StreamMetadata:
    """Ambient record-metadata accessors — StreamizMetadata
    (core/StreamizMetadata.cs:33-130: GetCurrentHeaders/Timestamp/Offset/
    Partition/TopicMetadata, enabled by StreamConfig.FollowMetadata).

    The reference reads "the record currently being processed" from
    thread-local task context; in a distributed columnar engine the current
    record IS the row, so each accessor returns a Column expression over
    the metadata columns the source attaches (serdes.decode_kafka with
    include_meta=True / include_headers=True — the IRecordContext surface).
    The reference's contract — accessors return null when metadata isn't
    followed — maps to a typed NULL literal when the column is absent, so
    topologies stay buildable either way instead of failing analysis."""

    def __init__(self, stream: "KStream"):
        self._df = stream.df
        self._ts = stream.ts

    def _col(self, name: str, dtype: str) -> Column:
        if name in self._df.columns:
            return F.col(name)
        return F.lit(None).cast(dtype)

    def current_topic(self) -> Column:
        """GetCurrentTopicMetadata (StreamizMetadata.cs:96-115)."""
        return self._col("topic", "string")

    def current_partition(self) -> Column:
        """GetCurrentPartitionMetadata (StreamizMetadata.cs:117-130)."""
        return self._col("partition", "int")

    def current_offset(self) -> Column:
        """GetCurrentOffsetMetadata (StreamizMetadata.cs:71-94)."""
        return self._col("offset", "long")

    def current_headers(self) -> Column:
        """GetCurrentHeadersMetadata (StreamizMetadata.cs:34-50); the Kafka
        source's header shape (array of key/value pairs, value binary)."""
        return self._col("headers", "array<struct<key:string,value:binary>>")

    def current_timestamp_ms(self) -> Column:
        """GetCurrentTimestampMetadata (StreamizMetadata.cs:52-69) — the
        record's event timestamp as epoch millis (the reference's long)."""
        if self._ts is not None and self._ts in self._df.columns:
            from .runtime import epoch_ms

            return epoch_ms(self._ts)
        return F.lit(None).cast("long")

    def is_following(self) -> bool:
        """Whether the pipeline carries the topic/partition/offset columns
        (the FollowMetadata=true state)."""
        return all(c in self._df.columns for c in ("topic", "partition", "offset"))


class KTable:
    """Latest-value-per-key changelog view (core/Table/IKTable.cs).

    In batch mode the DataFrame *is* the final table state: retractions/
    tombstones are represented by row absence, which the re-aggregation
    semantics below rely on (SURVEY §2.3 grouped-table note)."""

    def __init__(self, df: DataFrame, key: Sequence[str], ts: str | None = None):
        self.df = df
        self.key = _as_tuple(key)
        self.ts = ts

    def _with_df(self, df: DataFrame) -> "KTable":
        out = type(self)(df, self.key, self.ts)
        # suppress() is a property of the changelog, not of one object:
        # downstream of an emit-final table everything is still emit-final
        # (Kafka Streams: operators after suppress() see only final values),
        # so the marker survives filter/map_values/materialize instead of
        # silently draining un-suppressed.
        if getattr(self, "emit_final", False):
            out.emit_final = True
        if getattr(self, "suppress_config", None) is not None:
            out.suppress_config = dict(self.suppress_config)
        if df is self.df:
            # marker-only rewraps (suppress()) keep the raw-changelog link;
            # any df-changing operator (filter/map_values/...) invalidates it
            # — the tws suppress engine re-folds the RAW source, which
            # would silently skip such a transformation
            for attr in ("_source_stream", "_source_tombstones", "_source_order"):
                if getattr(self, attr, None) is not None:
                    setattr(out, attr, getattr(self, attr))
        return out

    def filter(self, predicate: Column) -> "KTable":
        """Table filter (KTableFilterProcessor.cs:9-55): values failing the
        predicate become tombstones — in the batch view, absent rows."""
        return self._with_df(self.df.filter(predicate))

    def filter_not(self, predicate: Column) -> "KTable":
        return self._with_df(self.df.filter(~predicate))

    def map_values(self, **values: Column) -> "KTable":
        """New value per key (IKTable.cs:190-348, KTableMapValuesProcessor.cs:7-46)."""
        cols = [F.col(c) for c in self.key]
        if self.ts is not None and self.ts not in values:
            cols.append(F.col(self.ts))
        cols += [v.alias(k) for k, v in values.items()]
        return self._with_df(self.df.select(*cols))

    def to_stream(self) -> "KStream":
        """Changelog → stream of current values (IKTable.cs:126-161)."""
        return KStream(self.df, self.key, self.ts)

    def group_by(self, **key_exprs: Column) -> "KGroupedTable":
        """Re-key the table for re-aggregation (IKTable.cs:376-464).

        The reference emits (retraction, addition) pairs per update
        (KTableMapProcessor.cs:8-40); over the batch latest-per-key view the
        retractions net out, so a plain re-aggregation over the current state
        is semantically equivalent (result-equivalence is what the oracle
        checks — SURVEY §7.1 step 3).  A missing selector is a construction
        error (IKTable.GroupBy ArgumentNullException,
        KTableGroupByTests.cs:12-22)."""
        if not key_exprs:
            raise ValueError("table group_by requires at least one key expression")
        base = _maybe_snapshot(self)  # async test driver: re-agg needs a snapshot
        df = base.df.withColumns(dict(key_exprs))
        return KGroupedTable(KTable(df, tuple(key_exprs), base.ts))

    def join(self, other: "KTable", how: str = "inner", ts_alias: str | None = None) -> "KTable":
        """KTable⋈KTable changelog join (IKTable.cs:500-952;
        KTableKTableJoinProcessor.cs:20-48, left :15-56, outer :15-51).

        Batch semantics: equi-join of the two latest-per-key views; output
        timestamp = max(l.ts, r.ts) (KTableKTableJoinProcessor.cs:35).
        Sides must have disjoint non-key column names."""
        if how not in ("inner", "left", "full"):
            raise ValueError("table-table join supports inner|left|full")
        if len(self.key) != len(other.key):
            raise ValueError("join key arity mismatch")
        snapped, other = _maybe_snapshot(self), _maybe_snapshot(other)
        # plan-level aliases so SELF-joins (both tables derived from the same
        # changelog, e.g. snapshot ⋈ history-counts) resolve unambiguously —
        # without them Spark's ambiguous-self-join check rejects the column
        # references below whenever the two sides share lineage
        l, r = snapped.df.alias("__tt_l"), other.df.alias("__tt_r")
        lc = lambda c: F.col(f"__tt_l.`{c}`")  # noqa: E731 — alias-qualified
        rc = lambda c: F.col(f"__tt_r.`{c}`")  # noqa: E731
        cond = None
        for lk, rk in zip(self.key, other.key):
            c = lc(lk) == rc(rk)
            cond = c if cond is None else cond & c
        joined = l.join(r, cond, how)
        cols = []
        for lk, rk in zip(self.key, other.key):
            cols.append(F.coalesce(lc(lk), rc(rk)).alias(lk))
        merge_ts = ts_alias is not None and self.ts and other.ts
        for c in self.df.columns:
            if c not in self.key and not (merge_ts and c == self.ts):
                cols.append(lc(c))
        for c in other.df.columns:
            if c not in other.key and not (merge_ts and c == other.ts):
                cols.append(rc(c))
        out_ts = None
        if merge_ts:
            cols.append(F.greatest(lc(self.ts), rc(other.ts)).alias(ts_alias))
            out_ts = ts_alias
        return KTable(joined.select(*cols), self.key, out_ts)

    def join_fk(self, other: "KTable", fk, how: str = "inner") -> "KTable":
        """Foreign-key table join (Kafka Streams 2.4 feature, absent in the
        reference — §2.5 note): join via a non-key column of this table to
        the other table's primary key.  The reference/KS implementation needs
        a subscription/response topic pair to re-key; in Spark it is a plain
        equi-join on the fk expression (shuffle on fk, or broadcast if the
        right side is small).  Result keyed by this table's key."""
        if how not in ("inner", "left"):
            raise ValueError("fk join supports inner|left")
        if len(other.key) != 1:
            raise ValueError("fk join requires single-column right key")
        snapped, other = _maybe_snapshot(self), _maybe_snapshot(other)
        # alias-qualified refs so self-lineage fk joins resolve (same fix as
        # KTable.join).  A string fk is re-rooted under the left alias.  A
        # Column-valued fk is resolved against the LEFT table ALONE before
        # the join (r11 verdict task 5): projecting it as `__fk_val` while
        # only left columns are in scope means an unqualified F.col("mgr")
        # binds to the left side even when both sides of a self-lineage join
        # carry "mgr" — the previous re-raise-with-escape-hatch is gone.
        l_df = snapped.df
        if isinstance(fk, str):
            fk_name = None
        else:
            if "__fk_val" in l_df.columns:
                raise ValueError(
                    "'__fk_val' is reserved by join_fk for Column-valued fk "
                    "resolution; rename that column on the input"
                )
            try:
                l_df = l_df.withColumn("__fk_val", fk)
            except Exception as e:
                raise ValueError(
                    "join_fk: the Column-valued fk expression did not resolve "
                    "against the left table's columns — build it from columns of "
                    "the left table (or pass a string column name)"
                ) from e
            fk_name = "__fk_val"
        l, r = l_df.alias("__fk_l"), other.df.alias("__fk_r")
        fk_col = F.col(f"__fk_l.`{fk if fk_name is None else fk_name}`")
        joined = l.join(r, fk_col == F.col(f"__fk_r.`{other.key[0]}`"), how)
        cols = [F.col(f"__fk_l.`{c}`") for c in self.df.columns]
        cols += [
            F.col(f"__fk_r.`{c}`") for c in other.df.columns if c not in other.key
        ]
        return KTable(joined.select(*cols), self.key, self.ts)

    def suppress(
        self,
        until_time_limit_ms: int | None = None,
        max_records: int | None = None,
        max_bytes: int | None = None,
        emit_early_when_full: bool = False,
    ) -> "KTable":
        """Emit-final (the reference's roadmap `Suppress`, README.md:106;
        Kafka Streams KIP-328 Suppress.untilWindowCloses).  Batch: the
        latest-per-key view IS final state — identity.  Streaming: the
        returned table is MARKED emit-final; append output mode on a
        watermarked windowed aggregation is exactly emit-on-window-close,
        so the streaming sinks (streaming.run_available_now /
        start_to_files) enforce append mode for a suppressed table — only
        windows the watermark has closed are ever emitted, and intermediate
        (update/complete-mode) emissions are rejected as a contract
        violation rather than silently un-suppressed.  The marker is
        STICKY: _with_df propagates it, so filter/map_values/materialize
        applied after suppress() still drain emit-final (Kafka Streams
        operators downstream of suppress() likewise see only final
        values).

        ``until_time_limit_ms`` selects the OTHER KIP-328 mode instead —
        Suppressed.untilTimeLimit(d, BufferConfig): each key's update is
        held back until stream time passes its buffer-entry time by the
        limit (intermediate updates replace the value WITHOUT resetting the
        clock), bounded by ``max_records``/``max_bytes``; when the bound
        trips, ``emit_early_when_full=True`` evicts-and-emits the earliest
        entries (BufferConfig.emitEarlyWhenFull) and ``False`` raises (the
        shutDownWhenFull default).  Batch semantics: identity — by the end
        of a bounded replay stream time has passed every entry, so the
        final state IS the emission (oracle unchanged).  Streaming
        realization: streaming.suppress_buffered reads the config recorded
        here and runs the time-ordered buffer loop per microbatch."""
        out = self._with_df(self.df)
        if until_time_limit_ms is not None:
            out.suppress_config = {
                "until_time_limit_ms": int(until_time_limit_ms),
                "max_records": max_records,
                "max_bytes": max_bytes,
                "emit_early_when_full": bool(emit_early_when_full),
            }
        else:
            if max_records is not None or max_bytes is not None:
                raise ValueError(
                    "buffer bounds (max_records/max_bytes) apply to the "
                    "untilTimeLimit mode — pass until_time_limit_ms; "
                    "untilWindowCloses is unbounded by definition (KIP-328)"
                )
            out.emit_final = True
        return out

    def materialize(self, store_name: str) -> "KTable":
        """Interactive-query surface (SURVEY §2.7): register the table state
        as a queryable temp view — the analog of
        ``KafkaStream.Store(...)`` (core/KafkaStream.cs:474-479).  Readers use
        ``spark.table(store_name)`` / SQL."""
        self.df.createOrReplaceTempView(store_name)
        return self

    def describe(self, mode: str = "formatted") -> str:
        """Topology description (Topology.Describe analog) — see
        KStream.describe."""
        return _describe_plan(self.df, mode)


class GlobalKTable(KTable):
    """Fully-replicated table (core/Table/Internal/GlobalKTable.cs), joined
    via ``broadcast()`` — see KStream.join_global."""


class VersionedKTable:
    """Versioned table: the FULL (key, ts, values) changelog history retained
    instead of collapsing to latest-per-key — the versioned-state-store
    concept Kafka Streams added with KIP-889/KIP-914, absent in the reference
    (its stores are latest-only: core/State/IKeyValueStore.cs, and its
    stream⋈table join therefore reads whatever is current at processing time,
    KStreamKTableJoinProcessor.cs:38-43).

    Purpose: event-time-correct stream⋈table joins via
    ``KStream.join_table_asof`` — each stream record sees the table as of its
    own timestamp, not the end-of-batch snapshot.  ``snapshot()`` collapses
    to the ordinary latest-per-key KTable when snapshot semantics are wanted.

    Scale: the history is just a DataFrame — nothing is materialized per key;
    the as-of join consumes it with one shuffle+sort by key.  At 100 TB,
    bound history growth upstream (retention filter on ts) exactly as a
    versioned store bounds ``historyRetention``."""

    def __init__(self, df: DataFrame, key: Sequence[str], ts: str):
        if ts is None:
            raise ValueError("versioned table requires a ts column")
        self.df = df
        self.key = _as_tuple(key)
        self.ts = ts

    def filter(self, predicate: Column) -> "VersionedKTable":
        """Filter the history (versions failing the predicate are absent —
        the tombstone representation, as in KTable.filter)."""
        return VersionedKTable(self.df.filter(predicate), self.key, self.ts)

    def map_values(self, **values: Column) -> "VersionedKTable":
        """New value columns per version (KTableMapValuesProcessor analog
        applied to every version, not just the latest)."""
        cols = [F.col(c) for c in self.key] + [F.col(self.ts)]
        cols += [v.alias(k) for k, v in values.items()]
        return VersionedKTable(self.df.select(*cols), self.key, self.ts)

    def retain(self, history_ms: int, now: Column) -> "VersionedKTable":
        """History-retention bound (the versioned store's historyRetention):
        keep versions younger than ``history_ms`` relative to ``now`` (a
        literal or column expression).  The scale lever — prune before the
        as-of join shuffles the history."""
        return self.filter(F.col(self.ts) >= now - _interval_ms(history_ms))

    def snapshot(self) -> KTable:
        """Collapse to the ordinary latest-per-key KTable (the reference's
        only table view)."""
        return KStream(self.df, self.key, self.ts).to_table()

    def history(self) -> KStream:
        """The raw changelog as a stream (ordered consumption is up to the
        caller — e.g. feeding a streaming replay)."""
        return KStream(self.df, self.key, self.ts)

    def describe(self, mode: str = "formatted") -> str:
        return _describe_plan(self.df, mode)


class KGroupedStream:
    """Grouped stream (core/Stream/Internal/KGroupedStream.cs).

    Aggregations skip null keys / null values
    (KStreamAggregateProcessor.cs:24-28) — enforced on construction.
    All built-in aggregations are map-side-combinable hash aggregates
    (partial aggregation before the shuffle — Spark does this automatically
    for declarative aggs, which is why the expression path matters at scale).
    """

    def __init__(self, stream: KStream):
        if not stream.key:
            raise ValueError("grouping requires key columns")
        self.stream = KStream(_not_null(stream.df, stream.key), stream.key, stream.ts)
        self.key = self.stream.key
        self.ts = self.stream.ts

    def count(self, alias: str = "cnt") -> KTable:
        """Running count per key (IKGroupedStream.cs:27-55); batch result =
        final count."""
        return self.aggregate(**{alias: F.count(F.lit(1))})

    def aggregate(self, **agg_exprs: Column) -> KTable:
        """Fold per key (IKGroupedStream.cs:82-223,
        KStreamAggregateProcessor.cs:8-50) — expression path: any Spark
        aggregate expression(s).  Result is a KTable keyed by the group key.
        A missing aggregator is a construction error (ArgumentNullException
        guards in IKGroupedStream Aggregate/Reduce)."""
        if not agg_exprs:
            raise ValueError("aggregate requires at least one named aggregate expression")
        aggs = [v.alias(k) for k, v in agg_exprs.items()]
        return KTable(self.stream.df.groupBy(*self.key).agg(*aggs), self.key)

    def reduce(self, **agg_exprs: Column) -> KTable:
        """Reduce = fold seeded by the first value
        (KStreamReduceProcessor.cs:7-46).  For order-insensitive combine
        functions (min/max/sum/...) the batch result equals the streaming
        fold; expression path identical to aggregate."""
        return self.aggregate(**agg_exprs)

    def aggregate_py(self, fn: Callable, schema: str) -> KTable:
        """Arbitrary-Python fold via ``applyInPandas`` (Arrow-batched, grouped)
        — the escape hatch for opaque Aggregator delegates
        (core/Stream/Aggregator.cs).  ``fn(pdf) -> pdf`` per key group.
        Streaming equivalent: ``applyInPandasWithState``.

        Scale: one shuffle by key; each group handled in a single Arrow batch,
        so keys must have bounded cardinality per group (true for running
        aggregates).  Prefer ``aggregate`` whenever expressible."""
        return KTable(self.stream.df.groupBy(*self.key).applyInPandas(fn, schema), self.key)

    def windowed_by(
        self,
        window: WindowOptions | CustomWindowOptions,
        arrival_order: Sequence | None = None,
        arrival_partition: Column | None = None,
    ) -> "TimeWindowedKStream":
        """Enter windowed aggregation (IKGroupedStream.cs:348).

        ``arrival_order``/``arrival_partition`` only matter when the window
        has a grace period: they define the batch replay order used to emulate
        per-task stream-time (see TimeWindowedKStream)."""
        return TimeWindowedKStream(self.stream, window, arrival_order, arrival_partition)

    def cogroup(self, **agg_exprs: Column) -> "CogroupedKStream":
        """Start a cogroup — the Kafka Streams 2.5 ``cogroup`` surface (absent
        from the reference snapshot, which predates KIP-150; successor API of
        its KGroupedStream like ``split`` is of Branch).  Each participating
        grouped stream contributes its own aggregators to one shared table:
        ``a.cogroup(cnt=F.count('*')).cogroup(b, total=F.sum('x'))
        .aggregate()``.  A key present in only some streams still appears;
        the other streams' columns hold their initializer value (null, or the
        ``fill`` default given to ``aggregate``)."""
        return CogroupedKStream().cogroup(self, **agg_exprs)


def stitch_cogrouped(
    tables: list[tuple[DataFrame, Sequence[str]]],
    key: Sequence[str],
    fill: dict[str, object] | None = None,
) -> DataFrame:
    """Stitch per-stream aggregate tables into ONE cogrouped table: align
    each table's key columns to ``key``, full-outer join with null-safe key
    coalescing (a key present in only some streams still appears), then
    apply ``fill`` initializer defaults.  Shared by the batch
    CogroupedKStream.aggregate and streaming.cogroup_streaming so both
    realizations have identical stitch semantics.  Every join keys on the
    columns the aggregates just hash-partitioned by, so Catalyst reuses the
    exchange; inputs are aggregate-sized (one row per key per stream)."""
    key = tuple(key)
    aligned = []
    for t, part_key in tables:
        if len(part_key) != len(key):
            raise ValueError(
                f"cogrouped key arity mismatch: {tuple(part_key)} vs {key}"
            )
        # one positional select, NOT iterative withColumnRenamed: when a
        # side's key names permute the target key (or a non-key column
        # collides with it), sequential renames create transient duplicate
        # names and corrupt columns
        clash = [c for c in t.columns if c not in part_key and c in key]
        if clash:
            raise ValueError(
                f"non-key column(s) {clash} collide with the target key {key}; alias them first"
            )
        aligned.append(
            t.select(
                *[t[old].alias(new) for old, new in zip(part_key, key)],
                *[t[c] for c in t.columns if c not in part_key],
            )
        )
    out = aligned[0]
    for t in aligned[1:]:
        cond = None
        for k in key:
            c = out[k].eqNullSafe(t[k])
            cond = c if cond is None else cond & c
        joined = out.join(t, cond, "full_outer")
        coalesced = [F.coalesce(out[k], t[k]).alias(k) for k in key]
        others = [out[c] for c in out.columns if c not in key] + [
            t[c] for c in t.columns if c not in key
        ]
        out = joined.select(*coalesced, *others)
    if fill:
        out = out.select(
            *key,
            *[
                F.coalesce(F.col(c), F.lit(fill[c])).alias(c) if c in fill else F.col(c)
                for c in out.columns
                if c not in key
            ],
        )
    return out


class CogroupedKStream:
    """Builder for KGroupedStream.cogroup (KIP-150 semantics).

    Spark-first plan: each stream is aggregated independently (hash
    aggregate → map-side partial combine, so raw records reduce to one row
    per key per map task before their single shuffle), then the pre-reduced
    per-stream tables — one row per key each — are stitched with
    key-coalescing full-outer joins.  All joins key on the same columns the
    aggregates just hash-partitioned by, so Catalyst reuses the exchange
    instead of reshuffling; the join inputs are aggregate-sized, not
    raw-data-sized.  At 100 TB the cost is N aggregation shuffles of
    pre-combined rows — the same work N separate aggregates would do — plus
    joins over |distinct keys| rows, never a second pass over raw data."""

    def __init__(self):
        self._parts: list[tuple[KGroupedStream, dict[str, Column]]] = []

    def cogroup(self, grouped: KGroupedStream, **agg_exprs: Column) -> "CogroupedKStream":
        if not agg_exprs:
            raise ValueError("cogroup requires at least one named aggregate expression")
        if self._parts and len(grouped.key) != len(self._parts[0][0].key):
            raise ValueError(
                "all cogrouped streams must share the key arity; re-key with group_by first"
            )
        self._parts.append((grouped, dict(agg_exprs)))
        return self

    def aggregate(self, fill: dict[str, object] | None = None) -> KTable:
        """Materialize the cogroup as one KTable keyed by the first stream's
        key names.  ``fill`` maps aggregate column → initializer value used
        when that stream never saw the key (KIP-150's Initializer; default
        null)."""
        if not self._parts:
            raise ValueError("cogroup requires at least one stream")
        key = self._parts[0][0].key
        seen: set[str] = set()
        for _, aggs in self._parts:
            dup = seen.intersection(aggs)
            if dup:
                raise ValueError(f"duplicate aggregate column name(s): {sorted(dup)}")
            seen.update(aggs)
        tables = [
            (grouped.aggregate(**aggs).df, grouped.key) for grouped, aggs in self._parts
        ]
        return KTable(stitch_cogrouped(tables, key, fill), key)


class KGroupedTable:
    """Re-keyed table awaiting re-aggregation (core/Table/Internal/KGroupedTable.cs).

    The reference maintains these incrementally with adder+subtractor pairs
    (KTableAggregateProcessor.cs:9-74); over the batch latest-per-key state a
    plain re-aggregation produces the identical final result (retractions net
    out) — declared equivalence per SURVEY §7.1 step 3."""

    def __init__(self, table: KTable):
        if not table.key:
            raise ValueError("grouping requires key columns")
        self.table = KTable(_not_null(table.df, table.key), table.key, table.ts)
        self.key = self.table.key

    def count(self, alias: str = "cnt") -> KTable:
        """IKGroupedTable.Count (core/Table/IKGroupedTable.cs:25-53)."""
        return self.aggregate(**{alias: F.count(F.lit(1))})

    def aggregate(self, **agg_exprs: Column) -> KTable:
        """IKGroupedTable.Aggregate (core/Table/IKGroupedTable.cs:220-438).
        A missing aggregator is a construction error (ArgumentNullException,
        KGroupedTableAggTests.cs:121-142)."""
        if not agg_exprs:
            raise ValueError("aggregate requires at least one named aggregate expression")
        aggs = [v.alias(k) for k, v in agg_exprs.items()]
        return KTable(self.table.df.groupBy(*self.key).agg(*aggs), self.key)

    def reduce(self, **agg_exprs: Column) -> KTable:
        """IKGroupedTable.Reduce (core/Table/IKGroupedTable.cs:93-189)."""
        return self.aggregate(**agg_exprs)


class TimeWindowedKStream:
    """Windowed aggregation (core/Stream/Internal/TimeWindowedKStream.cs;
    processor core/Processors/KStreamWindowAggregateProcessor.cs:43-84).

    Output key = (group key, window_start, window_end) — the ``Windowed<K>``
    composite (core/State/Windowed.cs:18-38); we expose start/end as explicit
    timestamp columns (SURVEY §7.3.6: only the logical triple must round-trip).

    Grace emulation (batch): the reference drops a record for a window once
    per-task stream-time (max observed ts, KStreamWindowAggregateProcessor.cs:51)
    minus grace passes the window end (:77-82).  Batch replay: stream-time at
    each record = running max(ts) over the arrival order within the arrival
    partition (the task analog), computed with one window-function pass.  In
    streaming mode this is exactly ``withWatermark(ts, grace)``.
    """

    def __init__(
        self,
        stream: KStream,
        window: WindowOptions | CustomWindowOptions,
        arrival_order: Sequence | None = None,
        arrival_partition: Column | None = None,
    ):
        if stream.ts is None:
            raise ValueError("windowed aggregation requires a ts column")
        self.stream = stream
        self.window = window
        self.arrival_order = tuple(arrival_order) if arrival_order is not None else ()
        self.arrival_partition = arrival_partition

    def _assign(self) -> DataFrame:
        """Attach __w_start/__w_end window-bound columns (and apply grace)."""
        df = self.stream.df
        ts = F.col(self.stream.ts)
        w = self.window
        per_record_grace = (
            df.isStreaming
            and getattr(w, "grace_ms", None) is not None
            and bool(self.arrival_order)
            and self.arrival_partition is not None
        )
        if df.isStreaming and getattr(w, "grace_ms", None) is not None and not per_record_grace:
            # streaming mode: grace IS the watermark (late rows dropped by the
            # engine, windows closed at watermark - grace); no batch emulation.
            # With arrival_order + arrival_partition declared, the per-record
            # admission stage below replaces this (exact KS record-granularity
            # semantics; the watermark is batch-granularity and complete-mode
            # reads keep late rows).
            df = df.withWatermark(self.stream.ts, f"{int(w.grace_ms)} milliseconds")
            w = dataclasses.replace(w, grace_ms=None)
        if isinstance(w, CustomWindowOptions):
            start, end = w.assign(ts)
            df = df.withColumn("__w_start", start).withColumn("__w_end", end)
        elif w.advance_ms == w.size_ms:  # tumbling
            win = F.window(ts, f"{w.size_ms} milliseconds")
            df = df.withColumn("__w", win).withColumn("__w_start", F.col("__w.start")).withColumn(
                "__w_end", F.col("__w.end")
            ).drop("__w")
        else:  # hopping: explode into the member windows; the grace filter
            # below operates per exploded (record, window) row — stream-time
            # (a running max of ts) is unaffected by the duplication, so the
            # same emulation covers hopping windows
            win = F.window(ts, f"{w.size_ms} milliseconds", f"{w.advance_ms} milliseconds")
            df = df.withColumn("__w", win).withColumn("__w_start", F.col("__w.start")).withColumn(
                "__w_end", F.col("__w.end")
            ).drop("__w")
        if per_record_grace:
            return self._grace_admission_streaming(df, int(w.grace_ms))
        if getattr(w, "grace_ms", None) is not None:
            if not self.arrival_order:
                raise ValueError("grace emulation requires arrival_order (the offset analog)")
            if self.arrival_partition is None:
                # The reference's stream-time is per TASK (max observed ts per
                # StreamTask, KStreamWindowAggregateProcessor.cs:51); a global
                # stream-time would need Window.partitionBy(lit(0)) — an
                # Exchange SinglePartition funneling the whole input through
                # one task, a stall at 100 TB.  Requiring the partition column
                # is both more faithful and the scale-safe plan.
                raise ValueError(
                    "batch grace emulation requires arrival_partition (the per-task "
                    "stream-time analog, e.g. F.col('user_id') % 8); a global stream-time "
                    "would serialize the whole input through one partition"
                )
            part = self.arrival_partition
            order_cols = [c if isinstance(c, Column) else F.col(c) for c in self.arrival_order]
            ow = (
                Window.partitionBy(part)
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            df = df.withColumn("__stream_time", F.max(ts).over(ow))
            # keep while window_end > stream_time - grace — the STRICT
            # inequality of KStreamWindowAggregateProcessor.cs:51-58
            # (`windowEnd > closeTime`), which is also Apache Kafka's rule
            # and Spark's own watermark admission (windowEnd > watermark);
            # a >= here would admit one extra boundary millisecond
            # (caught by the round-7 grace differential fuzz)
            df = df.filter(F.col("__w_end") > F.col("__stream_time") - _interval_ms(w.grace_ms))
            df = df.drop("__stream_time")
        return df

    def _grace_admission_streaming(self, df: DataFrame, grace_ms: int) -> DataFrame:
        """Record-granularity grace admission for STREAMING input — the exact
        rule of KStreamWindowAggregateProcessor.cs:51-58 (admit iff
        windowEnd > observedStreamTime − grace, stream time = the running max
        event time per task, updated per record in arrival order), realized
        as an ``applyInPandasWithState`` stage grouped by
        ``arrival_partition`` — the StreamTask analog: stream time is PER
        TASK in Kafka Streams, so the partition column is both the faithful
        unit and the scale unit (no single-partition funnel).  State per
        partition = one long (the running stream time); each microbatch
        sorts its rows by ``arrival_order`` and replays the per-record rule,
        so admission matches the batch emulation exactly — including a
        record admitted just before a later record's stream-time advance
        would have closed its window.  Append mode, NoTimeout (no watermark
        required); admitted rows flow to the downstream windowed aggregation,
        a supported stateful-operator chain."""
        from .runtime import epoch_ms

        cols = list(df.columns)
        ddl = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        order_cols = [c if isinstance(c, Column) else F.col(c) for c in self.arrival_order]
        staged = (
            df.withColumn("__gpart", self.arrival_partition.cast("string"))
            .withColumn("__ev_ms", epoch_ms(self.stream.ts))
            .withColumn("__wend_ms", epoch_ms("__w_end"))
        )
        ord_names = []
        for i, c in enumerate(order_cols):
            n = f"__ord_{i}"
            staged = staged.withColumn(n, c)
            ord_names.append(n)
        out_schema = ", ".join(f"`{c}` {ddl[c]}" for c in cols)
        grace = int(grace_ms)

        def fn(key, pdfs, state):
            import pandas as pd  # noqa: PLC0415 - worker-side import

            stime = state.get[0] if state.exists else None
            frames = [pdf for pdf in pdfs if len(pdf)]
            if not frames:
                return
            data = pd.concat(frames).reset_index(drop=True)
            data = data.sort_values(ord_names, kind="stable")
            keep = []
            for idx in data.index:
                ev = data.at[idx, "__ev_ms"]
                if pd.isna(ev):
                    continue  # no event time -> no admission (KS needs ts)
                ev = int(ev)
                stime = ev if stime is None else max(stime, ev)
                if int(data.at[idx, "__wend_ms"]) > stime - grace:
                    keep.append(idx)
            if stime is not None:
                state.update((int(stime),))
            if keep:
                yield data.loc[keep, cols]

        return staged.groupBy("__gpart").applyInPandasWithState(
            fn, out_schema, "stream_time long", "append", "NoTimeout"
        )

    def _agg(self, agg_exprs: dict[str, Column], start_alias: str, end_alias: str) -> KTable:
        if isinstance(self.window, SessionWindowOptions):
            return self._agg_session(agg_exprs, start_alias, end_alias)
        w = self.window
        df = self.stream.df
        if df.isStreaming and not isinstance(w, CustomWindowOptions):
            # streaming tumbling/hopping: group on the F.window STRUCT itself
            # and extract start/end AFTER the aggregation — append output
            # mode (emit-final, KTable.suppress) only recognizes the
            # aggregation as a closable event-time window when the
            # watermarked column's window expression is a grouping key, not
            # when start/end are pre-extracted as plain timestamp columns.
            # Complete/update modes are unaffected (same result either way).
            if getattr(w, "grace_ms", None) is not None:
                df = df.withWatermark(self.stream.ts, f"{int(w.grace_ms)} milliseconds")
            ts = F.col(self.stream.ts)
            if w.advance_ms == w.size_ms:
                win = F.window(ts, f"{w.size_ms} milliseconds")
            else:
                win = F.window(ts, f"{w.size_ms} milliseconds", f"{w.advance_ms} milliseconds")
            key = list(self.stream.key)
            out = (
                df.groupBy(*key, win.alias("__w"))
                .agg(*[v.alias(k) for k, v in agg_exprs.items()])
                .select(
                    *key,
                    F.col("__w.start").alias(start_alias),
                    F.col("__w.end").alias(end_alias),
                    *agg_exprs.keys(),
                )
            )
            return KTable(out, tuple(key) + (start_alias, end_alias))
        df = self._assign()
        key = list(self.stream.key)
        grouped = df.groupBy(
            *key,
            F.col("__w_start").alias(start_alias),
            F.col("__w_end").alias(end_alias),
        )
        aggs = [v.alias(k) for k, v in agg_exprs.items()]
        out = grouped.agg(*aggs)
        return KTable(out, tuple(key) + (start_alias, end_alias))

    def _agg_session(self, agg_exprs: dict[str, Column], start_alias: str, end_alias: str) -> KTable:
        """Session windows merge on the gap, so assignment can't be a per-row
        expression; ``F.session_window`` handles the merge natively in batch
        (agg-time merge) and streaming (merging session state store).  Grace
        maps to the watermark in streaming; batch has no late-drop emulation
        for sessions (final state over complete input is already exact)."""
        w = self.window
        df = self.stream.df
        if df.isStreaming and w.grace_ms is not None:
            df = df.withWatermark(self.stream.ts, f"{int(w.grace_ms)} milliseconds")
        key = list(self.stream.key)
        sw = F.session_window(F.col(self.stream.ts), f"{int(w.gap_ms)} milliseconds")
        aggs = [v.alias(k) for k, v in agg_exprs.items()]
        out = (
            df.groupBy(*key, sw.alias("__sw"))
            .agg(*aggs)
            .select(
                *key,
                F.col("__sw.start").alias(start_alias),
                F.col("__sw.end").alias(end_alias),
                *agg_exprs.keys(),
            )
        )
        return KTable(out, tuple(key) + (start_alias, end_alias))

    def count(self, alias: str = "cnt", start_alias: str = "w_start", end_alias: str = "w_end") -> KTable:
        return self._agg({alias: F.count(F.lit(1))}, start_alias, end_alias)

    def aggregate(self, start_alias: str = "w_start", end_alias: str = "w_end", **agg_exprs: Column) -> KTable:
        return self._agg(agg_exprs, start_alias, end_alias)

    def reduce(self, start_alias: str = "w_start", end_alias: str = "w_end", **agg_exprs: Column) -> KTable:
        return self._agg(agg_exprs, start_alias, end_alias)
