"""LLM-data-pipeline operators: dedup, similarity search, text analysis,
multimodal plumbing.

These are beyond the reference's operator set (it is a Kafka Streams DSL) but
first-class here: the 100 TB training-data use case.  Design rules:

  * Everything is expression-based (higher-order functions, xxhash64,
    array ops) — JVM-side, whole-stage-codegen-friendly.  Python appears only
    in the clearly-marked multimodal stubs (the image/audio libs aren't in
    this container).
  * Near-dup candidate generation is ALWAYS banded/bucketed (MinHash-LSH,
    SimHash pigeonhole, hyperplane buckets) — never all-pairs.  At 100 TB the
    candidate join shuffles O(docs × bands) small rows instead of O(docs²).
  * Exact verification (Jaccard / hamming / cosine) runs only on candidate
    pairs.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _spread(df: DataFrame) -> DataFrame:
    """Alias of runtime.ensure_min_parallelism (kept under the historical
    name used throughout this module): compensate single-row-group test
    files; no-op at corpus scale."""
    from .runtime import ensure_min_parallelism

    return ensure_min_parallelism(df)


_CACHED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """Persist an intermediate reused by multiple join sides, registering it
    so ``release_cache()`` can drop it.  Results are lazy, so the pipelines
    can't unpersist eagerly themselves — callers own cleanup (bench loops /
    repeated invocations call release_cache between runs to stop cached
    blocks accumulating)."""
    _CACHED.append(df.persist())
    return df


def release_cache() -> None:
    """Unpersist every intermediate persisted by this module's pipelines.
    Call after the returned DataFrames have been materialized (collected /
    written); safe to call repeatedly."""
    while _CACHED:
        _CACHED.pop().unpersist()


# ------------------------------------------------- skew-safe key-stat attach
#
# The text-analytics family repeatedly needs "attach a per-key aggregate
# (document frequency, vocabulary count) back onto the frame it was computed
# from".  An `agg OVER (PARTITION BY key)` window avoids the join but puts
# EVERY row of a key on ONE task (WindowExec cannot be split): a stopword
# term or a corpus-wide boilerplate digest becomes a single-task sort of
# ~n_docs rows at 100 TB, and parallelism is capped at key cardinality.
# This helper is a join-based attach that is safe at BOTH ends of the key-frequency spectrum
# (guide §2.5 "broadcast-join just the hot keys and shuffle-join the rest"):
#
#   * keys with >= hot_rows source rows attach via a BROADCAST hash join —
#     there can be at most total_rows/hot_rows of them (pigeonhole), so the
#     broadcast is provably bounded (~100 MB at 10^13 tokens with the
#     default), and the skewed rows never shuffle at all;
#   * the remaining keys attach via an ordinary shuffle join whose per-key
#     row count is < hot_rows BY CONSTRUCTION, so AQE's partition-granular
#     skew splitting suffices and no single-key straggler is possible.
#     Locally the cold table is vocabulary-sized and AQE broadcasts it, so
#     the big side does not shuffle there either.
#
# The big frame is consumed by both branches — callers _persist it.

_HOT_KEY_ROWS = 1_000_000

# Cap for probe-gated broadcasts of per-doc payload tables (gram-hash /
# gram-string / vector arrays) onto candidate-pair frames (_attach_arrays).
# It counts RAW payload bytes: the broadcast hash-relation build costs 2-4x
# that, so 64 MB stays far under the 8 GB broadcast hard cap and is a
# trivial slice of executor memory at any deployment size.
_BCAST_ARRAYS_BYTES = 64 << 20


def _attach_arrays(small: DataFrame, tbl: DataFrame, key, est_bytes: int) -> DataFrame:
    """Join the per-doc payload table ``tbl`` (gram or vector arrays) onto
    the candidate-pair frame ``small`` on ``key`` — the one verify-join
    broadcast gate of minhash_lsh_pairs, jaccard_pairs_exact and
    embedding_neardup.  ``est_bytes`` is the table's raw size MEASURED by the
    caller's probe pass (planning-time estimates are badly wrong after
    explodes and UDFs).  Within ``_BCAST_ARRAYS_BYTES`` the table
    broadcasts, so the candidate pairs never re-shuffle dragging payload
    arrays through a pair-keyed Exchange.  Over the cap the payload side is
    merge-hinted: its arrays shuffle once by id and are never broadcast —
    Catalyst's estimate can otherwise elect a BroadcastHashJoin of a
    corpus-sized payload, which OOMs the broadcast build at a 2 GiB driver
    on the x30 corpus (SCALE_STRESS.json low_memory) where sort-merge
    spills."""
    if est_bytes <= _BCAST_ARRAYS_BYTES:
        return small.join(F.broadcast(tbl), key)
    return small.join(tbl.hint("merge"), key)


def _attach_key_stats(
    big: DataFrame, tbl: DataFrame, key: str, rows_col: str, hot_rows: int | None = None
) -> DataFrame:
    """Skew-safely join ``tbl`` (one row per ``key`` with per-key aggregates,
    including ``rows_col`` = number of ``big`` rows carrying that key, or any
    upper bound on it) onto ``big``.  Keys must be non-null (every call site
    filters/derives them).  ``big`` rows whose key is absent from ``tbl``
    are dropped (inner-join semantics — pass a complete ``tbl`` when every
    row must survive).  Returns ``big``'s columns plus ``tbl``'s non-key
    columns.

    A one-row probe (``max(rows_col)`` — the same adaptive pattern as
    jaccard_pairs_exact's collapse probe; the probe's pass over ``big``
    doubles as its cache build) picks between two shapes:

      * no key reaches ``hot_rows``: ONE plain equi-join — locally AQE
        broadcasts the vocabulary-sized ``tbl`` so ``big`` never shuffles,
        and at scale every shuffle-join partition is < hot_rows rows per
        key by the probe's own bound, so AQE's partition-granular skew
        split suffices.  This keeps the no-skew fast path free of the
        split's union/branch overhead (measured +0.3 s/query at sf0.1).
      * some key is hot: hot/cold split.  The hot slice broadcasts — there
        are at most total/hot_rows such keys (pigeonhole), so the broadcast
        is provably bounded — and its rows never shuffle at all; cold keys
        are < hot_rows per key by construction.  A mis-probed corpus only
        costs performance, never correctness (both shapes are the same
        inner join)."""
    if hot_rows is None:
        hot_rows = _HOT_KEY_ROWS  # module var, so stress tooling can lower it
    mx = tbl.agg(F.max(F.col(rows_col)).alias("m")).collect()[0]["m"]
    if mx is None or mx < hot_rows:
        return big.join(tbl, key)
    hot = tbl.filter(F.col(rows_col) >= hot_rows)
    cold = tbl.filter(F.col(rows_col) < hot_rows)
    probe = big.join(F.broadcast(hot), key, "left")
    hit = probe.filter(F.col(rows_col).isNotNull())
    extra = [c for c in tbl.columns if c != key]
    miss = probe.filter(F.col(rows_col).isNull()).drop(*extra).join(cold, key)
    return hit.unionByName(miss)


# ------------------------------------------------------ Arrow-stage fusion
#
# Every multimodal operator is an Arrow-batched iterator transform
# (Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]) run through mapInPandas.
# Chaining two such operators (synth -> transcode -> decode) used to pay one
# full JVM->Python->JVM crossing PER OPERATOR even though Spark pipelines
# them into a single task: each crossing costs a worker round-trip plus two
# Arrow (de)serializations of the intermediate payload column.  Measured at
# sf0.1/local[32], each extra Python stage adds ~0.25-0.45 s of pure
# boundary overhead per query while the codec compute itself is milliseconds
# (OPTIMIZATION_r13.md "multimodal fusion").
#
# _arrow_stage removes the interior crossings (guide §4.1: you cannot avoid
# the boundary, but you control how often you cross it): when its input
# DataFrame is the *direct, un-projected* result of a previous _arrow_stage,
# the iterator transforms compose in Python — one mapInPandas over the
# original source runs the whole chain, so the intermediate payloads never
# leave the worker.  Semantics are identical by construction: the same
# worker callables run in the same order on the same rows; only the
# intermediate Arrow materialization (a pure serialize/deserialize
# round-trip) is elided.  Fusion is per-DataFrame-object (a plain Python
# attribute), so any Catalyst op in between — select, filter, join, union —
# naturally breaks the chain and falls back to the unfused path.

def _rename_shim(colmap: Sequence[tuple[str, str]]):
    """Pandas-side equivalent of ``df.select(F.col(s).alias(a) ...)`` for a
    fused chain: project/rename the upstream worker's output columns."""

    def shim(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({a: pdf[s] for s, a in colmap})

    return shim


def _chain_workers(workers):
    def fused(batches: Iterator) -> Iterator:
        it = batches
        for wk in workers:
            it = wk(it)
        return it

    return fused


def _arrow_stage(
    df: DataFrame,
    colmap: Sequence[tuple[str, str]],
    worker,
    schema: str,
    spread: bool = True,
) -> DataFrame:
    """Run ``worker`` as one mapInPandas stage over ``df`` projected per
    ``colmap`` [(src, alias), ...], fusing with an immediately preceding
    _arrow_stage result into a single Python crossing (see block comment
    above).  ``spread=False`` preserves operators that historically did not
    repartition their input.

    Fused-chain invariant: the fused path elides the
    intermediate Arrow round-trip, so a downstream worker sees the upstream
    worker's raw pandas output rather than schema-cast values — every
    fusable worker must therefore emit exactly its declared columns with
    exact dtypes (all of this module's workers do; access is name-based).
    The out-column list is parsed with Spark's own DDL parser so nested
    types (struct/array fields containing commas) can never corrupt it."""
    from pyspark.sql.types import _parse_datatype_string

    def _ddl_names(ddl: str) -> list:
        return [f.name for f in _parse_datatype_string(ddl).fields]

    chain = getattr(df, "_pse_arrow_chain", None)
    if chain is not None:
        src_df, upstream, out_cols = chain
        if all(s in out_cols for s, _ in colmap):
            shims = (
                [_rename_shim(colmap)]
                if any(s != a for s, a in colmap)
                else []
            )
            workers = upstream + shims + [worker]
            out = src_df.mapInPandas(_chain_workers(workers), schema)
            out._pse_arrow_chain = (
                src_df,
                workers,
                _ddl_names(schema),
            )
            return out
    proj = df.select(*[F.col(s).alias(a) for s, a in colmap])
    if spread:
        proj = _spread(proj)
    out = proj.mapInPandas(worker, schema)
    out._pse_arrow_chain = (
        proj,
        [worker],
        _ddl_names(schema),
    )
    return out


# ---------------------------------------------------------------- tokenize

def tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_ngrams_multiset(toks: Column, n: int) -> Column:
    """Word n-gram shingles (with duplicates) via one higher-order-function
    pass.  Documents shorter than n tokens yield an empty shingle set
    (guarded: Spark's sequence(1, 0) would otherwise DESCEND and index 0)."""
    count = F.size(toks) - (n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def word_ngrams(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles.  array_distinct is interpreted O(k²)
    per row — use the multiset variant when downstream ops already have set
    semantics (min-hash; array_intersect/array_union)."""
    return F.array_distinct(word_ngrams_multiset(toks, n))


# ---------------------------------------------------------------- exact dedup

def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup by content hash: keep the lowest id per distinct content.

    Scale: hash-groupBy on a 128-bit digest — one shuffle keyed by the digest,
    partial min() combine map-side.  Never compares full payloads pairwise.
    """
    return (
        df.select(F.md5(F.col(content_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )


# ---------------------------------------------------------------- MinHash-LSH

_MAX_LONG = (1 << 63) - 1


def portable_hash32(col: Column) -> Column:
    """32-bit content hash computable IDENTICALLY in Spark and DuckDB:
    the first 8 hex chars of md5, parsed as an unsigned int (Spark:
    conv(substr(md5,1,8),16,10); DuckDB: ('0x'||substr(md5,1,8))::BIGINT).

    Purpose: with a shared hash, an external SQL oracle can recompute the
    exact minhash signatures / simhash fingerprints and therefore simulate
    the WHOLE LSH pipeline — banding, pigeonhole candidate generation,
    verify — turning probabilistic-recall behavior into an exactly
    checkable result.  xxhash64 stays the default production hash (one
    JVM intrinsic vs an md5 digest per token); both paths are the same
    JVM-side expression shape."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _affine_coeffs(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine minhash permutations
    h_j(x) = (a_j * x + b_j) mod p, a_j odd, both < 2^31."""
    out = []
    for j in range(n):
        h = hashlib.sha256(f"minhash:{seed}:{j}".encode()).digest()
        a = (int.from_bytes(h[:4], "big") | 1) & 0x7FFFFFFF
        b = int.from_bytes(h[4:8], "big") & 0x7FFFFFFF
        out.append((a or 1, b))
    return out


def minhash_signature_from_grams(grams: Column, num_hashes: int = 64) -> Column:
    """MinHash signature in ONE pass over the shingle array.

    hash_j(s) = xxhash64(s, j); signature[j] = min over shingles.  The
    accumulator is the running 64-wide min vector, merged per shingle with
    zip_with(least) — all JVM expressions, no UDF.  (NB: per-j lambdas must
    close over j via the comprehension inside F.array, never via default
    args — pyspark binds HOF lambdas by parameter count.)"""
    init = F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_hashes)
    return F.aggregate(
        grams,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(j)) for j in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signature(toks: Column, num_hashes: int = 64, shingle: int = 3) -> Column:
    return minhash_signature_from_grams(word_ngrams(toks, shingle), num_hashes)


def _cap_buckets(banded: DataFrame, bucket_cols: Sequence[str], max_bucket_size: int | None) -> DataFrame:
    """Skew lever: drop buckets above ``max_bucket_size`` before the
    candidate self-join.  A hot bucket (boilerplate text, zero vectors)
    turns the per-bucket |b|² pair blow-up into a stall at corpus scale;
    capping trades recall on degenerate content for a bounded join.  The
    window count shuffles on the same key the join needs anyway."""
    if not max_bucket_size:
        return banded
    w = Window.partitionBy(*bucket_cols)
    return (
        banded.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("__bucket_n") <= max_bucket_size)
        .drop("__bucket_n")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    portable: bool = False,
    verify_salt: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact Jaccard verify.

    Pipeline: shingle → 64 minhashes → ``bands`` bands of ``num_hashes/bands``
    rows → bucket-join on (band, band-hash) → exact word-shingle Jaccard on
    candidates only → filter ≥ threshold.  Returns (id_a, id_b) with
    id_a < id_b.

    ``portable=True`` swaps the shingle base hash to :func:`portable_hash32`
    so a DuckDB oracle can recompute the signatures and simulate the banded
    candidate generation exactly (band membership = equality of the band's
    minhash tuple) — the oracle then checks not just the verify step but the
    LSH recall behavior itself.

    Scale: the only shuffles are (1) explode+groupBy on band buckets
    (O(docs × bands) rows) and (2) the candidate-pair self-join — no O(n²)
    stage.  A hot bucket (boilerplate text) is bounded by salting upstream or
    capping bucket size; AQE skew-join handles moderate skew.

    ``verify_salt=n``: explicit skew salting for the candidate→gram VERIFY
    join (the join_table_salted lever, dsl.py:596, applied here): a hot
    document — one boilerplate string shared by k near-identical docs puts
    ~k candidate rows behind ONE id key — gets its pairs spread over ``n``
    reducers via a deterministic per-pair salt, with the gram side
    replicated n× (per-side independent salts, so both the id_a and id_b
    hot spots split).  Pair set is IDENTICAL (each pair row carries exactly
    one salt value and meets exactly one gram replica); cost is n× gram
    duplication — the lever for when AQE cannot act (pinned partitioning,
    Structured Streaming microbatches) or the hot key exceeds what a
    runtime split can rebalance."""
    rows = num_hashes // bands
    # multiset shingles: min-hash is distinct-insensitive and the Jaccard
    # verify uses array_intersect/array_union (set semantics) — skipping
    # array_distinct avoids an interpreted O(k²) pass per document
    grams = word_ngrams_multiset(tokens(F.col(text_col)), shingle)
    base = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id"), grams.alias("__grams")
    ).filter(F.size("__grams") > 0)
    # the shingle table feeds the signature pipeline AND both verify sides —
    # materialize it once (memory, spilling to disk) instead of re-running
    # the tokenize+shingle expressions three times; at corpus scale this is
    # the same move as writing the shingle table out before the pair phase
    base = _persist(base)
    # Scale path: explode shingles to rows and compute the signature as 64
    # declarative min() aggregates over affine permutations of one base hash.
    # This is map-side-combinable (partial min before the shuffle) and stays
    # in whole-stage codegen — unlike a 64-wide higher-order-function lambda,
    # which costs ~20s of codegen compile alone.  Arithmetic is kept under
    # 2^62 (31-bit hash × 31-bit multiplier) so ANSI overflow checking never
    # trips.
    p = 2147483647  # 2^31 - 1 (Mersenne prime)
    coeffs = _affine_coeffs(num_hashes)
    base_hash = portable_hash32(F.col("__g")) if portable else F.xxhash64("__g")
    gram_rows = base.select("__id", F.explode("__grams").alias("__g")).withColumn(
        "__h", F.pmod(base_hash, F.lit(p))
    )
    sig = gram_rows.groupBy("__id").agg(
        *[
            F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(bq), F.lit(p))).alias(f"mh{j}")
            for j, (a, bq) in enumerate(coeffs)
        ]
    )
    band_arr = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"mh{j}") for j in range(b * rows, (b + 1) * rows)])
            for b in range(bands)
        ]
    )
    banded = sig.select("__id", F.posexplode(band_arr).alias("__band", "__bh"))
    banded = _cap_buckets(banded, ("__band", "__bh"), max_bucket_size)
    banded = _persist(banded)  # (id, band, hash) triples, reused by both join sides
    lhs = banded.alias("a")
    rhs = banded.alias("b")
    cand = (
        lhs.join(
            rhs,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    ga = base.select(F.col("__id").alias("id_a"), F.col("__grams").alias("__ga"))
    gb = base.select(F.col("__id").alias("id_b"), F.col("__grams").alias("__gb"))
    # a one-row probe over the persisted shingle table measures the gram
    # tables' raw bytes for the verify-join gate (_attach_arrays)
    gprobe = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.size("__grams")), F.lit(0)).alias("g_tot"),
        F.coalesce(
            F.sum(F.aggregate("__grams", F.lit(0).cast("long"), lambda a, x: a + F.length(x))),
            F.lit(0),
        ).alias("chars_tot"),
    ).collect()[0]
    gram_bytes = 40 * gprobe["n"] + 16 * gprobe["g_tot"] + gprobe["chars_tot"]
    ja, jb = "id_a", "id_b"
    if gram_bytes > _BCAST_ARRAYS_BYTES and verify_salt is not None and int(verify_salt) > 1:
        # only the over-cap (shuffled) verify join has an exchange to skew
        s = int(verify_salt)
        cand = cand.withColumns(
            {
                "__sa": F.pmod(F.xxhash64("id_a", "id_b"), F.lit(s)).cast("int"),
                "__sb": F.pmod(F.xxhash64("id_b", "id_a", F.lit(1)), F.lit(s)).cast("int"),
            }
        )
        salt_seq = F.sequence(F.lit(0).cast("int"), F.lit(s - 1).cast("int"))
        ga = ga.withColumn("__sa", F.explode(salt_seq))
        gb = gb.withColumn("__sb", F.explode(salt_seq))
        ja, jb = ["id_a", "__sa"], ["id_b", "__sb"]
    verified = (
        _attach_arrays(cand, ga, ja, gram_bytes)
        .transform(lambda d: _attach_arrays(d, gb, jb, gram_bytes))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__ga", "__gb")) / F.size(F.array_union("__ga", "__gb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )
    return verified


def jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle: int = 3,
    collapse: str = "auto",
) -> DataFrame:
    """EXACT set-similarity join: every pair with shingle-Jaccard ≥
    ``threshold``, guaranteed complete — the deterministic complement of
    the probabilistic minhash_lsh_pairs (use this when a missed duplicate
    is unacceptable: legal dedup, eval-set decontamination audits) and the
    at-scale version of the brute-force baseline (q45).  Prefix filtering
    (the AllPairs/PPJoin family): order every document's distinct shingles
    by GLOBAL rarity (document frequency asc, shingle asc — one total
    order both engines can reproduce); two sets with J ≥ t MUST share at
    least one shingle among each one's first n − ⌈t·n⌉ + 1 shingles in
    that order, so only prefix shingles generate candidates, and the
    rarest shingles — the ones with the fewest partners — do the
    generating.  A size filter (t·max(n_a,n_b) ≤ min(n_a,n_b)) prunes
    further before the verify.  Returns (id_a, id_b, inter_n, union_n)
    with id_a < id_b — integer outputs, so an oracle matches bit-for-bit.

    Representative collapse (built in, automatic): Jaccard is a function of
    the distinct-shingle SET alone, so documents with identical sets are
    interchangeable — the join runs over ONE representative per identical
    set (min id per set digest) and member pairs are re-expanded afterwards
    through the digest→members map.  On a k-fold-duplicated corpus the
    expensive part (candidate generation + gram-array verification) is thus
    linear in DISTINCT documents; only the pair EMISSION stays C(k,2) per
    duplicate group, which is the information-theoretic output floor of an
    exact join (measured raw exponent 2.03 pre-collapse,
    SCALE_STRESS.json exact_join_scaling).  exact_dedup first is therefore
    no longer required for safety — it remains the cheaper composition when
    duplicate pairs aren't wanted at all (RECIPES.md ordering).

    ``collapse="auto"`` (default) gates the collapse on a one-row
    ``approx_count_distinct(digest)/count`` probe over the already-persisted
    gram frame: a dup-light corpus (distinct ratio ≥ 0.98) skips the
    collapse groupBy and the digest re-expansion joins entirely — the
    direct plan, saving their ~2 s fixed cost (SCALE_STRESS
    exact_join_scaling dup_light row) — while a duplicate-heavy corpus
    keeps the linear-in-distinct-docs path.  A misclassified probe is a
    PERFORMANCE wobble only (both paths are oracle-identical), so the
    cheap approximate probe is safe.  ``"always"``/``"never"`` pin the
    choice.

    Scale: shuffles are (1) the set-digest collapse groupBy, (2) the
    df-count aggregation over exploded representative shingles, (3) the
    per-doc re-sort (same explode, grouped back), (4) the prefix-token
    self-join — fan-out per token is its document frequency, and prefix
    tokens are by construction the RAREST in each doc, so the quadratic
    risk concentrates exactly where partner counts are smallest (the
    classic AllPairs argument; no recall-losing cap needed), (5) the
    verify joins (gram payloads broadcast only within the measured-bytes
    cap, see ``_attach_arrays``), and (6) the
    digest-keyed expansion joins (pair-stat rows only, no gram payloads).
    Stages (2)-(5) run on 8-byte xxhash64 gram keys instead of shingle
    strings, and the candidate dedup doubles as the PPJoin POSITIONAL
    filter (each pair's first shared prefix token bounds the achievable
    overlap, pruning before any gram array ships); survivors are
    re-verified on the string gram sets so (inter_n, union_n) stay
    bit-exact.  On a dense-vocabulary corpus (every shingle shared by many
    docs — the prefix filter's worst case) the positional filter is what
    keeps the verify join linear in TRUE pairs rather than in candidates.

    df==1 prefix tokens are pruned before the self-join — they cannot
    generate candidates, and the rarity order makes them a slice offset
    (``__n1``), so the prefix exchange only carries shareable tokens.  The
    verify joins attach the per-doc array tables through ``_attach_arrays``
    (broadcast when the probe's measured bytes fit the cap, merge join
    above it)."""
    grams = F.array_sort(word_ngrams(tokens(F.col(text_col)), shingle))
    every = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col).alias("__id"), grams.alias("__grams"))
        .filter(F.size("__grams") > 0)
        # digest of the canonical (sorted) gram set; to_json escapes every
        # character, so the encoding is collision-free even for grams
        # containing exotic separators
        .withColumn("__d", F.sha2(F.to_json(F.struct(F.col("__grams"))), 256))
    )
    every = _persist(every)
    memb = every.select("__id", "__d", F.size("__grams").alias("__sn"))
    # ONE probe action (doubles as the persist build) also measures the
    # corpus's gram-array byte volume for the verify-join gate
    # (_attach_arrays).  Totals are pre-collapse, so they upper-bound the
    # representative table whichever path is taken.
    probe = every.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("__d", 0.02).alias("nd"),
        F.coalesce(F.sum(F.size("__grams")), F.lit(0)).alias("g_tot"),
        F.coalesce(
            F.sum(F.aggregate("__grams", F.lit(0).cast("long"), lambda a, x: a + F.length(x))),
            F.lit(0),
        ).alias("chars_tot"),
    ).collect()[0]
    if collapse == "auto":
        do_collapse = probe["n"] > 0 and probe["nd"] < 0.98 * probe["n"]
    elif collapse in ("always", "never"):
        do_collapse = collapse == "always"
    else:
        raise ValueError(f"collapse must be auto|always|never, got {collapse!r}")
    # measured upper bounds on what a broadcast of the per-doc array tables
    # would hold (8 B per gram hash; string grams cost their UTF-8 bytes +
    # per-element overhead; ~96 B/row of id + sha digest + array headers)
    hash_side_bytes = 24 * probe["n"] + 8 * probe["g_tot"]
    str_side_bytes = 96 * probe["n"] + 16 * probe["g_tot"] + probe["chars_tot"]

    if do_collapse:
        # representative = min-id member per digest, selected with ONE
        # map-side-combinable min_by aggregate (duplicates collapse before
        # the shuffle; an id-join back to the payload table would re-shuffle
        # every gram array AND force a second pass over the corpus)
        base = (
            every.groupBy("__d")
            .agg(F.min_by(F.struct("__id", "__grams"), F.col("__id")).alias("__rep"))
            .select(
                F.col("__rep.__id").alias("__id"), "__d", F.col("__rep.__grams").alias("__grams")
            )
        )
    else:
        base = every.select("__id", "__d", "__grams")
    # the heavy middle (df-count, rarity re-sort, prefix self-join, first
    # verify) runs on xxhash64 GRAM HASHES — 8-byte keys instead of
    # ~20-char shingle strings, shrinking every shuffle and array op ~4×.
    # Survivors are RE-VERIFIED on the string gram sets below, so outputs
    # stay bit-exact; completeness is modulo 64-bit gram-hash collisions
    # (two colliding SHARED grams could understate a pair's hashed Jaccard
    # — probability < 1e-15 per corpus-scale run, the same order of
    # engineering assumption as the sha-256 set digest above)
    gram_rows = base.select("__id", F.explode("__grams").alias("__gs")).select(
        "__id", F.xxhash64("__gs").alias("__g")
    )
    dfreq = gram_rows.groupBy("__g").agg(F.count(F.lit(1)).alias("__dfc"))
    ordered = (
        gram_rows.join(dfreq, "__g")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__dfc"), F.col("__g")))),
                lambda s: s["__g"],
            ).alias("__ord"),
            # number of df==1 grams: the rarity sort is (dfc asc, g asc), so
            # they occupy exactly the FIRST __n1 positions of __ord
            F.sum(F.when(F.col("__dfc") == 1, 1).otherwise(0)).cast("int").alias("__n1"),
        )
        .select(
            "__id",
            "__ord",
            "__n1",
            F.size("__ord").alias("__n"),
            # prefix length n - ceil(t*n) + 1; the 1e-9 nudge keeps float
            # noise (0.4*10 = 4.0000000000000004) from ceil-ing one past the
            # true integer and silently SHORTENING the prefix (recall loss)
            (
                F.size("__ord")
                - F.ceil(F.lit(float(threshold)) * F.size("__ord") - F.lit(1e-9))
                + 1
            )
            .cast("int")
            .alias("__p"),
        )
    )
    ordered = _persist(ordered)
    # prefix tokens with df == 1 can never generate a candidate (a
    # token shared by two docs has df >= 2 by definition), and the rarity
    # order puts all of them at positions < __n1 — so the explode starts at
    # the first shared gram.  EXACTNESS is untouched: every candidate pair
    # is generated by each SHARED prefix token, all of which survive, and
    # the positional filter's min(pos) over shared tokens is unchanged
    # (__pos stays the GLOBAL rarity position).  On a hapax-heavy corpus
    # (realistic web text: ~half the distinct shingles are df==1, and the
    # prefix holds each doc's rarest grams) this drops a large fraction of
    # the prefix exchange/join rows for free.
    skip = F.least(F.col("__n1"), F.col("__p"))
    pref = ordered.select(
        "__id",
        "__n",
        skip.alias("__skip"),
        F.posexplode(
            F.slice("__ord", skip + 1, F.greatest(F.col("__p") - skip, F.lit(0)))
        ).alias("__rpos", "__g"),
    ).select(
        "__id", "__n", (F.col("__rpos") + F.col("__skip")).alias("__pos"), "__g"
    )
    a, b = pref.alias("a"), pref.alias("b")
    t = float(threshold)
    raw = a.join(
        b,
        (F.col("a.__g") == F.col("b.__g"))
        & (F.col("a.__id") < F.col("b.__id"))
        # size filter: J >= t requires t*max <= min
        & (F.col("a.__n") * F.lit(t) <= F.col("b.__n") + F.lit(1e-9))
        & (F.col("b.__n") * F.lit(t) <= F.col("a.__n") + F.lit(1e-9)),
    ).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.col("a.__pos").alias("__pa"),
        F.col("b.__pos").alias("__pb"),
        F.col("a.__n").alias("__na"),
        F.col("b.__n").alias("__nb"),
    )
    # PPJoin positional filter (Xiao et al. 2008), join-safe form: the agg
    # that replaces the old candidate .distinct() (same single shuffle)
    # keeps each pair's FIRST shared prefix token in the global rarity
    # order — both lists are sorted by that order, so min(pos_a) and
    # min(pos_b) name the SAME token — whose suffix lengths bound the
    # achievable overlap: |A∩B| ≤ 1 + min(|A|-i, |B|-j).  J ≥ t needs
    # |A∩B| ≥ t/(1+t)·(|A|+|B|), so pairs whose first share sits too late
    # in both prefixes are pruned before the verify join ever sees them.
    cand = (
        raw.groupBy("id_a", "id_b")
        .agg(
            F.min("__pa").alias("__pa"),
            F.min("__pb").alias("__pb"),
            F.min("__na").alias("__na"),
            F.min("__nb").alias("__nb"),
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - (F.col("__pa") + 1),
                F.col("__nb") - (F.col("__pb") + 1),
            )
            >= F.ceil(
                F.lit(t / (1.0 + t)) * (F.col("__na") + F.col("__nb")) - F.lit(1e-9)
            )
        )
        .select("id_a", "id_b")
    )
    ga = ordered.select(F.col("__id").alias("id_a"), F.col("__ord").alias("__ha"))
    gb = ordered.select(F.col("__id").alias("id_b"), F.col("__ord").alias("__hb"))
    inter_h = F.size(F.array_intersect("__ha", "__hb"))
    hash_pairs = (
        _attach_arrays(cand, ga, "id_a", hash_side_bytes)
        .transform(lambda d: _attach_arrays(d, gb, "id_b", hash_side_bytes))
        .filter(
            inter_h.cast("double")
            / (F.size("__ha") + F.size("__hb") - inter_h).cast("double")
            >= F.lit(t)
        )
        .select("id_a", "id_b")
    )
    # exact re-verify on the string gram sets: survivors are ~the true
    # pairs, so these merge joins ship gram payloads for a tiny row set
    sa = base.select(
        F.col("__id").alias("id_a"), F.col("__d").alias("__da"), F.col("__grams").alias("__sa")
    )
    sb = base.select(
        F.col("__id").alias("id_b"), F.col("__d").alias("__db"), F.col("__grams").alias("__sb")
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    rep_pairs = (
        _attach_arrays(hash_pairs, sa, "id_a", str_side_bytes)
        .transform(lambda d: _attach_arrays(d, sb, "id_b", str_side_bytes))
        .select(
            "id_a",
            "id_b",
            "__da",
            "__db",
            inter.cast("long").alias("inter_n"),
            (F.size("__sa") + F.size("__sb") - inter).cast("long").alias("union_n"),
        )
        .filter(F.col("inter_n").cast("double") / F.col("union_n") >= F.lit(t))
    )
    if not do_collapse:
        # dup-light direct plan: every doc was its own representative, so
        # the verified pairs ARE the member pairs (identical-set pairs fall
        # out of the ordinary candidate path with J = 1)
        return rep_pairs.select("id_a", "id_b", "inter_n", "union_n")
    rep_pairs = rep_pairs.drop("id_a", "id_b")
    # re-expand representative pairs to member pairs through the digest map
    # (pair-stat rows only — gram arrays never join again); id order can
    # invert across groups, so normalize with least/greatest
    ma = memb.select(F.col("__d").alias("__da"), F.col("__id").alias("__ma"))
    mb = memb.select(F.col("__d").alias("__db"), F.col("__id").alias("__mb"))
    cross = (
        rep_pairs.join(ma, "__da")
        .join(mb, "__db")
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "inter_n",
            "union_n",
        )
    )
    # members of one identical-set group: J = 1 ≥ t for every t ≤ 1, with
    # inter = union = the set size — the exact join's output floor (C(k,2)
    # rows per k-duplicate group, emission only, no verification work)
    x, y = memb.alias("x"), memb.alias("y")
    intra = (
        x.join(
            y,
            (F.col("x.__d") == F.col("y.__d")) & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.col("x.__sn").cast("long").alias("inter_n"),
            F.col("x.__sn").cast("long").alias("union_n"),
        )
        .filter(F.lit(1.0) >= F.lit(t))
    )
    return cross.unionByName(intra)


def lsh_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 8,
    shingle: int = 3,
    portable: bool = False,
    audit: bool = True,
) -> DataFrame:
    """MEASURED recall of the banded MinHash-LSH pair generator against the
    exact prefix-filter join on the same corpus — the "measure, don't
    guess" answer to "is 8 bands enough at this threshold?".  Both paths
    verify the identical distinct-shingle Jaccard, so LSH pairs ⊆ true
    pairs (precision is 1 by construction) and the audit reduces to one
    row: (n_true_pairs, n_lsh_pairs, n_missed, n_lsh_only,
    recall_permille).  The join is FULL OUTER so a completeness bug on
    the exact ground-truth side SURFACES as n_lsh_only > 0 (pairs the
    banded path found that "truth" lacks) instead of being silently
    absorbed into an overstated recall.

    Run it on a SAMPLE at 100 TB (deterministic hash_sample upstream): the
    exact side is the expensive one, and recall estimated on an unbiased
    sample transfers to the corpus.  Tuning loop: recall too low → more
    bands (fewer rows per band) or lower threshold margin; wasteful
    candidate volume → fewer bands.

    ``audit=False`` skips the brute-force ground
    truth entirely and fills the truth-dependent summary fields with NULL:
    the same one-row shape at the PRODUCTION cost of banded pair
    generation + verify alone — what a steady-state pipeline pays, and
    what the headline bench measures; the exact side is an offline audit
    tool, inherently ~2× that."""
    lsh = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle=shingle,
        threshold=threshold,
        portable=portable,
    ).select("id_a", "id_b").withColumn("__hit", F.lit(1))
    if not audit:
        def _nul(n):
            return F.lit(None).cast("long").alias(n)

        return lsh.agg(
            _nul("n_true_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_lsh_pairs"),
            _nul("n_missed"),
            _nul("n_lsh_only"),
            _nul("recall_permille"),
        )
    truth = jaccard_pairs_exact(df, id_col, text_col, threshold, shingle).select(
        "id_a", "id_b"
    ).withColumn("__truth", F.lit(1))
    j = truth.join(lsh, ["id_a", "id_b"], "full_outer")
    t = F.coalesce(F.col("__truth"), F.lit(0))
    h = F.coalesce(F.col("__hit"), F.lit(0))
    n_true = F.coalesce(F.sum(t), F.lit(0))
    hits = F.coalesce(F.sum(t * h), F.lit(0))
    return j.agg(
        n_true.cast("long").alias("n_true_pairs"),
        F.coalesce(F.sum(h), F.lit(0)).cast("long").alias("n_lsh_pairs"),
        (n_true - hits).cast("long").alias("n_missed"),
        F.coalesce(F.sum((F.lit(1) - t) * h), F.lit(0)).cast("long").alias("n_lsh_only"),
        F.coalesce(
            F.floor(F.try_divide(F.lit(1000.0) * hits, n_true)), F.lit(1000)
        ).cast("long").alias("recall_permille"),
    )


# ---------------------------------------------------------------- SimHash

def _bit_masks() -> list[int]:
    return [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]  # two's-complement sign bit


def simhash_votes(toks: Column) -> Column:
    """Per-bit SimHash vote vector in ONE pass over the tokens:
    votes[i] = Σ_tokens (+1 if bit i of xxhash64(token) set else -1)."""
    h = F.transform(toks, lambda t: F.xxhash64(t))
    init = F.array_repeat(F.lit(0), 64)
    return F.aggregate(
        h,
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[F.when(x.bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1) for m in _bit_masks()]),
            lambda a, b: a + b,
        ),
    )


def simhash_from_votes(votes: Column) -> Column:
    """Collapse the vote vector to the 64-bit fingerprint."""
    out = F.lit(0).cast("long")
    for i, m in enumerate(_bit_masks()):
        out = out + F.when(F.element_at(votes, i + 1) > 0, F.lit(m)).otherwise(F.lit(0))
    return out


def simhash64(toks: Column) -> Column:
    """64-bit SimHash fingerprint from token hashes, pure expressions.

    bit_i = sign of Σ_tokens (±1 depending on bit i of xxhash64(token))."""
    return simhash_from_votes(simhash_votes(toks))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, portable: bool = False
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole candidate generation.

    Split the fingerprint into 4 equal chunks: any pair within hamming
    distance ≤ 3 agrees on ≥ 1 chunk (pigeonhole — a guarantee, not a
    probability), so bucket-join on (chunk index, chunk value) then verify
    with bit_count(xor) — never all-pairs.  Above hamming 3 the candidate
    rule is still exactly "agrees on ≥ 1 chunk"; recall is data-dependent.

    ``portable=True`` uses a 32-bit fingerprint over :func:`portable_hash32`
    token hashes (4 × 8-bit chunks) so a DuckDB oracle can recompute the
    fingerprints and simulate candidates + verify exactly; default is the
    64-bit xxhash64 fingerprint (4 × 16-bit chunks)."""
    # Scale path (mirrors minhash_lsh_pairs): explode tokens to rows, compute
    # the per-bit votes as declarative sum() aggregates — map-side
    # combinable, no higher-order-function codegen cost.
    if portable:
        masks: list[int] = [1 << i for i in range(32)]
        chunk_bits = 8
    else:
        masks = _bit_masks()
        chunk_bits = 16
    tok_rows = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    tok_hash = portable_hash32(F.col("__t")) if portable else F.xxhash64("__t")
    tok_rows = tok_rows.withColumn("__h", tok_hash)
    votes = tok_rows.groupBy("__id").agg(
        *[
            F.sum(F.when(F.col("__h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)).alias(f"v{i}")
            for i, m in enumerate(masks)
        ]
    )
    fp_expr = F.lit(0).cast("long")
    for i, m in enumerate(masks):
        fp_expr = fp_expr + F.when(F.col(f"v{i}") > 0, F.lit(m)).otherwise(F.lit(0))
    fp = _persist(votes.select("__id", fp_expr.alias("__fp")))  # reused by both join sides
    chunks = F.array(
        *[
            F.shiftrightunsigned("__fp", k * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias(f"c{k}")
            for k in range(4)
        ]
    )
    buckets = fp.select("__id", "__fp", F.posexplode(chunks).alias("__chunk", "__cv"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__chunk") == F.col("b.__chunk"))
            & (F.col("a.__cv") == F.col("b.__cv"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__fp").alias("__fa"),
            F.col("b.__fp").alias("__fb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------- embeddings

def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array<float> columns, one pass."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(v: Column) -> Column:
    """L2 norm — precompute per ROW before any pairwise stage: evaluating
    dot(a,a)/dot(b,b) inside the pair join costs 2/3 of the verify work."""
    return F.sqrt(_dot(v, v))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: the exact baseline.

    ``queries`` is a (small) subset of rows with the same schema.  Broadcast
    the queries against the full corpus; rank per query.

    Scale: O(|queries| × corpus) — fine for a bounded query batch (the
    broadcast side), NOT for all-pairs.  For corpus-scale knn use
    ``ann_lsh_topk`` (bucketed)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("__qv"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
    )
    c = _spread(emb).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        q.join(c, F.col("q_id") != F.col("n_id"))
        .withColumn("__sim", _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("__sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("q_id", "n_id")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a hash counter (no RNG
    state, reproducible across runs/partitions)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{d}".encode()).digest()
            v = int.from_bytes(h[:8], "big") / float(1 << 64) - 0.5
            row.append(v)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, dim: int, n_planes: int = 12, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of ``n_planes`` projections.

    Planes are literal arrays (deterministic, broadcast in the plan); the
    projection is one zip_with+aggregate pass per plane — JVM-side."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        lit_plane = F.array(*[F.lit(v) for v in plane])
        proj = _dot(vec, lit_plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return bucket


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: hyperplane-bucket the corpus, rank only within the
    buckets the query probes.  The scale path: the corpus side shuffles once
    on the bucket id; each query examines its own bucket plus (multiprobe=1)
    every bucket at hamming distance 1 — the standard recall lever without
    growing the corpus-side state.

    Recall is bounded by the data: on near-uniform vectors no sign-LSH probe
    set separates true neighbors; exactness is cosine_topk's job."""
    qb = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("__b0"),
    )
    if multiprobe >= 1:
        probes = F.array(F.col("__b0"), *[F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])
    else:
        probes = F.array(F.col("__b0"))
    qb = qb.select("q_id", "__qv", "__qn", F.explode(probes).alias("__bucket"))
    cb = _spread(emb).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("__bucket"),
    )
    scored = (
        F.broadcast(qb)
        .join(cb, (F.col("q_id") != F.col("n_id")) & (qb["__bucket"] == cb["__bucket"]))
        .withColumn("__sim", _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("__sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("q_id", "n_id")
    )


def _resolve_planes(emb: DataFrame, n_planes, target_bucket: int = 16) -> int:
    """Resolve ``n_planes="auto"`` to a corpus-sized plane count: k =
    ceil(log2(n / target_bucket)), floor 8 — so expected bucket occupancy
    stays ~``target_bucket`` and the per-bucket pair stage stays
    ~O(n·target·k) instead of O(n²/2^k) with a FIXED k (a rate-planted
    scale stress measured exponent 1.4 for semantic_dedup at fixed k=8 —
    bucket occupancy, and so candidate pairs per bucket, grew with the
    corpus).  The tradeoff is explicit: hyperplane-LSH pair recall at
    cosine t is ≈ p^k + k·p^(k-1)(1−p) with p = 1 − arccos(t)/π, so MORE
    planes lower recall for borderline-threshold pairs (exact/near-exact
    duplicates, p → 1, are unaffected at any k).  Auto is right for
    dedup-style workloads dominated by high-similarity pairs; for
    recall-sensitive borderline thresholds fix ``n_planes`` and raise
    ``multiprobe`` instead.  Costs one count() of the corpus — the corpus is
    persisted first (registered with ``release_cache``) so the caller's
    bucketing stage reuses the materialized blocks instead of re-evaluating
    the (possibly expensive) upstream lineage a second time."""
    if n_planes != "auto":
        return int(n_planes)
    import math as _math  # noqa: PLC0415

    n = _persist(emb).count()
    return max(8, _math.ceil(_math.log2(max(n / target_bucket, 2.0))))


def embedding_neardup(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | str = 8,
    multiprobe: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector analog of
    minhash_lsh_pairs.  Candidate generation: hyperplane-LSH bucket the corpus
    once; one side additionally probes every bucket at hamming distance ≤ 1
    (multiprobe recall lever).  Exact double-precision cosine verifies
    candidates only; returns (id_a, id_b) with id_a < id_b and cosine ≥
    threshold.

    Scale: corpus shuffles on the bucket id (16 B/row), candidate pairs are
    |bucket|²-bounded per bucket, never a global O(n²) stage; identical or
    near-identical vectors land in the same bucket by construction.  Bucket
    OCCUPANCY is the lever that must track corpus size: pass
    ``n_planes="auto"`` to size the plane count to the corpus
    (_resolve_planes — recall tradeoff documented there).

    Every row also carries a 63-bit hyperplane SIGNATURE (an independent plane family); candidate pairs
    whose signature Hamming distance exceeds a 6-sigma cutoff for the
    threshold angle are dropped before the distinct/verify stages.  For
    exact duplicates the signatures are identical (never dropped); for a
    borderline pair at exactly ``threshold`` the drop probability is the
    binomial tail P(Binom(63, acos(t)/pi) > mu+6*sigma) ~ 1e-7 — orders of
    magnitude below the bucket stage's own miss rate for the same pair
    (~0.34 at t=0.9 with 8 planes + multiprobe 1), so the operator's
    probabilistic-recall contract is unchanged in any practical sense,
    and the exact-cosine verify still decides every SURVIVING pair.  The
    verify join attaches the vector table through ``_attach_arrays``, gated
    on its measured bytes (count probe x row width)."""
    n_planes = _resolve_planes(emb, n_planes)
    sig_bits = 63  # 64 would need bit 63 = Long.MIN; 63 keeps positive longs
    base = _spread(emb).select(
        F.col(id_col).alias("__id"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("__b0"),
        lsh_bucket(F.col(vec_col), dim, sig_bits, seed=777).alias("__sig"),
    )
    base = _persist(base)  # (id, bucket, sig) rows, reused by both join sides
    if multiprobe >= 1:
        probes = F.array(
            F.col("__b0"), *[F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        )
    else:
        probes = F.array(F.col("__b0"))
    # 6-sigma Hamming cutoff for pairs at the threshold angle: each bit
    # differs independently with p = acos(t)/pi (Goemans-Williamson)
    p_diff = math.acos(min(max(float(threshold), -1.0), 1.0)) / math.pi
    cutoff = min(
        sig_bits,
        math.ceil(sig_bits * p_diff + 6.0 * math.sqrt(sig_bits * p_diff * (1.0 - p_diff))),
    )
    a = base.select("__id", "__sig", F.explode(probes).alias("__bucket")).alias("a")
    b = base.withColumnRenamed("__b0", "__bucket").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig")))
                <= F.lit(int(cutoff))
            ),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    vecs = _spread(emb).select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
        _norm(F.col(vec_col)).alias("__vn"),
    )
    vecs = _persist(vecs)
    # probe = count of the persisted vector table (builds the cache, like
    # jaccard's collapse probe); gates the verify join on measured bytes
    vec_bytes = vecs.count() * (8 * dim + 32)
    va = vecs.select(F.col("__vid").alias("id_a"), F.col("__vec").alias("__va"), F.col("__vn").alias("__na"))
    vb = vecs.select(F.col("__vid").alias("id_b"), F.col("__vec").alias("__vb"), F.col("__vn").alias("__nb"))
    return (
        _attach_arrays(pairs, va, "id_a", vec_bytes)
        .transform(lambda d: _attach_arrays(d, vb, "id_b", vec_bytes))
        .withColumn("__sim", _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")))
        .filter(F.col("__sim") >= threshold)
        .select("id_a", "id_b")
    )


def _ivf_centroids(
    emb: DataFrame,
    spread: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
    init: str,
) -> list[list[float]]:
    """Centroid build shared by ann_ivf_topk / assign_clusters: ``kmeans``
    (distributed Spark-ML fit, the quality path) or ``hash_sample`` (the
    ``n_lists`` corpus vectors with smallest md5(id) — deterministic AND
    portable, so a SQL oracle rebuilds the identical index).  Either way
    only the n_lists × dim centroid matrix reaches the driver."""
    if init == "hash_sample":
        rows = (
            emb.select(
                F.col(vec_col).cast("array<double>").alias("v"),
                F.md5(F.col(id_col).cast("string")).alias("__h"),
            )
            .orderBy("__h")
            .limit(n_lists)
            .collect()
        )
        return [[float(x) for x in r.v] for r in rows]
    if init == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = spread.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
        model = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
        return [[float(x) for x in c] for c in model.clusterCenters()]
    raise ValueError("init must be kmeans|hash_sample")


def _cells_sorted(vec: Column, centroids: list[list[float]]) -> Column:
    """Centroid ids sorted by distance to ``vec``, as a sorted (d, i)
    struct array.  Distance is the argmin-equivalent |c|^2 - 2 v·c (|v|^2
    is constant per row), kept in this exact form on BOTH engines so an
    oracle's argmin rounds identically."""

    def _dist2(cen: list[float]) -> Column:
        lit_c = F.array(*[F.lit(v) for v in cen])
        return _dot(lit_c, lit_c) - F.lit(2.0) * _dot(vec, lit_c)

    pairs = F.array(
        *[F.struct(_dist2(c).alias("d"), F.lit(i).alias("i")) for i, c in enumerate(centroids)]
    )
    return F.array_sort(pairs)


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    init: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_lists`` Voronoi cells, then each query scans only its ``n_probe``
    nearest cells.

    ``init`` picks the centroid build: ``kmeans`` (default) is a distributed
    Spark-ML fit — the quality path; ``hash_sample`` takes the ``n_lists``
    corpus vectors with the smallest md5(id) as centroids — one centroid
    fetch instead of an iterative fit, fully deterministic AND portable (the
    DuckDB oracle reproduces the identical index, making the whole
    approximate pipeline hash-checkable; random-sample init is also a
    textbook IVF baseline, trading some cell balance for build cost).

    Scale: either index build brings only the centroid matrix
    (n_lists × dim floats) to the driver, re-broadcast as literals.  The
    corpus shuffles once on cell id; query fan-out is n_probe cells, so
    scanned fraction ≈ n_probe/n_lists of the corpus regardless of corpus
    size.  The recall/latency trade is n_probe — the standard IVF lever
    (vs. multiprobe for the hyperplane-LSH variant)."""
    spread = _spread(emb)
    centroids = _ivf_centroids(emb, spread, id_col, vec_col, n_lists, seed, init)

    def _cell(vec: Column) -> Column:
        return _cells_sorted(vec, centroids)

    cb = spread.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
        F.element_at(_cell(F.col(vec_col)), 1)["i"].alias("__cell"),
    )
    qb = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        F.slice(F.transform(_cell(F.col(vec_col)), lambda s: s["i"]), 1, n_probe).alias("__cells"),
    ).select("q_id", "__qv", "__qn", F.explode("__cells").alias("__cell"))
    scored = (
        F.broadcast(qb)
        .join(cb, (F.col("q_id") != F.col("n_id")) & (qb["__cell"] == cb["__cell"]))
        .withColumn("__sim", _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("__sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("q_id", "n_id")
    )


# ---------------------------------------------------------------- text analysis

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality-scoring signals: token count, char stats, stopword ratio,
    punctuation count — all single-pass Column expressions."""
    toks = tokens(F.col(text_col))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_text"),
        F.size(toks).alias("n_tokens"),
        stop_hits.alias("stop_hits"),
        (stop_hits / F.size(toks)).alias("stop_ratio"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), 0)).alias("punct_count"),
        (F.length(text_col) / F.size(toks)).alias("chars_per_token"),
    )


def token_count_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letter runs / digit runs / single non-space symbols)."""
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)).alias(
            "bpe_tokens"
        ),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID from stopword-hit counts (deterministic n-gram
    heuristic; a real model slots in via mapInPandas at the same signature)."""
    toks = tokens(F.col(text_col))
    en_hits = F.size(F.filter(toks, lambda t: t.isin("the", "and", "of", "is", "a")))
    return df.select(
        F.col(id_col),
        F.when(en_hits >= 3, F.lit("en")).when(F.size(toks) < 5, F.lit("und")).otherwise(F.lit("other")).alias(
            "guessed_lang"
        ),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (stable content identity for dedup joins)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def decontaminate(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    ref_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word ``n``-gram
    with a reference corpus (the standard eval-set leak check for training
    data).  Emits every doc with its shared-n-gram count so the pipeline can
    audit severity, not just drop.

    Scale: both sides reduce to DISTINCT n-gram digests (md5 — 32 hex chars,
    so the join key is fixed-width regardless of n); the contaminated set
    comes from one digest equi-join whose ref side is |ref n-grams| —
    typically tiny next to the corpus and broadcastable by AQE; the corpus
    text itself never re-shuffles (count re-attaches by doc id).  Digests are
    md5 rather than xxhash64 so the DuckDB oracle can replay the join
    byte-for-byte."""
    ref_text_col = ref_text_col or text_col
    d_sh = _spread(docs).select(
        F.col(id_col),
        F.explode(word_ngrams(tokens(F.col(text_col)), n)).alias("__g"),
    ).select(F.col(id_col), F.md5("__g").alias("__d"))
    r_sh = (
        _spread(ref)
        .select(F.explode(word_ngrams(tokens(F.col(ref_text_col)), n)).alias("__g"))
        .select(F.md5("__g").alias("__d"))
        .distinct()
    )
    hits = d_sh.join(r_sh, "__d").groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shared"))
    return docs.select(F.col(id_col)).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared_ngrams"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition-rule family):
    bigram occurrence count, the most-frequent-bigram fraction, and the
    duplicate-bigram fraction (1 − distinct/total).  High values mark
    boilerplate/spam for downstream filtering.

    Scale: explode → two keyed aggregations — (doc, gram) then (doc) — both
    map-side combinable; nothing pairwise, nothing driver-side."""
    big = df.select(
        F.col(id_col),
        F.explode(word_ngrams_multiset(tokens(F.col(text_col)), 2)).alias("__g"),
    )
    per_gram = big.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_bigrams"),
            F.max("__c").alias("__top"),
            F.count(F.lit(1)).alias("__distinct"),
        )
        .select(
            F.col(id_col),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            (F.col("__top").cast("double") / F.col("n_bigrams").cast("double")).alias("top_bigram_frac"),
            (
                F.lit(1.0)
                - F.col("__distinct").cast("double") / F.col("n_bigrams").cast("double")
            ).alias("dup_bigram_frac"),
        )
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization (the storage/serving format for
    corpus-scale embedding stores): scale = 127 / max|v| per row, code =
    floor(v·scale) clamped to [-127, 127].  floor (not round) keeps the codes
    bitwise-portable across engines — round-half modes differ between Spark
    and DuckDB.  Single-pass Column expressions; emits the per-row scale so
    consumers can dequantize (v ≈ code / scale)."""
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0))
    code = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x.cast("double") * scale).cast("int"))
        ),
    )
    return df.select(F.col(id_col), scale.alias("q_scale"), code.alias("q_codes"))


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality filtering (the rule family of Rae et
    al. 2021 appendix; defaults are the published bounds): word-count range,
    mean-word-length range, symbol-to-word ratio cap, and a minimum stopword
    hit count.  Emits the signals plus the ``keep`` verdict so the pipeline
    can audit WHY a document dropped — single-pass Column expressions, no
    Python, trivially whole-stage-codegen at 100 TB.  Integer sums divided
    once keep every signal bitwise-portable to the SQL oracle."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    mean_wl = sum_len.cast("double") / n_words.cast("double")
    n_sym = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[#@*^]"), 0))
    sym_ratio = n_sym.cast("double") / n_words.cast("double")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPWORDS)))
    keep = (
        n_words.between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (sym_ratio <= max_symbol_ratio)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        keep.alias("keep"),
    )


def sample_hash(df: DataFrame, id_col: str, fraction: float, salt: str = "") -> DataFrame:
    """Deterministic, reproducible sampling: keep a row iff
    md5-prefix(salt ‖ id) mod 1e6 < fraction·1e6.  THE scale-correct sampling
    for training-data pipelines — unlike rng-based ``df.sample`` it is (a)
    stable across reruns/partitionings/engines (resumable pipelines re-derive
    the same subset), (b) consistent across tables keyed by the same id, and
    (c) a pure filter Catalyst can push down; ``salt`` decorrelates repeated
    draws."""
    bucket = portable_hash32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000
    return df.filter(bucket < int(fraction * 1_000_000))


def sample_stratified_hash(
    df: DataFrame, id_col: str, strata_col: str, fractions: dict, salt: str = ""
) -> DataFrame:
    """Per-stratum deterministic sampling (training-mixture weights): each
    stratum keeps its own hash-fraction of rows; strata absent from
    ``fractions`` drop.  Same portability/pushdown properties as
    sample_hash — one filter, no shuffle, no rng state."""
    bucket = portable_hash32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000
    thr = F.lit(0)
    for k, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == k, F.lit(int(frac * 1_000_000))).otherwise(thr)
    return df.filter(bucket < thr)


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Token-window chunking for training-context packing: split each
    document's whitespace tokens into windows of ``max_tokens`` advancing by
    ``max_tokens - overlap``.  Chunk k starts at token 1 + k·stride; starts
    run while start ≤ max(n_tokens - overlap, 1), so the tail is covered by
    the final (possibly short) window and a short document yields exactly
    one chunk.  Pure sequence/slice/posexplode — the 1→N fan-out stays in
    the JVM and parallelizes per document."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    base = df.select(F.col(id_col), toks.alias("__toks"), F.posexplode(starts).alias("chunk_idx", "__s"))
    chunk = F.slice(F.col("__toks"), F.col("__s"), max_tokens)
    return base.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens_chunk"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# ---------------------------------------------------------------- multimodal

MULTIMODAL_META_SCHEMA = "doc_id long, media_type string, n_bytes long, sha string"


def multimodal_meta(df: DataFrame, id_col: str, payload_col: str, media_type: str) -> DataFrame:
    """Typed metadata over an opaque binary payload column — the Spark-side
    plumbing (schema, partitioning, batch shape) for multimodal data."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(media_type).alias("media_type"),
        F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("sha"),
    )


def decode_image_batches(it: Iterator, shape=(64, 64)) -> Iterator:
    """mapInPandas worker for image decode / resize / feature-extract.

    STUB for the residual library formats ONLY: progressive/arithmetic
    JPEG, WebP/AVIF, and video codecs.  Everything else decodes for REAL
    with no external library: Netpbm P6 (decode_ppm_features), PNG
    (decode_png_features — stdlib-zlib inflate + scanline unfiltering),
    GIF (decode_gif_features — spec-implemented LZW, interop-pinned on
    wild files), and baseline JPEG in the 4:4:4/4:2:0/4:2:2/4:1:1 layouts
    (decode_jpeg_features — Huffman entropy decode + IDCT,
    pyspark_engine.jpeg).  Swap this body for PIL/torchvision to
    cover the rest in a real deployment; the Arrow batch plumbing
    (signature, schema, batch iteration) is identical to the live paths."""
    raise NotImplementedError(
        "progressive/arithmetic JPEG, WebP and video decode require an image "
        "library (PIL/cv2) not present in this container; PPM "
        "(decode_ppm_features), PNG (decode_png_features), GIF "
        "(decode_gif_features) and baseline JPEG in all four common chroma "
        "layouts (decode_jpeg_features) decode for real "
        "without it — wire this function into "
        "df.mapInPandas(decode_image_batches, schema=...) for the rest"
    )


MULTIMODAL_FEATURES_SCHEMA = "doc_id long, n_bytes long, mean_byte double, hist array<long>"


def _fake_decode_worker(bins: int):
    """Arrow-batched worker computing deterministic per-payload features
    (byte histogram) — a stand-in for a real decode+feature-extract body with
    the identical batch shape: iterate Arrow batches, vectorize per payload,
    emit one feature row per input row."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr // (256 // bins), minlength=bins)[:bins]
                rows.append(
                    (
                        doc_id,
                        int(arr.size),
                        float(arr.mean()) if arr.size else 0.0,
                        hist.astype("int64").tolist(),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "n_bytes", "mean_byte", "hist"])

    return worker


def multimodal_features(df: DataFrame, id_col: str, payload_col: str, bins: int = 8) -> DataFrame:
    """Feature extraction over an opaque binary column via ``mapInPandas`` —
    the real multimodal plumbing (schema, partitioning, Arrow batch shape)
    with a deterministic fake decoder in place of the image/audio library.

    Scale: the payload column streams through Python workers in Arrow
    batches, one pass, no shuffle; partition sizing (maxPartitionBytes)
    bounds worker memory, and _spread keeps small corpora parallel."""
    proj = _spread(df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload")))
    return proj.mapInPandas(_fake_decode_worker(bins), MULTIMODAL_FEATURES_SCHEMA)


WAV_FEATURES_SCHEMA = (
    "doc_id long, sample_rate long, n_channels long, bits long, "
    "n_samples long, wire_len long, peak_abs long, sumsq long"
)


def synth_wav_batches(batches: Iterator) -> Iterator:
    """Arrow-batched worker synthesizing REAL RIFF/WAVE containers: 16-bit
    mono integer-PCM ramps (sample_i = ((a·i + b) mod 65536) − 32768) packed
    per the WAV spec with ``struct`` — deliberately NOT the stdlib ``wave``
    writer, so the encode and decode sides are two independent
    implementations of the container format (the Avro/protobuf codec-pair
    pattern, serdes.py): a header-math bug here makes CPython's parser
    misread and the oracle hash break."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            yield pd.DataFrame({"doc_id": [], "payload": []})
            continue
        # one vectorized ramp evaluation across the WHOLE batch (guide
        # §4.2 — a per-doc loop pays ~6 numpy-dispatch overheads per
        # ~125-element array; this is ~10 ops over one concatenated array,
        # and per-doc payloads are byte slices of the single PCM buffer).
        # Arithmetic is unchanged: sample = ((a·i + b) mod 65536) − 32768
        # inside the ramp, 0 in the pre/post silence.
        n_v = pdf["n"].to_numpy(dtype=np.int64)
        rate_v = pdf["rate"].to_numpy(dtype=np.int64)
        a_v = pdf["a"].to_numpy(dtype=np.int64)
        b_v = pdf["b"].to_numpy(dtype=np.int64)
        pre_v = (
            pdf["pre"].to_numpy(dtype=np.int64)
            if "pre" in pdf.columns else np.zeros(len(pdf), dtype=np.int64)
        )
        post_v = (
            pdf["post"].to_numpy(dtype=np.int64)
            if "post" in pdf.columns else np.zeros(len(pdf), dtype=np.int64)
        )
        lens = pre_v + n_v + post_v
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        doc = np.repeat(np.arange(len(lens)), lens)
        p = np.arange(int(lens.sum()), dtype=np.int64) - starts[doc]
        i = p - pre_v[doc]
        in_ramp = (i >= 0) & (i < n_v[doc])
        ramp = (a_v[doc] * i + b_v[doc]) % 65536 - 32768
        pcm = np.where(in_ramp, ramp, 0).astype("<i2")
        buf = pcm.tobytes()
        off = starts * 2
        end = (starts + lens) * 2
        rows = [
            (doc_id, _pack_wav(int(rate_v[k]), buf[off[k] : end[k]]))
            for k, doc_id in enumerate(pdf["doc_id"])
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "payload"])


def _pack_wav(rate: int, data: bytes) -> bytes:
    """Hand-packed 16-bit mono PCM RIFF/WAVE container (spec layout: RIFF
    size, fmt chunk tag 1 / block-align 2 / bits 16, data chunk length)."""
    import struct

    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data))
        + data
    )


def synth_wav(
    df: DataFrame,
    id_col: str,
    n_col: str,
    rate_col: str,
    a_col: str,
    b_col: str,
    pre_col: str | None = None,
    post_col: str | None = None,
) -> DataFrame:
    """Deterministic WAV payload synthesis (see synth_wav_batches) — the
    test-data half of the real-audio decode path; returns (doc_id, payload
    binary).  ``pre_col``/``post_col`` prepend/append that many zero
    (silence) samples around the ramp — the planted input for the
    silence-trim roundtrip (q157).  One Arrow pass, no shuffle."""
    colmap = [
        (id_col, "doc_id"), (n_col, "n"), (rate_col, "rate"),
        (a_col, "a"), (b_col, "b"),
    ]
    if pre_col is not None:
        colmap.append((pre_col, "pre"))
    if post_col is not None:
        colmap.append((post_col, "post"))
    return _arrow_stage(df, colmap, synth_wav_batches, "doc_id long, payload binary")


def _decode_pcm(raw: bytes):
    """Shared WAV decode preamble (CPython's stdlib ``wave`` parser + numpy
    sample unpack): returns (rate, n_channels, width_bytes, n_frames,
    samples int64 flat array — interleaved when multi-channel).  16-bit PCM
    is signed little-endian, 8-bit is unsigned, per the spec."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(raw)) as w:
        rate, nch, width, n = (
            w.getframerate(), w.getnchannels(), w.getsampwidth(), w.getnframes(),
        )
        frames = w.readframes(n)
    if width == 2:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    elif width == 1:  # 8-bit PCM is unsigned per spec
        samples = np.frombuffer(frames, dtype=np.uint8).astype(np.int64)
    else:
        raise ValueError(f"unsupported PCM sample width: {width * 8} bits")
    return rate, nch, width, n, samples


def _require_mono16(raw: bytes, op: str):
    """Transforms that re-encode through _pack_wav are defined for 16-bit
    mono only — fail fast on other formats instead of silently flattening
    interleaved channels or misreading 8-bit bytes as int16."""
    rate, nch, width, n, samples = _decode_pcm(raw)
    if nch != 1 or width != 2:
        raise ValueError(
            f"{op} supports 16-bit mono PCM only (got {width * 8}-bit, "
            f"{nch} channel(s)); convert first"
        )
    return rate, samples


def decode_wav_batches(batches: Iterator) -> Iterator:
    """Arrow-batched worker decoding REAL WAV containers with CPython's
    stdlib ``wave`` parser (+ numpy sample unpack) — unlike the image stub
    (decode_image_batches), this decode path needs no external library, so
    the multimodal story runs END TO END for uncompressed audio: container
    parse (rate/channels/width from the fmt chunk, frame count from data),
    PCM sample extraction, and integer-exact feature reduction
    (peak |sample|, Σ sample²)."""
    import numpy as np
    import pandas as pd

    cols = [
        "doc_id", "sample_rate", "n_channels", "bits",
        "n_samples", "wire_len", "peak_abs", "sumsq",
    ]
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            rate, nch, width, n, samples = _decode_pcm(raw)
            rows.append(
                (
                    doc_id, rate, nch, width * 8, n, len(raw),
                    int(np.abs(samples).max()) if samples.size else 0,
                    int((samples * samples).sum()),
                )
            )
        yield pd.DataFrame(rows, columns=cols)


def decode_wav_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL audio decode + feature extraction over a binary WAV column —
    mapInPandas, one Arrow pass, no shuffle; all outputs are exact integers
    so a SQL oracle can recompute them from the synthesis parameters
    (q155).  Scale: identical shape to multimodal_features — payloads
    stream through workers in Arrow batches, worker memory bounded by
    maxPartitionBytes."""
    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], decode_wav_batches, WAV_FEATURES_SCHEMA
    )


WAV_FRAMES_SCHEMA = "doc_id long, frame_idx long, n_samples long, peak_abs long, sumsq long"


def _wav_frame_worker(frame_len: int):
    """Arrow 1→N fan-out worker: decode the WAV (stdlib ``wave``), split the
    PCM samples into fixed ``frame_len`` windows (tail partial frame kept),
    one output row per frame with integer-exact energy stats."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ["doc_id", "frame_idx", "n_samples", "peak_abs", "sumsq"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _rate, _nch, _width, _n, samples = _decode_pcm(bytes(payload))
                for f0 in range(0, samples.size, frame_len):
                    sl = samples[f0 : f0 + frame_len]
                    rows.append(
                        (doc_id, f0 // frame_len, int(sl.size),
                         int(np.abs(sl).max()), int((sl * sl).sum()))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return worker


def _wav_trim_worker(frame_len: int, max_peak: int):
    """Decode → frame-aligned silence trim → RE-ENCODE worker: drop leading
    and trailing frames whose peak |sample| is ≤ ``max_peak``, keep
    everything between the first and last active frame (interior quiet
    passages survive — this is endpoint trimming, not gating), and pack the
    kept samples back into a spec WAV container at the original rate."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = _require_mono16(bytes(payload), "wav_trim_silence")
                active = [
                    f0 // frame_len
                    for f0 in range(0, samples.size, frame_len)
                    if np.abs(samples[f0 : f0 + frame_len]).max(initial=0) > max_peak
                ]
                if active:
                    lo = active[0] * frame_len
                    hi = min((active[-1] + 1) * frame_len, samples.size)
                    kept = samples[lo:hi]
                else:
                    kept = samples[:0]
                rows.append((doc_id, _pack_wav(rate, kept.astype("<i2").tobytes())))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return worker


def wav_trim_silence(
    df: DataFrame, id_col: str, payload_col: str, frame_len: int, max_peak: int = 0
) -> DataFrame:
    """Endpoint silence trimming over REAL WAV payloads — the speech-corpus
    curation transform (lead-in/lead-out silence is dead weight in training
    audio): decode, drop leading/trailing frames at or below ``max_peak``,
    re-encode a valid WAV at the same rate.  Returns (doc_id, payload).

    The full decode → transform → re-encode loop is oracle-checked end to
    end by q157 (decode_wav_features over the trimmed payloads, every
    feature recomputed in SQL from the synthesis + trim parameters).
    Scale: Arrow-batched 1→1 mapInPandas, no shuffle, payload-bounded
    worker memory — same shape as resize_payloads."""
    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")],
        _wav_trim_worker(int(frame_len), int(max_peak)), "doc_id long, payload binary",
    )


def wav_downsample(
    df: DataFrame, id_col: str, payload_col: str, factor: int
) -> DataFrame:
    """Integer decimation resample over REAL WAV payloads: crop to a
    multiple of ``factor``, replace each block of ``factor`` samples with
    its floor-mean (the box filter — the honest no-DSP-library resampler;
    a polyphase/windowed-sinc kernel slots into the same signature), and
    re-encode at ``rate // factor``.  Sample-rate reduction is the standard
    audio-corpus normalization (speech models train at one rate); this is
    its exact-integer form, so q160's oracle recomputes every output sample
    statistic from the synthesis parameters (floor() on float division —
    numpy's // floors while SQL integer division truncates on negatives,
    so the spec pins FLOOR explicitly).  Scale: Arrow-batched 1→1
    mapInPandas, no shuffle."""
    k = int(factor)
    if k < 1:
        raise ValueError("factor must be >= 1")

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = _require_mono16(bytes(payload), "wav_downsample")
                m = samples.size // k
                out = samples[: m * k].reshape(m, k).sum(axis=1) // k  # numpy // floors
                rows.append(
                    (doc_id, _pack_wav(rate // k, out.astype("<i2").tobytes()))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, "doc_id long, payload binary"
    )


def _ulaw_encode_arr(samples):
    """REAL G.711 µ-law compression of int16 PCM — the canonical Sun/CCITT
    algorithm (16→14-bit arithmetic-shift truncation, bias 33, clip 8159,
    segment search over the seg_uend table, ones'-complement), matched
    BYTE-FOR-BYTE against CPython's C implementation (audioop.lin2ulaw)
    over all 65536 inputs in tests.  Exact integer threshold comparisons
    only — the same arithmetic the SQL oracle applies — never float log2."""
    import numpy as np

    s = samples.astype(np.int64)
    mask = np.where(s < 0, 0x7F, 0xFF)
    q = s >> 2  # arithmetic shift: floor(s/4), the 14-bit truncation
    q = np.where(s < 0, -q, q)
    q = np.minimum(q, 8159) + 33
    seg = sum((q > t).astype(np.int64) for t in
              (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF))
    uval = np.where(seg >= 8, 0x7F, (seg << 4) | ((q >> (seg + 1)) & 0x0F))
    return (uval ^ mask).astype(np.uint8)


def _ulaw_decode_arr(codes):
    """Inverse G.711 µ-law expansion: decode(encode(32635)) = 32124, the
    spec's maximum decoder output."""
    import numpy as np

    u = (~codes.astype(np.int64)) & 0xFF
    mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return np.where(u & 0x80, -mag, mag)


def _pack_wav_ulaw(rate: int, data: bytes) -> bytes:
    """Hand-packed G.711 µ-law RIFF/WAVE container: WAVE_FORMAT_MULAW (7)
    with the 18-byte fmt chunk (cbSize=0) and the fact chunk non-PCM
    formats require (sample count), then 8-bit code words."""
    import struct

    return (
        b"RIFF" + struct.pack("<I", 50 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHHH", 18, 7, 1, rate, rate, 1, 8, 0)
        + b"fact" + struct.pack("<II", 4, len(data))
        + b"data" + struct.pack("<I", len(data))
        + data
    )


def _walk_riff_chunks(raw: bytes) -> dict:
    """Shared RIFF/WAVE chunk walk (signature check, word-aligned advance):
    returns {chunk_id: body_bytes} with the LAST occurrence winning — both
    the µ-law and ADPCM parsers layer their format checks on top of this
    one loop so a walk fix lands once."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    import struct

    chunks: dict = {}
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (ln,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        chunks[cid] = raw[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    return chunks


def _parse_wav_ulaw(raw: bytes):
    """Parser for µ-law WAVs (CPython's ``wave`` module rejects non-PCM
    formats, so this side is its own spec implementation): shared chunk
    walk, then fmt (tag must be 7, mono, 8-bit), fact count, data bytes.
    Returns (rate, n_samples, codes ndarray)."""
    import struct

    import numpy as np

    chunks = _walk_riff_chunks(raw)
    fmt = struct.unpack("<HHIIHH", chunks[b"fmt "][:16]) if b"fmt " in chunks else None
    fact_n = struct.unpack("<I", chunks[b"fact"][:4])[0] if b"fact" in chunks else None
    data = chunks.get(b"data")
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    tag, nch, rate, _bps, _align, bits = fmt
    if (tag, nch, bits) != (7, 1, 8):
        raise ValueError(
            f"expected mono 8-bit µ-law (tag 7), got tag={tag} nch={nch} bits={bits}"
        )
    if fact_n is not None and fact_n != len(data):
        raise ValueError("fact sample count disagrees with data length")
    return rate, len(data), np.frombuffer(data, dtype=np.uint8)


def wav_transcode_ulaw(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL audio transcode: 16-bit PCM WAV → G.711 µ-law WAV (telephony's
    8-bit companded format — WAVE_FORMAT_MULAW, fact chunk and all).
    µ-law is lossy but CLOSED-FORM per sample, so unlike JPEG (measured
    error bounds) the oracle recomputes every decoded value exactly with
    the same integer threshold/shift arithmetic (q175).  Scale:
    Arrow-batched 1→1 mapInPandas, no shuffle, 2× payload compression."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            # container parse stays per doc (stdlib ``wave`` is the
            # independent decode side), but the µ-law compression runs ONCE
            # over the batch's concatenated samples (guide §4.2 — the
            # encoder is ~15 numpy ops, not worth paying per ~125-sample doc);
            # per-doc code words are byte slices of the one output array
            metas = []
            sample_arrs = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = _require_mono16(bytes(payload), "wav_transcode_ulaw")
                metas.append((doc_id, rate, samples.size))
                sample_arrs.append(samples)
            if metas:
                codes = _ulaw_encode_arr(
                    np.concatenate(sample_arrs) if sample_arrs else np.empty(0, np.int64)
                ).tobytes()
                ends = np.cumsum([m[2] for m in metas])
                starts = np.concatenate(([0], ends[:-1]))
                rows = [
                    (doc_id, _pack_wav_ulaw(rate, codes[starts[k] : ends[k]]))
                    for k, (doc_id, rate, _n) in enumerate(metas)
                ]
            else:
                rows = []
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, "doc_id long, payload binary"
    )


WAV_ULAW_FEATURES_SCHEMA = (
    "doc_id long, n_samples long, fmt_tag long, bits long, sample_rate long, "
    "sum_decoded long, sum_abs_decoded long, max_abs_decoded long"
)


def decode_wav_ulaw_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Parse G.711 µ-law WAVs (own chunk walker — stdlib ``wave`` rejects
    tag 7) and expand the code words back to PCM, emitting integer-exact
    stats the q175 oracle recomputes from synthesis parameters through the
    closed-form encode∘decode arithmetic.  Arrow-batched, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = [
            "doc_id", "n_samples", "fmt_tag", "bits", "sample_rate",
            "sum_decoded", "sum_abs_decoded", "max_abs_decoded",
        ]
        for pdf in batches:
            # per-doc chunk walk, ONE µ-law expansion over the batch's
            # concatenated code words, per-doc stats via reduceat segments
            # on the shared decoded array (guide §4.2); identical integers
            metas = []
            code_arrs = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, n, codes = _parse_wav_ulaw(bytes(payload))
                metas.append((doc_id, n, rate))
                code_arrs.append(codes)
            rows = []
            if metas:
                dec = _ulaw_decode_arr(np.concatenate(code_arrs))
                ads = np.abs(dec)
                ends = np.cumsum([m[1] for m in metas])
                starts = np.concatenate(([0], ends[:-1]))
                nz = ends > starts  # reduceat misreads zero-length segments
                sums = np.zeros(len(metas), dtype=np.int64)
                asums = np.zeros(len(metas), dtype=np.int64)
                amaxs = np.zeros(len(metas), dtype=np.int64)
                if nz.any():
                    sums[nz] = np.add.reduceat(dec, starts[nz])
                    asums[nz] = np.add.reduceat(ads, starts[nz])
                    amaxs[nz] = np.maximum.reduceat(ads, starts[nz])
                for k, (doc_id, n, rate) in enumerate(metas):
                    rows.append(
                        (doc_id, n, 7, 8, rate, int(sums[k]), int(asums[k]), int(amaxs[k]))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, WAV_ULAW_FEATURES_SCHEMA
    )


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
    45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
    209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724,
    796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272,
    2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132,
    7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
    20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(sample: int, pred: int, index: int):
    """One IMA ADPCM quantizer step (the Intel/DVI reference recurrence —
    successive step comparisons building a 3-bit magnitude + sign, then the
    identical reconstruction the decoder applies; matched nibble-for-nibble
    against CPython's C implementation, audioop.lin2adpcm, in tests).
    Returns (nibble, new_pred, new_index)."""
    step = _IMA_STEPS[index]
    diff = sample - pred
    sign = 8 if diff < 0 else 0
    if sign:
        diff = -diff
    delta = 0
    vpdiff = step >> 3
    if diff >= step:
        delta = 4
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        delta |= 2
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        delta |= 1
        vpdiff += step
    pred = pred - vpdiff if sign else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[delta]))
    return delta | sign, pred, index


def _ima_expand(nibble: int, pred: int, index: int):
    """Inverse IMA step: reconstruct one sample from a 4-bit code."""
    step = _IMA_STEPS[index]
    vpdiff = step >> 3
    if nibble & 4:
        vpdiff += step
    if nibble & 2:
        vpdiff += step >> 1
    if nibble & 1:
        vpdiff += step >> 2
    pred = pred - vpdiff if nibble & 8 else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[nibble & 7]))
    return pred, index


ADPCM_BLOCK_ALIGN = 36  # (36-4)*2+1 = 65 samples/block: multi-block at q176 sizes


def _pack_wav_adpcm(rate: int, samples, block_align: int = ADPCM_BLOCK_ALIGN) -> bytes:
    """REAL IMA ADPCM WAV encoder (WAVE_FORMAT_IMA_ADPCM, tag 0x11): fmt
    chunk with cbSize=2 + samples-per-block, fact chunk, and per-block
    payload — int16 predictor header (the first sample, stored verbatim) +
    uint8 step index + reserved, then 4-bit codes packed LOW nibble first
    (the IMA-WAV convention; CPython's audioop packs high-first, the tests
    bridge the two).  The step index carries across blocks like canonical
    encoders."""
    import struct

    spb = (block_align - 4) * 2 + 1
    n = len(samples)
    blocks = bytearray()
    index = 0
    for b0 in range(0, n, spb):
        chunk = samples[b0 : b0 + spb]
        pred = int(chunk[0])
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in chunk[1:]:
            nib, pred, index = _ima_step(int(s), pred, index)
            nibbles.append(nib)
        nibbles += [0] * ((block_align - 4) * 2 - len(nibbles))  # pad final block
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
    return (
        b"RIFF" + struct.pack("<I", 52 + len(blocks)) + b"WAVE"
        + b"fmt " + struct.pack(
            "<IHHIIHHHH", 20, 0x11, 1, rate,
            (rate * block_align + spb - 1) // spb, block_align, 4, 2, spb,
        )
        + b"fact" + struct.pack("<II", 4, n)
        + b"data" + struct.pack("<I", len(blocks))
        + bytes(blocks)
    )


def _parse_wav_adpcm(raw: bytes):
    """IMA ADPCM WAV decoder (stdlib ``wave`` rejects tag 0x11): shared
    chunk walk, then per-block header + nibble expansion, truncated to the
    fact sample count.  Returns (rate, samples_per_block, n_blocks,
    ndarray of decoded int16)."""
    import struct

    import numpy as np

    chunks = _walk_riff_chunks(raw)
    fmt, spb = None, None
    if b"fmt " in chunks:
        body = chunks[b"fmt "]
        fmt = struct.unpack("<HHIIHH", body[:16])
        if len(body) >= 20:
            (spb,) = struct.unpack("<H", body[18:20])
    fact_n = struct.unpack("<I", chunks[b"fact"][:4])[0] if b"fact" in chunks else None
    data = chunks.get(b"data")
    if fmt is None or data is None:
        raise ValueError("ADPCM WAV missing fmt or data chunk")
    tag, nch, rate, _bps, block_align, bits = fmt
    if (tag, nch, bits) != (0x11, 1, 4):
        raise ValueError(
            f"expected mono IMA ADPCM (tag 0x11, 4-bit), got tag={tag:#x} "
            f"nch={nch} bits={bits}"
        )
    if fact_n is None:
        raise ValueError("ADPCM WAV missing the fact chunk (sample count)")
    if spb is None:
        spb = (block_align - 4) * 2 + 1
    out = []
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        pred, index, _ = struct.unpack("<hBB", block[:4])
        if not 0 <= index <= 88:
            raise ValueError(f"ADPCM block step index {index} out of range")
        out.append(pred)
        remaining = min(spb - 1, fact_n - len(out))
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                if remaining <= 0:
                    break
                pred, index = _ima_expand(nib, pred, index)
                out.append(pred)
                remaining -= 1
        if len(out) >= fact_n:
            break
    if len(out) < fact_n:
        raise ValueError("ADPCM data short of the fact sample count")
    return rate, spb, -(-fact_n // spb), np.asarray(out[:fact_n], dtype=np.int64)


def wav_transcode_adpcm(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL audio transcode: 16-bit PCM WAV → IMA ADPCM WAV (4-bit adaptive
    differential coding, ~4× compression — the WAV tag-0x11 format).  The
    quantizer recurrence is stateful per sample, so unlike µ-law (closed
    form, q175) the q176 oracle is the JPEG-style contract: exact container
    structure + measured reconstruction-error bounds; the recurrence itself
    is pinned nibble-for-nibble against CPython's audioop in tests.
    Arrow-batched 1→1 mapInPandas, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = _require_mono16(bytes(payload), "wav_transcode_adpcm")
                rows.append((doc_id, _pack_wav_adpcm(rate, samples.tolist())))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, "doc_id long, payload binary"
    )


WAV_ADPCM_FIDELITY_SCHEMA = (
    "doc_id long, n_samples long, n_blocks long, samples_per_block long, "
    "fmt_tag long, bits long, first_sample long, max_abs_err long, "
    "sum_abs_err long"
)


def wav_adpcm_fidelity(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """PCM → IMA ADPCM → decode → per-sample compare in ONE Arrow stage:
    exact integer container structure plus max/sum absolute reconstruction
    error against the original samples (the jpeg_fidelity pattern).  The
    block-header sample roundtrips exactly by construction
    (first_sample/max-error columns let the q176 oracle pin that and bound
    the rest)."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = [
            "doc_id", "n_samples", "n_blocks", "samples_per_block",
            "fmt_tag", "bits", "first_sample", "max_abs_err", "sum_abs_err",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, orig = _require_mono16(bytes(payload), "wav_adpcm_fidelity")
                raw = _pack_wav_adpcm(rate, orig.tolist())
                _rate2, spb, n_blocks, dec = _parse_wav_adpcm(raw)
                e = np.abs(dec - orig.astype(np.int64))
                rows.append(
                    (doc_id, int(orig.size), n_blocks, spb, 0x11, 4,
                     int(dec[0]) if dec.size else 0, int(e.max(initial=0)),
                     int(e.sum()))
                )
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, WAV_ADPCM_FIDELITY_SCHEMA
    )


def wav_frame_energy(
    df: DataFrame, id_col: str, payload_col: str, frame_len: int
) -> DataFrame:
    """Frame-level energy over REAL decoded PCM — the audio curation
    primitive (silence trimming, energy-threshold segment sampling, cheap
    VAD gating before an ML VAD): each WAV fans out to one row per
    ``frame_len``-sample window with exact integer peak/Σsample².

    Scale: Arrow-batched 1→N mapInPandas like frame_sample — payload bytes
    never shuffle; downstream energy filters and per-doc aggregations key on
    doc_id, the partitioning the scan already has."""
    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")],
        _wav_frame_worker(int(frame_len)), WAV_FRAMES_SCHEMA,
    )


PPM_FEATURES_SCHEMA = (
    "doc_id long, width long, height long, maxval long, wire_len long, "
    "sum_r long, sum_g long, sum_b long"
)


def _parse_ppm(raw: bytes):
    """REAL binary-PPM (P6) parser per the Netpbm spec: magic, then three
    whitespace-delimited decimal tokens (width, height, maxval) with
    ``#``-comment support, ONE whitespace byte, then width×height×3 raw
    bytes.  Returns (width, height, maxval, ndarray[h, w, 3])."""
    import numpy as np

    if raw[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    vals = []
    while len(vals) < 3:
        while pos < len(raw) and raw[pos : pos + 1].isspace():
            pos += 1
        if raw[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(raw) and raw[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(raw) and raw[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header token")
        vals.append(int(raw[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval, per spec
    w, h, maxval = vals
    if not 0 < maxval <= 255:
        # spec-valid P6 allows maxval up to 65535 with TWO bytes per sample;
        # refuse rather than silently misread the wide pixel block as bytes
        raise ValueError(f"unsupported PPM maxval {maxval} (only 1-byte samples, 1..255)")
    data = np.frombuffer(raw, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, maxval, data.reshape(h, w, 3)


def synth_ppm_batches(batches: Iterator) -> Iterator:
    """Arrow-batched worker synthesizing REAL binary-PPM (P6) images:
    pixel i (row-major), channel c gets value (a·i + b + 85·c) mod 256 —
    header written by hand per the Netpbm spec, so the encoder and the
    parser above are independent header implementations."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, w, h, a, b in zip(pdf["doc_id"], pdf["w"], pdf["h"], pdf["a"], pdf["b"]):
            w, h, a, b = int(w), int(h), int(a), int(b)
            i = np.arange(w * h, dtype=np.int64)[:, None]
            c = np.arange(3, dtype=np.int64)[None, :]
            img = ((a * i + b + 85 * c) % 256).astype(np.uint8)
            payload = f"P6\n{w} {h}\n255\n".encode() + img.tobytes()
            rows.append((doc_id, payload))
        yield pd.DataFrame(rows, columns=["doc_id", "payload"])


def synth_ppm(df: DataFrame, id_col: str, w_col: str, h_col: str, a_col: str, b_col: str) -> DataFrame:
    """Deterministic P6 image synthesis (see synth_ppm_batches); returns
    (doc_id, payload binary).  One Arrow pass, no shuffle."""
    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"), (a_col, "a"), (b_col, "b")],
        synth_ppm_batches, "doc_id long, payload binary",
    )


def decode_ppm_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL image decode over a binary column — for the uncompressed Netpbm
    container no external library is needed, so unlike the JPEG/PNG stub
    (decode_image_batches) this path runs END TO END: spec header parse
    (dimensions, maxval, comment handling), pixel extraction, integer-exact
    per-channel sums a SQL oracle can recompute from synthesis parameters
    (q158).  Scale: Arrow-batched mapInPandas, no shuffle, worker memory
    bounded by payload size."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ["doc_id", "width", "height", "maxval", "wire_len", "sum_r", "sum_g", "sum_b"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                w, h, maxval, img = _parse_ppm(raw)
                s = img.astype("int64").sum(axis=(0, 1))
                rows.append((doc_id, w, h, maxval, len(raw), int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, PPM_FEATURES_SCHEMA
    )


def resize_ppm_blockmean(
    df: DataFrame, id_col: str, payload_col: str, block: int
) -> DataFrame:
    """REAL image resize: decode the P6 payload, crop to a multiple of
    ``block``, floor-mean every block×block tile per channel, RE-ENCODE a
    valid P6 at (w//block) × (h//block) — the decode → transform →
    re-encode loop for images (the audio twin is wav_trim_silence).
    Integer floor-mean keeps every byte SQL-recomputable (q159).  Scale:
    Arrow-batched 1→1 mapInPandas, no shuffle."""
    blk = int(block)

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _maxval, img = _parse_ppm(bytes(payload))
                w2, h2 = w // blk, h // blk
                crop = img[: h2 * blk, : w2 * blk].astype(np.int64)
                small = (
                    crop.reshape(h2, blk, w2, blk, 3).sum(axis=(1, 3)) // (blk * blk)
                ).astype(np.uint8)
                out = f"P6\n{w2} {h2}\n255\n".encode() + small.tobytes()
                rows.append((doc_id, out))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, "doc_id long, payload binary"
    )


# ------------------------------------------------------------------- PNG

PNG_SIG = b"\x89PNG\r\n\x1a\n"

PNG_FEATURES_SCHEMA = (
    "doc_id long, width long, height long, bit_depth long, color_type long, "
    "n_filter_types long, sum_r long, sum_g long, sum_b long, crc_ok boolean"
)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/above/upper-left to
    the linear estimate a + b - c, ties resolved left → above → upper-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_encode(img, filters=None) -> bytes:
    """REAL PNG encoder for 8-bit RGB (color type 2) using ONLY the stdlib:
    per-row scanline filters (types 0-4, default ``row % 5`` so every filter
    type is exercised), zlib-compressed IDAT, CRC32-stamped chunks.  The
    filter pass uses RAW neighbor bytes per the spec (encoding filters never
    see reconstructed data), so it vectorizes row-at-a-time."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = img.shape
    bpp = 3
    stride = w * bpp
    # whole-image vectorized filter pass (guide §4.2) — left/up/
    # upper-left neighbor planes are matrix shifts, all five filter
    # variants evaluate as matrix expressions, and each row picks its
    # variant by index.  Encoding filters see RAW neighbors per the spec,
    # which is exactly what makes this full-image form legal; the emitted
    # scanline stream is byte-identical to the per-row loop's.
    raw = img.astype(np.int64).reshape(h, stride)
    left = np.zeros_like(raw)
    left[:, bpp:] = raw[:, :-bpp]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    ul = np.zeros_like(raw)
    ul[1:, bpp:] = raw[:-1, :-bpp]
    p = left + up - ul
    pred = np.where(
        np.abs(p - left) <= np.minimum(np.abs(p - up), np.abs(p - ul)),
        left,
        np.where(np.abs(p - up) <= np.abs(p - ul), up, ul),
    )
    fidx = (
        (np.arange(h, dtype=np.int64) % 5)
        if filters is None
        else np.asarray([int(f) for f in filters], dtype=np.int64)
    )
    variants = np.stack([raw, raw - left, raw - up, raw - (left + up) // 2, raw - pred])
    out = np.empty((h, stride + 1), dtype=np.uint8)
    out[:, 0] = fidx
    out[:, 1:] = variants[fidx, np.arange(h)] % 256
    stream = out.tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(stream))
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _png_decode(raw: bytes):
    """REAL PNG decoder for 8-bit RGB using ONLY the stdlib: signature and
    chunk walk with CRC32 verification, IHDR parse, multi-IDAT zlib inflate,
    and per-row scanline UN-filtering (types 0-4).  Unfiltering is
    sequential by spec (each byte's predictor uses RECONSTRUCTED
    neighbors), so the inner loop is per-byte Python — the honest floor for
    the format, bounded by the Arrow batch's payload size.  Returns
    (width, height, bit_depth, color_type, n_filter_types, ndarray[h,w,3]).
    Raises on bad signature, CRC mismatch, or unsupported IHDR (only 8-bit
    RGB, no interlace — wider support is decode-library territory,
    decode_image_batches)."""
    import struct
    import zlib

    import numpy as np

    if raw[:8] != PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    while pos < len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", raw[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, comp, filt_method, interlace = ihdr
    if (bit_depth, comp, filt_method, interlace) != (8, 0, 0, 0) or color_type not in (2, 3):
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace}): only 8-bit non-interlaced RGB (2) and "
            f"palette (3) decode here"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    stream = zlib.decompress(bytes(idat))
    bpp = 3 if color_type == 2 else 1
    stride = w * bpp
    if len(stream) != h * (stride + 1):
        raise ValueError("PNG scanline stream length mismatch")
    img = np.zeros((h, stride), dtype=np.int64)
    filter_types = set()
    for y in range(h):
        f = stream[y * (stride + 1)]
        filter_types.add(f)
        row = list(stream[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        prev = img[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        cur = img[y]
        if f == 0:
            cur[:] = row
        elif f == 2:
            cur[:] = (np.asarray(row) + prev) % 256
        elif f == 1:
            # the sub filter's recurrence cur[i] = (row[i] +
            # cur[i−bpp]) % 256 is a per-channel-lane running sum — one
            # vectorized cumsum replaces the per-byte loop (same integers)
            cur[:] = (
                np.cumsum(np.asarray(row, dtype=np.int64).reshape(-1, bpp), axis=0) % 256
            ).reshape(-1)
        else:
            # average/paeth predictors need RECONSTRUCTED left neighbors —
            # sequential by spec.  The recurrence runs on plain Python
            # lists (numpy scalar indexing in the hot loop is ~4× slower)
            prev_l = prev.tolist()
            out_l = [0] * stride
            for i in range(stride):
                a = out_l[i - bpp] if i >= bpp else 0
                b = prev_l[i]
                c = prev_l[i - bpp] if i >= bpp else 0
                if f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    pred = _paeth(a, b, c)
                else:
                    raise ValueError(f"bad PNG filter type {f}")
                out_l[i] = (row[i] + pred) % 256
            cur[:] = out_l
    out = img.reshape(h, w, bpp).astype(np.uint8)
    if color_type == 3:  # palette indices -> RGB through PLTE
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index beyond PLTE")
        out = plte[idx]
    return w, h, bit_depth, color_type, len(filter_types), out


def synth_png(df: DataFrame, id_col: str, w_col: str, h_col: str, a_col: str, b_col: str) -> DataFrame:
    """Deterministic REAL-PNG synthesis: the SAME channel-offset pixel ramp
    as synth_ppm — pixel i, channel c gets (a·i + b + 85·c) mod 256 — but
    encoded through genuine scanline filters + zlib + CRC chunks
    (_png_encode).  Filters are lossless, so a SQL oracle recomputes the
    decoded channel sums from parameters alone, exactly like q158; the
    zlib stream and CRCs are independently validated by stdlib inflate on
    decode.  One Arrow pass, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, w, h, a, b in zip(pdf["doc_id"], pdf["w"], pdf["h"], pdf["a"], pdf["b"]):
                w, h, a, b = int(w), int(h), int(a), int(b)
                i = np.arange(w * h, dtype=np.int64)[:, None]
                c = np.arange(3, dtype=np.int64)[None, :]
                img = ((a * i + b + 85 * c) % 256).astype(np.uint8).reshape(h, w, 3)
                rows.append((doc_id, _png_encode(img)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"), (a_col, "a"), (b_col, "b")],
        worker, "doc_id long, payload binary",
    )


def decode_png_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL compressed-image decode over a binary column, stdlib only: PNG
    chunk walk with CRC32 verification, zlib IDAT inflate, scanline
    un-filtering (all five filter types), integer-exact per-channel sums a
    SQL oracle recomputes from synthesis parameters (q164).  This retires
    the 'compressed formats stay gated' caveat for PNG; JPEG-class codecs
    remain honestly gated (decode_image_batches).

    ``n_filter_types`` counts DISTINCT filter bytes seen — the encoder
    cycles row % 5, so the oracle pins least(h, 5), proving the decoder
    actually walked every scanline; ``crc_ok`` is the contract-oracle
    boolean (decode raises on any CRC mismatch, so surviving rows are TRUE
    by construction — the oracle states the literal).

    Scale: Arrow-batched mapInPandas, no shuffle, worker memory bounded by
    payload size; the per-byte unfilter loop is the format's sequential
    floor (see _png_decode)."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = [
            "doc_id", "width", "height", "bit_depth", "color_type",
            "n_filter_types", "sum_r", "sum_g", "sum_b", "crc_ok",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, depth, ctype, nft, img = _png_decode(bytes(payload))
                s = img.astype("int64").sum(axis=(0, 1))
                rows.append((doc_id, w, h, depth, ctype, nft, int(s[0]), int(s[1]), int(s[2]), True))
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, PNG_FEATURES_SCHEMA
    )


def resize_png_blockmean(df: DataFrame, id_col: str, payload_col: str, block: int) -> DataFrame:
    """REAL compressed-image resize roundtrip: PNG decode (CRC + inflate +
    unfilter), crop to a multiple of ``block``, floor-mean every
    block×block tile per channel, RE-ENCODE a valid filtered+compressed
    PNG — the q159 loop through a real compressed container.  Integer
    floor-mean keeps every decoded byte SQL-recomputable (q165).  Scale:
    Arrow-batched 1→1 mapInPandas, no shuffle."""
    blk = int(block)

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _d, _c, _n, img = _png_decode(bytes(payload))
                w2, h2 = w // blk, h // blk
                crop = img[: h2 * blk, : w2 * blk].astype(np.int64)
                small = (
                    crop.reshape(h2, blk, w2, blk, 3).sum(axis=(1, 3)) // (blk * blk)
                ).astype(np.uint8)
                rows.append((doc_id, _png_encode(small)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, "doc_id long, payload binary"
    )


# ------------------------------------------------------------------ JPEG

JPEG_FEATURES_SCHEMA = (
    "doc_id long, width long, height long, n_components long, n_blocks long, "
    "sum_r long, sum_g long, sum_b long"
)


GIF_FEATURES_SCHEMA = (
    "doc_id long, width long, height long, palette_size long, "
    "lzw_min_code_size long, interlaced boolean, sum_r long, sum_g long, "
    "sum_b long, lzw_ok boolean"
)


def _gif_lzw_encode(indices, mcs: int) -> bytes:
    """REAL GIF-variant LZW compression (GIF89a spec Appendix F): variable
    code width starting at mcs+1 bits, LSB-first bit packing, CLEAR/EOI
    codes, width growth when the next free code would overflow the current
    width, CLEAR-and-reset at the 4096-entry dictionary cap."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    cur = nbits = 0

    def emit(code: int, size: int):
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(cur & 255)
            cur >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    code_size = mcs + 1
    emit(clear, code_size)
    buf: tuple = ()
    for k in indices:
        k = int(k)
        nk = buf + (k,)
        if nk in table:
            buf = nk
            continue
        emit(table[buf], code_size)
        if next_code < 4096:
            table[nk] = next_code
            next_code += 1
            # the just-added code needs one more bit: widen for the NEXT emit
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:  # dictionary full: flush a CLEAR and start over
            emit(clear, code_size)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            code_size = mcs + 1
        buf = (k,)
    if buf:
        emit(table[buf], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(cur & 255)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, n_pixels: int) -> list:
    """Inverse of :func:`_gif_lzw_encode`; the width-growth rule here
    (widen after adding the entry that fills the current width) is the one
    every real-world encoder pairs with — pinned against wild GIFs in
    tests/test_llmops.py.  Raises on codes beyond the dictionary."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    base = {i: (i,) for i in range(clear)}
    table = dict(base)
    next_code = eoi + 1
    code_size = mcs + 1
    out: list = []
    prev = None
    cur = nbits = pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated (no EOI)")
            cur |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = cur & ((1 << code_size) - 1)
        cur >>= code_size
        nbits -= code_size
        if code == clear:
            table = dict(base)
            next_code = eoi + 1
            code_size = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code not in table:
                raise ValueError(f"GIF LZW first code {code} not in table")
            out.extend(table[code])
            prev = code
            continue
        if code in table:
            entry = table[code]
        elif code == next_code:  # the KwKwK case
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError(f"GIF LZW code {code} beyond dictionary {next_code}")
        out.extend(entry)
        if next_code < 4096:
            table[next_code] = table[prev] + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code
        if len(out) >= n_pixels:
            break
    return out[:n_pixels]


def _gif_encode(indices, palette, w: int, h: int) -> bytes:
    """REAL single-frame GIF89a encoder using ONLY the stdlib: logical
    screen descriptor, global color table padded to a power of two, image
    descriptor, LZW-compressed index stream in ≤255-byte sub-blocks,
    trailer.  Lossless, so a SQL oracle recomputes decoded channel sums
    from synthesis parameters alone (q174)."""
    import struct

    n = len(palette)
    bits = max(1, (n - 1).bit_length())  # GCT size is 2^bits entries
    mcs = max(2, bits)  # spec: minimum LZW code size is 2
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | ((bits - 1) & 7))  # GCT present, size field
    out += b"\x00\x00"  # background index, aspect
    for j in range(1 << bits):
        r, g, b = palette[j] if j < n else (0, 0, 0)
        out += bytes((r, g, b))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"  # no LCT/interlace
    out.append(mcs)
    stream = _gif_lzw_encode(indices, mcs)
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator, trailer
    return bytes(out)


def _gif_encode_animated(sw: int, sh: int, palette, frames, bg_index: int = 0, loop: int = 0) -> bytes:
    """REAL animated GIF89a encoder using ONLY the stdlib: logical screen +
    global color table, NETSCAPE2.0 loop extension, and per frame a Graphic
    Control Extension (disposal method, transparency flag+index, delay in
    centiseconds) + image descriptor (left/top offsets, optional local
    color table) + genuine LZW sub-block stream (_gif_lzw_encode).  Frames
    are dicts: ``indices`` (row-major), ``w``/``h``, optional ``left``/
    ``top``/``disposal``/``transparent``/``delay_cs``/``palette`` (a local
    color table overriding the global one).  Lossless, so the q179 oracle
    recomputes every per-frame and composited-canvas channel sum from the
    synthesis parameters alone."""
    import struct

    n = len(palette)
    bits = max(1, (n - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    out.append(0x80 | ((bits - 1) & 7))
    out += bytes((bg_index & 0xFF,)) + b"\x00"
    for j in range(1 << bits):
        r, g, b = palette[j] if j < n else (0, 0, 0)
        out += bytes((r, g, b))
    # NETSCAPE2.0 application extension: animation loop count
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
    for f in frames:
        disposal = int(f.get("disposal", 0)) & 7
        trans = f.get("transparent")
        delay = int(f.get("delay_cs", 0))
        gpacked = (disposal << 2) | (1 if trans is not None else 0)
        out += b"\x21\xf9\x04" + struct.pack(
            "<BHB", gpacked, delay, (trans or 0) & 0xFF
        ) + b"\x00"
        w, h = int(f["w"]), int(f["h"])
        left, top = int(f.get("left", 0)), int(f.get("top", 0))
        lct = f.get("palette")
        ipacked = 0
        if lct is not None:
            lbits = max(1, (len(lct) - 1).bit_length())
            ipacked = 0x80 | ((lbits - 1) & 7)
        out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, ipacked)
        if lct is not None:
            for j in range(1 << lbits):
                r, g, b = lct[j] if j < len(lct) else (0, 0, 0)
                out += bytes((r, g, b))
            mcs = max(2, lbits)
        else:
            mcs = max(2, bits)
        out.append(mcs)
        stream = _gif_lzw_encode(list(f["indices"]), mcs)
        for i in range(0, len(stream), 255):
            block = stream[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _gif_decode_frames(raw: bytes, composite: bool = True, max_frames: int | None = None):
    """REAL multi-frame GIF decoder (87a/89a) using ONLY the stdlib + numpy:
    header + logical-screen parse, global/local color tables, Graphic
    Control Extensions (disposal method, transparency index, frame delay),
    per-frame offsets, interlace reordering, LZW decompression of EVERY
    image block — the full animation walk _gif_decode's single-frame view
    delegates to.

    Compositing (GIF89a §23, the browser model): the canvas starts as the
    background color (GCT[bg] when a GCT exists, else black); each frame
    draws its rect at (left, top), skipping transparent-index pixels so the
    previous content shows through; disposal 2 then restores the frame's
    RECT to background, disposal 3 restores the canvas as it was before the
    frame drew, 0/1 keep.  Returns (screen_w, screen_h, bg_rgb, frames);
    each frame dict carries the raw descriptor fields (left/top/w/h,
    palette size, mcs, interlaced, disposal, transparent, delay_cs), the
    decoded index ``grid`` [h,w], the palette-mapped ``pixels`` [h,w,3],
    and — with ``composite=True`` — the post-draw ``canvas`` [sh,sw,3].
    Raises on malformed streams (truncated data, indices beyond the
    palette, rects outside the screen), same strictness as _gif_decode."""
    import struct

    import numpy as np

    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    sw, sh, packed, bg_idx, _aspect = struct.unpack("<HHBBB", raw[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = [tuple(raw[pos + 3 * j : pos + 3 * j + 3]) for j in range(n)]
        pos += 3 * n
    bg_rgb = gct[bg_idx] if gct is not None and bg_idx < len(gct) else (0, 0, 0)
    canvas = (
        np.tile(np.asarray(bg_rgb, dtype=np.uint8), (sh, sw, 1)) if composite else None
    )
    frames: list[dict] = []
    gce = None  # pending Graphic Control Extension
    while pos < len(raw):
        b0 = raw[pos]
        if b0 == 0x21:  # extension: label + sub-blocks until terminator
            label = raw[pos + 1]
            pos += 2
            if label == 0xF9 and raw[pos] >= 4:
                gpacked, delay = struct.unpack("<BH", raw[pos + 1 : pos + 4])
                tindex = raw[pos + 4]
                gce = {
                    "disposal": (gpacked >> 2) & 7,
                    "transparent": tindex if (gpacked & 1) else None,
                    "delay_cs": delay,
                }
            while raw[pos] != 0:
                pos += 1 + raw[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            left, top, w, h, ipacked = struct.unpack("<HHHHB", raw[pos + 1 : pos + 10])
            pos += 10
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 7)
                pal = [tuple(raw[pos + 3 * j : pos + 3 * j + 3]) for j in range(n)]
                pos += 3 * n
            interlaced = bool(ipacked & 0x40)
            mcs = raw[pos]
            pos += 1
            stream = bytearray()
            while raw[pos] != 0:
                ln = raw[pos]
                stream += raw[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1  # block terminator
            if pal is None:
                raise ValueError("GIF image has no color table")
            idx = _gif_lzw_decode(bytes(stream), mcs, w * h)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data short")
            grid = np.asarray(idx, dtype=np.int64).reshape(h, w)
            if interlaced:
                order = (
                    list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2))
                )
                deinter = np.zeros_like(grid)
                deinter[order] = grid
                grid = deinter
            if int(grid.max(initial=0)) >= len(pal):
                raise ValueError("GIF pixel index beyond palette")
            meta = gce or {"disposal": 0, "transparent": None, "delay_cs": 0}
            gce = None
            pixels = np.asarray(pal, dtype=np.uint8)[grid]
            frame = {
                "left": left,
                "top": top,
                "w": w,
                "h": h,
                "palette_size": len(pal),
                "mcs": mcs,
                "interlaced": interlaced,
                "palette": pal,
                "grid": grid,
                "pixels": pixels,
                **meta,
            }
            if composite:
                if left + w > sw or top + h > sh:
                    raise ValueError("GIF frame rect outside the logical screen")
                prev = canvas.copy() if meta["disposal"] == 3 else None
                region = canvas[top : top + h, left : left + w]
                tc = meta["transparent"]
                if tc is None:
                    region[...] = pixels
                else:
                    mask = grid != tc
                    region[mask] = pixels[mask]
                frame["canvas"] = canvas.copy()
                if meta["disposal"] == 2:
                    canvas[top : top + h, left : left + w] = np.asarray(
                        bg_rgb, dtype=np.uint8
                    )
                elif meta["disposal"] == 3:
                    canvas = prev
            frames.append(frame)
            if max_frames is not None and len(frames) >= max_frames:
                break
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return sw, sh, bg_rgb, frames


def _gif_decode(raw: bytes):
    """REAL GIF decoder (87a/89a) using ONLY the stdlib: single-frame view
    over :func:`_gif_decode_frames` — parses the FIRST image block and
    returns (width, height, palette_size, mcs, interlaced, ndarray[h,w,3])
    of the frame's own pixels (frame dims, not screen dims: wild animated
    GIFs often carry a first frame smaller than the logical screen, and
    screen dims would silently disagree with the decoded data).  Raises on
    malformed streams.  Pinned against wild GIFs from real encoders
    (libxslt docs / Tk logos) in tests, so the LZW width-growth pairing is
    interop-checked, not just self-consistent."""
    _sw, _sh, _bg, frames = _gif_decode_frames(raw, composite=False, max_frames=1)
    f = frames[0]
    return f["w"], f["h"], f["palette_size"], f["mcs"], f["interlaced"], f["pixels"]


def synth_gif(df: DataFrame, id_col: str, w_col: str, h_col: str, a_col: str, b_col: str, p_col: str) -> DataFrame:
    """Deterministic REAL-GIF synthesis: palette entry j gets the channel
    ramp ((a·j+b) mod 256, +85, +170) — the synth_png algebra — and pixel i
    gets palette index (a·i+b) mod P, encoded through genuine LZW +
    sub-block framing (_gif_encode).  LZW is lossless, so the q174 oracle
    recomputes every decoded channel sum from (a, b, P, w, h) alone.  One
    Arrow pass, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, w, h, a, b, p in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["a"], pdf["b"], pdf["p"]
            ):
                w, h, a, b, p = int(w), int(h), int(a), int(b), int(p)
                pal = [
                    tuple(int((a * j + b + 85 * c) % 256) for c in range(3))
                    for j in range(p)
                ]
                i = np.arange(w * h, dtype=np.int64)
                idx = (a * i + b) % p
                rows.append((doc_id, _gif_encode(idx.tolist(), pal, w, h)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"),
         (a_col, "a"), (b_col, "b"), (p_col, "p")],
        worker, "doc_id long, payload binary",
    )


def decode_gif_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL palette-image decode over a binary column, stdlib only: GIF
    header/color-table walk, LZW decompression, palette mapping,
    integer-exact per-channel sums a SQL oracle recomputes from synthesis
    parameters (q174).  With PNG (q164) and baseline JPEG (q168) this
    narrows decode_image_batches' honest gate to progressive/arithmetic
    JPEG, WebP/AVIF and video.

    ``lzw_ok`` is the contract-oracle boolean: decode raises on truncated
    streams, out-of-dictionary codes, or palette overruns, so surviving
    rows are TRUE by construction.  Scale: Arrow-batched mapInPandas, no
    shuffle, worker memory bounded by payload size; the per-code LZW loop
    is the format's sequential floor (dictionary state threads through
    every code)."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = [
            "doc_id", "width", "height", "palette_size", "lzw_min_code_size",
            "interlaced", "sum_r", "sum_g", "sum_b", "lzw_ok",
        ]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, psize, mcs, inter, img = _gif_decode(bytes(payload))
                s = img.astype("int64").sum(axis=(0, 1))
                rows.append(
                    (doc_id, w, h, psize, mcs, inter, int(s[0]), int(s[1]), int(s[2]), True)
                )
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, GIF_FEATURES_SCHEMA
    )


def synth_gif_animation(
    df: DataFrame,
    id_col: str,
    w_col: str,
    h_col: str,
    n_col: str,
    a_col: str,
    b_col: str,
    p_col: str,
) -> DataFrame:
    """Deterministic REAL animated-GIF synthesis (the multi-frame twin of
    synth_gif): an n-frame GIF89a on a w x h logical screen where frame f
    draws a w x (h//2) rect on the alternating half (top = (f % 2)*(h//2)),
    pixel i of the rect gets palette index (a*i + b + f) mod P, palette
    entry j the channel ramp ((a*j + b + 85*c) mod 256), disposal 1 (keep)
    and per-frame delay f+1 cs.  LZW is lossless and compositing is pure
    algebra over the params, so the q179 oracle recomputes every per-frame
    AND composited-canvas channel sum from (w, h, n, a, b, P) alone.  One
    Arrow pass, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, w, h, n, a, b, p in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["n"], pdf["a"], pdf["b"], pdf["p"]
            ):
                w, h, n, a, b, p = int(w), int(h), int(n), int(a), int(b), int(p)
                pal = [
                    tuple(int((a * j + b + 85 * c) % 256) for c in range(3))
                    for j in range(p)
                ]
                fh = h // 2
                i = np.arange(w * fh, dtype=np.int64)
                frames = [
                    {
                        "indices": ((a * i + b + f) % p).tolist(),
                        "w": w,
                        "h": fh,
                        "left": 0,
                        "top": (f % 2) * fh,
                        "disposal": 1,
                        "delay_cs": f + 1,
                    }
                    for f in range(n)
                ]
                rows.append((doc_id, _gif_encode_animated(w, h, pal, frames)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"), (n_col, "n"),
         (a_col, "a"), (b_col, "b"), (p_col, "p")],
        worker, "doc_id long, payload binary",
    )


GIF_ANIMATION_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, left int, top int, "
    "width int, height int, palette_size int, disposal int, delay_cs int, "
    "transparent int, frame_r long, frame_g long, frame_b long, "
    "canvas_r long, canvas_g long, canvas_b long"
)


def decode_gif_animation(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL animated-GIF decode over a binary column (stdlib + numpy): the
    full _gif_decode_frames walk — Graphic Control Extensions (disposal,
    transparency, delays), per-frame offsets and local palettes, LZW per
    frame, GIF89a compositing — emitted as one row per frame (1->N
    fan-out) with integer-exact channel sums of BOTH the frame's own
    pixels and the composited canvas after the frame draws.  ``transparent``
    is -1 when the frame declares no transparency index.

    Scale: Arrow-batched mapInPandas, zero shuffle — frames fan out on the
    scan partitioning.  Worker memory is bounded by ONE payload's decoded
    animation (the walker materializes each frame's index grid, pixels and
    a composited-canvas copy before this reducer collapses them to six
    sums — O(n_frames x screen) per payload, the per-document bound of the
    format, not of the corpus; a pathological thousand-frame crawl GIF is
    the row to length-filter upstream, like any oversized payload)."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = [c.split()[0] for c in GIF_ANIMATION_SCHEMA.split(", ")]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _sw, _sh, _bg, frames = _gif_decode_frames(bytes(payload))
                for fi, f in enumerate(frames):
                    fs = f["pixels"].astype("int64").sum(axis=(0, 1))
                    cs = f["canvas"].astype("int64").sum(axis=(0, 1))
                    rows.append(
                        (
                            doc_id, fi, len(frames), f["left"], f["top"],
                            f["w"], f["h"], f["palette_size"], f["disposal"],
                            f["delay_cs"],
                            -1 if f["transparent"] is None else int(f["transparent"]),
                            int(fs[0]), int(fs[1]), int(fs[2]),
                            int(cs[0]), int(cs[1]), int(cs[2]),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, GIF_ANIMATION_SCHEMA
    )


def gif_frame_sample(df: DataFrame, id_col: str, payload_col: str, stride: int = 2) -> DataFrame:
    """Container-aware keyframe sampler: decode an animated GIF's frames
    and re-emit every ``stride``-th one as a STANDALONE single-frame GIF —
    the codec-aware realization of frame_sample's (id, frame_idx, frame)
    contract (same mapInPandas signature and 1->N shape; frame_sample
    remains the fixed-byte-slice fallback for containers without a decoder
    in this image).  Re-encoding reuses the frame's own index grid and
    palette through the real LZW encoder, so sampling is LOSSLESS — a
    decode of an emitted frame reproduces the source frame's pixels
    exactly (pinned in tests).  Arrow-batched, zero shuffle."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames_out = [], [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                _sw, _sh, _bg, frames = _gif_decode_frames(bytes(b), composite=False)
                for j in range(0, len(frames), stride):
                    f = frames[j]
                    ids.append(i)
                    idxs.append(j)
                    frames_out.append(
                        _gif_encode(
                            f["grid"].reshape(-1).tolist(), f["palette"], f["w"], f["h"]
                        )
                    )
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames_out})

    return _arrow_stage(
        df, [(id_col, id_col), (payload_col, payload_col)],
        gen, f"{id_col} long, frame_idx int, frame binary", spread=False,
    )


def _bmp_encode(img) -> bytes:
    """REAL BMP encoder (the canonical 24-bpp BI_RGB BITMAPINFOHEADER
    form): BGR pixel order, bottom-up rows, each padded to a 4-byte
    boundary — stdlib struct only."""
    import struct

    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<III", 14 + 40 + len(body), 0, 14 + 40)
    return header + info + bytes(body)


def _bmp_decode(raw: bytes):
    """REAL BMP decoder using ONLY the stdlib: file + DIB header parse
    (any INFOHEADER-family size ≥ 40 — V4/V5 share the prefix), 24-bpp
    BI_RGB and 32-bpp BI_RGB/BI_BITFIELDS (byte-aligned masks), bottom-up
    and top-down (negative height) row orders, 4-byte row padding, pixel
    offset honored.  Pinned against CPython's own test-corpus BMPs (V5
    BITFIELDS 32-bpp, a real-encoder artifact) in tests.  Returns
    (width, height, bpp, compression, ndarray[h, w, 3])."""
    import struct

    import numpy as np

    if raw[:2] != b"BM":
        raise ValueError("not a BMP payload (bad signature)")
    _fsz, _res, off = struct.unpack("<III", raw[2:14])
    (hsz,) = struct.unpack("<I", raw[14:18])
    if hsz < 40:
        raise ValueError(f"unsupported BMP header size {hsz} (CORE headers not handled)")
    w, h, _planes, bpp, comp = struct.unpack("<iiHHI", raw[18:34])
    top_down = h < 0
    h = abs(h)
    if bpp == 24 and comp == 0:
        shifts = None  # byte-wise BGR reversal below, no mask math
    elif bpp == 32 and comp in (0, 3):
        if comp == 3:
            masks = struct.unpack("<III", raw[54:66])  # R, G, B masks follow the prefix
            shift_of = {0xFF: 0, 0xFF00: 8, 0xFF0000: 16, 0xFF000000: 24}
            if any(m not in shift_of for m in masks):
                raise ValueError(f"unsupported BMP bitfield masks {[hex(m) for m in masks]}")
            shifts = tuple(shift_of[m] for m in masks)
        else:
            shifts = (16, 8, 0)  # BGRX
    else:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3
    img = np.zeros((h, w, 3), dtype=np.uint8)
    for out_y in range(h):
        src_y = out_y if top_down else h - 1 - out_y
        row = np.frombuffer(raw, dtype=np.uint8, count=w * nbytes, offset=off + src_y * stride)
        if bpp == 24:
            px = row.reshape(w, 3)[:, ::-1]  # BGR -> RGB
        else:
            u32 = row.view("<u4").astype(np.int64)
            px = np.stack([(u32 >> s) & 0xFF for s in shifts], axis=-1).astype(np.uint8)
        img[out_y] = px
    return w, h, bpp, comp, img


IMAGE_SNIFF_SCHEMA = (
    "doc_id long, format string, width long, height long, "
    "sum_r long, sum_g long, sum_b long"
)


def _decode_jpeg_rgb(raw: bytes):
    from . import jpeg as _jpeg

    w, h, _nc, img = _jpeg.jpeg_decode(raw)
    return w, h, img


# ONE table drives both the Catalyst sniffer and the Python dispatcher so
# the two can never drift (the fifth container only needs one new row):
# (label, magic bytes, decode(raw) -> (width, height, rgb ndarray)).
# Order defines sniff precedence.
_IMAGE_CONTAINERS = [
    ("png", PNG_SIG, lambda raw: (lambda t: (t[0], t[1], t[5]))(_png_decode(raw))),
    ("ppm", b"P6", lambda raw: (lambda t: (t[0], t[1], t[3]))(_parse_ppm(raw))),
    ("gif", b"GIF8", lambda raw: (lambda t: (t[0], t[1], t[5]))(_gif_decode(raw))),
    ("jpeg", b"\xff\xd8", _decode_jpeg_rgb),
    ("bmp", b"BM", lambda raw: (lambda t: (t[0], t[1], t[4]))(_bmp_decode(raw))),
]


def sniff_image_format(col: Column) -> Column:
    """Container sniffing by magic bytes as a PURE Catalyst expression
    (substring on binary + literal compares — usable as a partition or
    routing key before any Python runs): P6 → ppm, \\x89PNG → png,
    GIF87a/GIF89a → gif, SOI \\xff\\xd8 → jpeg, BM → bmp, else
    unknown.  The real-corpus move: crawl payloads carry no trustworthy
    extension or content-type, the bytes are the only authority.  Driven
    by the same _IMAGE_CONTAINERS table the dispatcher uses."""
    expr = None
    for label, magic, _dec in _IMAGE_CONTAINERS:
        cond = F.substring(col, 1, len(magic)) == F.lit(magic)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise("unknown")


def synth_bmp(df: DataFrame, id_col: str, w_col: str, h_col: str, a_col: str, b_col: str) -> DataFrame:
    """Deterministic REAL-BMP synthesis: the synth_ppm pixel ramp packed
    through the canonical 24-bpp BI_RGB container (_bmp_encode — BGR order,
    bottom-up padded rows).  Lossless, so the q178 oracle recomputes every
    decoded channel sum from parameters.  One Arrow pass, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, w, h, a, b in zip(pdf["doc_id"], pdf["w"], pdf["h"], pdf["a"], pdf["b"]):
                w, h, a, b = int(w), int(h), int(a), int(b)
                i = np.arange(w * h, dtype=np.int64)[:, None]
                c = np.arange(3, dtype=np.int64)[None, :]
                img = ((a * i + b + 85 * c) % 256).astype(np.uint8).reshape(h, w, 3)
                rows.append((doc_id, _bmp_encode(img)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"), (a_col, "a"), (b_col, "b")],
        worker, "doc_id long, payload binary",
    )


BMP_FEATURES_SCHEMA = (
    "doc_id long, width long, height long, bpp long, compression long, "
    "sum_r long, sum_g long, sum_b long"
)


def decode_bmp_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL BMP decode over a binary column (_bmp_decode: INFOHEADER-family
    parse, 24/32-bpp, BI_RGB/BI_BITFIELDS, both row orders, padding) with
    integer-exact channel sums the q178 oracle recomputes from synthesis
    parameters.  Arrow-batched mapInPandas, no shuffle."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ["doc_id", "width", "height", "bpp", "compression",
                "sum_r", "sum_g", "sum_b"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, bpp, comp, img = _bmp_decode(bytes(payload))
                s = img.astype("int64").sum(axis=(0, 1))
                rows.append((doc_id, w, h, bpp, comp, int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, BMP_FEATURES_SCHEMA
    )


def decode_any_image_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Normalize a HETEROGENEOUS image corpus in one Arrow stage: per-row
    magic-byte dispatch (the _IMAGE_CONTAINERS table, shared with the
    Catalyst sniffer) to the real PPM/PNG/GIF/BMP/baseline-JPEG decoders
    (each individually oracle-checked: q158/q164/q174/q178/q168),
    emitting uniform features regardless of container.  This is the shape
    of an actual multimodal ingest job — one pass, no per-format corpus
    splits, no shuffle; unknown containers raise rather than pass through
    silently (route them through sniff_image_format + filter first when a
    corpus may hold gated formats)."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ["doc_id", "format", "width", "height", "sum_r", "sum_g", "sum_b"]
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                for fmt, magic, dec in _IMAGE_CONTAINERS:
                    if raw[: len(magic)] == magic:
                        w, h, img = dec(raw)
                        break
                else:
                    raise ValueError(
                        f"unrecognized image container (first bytes {raw[:4]!r})"
                    )
                s = img.astype("int64").sum(axis=(0, 1))
                rows.append((doc_id, fmt, w, h, int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, IMAGE_SNIFF_SCHEMA
    )


def synth_image_mixed(
    df: DataFrame,
    id_col: str,
    w_col: str,
    h_col: str,
    a_col: str,
    b_col: str,
    p_col: str,
    fmt_col: str,
) -> DataFrame:
    """One-stage heterogeneous-corpus synthesis (the q177 ingest shape):
    per-row dispatch on ``fmt_col`` (0 → PPM, 1 → PNG, 2 → GIF) to the SAME
    per-payload encoders the per-format synth operators use, so each row's
    bytes are identical to the corresponding synth_ppm/synth_png/synth_gif
    output.  One corpus scan and ONE Python stage, where three filtered
    synth branches + a union would take three scans, three Python stages
    and a union (guide §1.2 algorithm passes, §4.1 boundary crossings);
    decode_any_image_features then fuses on top for a single JVM↔Python
    crossing end to end."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, w, h, a, b, p, fmt in zip(
                pdf["doc_id"], pdf["w"], pdf["h"], pdf["a"], pdf["b"],
                pdf["p"], pdf["fmt"],
            ):
                w, h, a, b, p, fmt = int(w), int(h), int(a), int(b), int(p), int(fmt)
                i = np.arange(w * h, dtype=np.int64)[:, None]
                if fmt == 0:  # PPM — synth_ppm_batches' exact bytes
                    c = np.arange(3, dtype=np.int64)[None, :]
                    img = ((a * i + b + 85 * c) % 256).astype(np.uint8)
                    payload = f"P6\n{w} {h}\n255\n".encode() + img.tobytes()
                elif fmt == 1:  # PNG — synth_png's exact bytes
                    c = np.arange(3, dtype=np.int64)[None, :]
                    img = ((a * i + b + 85 * c) % 256).astype(np.uint8).reshape(h, w, 3)
                    payload = _png_encode(img)
                elif fmt == 2:  # GIF — synth_gif's exact bytes
                    pal = [
                        tuple(int((a * j + b + 85 * c) % 256) for c in range(3))
                        for j in range(p)
                    ]
                    idx = (a * i[:, 0] + b) % p
                    payload = _gif_encode(idx.tolist(), pal, w, h)
                else:
                    raise ValueError(f"unknown mixed-image fmt {fmt}")
                rows.append((doc_id, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"),
         (a_col, "a"), (b_col, "b"), (p_col, "p"), (fmt_col, "fmt")],
        worker, "doc_id long, payload binary",
    )


def _jpeg_ramp(w: int, h: int, ay: int, ax: int, b: int):
    """The q168 synthesis image: smooth linear ramp per channel (offsets
    +0/+30/+60), parameters chosen never to clip — smoothness keeps the
    lossy reconstruction error small and BOUNDABLE (a wrapping ramp would
    ring at the discontinuities, see jpeg.py header)."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(b + 30 * c + ay * y + ax * x) for c in range(3)], axis=-1
    ).astype(np.uint8)


def synth_jpeg(df: DataFrame, id_col: str, w_col: str, h_col: str, ay_col: str, ax_col: str, b_col: str) -> DataFrame:
    """Deterministic REAL-JPEG synthesis (jpeg.jpeg_encode: forward DCT,
    Annex-K quantization + Huffman coding, byte stuffing, full marker
    syntax).  Returns (doc_id, payload binary).  One Arrow pass, no
    shuffle."""
    from . import jpeg as _jpeg

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            # whole-batch vectorized encode (guide §4.2) — per-image
            # fixed cost is what dominates at these block counts
            imgs = [
                _jpeg_ramp(int(w), int(h), int(ay), int(ax), int(b))
                for w, h, ay, ax, b in zip(
                    pdf["w"], pdf["h"], pdf["ay"], pdf["ax"], pdf["b"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": _jpeg.jpeg_encode_batch(imgs)}
            )

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"),
         (ay_col, "ay"), (ax_col, "ax"), (b_col, "b")],
        worker, "doc_id long, payload binary",
    )


def decode_jpeg_features(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL JPEG decode over a binary column, numpy + stdlib only
    (jpeg.jpeg_decode: marker walk, Huffman entropy decode, dequantize,
    IDCT, YCbCr→RGB): dimensions, component/block counts, and per-channel
    sums of the DECODED pixels.  JPEG is lossy, so the sums are not
    parameter-recomputable (contrast q158/q164) — q168 bounds them against
    the synthesis ramp instead (contract-oracle).  Scale: Arrow-batched
    mapInPandas, no shuffle."""
    from . import jpeg as _jpeg

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ["doc_id", "width", "height", "n_components", "n_blocks",
                "sum_r", "sum_g", "sum_b"]
        for pdf in batches:
            # whole-batch vectorized decode (guide §4.2)
            decoded = _jpeg.jpeg_decode_batch([bytes(p) for p in pdf["payload"]])
            rows = []
            for doc_id, (w, h, nc, img) in zip(pdf["doc_id"], decoded):
                s = img.astype("int64").sum(axis=(0, 1))
                n_blocks = -(-w // 8) * -(-h // 8)
                rows.append((doc_id, w, h, nc, n_blocks, int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, JPEG_FEATURES_SCHEMA
    )


def jpeg_fidelity(df: DataFrame, id_col: str, w_col: str, h_col: str, ay_col: str, ax_col: str, b_col: str, subsample=False) -> DataFrame:
    """Synth → encode → decode → per-pixel compare in ONE Arrow stage (the
    payload never needs to shuffle, so it never does): exact integer
    max-abs-error and sum-abs-error of the lossy roundtrip against the
    parametric original.  ``subsample`` takes any jpeg.SAMP_FACTORS mode;
    q168 (4:4:4), q169 (4:2:0), q171 (4:2:2) and q172 (4:1:1) turn these
    into bound booleans."""
    from . import jpeg as _jpeg

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = ["doc_id", "width", "height", "n_components", "n_blocks",
                "max_err", "sum_abs_err"]
        for pdf in batches:
            # whole-batch vectorized encode → decode (guide §4.2)
            imgs = [
                _jpeg_ramp(int(w), int(h), int(ay), int(ax), int(b))
                for w, h, ay, ax, b in zip(
                    pdf["w"], pdf["h"], pdf["ay"], pdf["ax"], pdf["b"]
                )
            ]
            decoded = _jpeg.jpeg_decode_batch(
                _jpeg.jpeg_encode_batch(imgs, subsample=subsample)
            )
            rows = []
            for doc_id, img, (w2, h2, nc, back) in zip(pdf["doc_id"], imgs, decoded):
                e = np.abs(back.astype(np.int64) - img.astype(np.int64))
                n_blocks = -(-w2 // 8) * -(-h2 // 8)
                rows.append((doc_id, w2, h2, nc, n_blocks, int(e.max()), int(e.sum())))
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df,
        [(id_col, "doc_id"), (w_col, "w"), (h_col, "h"),
         (ay_col, "ay"), (ax_col, "ax"), (b_col, "b")],
        worker,
        "doc_id long, width long, height long, n_components long, n_blocks long, "
        "max_err long, sum_abs_err long",
    )


def transcode_png_jpeg(df: DataFrame, id_col: str, payload_col: str, subsample=True) -> DataFrame:
    """REAL cross-format transcode — the normalize-heterogeneous-inputs job
    every image-pretraining pipeline runs: PNG decode (CRC-verified chunk
    walk + zlib inflate + scanline unfilter) → baseline JPEG encode (DCT +
    Annex-K Huffman, 4:2:0 by default) in ONE Arrow stage; payloads never
    shuffle.  Returns (doc_id, payload binary) carrying the JPEG."""
    from . import jpeg as _jpeg

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            # PNG decode per image (zlib-bound), JPEG encode whole-batch
            # vectorized (guide §4.2)
            imgs = [_png_decode(bytes(p))[5] for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": _jpeg.jpeg_encode_batch(imgs, subsample=subsample),
                }
            )

    return _arrow_stage(
        df, [(id_col, "doc_id"), (payload_col, "payload")], worker, "doc_id long, payload binary"
    )


# ---------------------------------------------------------------- PII scrub

# Pattern set kept RE2-compatible (no backrefs/lookaround) so the DuckDB
# oracle can run the identical regexes; order matters (SSN before the
# greedier phone pattern).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\+?\d[\d \-]{7,}\d", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def luhn_valid(num: Column) -> Column:
    """Luhn checksum over a digit string, pure Catalyst expressions: from
    the RIGHT, double every second digit (subtracting 9 when > 9) and
    require the total ≡ 0 (mod 10).  The validation that separates real
    payment-card numbers from arbitrary digit runs — the reason a naive
    16-digit regex over-fires by orders of magnitude on web text."""
    d = F.filter(F.split(num, ""), lambda c: c != F.lit(""))
    rev = F.reverse(d)
    terms = F.zip_with(
        rev,
        F.sequence(F.lit(1), F.size(rev)),
        lambda c, i: F.when(i % 2 == 1, c.cast("int")).otherwise(
            F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9).otherwise(c.cast("int") * 2)
        ),
    )
    return F.when(
        F.size(d) > 0,
        F.aggregate(terms, F.lit(0), lambda a, x: a + x) % 10 == 0,
    ).otherwise(F.lit(False))


def luhn_check_digit(num: Column) -> Column:
    """The digit d that makes ``num || d`` Luhn-valid (used to PLANT valid
    card numbers in tests/oracles): appending d shifts every base digit one
    position left, so doubling applies to the base's odd-from-right
    positions."""
    d = F.filter(F.split(num, ""), lambda c: c != F.lit(""))
    rev = F.reverse(d)
    terms = F.zip_with(
        rev,
        F.sequence(F.lit(1), F.size(rev)),
        lambda c, i: F.when(i % 2 == 0, c.cast("int")).otherwise(
            F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9).otherwise(c.cast("int") * 2)
        ),
    )
    s = F.aggregate(terms, F.lit(0), lambda a, x: a + x)
    return (F.lit(10) - s % 10) % 10


# maximal digit runs with optional single space/dash separators — maximal
# (unbounded) extraction is unambiguous across regex engines; the 13–19
# length bound is applied AFTER normalization, not in the pattern, so RE2
# (DuckDB oracle) and Java regex (Spark) cannot disagree on long runs
CC_CANDIDATE_RE = r"\d(?:[ -]?\d)+"


def credit_card_stats(df: DataFrame, id_col: str, text_col: str, redact: bool = False) -> DataFrame:
    """Payment-card detection with Luhn validation — the PII signal the
    regex-only scrub (pii_scrub) deliberately omits because digit runs need
    checksum validation to avoid mass false positives: candidates are
    maximal digit(+space/dash) runs whose digit count lands in 13–19, and
    ``n_valid`` counts those passing :func:`luhn_valid`.  Returns (id,
    n_candidates, n_valid[, clean_text]); ``redact=True`` replaces, per
    MAXIMAL digit run, the whole run with ``<CC>`` when its normalized
    digit count is ≥ 13 (redaction is conservative — a run longer than 19
    digits is redacted in full rather than leaving a tail behind a
    partially-matched prefix, and runs the counting path rejects as too
    short are left intact).

    The per-run decision can't be a single ``regexp_replace`` (no callback
    in Catalyst, and a bounded-repetition pattern bites 19-digit prefixes
    out of longer runs): instead split the text on maximal runs, decide
    each extracted run, and re-interleave — still pure expressions, still
    whole-stage codegen, no shuffle, no Python — same shape as pii_scrub."""
    cands = F.regexp_extract_all(F.col(text_col), F.lit(CC_CANDIDATE_RE), 0)
    norm = F.filter(
        F.transform(cands, lambda s: F.regexp_replace(s, r"[ -]", "")),
        lambda s: (F.length(s) >= 13) & (F.length(s) <= 19),
    )
    cols = [
        F.col(id_col),
        F.size(norm).cast("long").alias("n_candidates"),
        F.size(F.filter(norm, luhn_valid)).cast("long").alias("n_valid"),
    ]
    if redact:
        cols.append(_redact_per_match(F.col(text_col), CC_CANDIDATE_RE, _cc_decide).alias("clean_text"))
    return df.select(*cols)


def _cc_decide(m: Column) -> Column:
    """Per-maximal-run card redaction rule: any run of ≥13 normalized digits
    becomes <CC> — over-redact long runs in full rather than leak a tail."""
    return F.when(
        F.length(F.regexp_replace(m, r"[ -]", "")) >= 13, F.lit("<CC>")
    ).otherwise(m)


def _redact_per_match(text: Column, pattern: str, decide) -> Column:
    """Per-MAXIMAL-match replacement as pure expressions (Catalyst has no
    regexp-replace callback): split the text on the pattern, decide each
    extracted match with ``decide(match) -> Column``, and re-interleave —
    segs has exactly size(matches)+1 elements (limit=-1 keeps trailing
    empties), so clean = seg0 ⧺ dec0 ⧺ seg1 ⧺ dec1 ⧺ … ⧺ segN."""
    segs = F.split(text, pattern, -1)
    matches = F.regexp_extract_all(text, F.lit(pattern), 0)
    decided = F.transform(matches, decide)
    interleaved = F.zip_with(
        F.slice(segs, 1, F.size(matches)), decided, lambda s, m: F.concat(s, m)
    )
    return F.concat(F.array_join(interleaved, ""), F.element_at(segs, -1))


def iban_valid(iban: Column) -> Column:
    """ISO 13616 IBAN checksum, pure Catalyst expressions: strip spaces,
    move the first four chars to the end, map letters A..Z → 10..35, and
    require the resulting number ≡ 1 (mod 97).  The number is up to ~64
    digits, so the modulus runs as a per-character FOLD (acc·10+digit or
    acc·100+letter-value, mod 97 each step) — no big-int type needed.
    Shape is pre-checked (2 letters, 2 digits, 11–30 alphanumerics)."""
    s = F.upper(F.regexp_replace(iban, r"[ ]", ""))
    shape_ok = s.rlike(r"^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$")
    rearranged = F.concat(F.substring(s, 5, 40), F.substring(s, 1, 4))
    chars = F.filter(F.split(rearranged, ""), lambda c: c != F.lit(""))
    acc = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda a, c: F.when(
            c.between("0", "9"), (a * 10 + (F.ascii(c) - 48)) % 97
        ).otherwise((a * 100 + (F.ascii(c) - 55)) % 97),
    )
    return F.when(shape_ok, acc == 1).otherwise(F.lit(False))


IBAN_CANDIDATE_RE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"


def iban_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Bank-account (IBAN) detection with mod-97 validation — the
    bank-account sibling of credit_card_stats: candidates match the IBAN
    shape at word boundaries and ``n_valid`` counts those passing
    :func:`iban_valid`.  Returns (id, n_candidates, n_valid).  One
    regexp/HOF projection, no shuffle, no Python."""
    cands = F.regexp_extract_all(F.col(text_col), F.lit(IBAN_CANDIDATE_RE), 0)
    return df.select(
        F.col(id_col),
        F.size(cands).cast("long").alias("n_candidates"),
        F.size(F.filter(cands, iban_valid)).cast("long").alias("n_valid"),
    )


def pii_scrub_v2(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composed PII scrub: the regex pass (pii_scrub — emails/SSNs/phones/
    IPv4s) PLUS the checksum-validated detectors (credit_card_stats Luhn
    cards, iban_stats mod-97 IBANs) as ONE projection — the full
    release-gate scrub a training-data pipeline runs (RECIPES).

    Counts are all taken on the ORIGINAL text, per signal, independently
    (the pii_scrub contract: a later redaction can't hide an earlier hit —
    so a payment-card digit run also counts as n_phone; signals overlap by
    design).  Redaction composes most-specific-first:

      1. checksum-VALID IBANs → <IBAN> (shape+letters pattern; an
         invalid-checksum IBAN shape is not PII and stays),
      2. maximal digit runs of ≥13 normalized digits → <CC> (the
         credit_card_stats over-redact rule — note this catches the digit
         tail of an invalid-checksum IBAN left by step 1),
      3. the regex placeholders in PII_PATTERNS order.

    Scale: still one whole-stage-codegen projection — regexp/HOF expression
    folds, no shuffle, no Python — identical shape to pii_scrub."""
    text = F.col(text_col)
    norm_runs = F.transform(
        F.regexp_extract_all(text, F.lit(CC_CANDIDATE_RE), 0),
        lambda s: F.regexp_replace(s, r"[ -]", ""),
    )
    card_cands = F.filter(norm_runs, lambda s: (F.length(s) >= 13) & (F.length(s) <= 19))
    ibans = F.regexp_extract_all(text, F.lit(IBAN_CANDIDATE_RE), 0)
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = _redact_per_match(
        text,
        IBAN_CANDIDATE_RE,
        lambda m: F.when(iban_valid(m), F.lit("<IBAN>")).otherwise(m),
    )
    clean = _redact_per_match(clean, CC_CANDIDATE_RE, _cc_decide)
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        *counts,
        F.size(card_cands).cast("long").alias("n_card_candidates"),
        F.size(F.filter(card_cands, luhn_valid)).cast("long").alias("n_card_valid"),
        F.size(ibans).cast("long").alias("n_iban_candidates"),
        F.size(F.filter(ibans, iban_valid)).cast("long").alias("n_iban_valid"),
    )


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact common PII shapes (emails, SSNs, phone numbers, IPv4s) with
    typed placeholder tokens and count what was found — the standard scrub
    pass before LLM training-data release.

    Scale: a chain of regexp_replace/regexp_count Column expressions — one
    projection, whole-stage codegen, no shuffle, no Python.  Counts are
    taken BEFORE redaction (a later pattern can't hide an earlier hit)."""
    out = df.select(F.col(id_col), F.col(text_col))
    clean = F.col(text_col)
    counts = []
    for name, pat, _ in PII_PATTERNS:
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}"))
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return out.select(
        F.col(id_col),
        clean.alias("clean_text"),
        *counts,
    )


# ------------------------------------------------- paragraph-level dedup

def paragraph_dedup(df: DataFrame, id_col: str, text_col: str, sep: str = "\n") -> DataFrame:
    """Cross-corpus paragraph-level exact dedup (the C4/RefinedWeb recipe):
    split each document on ``sep``, keep only the FIRST occurrence of every
    distinct paragraph corpus-wide (first = lowest (doc id, position)), and
    reassemble the surviving paragraphs in document order.  Documents whose
    every paragraph was seen earlier disappear entirely.

    Scale: explode → one shuffle keyed by the paragraph's 128-bit digest
    (row_number window; state per distinct paragraph, never pairwise) → one
    shuffle back on doc id to reassemble.  Payload carried through the
    digest shuffle is the paragraph text itself (needed for reassembly) —
    at 100 TB, cap paragraph length upstream or carry (digest, doc, pos)
    only and re-join, trading a third shuffle for narrower rows."""
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "para"),
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(F.col(id_col), F.col("pos"))
    kept = parts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("para")))),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )


# ------------------------------------------------- corpus-level n-grams

def top_ngrams(df: DataFrame, text_col: str, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide most-frequent word n-grams (vocabulary / contamination
    triage).  Deterministic order: count desc, then n-gram asc.

    Scale: explode → hash-aggregate with map-side partial counts (the
    distinct n-gram space, not the corpus, hits the shuffle) → global top-k
    via TakeOrderedAndProject (each partition keeps k rows; only n_part×k
    rows reach the driver-side final sort)."""
    # the n-gram HOF is the per-row cost center — spread the scan so it
    # parallelizes even when the input is one small parquet split, and
    # materialize the token array in its own projection FIRST: inlining
    # tokens() into the Generate makes Catalyst re-evaluate the split/lower
    # three times per row (size guard, sequence bound, slice source) — the
    # separate Project evaluates it once (measured ~17% on q88 at sf0.1)
    toksed = _spread(df.select(F.col(text_col))).select(
        tokens(F.col(text_col)).alias("__toks")
    )
    grams = toksed.select(
        F.explode(word_ngrams_multiset(F.col("__toks"), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram"))
        .limit(k)
    )


# ------------------------------------------------- near-dup clustering

def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: for every node u, link each strictly-LARGER
    neighbor to the minimum of u's closed neighborhood.  Input/output edges
    are canonical (u > v); neighborhoods are formed over both directions."""
    bi = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bi.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        bi.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges arrive canonical (u > v), so every
    neighborhood N(u) is all-smaller; link each of N(u) ∪ {u} to its min."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select("u", F.col("m").alias("v"))
    return relink.union(self_link).distinct()


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs → one canonical id per
    cluster (min member id), the step after any pair generator (minhash /
    simhash / embedding LSH): transitive dups (A≈B, B≈C) collapse to one
    cluster so exactly one representative survives per group.

    Returns (node, cluster_id) for every id that appears in ``pairs``.

    Algorithm: alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — O(log²) rounds on ANY topology,
    vs O(component diameter) for plain min-label propagation, so adversarial
    chain-shaped dup graphs converge as fast as the common clique-shaped
    ones.  Each round is two groupBy-min + self-join passes over the current
    edge set; edges only ever point toward smaller ids, and the fixpoint is
    a disjoint union of stars, each rooted at its component's min id.
    Rounds are pure DataFrame ops (distributed); the driver only sees the
    per-round convergence probe, and ``localCheckpoint`` truncates the
    growing lineage each round.  Raises if ``max_iter`` rounds don't reach
    the fixpoint rather than returning silently-partial clusters."""
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()  # pair generation may be expensive (LSH) — run it once
    )
    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
    )
    for _ in range(max_iter):
        new = _small_star(_large_star(edges)).localCheckpoint()
        # set equality probe: both sides are distinct, so two one-row
        # exceptAll checks suffice (each is a cheap early-out job)
        changed = (
            new.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new).limit(1).count()
        )
        edges = new
        if changed == 0:
            break
    else:
        raise RuntimeError(f"dedup_clusters did not converge in {max_iter} rounds")
    roots = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return nodes.join(roots, nodes["node"] == roots["u"], "left").select(
        "node", F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id")
    )


# ------------------------------------------------- URL / domain triage

URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[^\s]*)?"
_DOMAIN_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def url_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document URL signals: count + distinct registrable hosts — the
    boilerplate/spam triage pass of a web corpus.  Single projection of
    regexp expressions (RE2-compatible, so the oracle runs them verbatim)."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    hosts = F.array_distinct(F.regexp_extract_all(F.col(text_col), F.lit(_DOMAIN_PATTERN), 1))
    return df.select(
        F.col(id_col),
        F.size(urls).alias("n_urls"),
        F.size(hosts).alias("n_domains"),
        F.array_join(F.array_sort(hosts), ",").alias("domains"),
    )


def top_domains(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Corpus-wide most-linked hosts (count desc, host asc — deterministic).
    Same scale shape as top_ngrams: explode → map-side-combined count →
    TakeOrderedAndProject."""
    hosts = F.regexp_extract_all(F.col(text_col), F.lit(_DOMAIN_PATTERN), 1)
    return (
        _spread(df)
        .select(F.explode(hosts).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("domain"))
        .limit(k)
    )


def domain_blocklist(
    df: DataFrame,
    domain_col: str,
    score_col: str,
    min_docs: int = 20,
    max_mean_score: float = 0.3,
) -> DataFrame:
    """Data-driven domain blocklist: flag domains whose MEAN quality score
    over at least ``min_docs`` documents falls below ``max_mean_score`` —
    the curation feedback loop that turns per-doc quality signals
    (quality_score / classifier_score / gopher rules) into a crawl-level
    exclusion list, per the C4/RefinedWeb practice of blocking spam hosts
    wholesale rather than re-filtering their pages forever.  Returns every
    domain with ≥ min_docs docs as (domain, n_docs, sum_score, blocked).

    Exactness: the score sum runs in DECIMAL(18,6) — exact and associative,
    so partition order can't wiggle the mean across engines — and the
    block decision compares sum < mean·n in decimal (no division).  Scale:
    one map-side-combinable aggregation keyed by domain; output is
    |domains|, broadcastable back as an anti-join filter."""
    dec = F.col(score_col).cast("decimal(18,6)")
    n = F.count(F.lit(1)).cast("long")
    s = F.sum(dec)
    return (
        _spread(df)
        .filter(F.col(domain_col).isNotNull())
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(n.alias("n_docs"), s.cast("double").alias("sum_score"), s.alias("__s"))
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "domain",
            "n_docs",
            "sum_score",
            (
                F.col("__s")
                < F.lit(max_mean_score).cast("decimal(18,6)") * F.col("n_docs")
            ).alias("blocked"),
        )
    )


# ------------------------------------------------- sequence packing

def pack_tokens(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    order_cols: Sequence[str] = (),
    shard_col: str | None = None,
) -> DataFrame:
    """Concatenate-and-split sequence packing: lay all chunks end-to-end in
    a deterministic order and cut every ``budget`` tokens — the
    Megatron/GPT-style packing that fills each training context exactly
    (documents may straddle a boundary; pair with an attention-mask reset
    downstream).  Adds (pack_id, pack_offset) per chunk.

    Scale: one window cumsum.  Without ``shard_col`` the order is GLOBAL —
    a single-partition window, the honest cost of a total order, fine for
    bounded eval sets.  At corpus scale pass ``shard_col`` (e.g. a hash
    bucket or doc_id range): each shard packs independently in parallel and
    ``pack_id`` is made globally unique by offsetting with the shard's
    dense rank (two aggregate-sized joins, no global sort of the data)."""
    order = [F.col(c) for c in (list(order_cols) or [id_col])]
    if shard_col is None:
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    else:
        w = (
            Window.partitionBy(F.col(shard_col))
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    cum = F.sum(F.col(n_tokens_col)).over(w)
    before = (cum - F.col(n_tokens_col)).cast("long")
    out = df.select(
        "*",
        (before / F.lit(budget)).cast("long").alias("pack_id"),
        (before % F.lit(budget)).cast("long").alias("pack_offset"),
    )
    if shard_col is None:
        return out
    # globally unique pack ids: offset each shard by the running total of
    # earlier shards' pack counts (aggregate-sized window, deterministic
    # shard order) — no global sort of the chunk data itself
    per_shard = out.groupBy(shard_col).agg((F.max("pack_id") + 1).alias("__n_packs"))
    off_w = Window.orderBy(F.col(shard_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = per_shard.select(
        F.col(shard_col),
        (F.sum("__n_packs").over(off_w) - F.col("__n_packs")).alias("__pack_base"),
    )
    return (
        out.join(F.broadcast(offsets), shard_col)
        .withColumn("pack_id", F.col("pack_id") + F.col("__pack_base"))
        .drop("__pack_base")
    )


def frame_sample(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_bytes: int = 16,
    stride: int = 2,
) -> DataFrame:
    """Frame sampling over opaque media payloads: treat the binary as a
    sequence of fixed-size frames and keep every ``stride``-th one — the
    video-keyframe-extraction plumbing (a real container-aware sampler slots
    into the same mapInPandas signature; codecs aren't in this container, so
    frames are fixed-byte slices — the Spark-side batch shape, schema, and
    1→N fan-out are the real thing).

    Scale: Arrow-batched mapInPandas, no shuffle — frames are emitted on the
    scan partitioning; a trailing partial frame is dropped (codec analog:
    incomplete trailing data is undecodable)."""
    import pandas as pd  # noqa: F401 (worker-side)

    out_schema = f"{id_col} long, frame_idx int, frame binary"

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(b) if b is not None else b""
                for j in range(0, len(b) // frame_bytes, stride):
                    ids.append(i)
                    idxs.append(j)
                    frames.append(b[j * frame_bytes : (j + 1) * frame_bytes])
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(gen, out_schema)


def resize_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    target_bytes: int = 64,
) -> DataFrame:
    """Resize over opaque media payloads: downsample each binary to exactly
    ``target_bytes`` by mean-pooling equal byte buckets (the deterministic
    stand-in for image resize — a PIL/cv2 body slots into the same
    mapInPandas signature; see decode_image_batches for the honest gate).
    Payloads shorter than ``target_bytes`` zero-pad — output shape is fixed,
    like a real thumbnail pipeline.

    Scale: Arrow-batched, 1→1, no shuffle; output row width is constant
    regardless of input payload size (the point of resizing early: carry
    64 B/row downstream instead of the raw media)."""
    out_schema = f"{id_col} long, thumb binary, orig_bytes long"

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, thumbs, sizes = [], [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                arr = np.frombuffer(bytes(b) if b is not None else b"", dtype=np.uint8)
                n = arr.size
                if n == 0:
                    thumb = np.zeros(target_bytes, dtype=np.uint8)
                elif n < target_bytes:
                    thumb = np.pad(arr, (0, target_bytes - n))
                else:
                    # mean-pool into target_bytes buckets (bucket edges via
                    # integer split so every byte lands in exactly one bucket)
                    edges = (np.arange(target_bytes + 1) * n) // target_bytes
                    sums = np.add.reduceat(arr.astype("int64"), edges[:-1])
                    counts = np.diff(edges)
                    thumb = (sums // counts).astype(np.uint8)
                ids.append(i)
                thumbs.append(thumb.tobytes())
                sizes.append(int(n))
            yield pd.DataFrame({id_col: ids, "thumb": thumbs, "orig_bytes": sizes})

    return df.mapInPandas(worker, out_schema)


# ------------------------------------------------- corpus statistics / IR

def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 2,
    quant: int = 1000,
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (idf = ln((N+1)/(df+1)),
    smoothed).  The score surfaces floor-quantized (``score_q`` =
    floor(score·quant)) so an external SQL oracle compares integer-exactly —
    a raw double would be hostage to last-ulp differences between the two
    engines' ln implementations.

    Scale: term-frequency agg (map-side partial count; the (doc, term) space
    hits the shuffle once, and the persisted result is what both consumers
    below read — the corpus is tokenized ONCE), document frequency via a
    map-side-combinable groupBy(term) count over the persisted tf frame
    attached back skew-safely (_attach_key_stats — a `count(*) over
    (partition by term)` window would put every tf row of a term on ONE
    task, capping parallelism at vocabulary size and making a stopword a
    single-task sort of ~n_docs rows at 100 TB; the hot/cold attach bounds
    per-task rows by construction, guide §2.5), corpus size
    joined as a broadcast 1-row aggregate (no driver action), then per-doc
    top-k via one ranked window (doc-keyed — per-doc row counts are
    vocabulary-bounded, no hot key possible).  Nothing rescans the raw text
    twice and no stage is driver-bound."""
    terms = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = _persist(terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
    tf = _attach_key_stats(tf, df_tbl, "term", "df_count").filter(
        F.col("df_count") >= min_df
    )
    ndocs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.crossJoin(F.broadcast(ndocs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df_count",
            F.floor(
                F.col("tf")
                * F.log((F.col("__n_docs") + F.lit(1.0)) / (F.col("df_count") + F.lit(1.0)))
                * F.lit(quant)
            ).cast("long").alias("score_q"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score_q").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df_ratio: float = 0.5,
    n: int = 1,
) -> DataFrame:
    """Build a term → sorted posting-list index over the corpus (``n`` > 1
    indexes word n-gram phrases — phrase search / contamination lookup).
    Terms in fewer than ``min_df`` docs (typos/noise) or more than
    ``max_df_ratio`` of all docs (stop words — ALSO the scale guard: a
    stop-word posting list at 100 TB would be a giant skewed row) are
    pruned.  Postings surface as a comma-joined sorted string so the oracle
    compares exactly.

    Scale: distinct (doc, term) pairs shuffle once on term; the posting agg
    is the only wide row producer and the max_df cut bounds it; corpus size
    arrives as a broadcast 1-row aggregate."""
    pairs = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(word_ngrams(tokens(F.col(text_col)), n)).alias("term")
    ).filter(F.col("term") != "")
    ndocs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_count"),
            F.array_join(F.sort_array(F.collect_list(F.col(id_col).cast("string"))), ",").alias(
                "postings"
            ),
        )
        .crossJoin(F.broadcast(ndocs))
        .filter(
            (F.col("df_count") >= min_df)
            & (F.col("df_count") <= F.col("__n_docs") * F.lit(max_df_ratio))
        )
        .drop("__n_docs")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quant: int = 1000,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Unigram-LM cross-entropy per document (the classic cheap perplexity
    proxy for quality scoring: gibberish / rare-token documents score high,
    formulaic ones low).  The model is the corpus itself: p(w) = cnt(w)/total;
    H(doc) = ln(total) − (Σ tf·ln cnt(w)) / n_tokens, floor-quantized like
    tfidf_topk so the comparison is integer-exact.

    ``carry_cols``: per-document columns (functionally dependent on
    ``id_col``, e.g. a language tag) ridden through the tf aggregation and
    surfaced on the output — callers that would otherwise re-join them onto
    the scored frame (perplexity_buckets) skip a doc-sized join.

    Scale: one (doc, term) tf aggregate (persisted — both consumers below
    read it, so the corpus is tokenized ONCE), vocabulary counts via a
    map-side-combinable groupBy(term) sum attached back skew-safely
    (_attach_key_stats — a window sum would put every tf row of a term on
    one task: a stopword caps parallelism), a
    per-doc sum.  The corpus token total is Σ_doc n_tokens, so it folds out
    of the PERSISTED per-doc frame (one row per doc, three numbers — cache
    cost negligible) instead of a second tokenize scan of the corpus; the
    1-row total broadcasts as before."""
    carry = [F.col(c) for c in carry_cols]
    terms = _spread(df.select(F.col(id_col), *carry, F.col(text_col))).select(
        F.col(id_col), *carry, F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = _persist(
        terms.groupBy(id_col, *carry_cols, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("term").agg(
        F.sum("tf").alias("cnt"), F.count(F.lit(1)).alias("__nr")
    )
    tf = _attach_key_stats(tf, vocab, "term", "__nr")
    per_doc = _persist(
        tf.groupBy(id_col, *carry_cols)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.log(F.col("cnt").cast("double"))).alias("__s"),
        )
    )
    totals = per_doc.agg(F.sum("n_tokens").cast("double").alias("__total"))
    return (
        per_doc
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            *carry,
            "n_tokens",
            F.floor(
                (F.log(F.col("__total")) - F.col("__s") / F.col("n_tokens")) * F.lit(quant)
            ).cast("long").alias("xent_q"),
        )
    )


def sample_to_mixture(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    target_shares: dict,
    budget: int,
    salt: str = "",
) -> DataFrame:
    """Sample DOWN to a target domain mixture: given per-domain target
    shares of a ``budget`` (in rows), each domain keeps rate
    min(1, share·budget / n_domain) of its rows — the data-DEPENDENT
    companion to sample_stratified_hash (there the caller fixes rates; here
    rates derive from the actual corpus counts, which is how a training-mix
    rebalance actually runs).  Domains without a share drop.  Same
    deterministic md5-bucket keep rule, so the draw is reproducible across
    engines/reruns and consistent across same-keyed tables.

    Scale: pass 1 is a tiny per-domain count (map-side combinable, result is
    |domains| rows); it broadcasts back and the keep rule stays a pure
    filter on the big side — the corpus itself never shuffles."""
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    numer = F.lit(0.0)
    for d, share in sorted(target_shares.items()):
        numer = F.when(F.col(domain_col) == d, F.lit(float(share * budget * 1_000_000))).otherwise(numer)
    rates = counts.select(
        F.col(domain_col),
        F.floor(F.least(F.lit(1_000_000.0), numer / F.col("__n"))).cast("long").alias("__thr"),
    )
    bucket = portable_hash32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000
    return df.join(F.broadcast(rates), domain_col).filter(bucket < F.col("__thr")).drop("__thr")


def sample_to_token_budget(
    df: DataFrame,
    id_col: str,
    text_col: str,
    domain_col: str,
    target_shares: dict,
    token_budget: int,
    salt: str = "",
) -> DataFrame:
    """Token-budget mixture sampling: like sample_to_mixture, but shares
    and budget are in TOKENS — the unit training mixes are actually
    specified in (a 30%-code / 70%-web mix means token mass, not document
    count, and domains with long documents must keep proportionally fewer
    of them).  Per domain, keep rate = min(1, share·token_budget /
    domain_tokens), applied with the same deterministic md5-bucket rule on
    ``id_col``, so the expected kept-token mass per domain hits the budget
    while the draw stays reproducible across engines and reruns.

    Scale: pass 1 reduces the corpus to |domains| rows of token sums
    (HOF token count — no explode — then map-side-combinable sum); the
    rates broadcast back and the keep rule is a pure filter — the corpus
    never shuffles."""
    ntok = F.size(F.filter(tokens(F.col(text_col)), lambda t: t != F.lit("")))
    counts = (
        _spread(df)
        .select(F.col(domain_col), ntok.alias("__ntok"))
        .groupBy(domain_col)
        .agg(F.sum("__ntok").cast("double").alias("__toks"))
    )
    numer = F.lit(0.0)
    for d, share in sorted(target_shares.items()):
        numer = F.when(
            F.col(domain_col) == d, F.lit(float(share * token_budget * 1_000_000))
        ).otherwise(numer)
    rates = counts.select(
        F.col(domain_col),
        F.floor(F.least(F.lit(1_000_000.0), numer / F.col("__toks"))).cast("long").alias("__thr"),
    )
    bucket = portable_hash32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000
    return df.join(F.broadcast(rates), domain_col).filter(bucket < F.col("__thr")).drop("__thr")


def exact_dedup_incremental(
    batch: DataFrame, seen_digests: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Continuous-ingestion exact dedup: drop every batch row whose content
    digest already exists in the historical ``seen_digests`` store (one
    ``fp`` column of md5 digests), then keep the lowest id per digest
    WITHIN the batch — so appending the survivors' digests to the store
    preserves the invariant 'one row ever per distinct content'.  This is
    the day-2 shape of exact_dedup: the corpus arrives in increments and
    yesterday's corpus must not be re-scanned.

    Scale: the history side is digests only (16 bytes/doc, not payloads);
    the anti join shuffles on the digest key (or broadcasts when the store
    fits), and the in-batch min() is the same digest-keyed partial agg as
    exact_dedup.  Returns (fp, id) like exact_dedup."""
    fresh = (
        batch.select(F.md5(F.col(content_col)).alias("fp"), F.col(id_col))
        .join(seen_digests.select("fp"), "fp", "left_anti")
    )
    return fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))


def sentence_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 64,
    sep_regex: str = r"\. ",
    joiner: str = ". ",
) -> DataFrame:
    """Sentence-boundary-respecting chunking: split each document into
    sentences (``sep_regex``), then group CONSECUTIVE sentences into chunks
    of ≈``max_tokens`` — chunk id = floor(tokens-before-this-sentence /
    max_tokens), so sentences are never split mid-way (the property plain
    token-window chunking (chunk_text) gives up) and every chunk except
    possibly the last crosses the budget by at most one sentence.  The
    standard preprocessing for embedding/RAG corpora where chunks must stay
    syntactically whole.

    Determinism: integer token counts, integer running sum (ROWS frame,
    ordered by the sentence index — a total order), integer division.

    Scale: one explode to sentence rows, one window + groupBy both keyed on
    ``id_col`` — the window's hash partitioning is reused by the
    aggregation (one shuffle total), and per-doc state is bounded by
    document length.  Chunk text reassembles via an order-struct sort, not
    collect order."""
    sents = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep_regex)).alias("__i", "__s"),
        )
        .withColumn(
            "__ntok", F.size(F.filter(tokens(F.col("__s")), lambda t: t != F.lit("")))
        )
        .filter(F.col("__ntok") > 0)
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("__i"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = sents.withColumn(
        "chunk_id",
        (F.coalesce(F.sum("__ntok").over(w), F.lit(0)) / F.lit(int(max_tokens)))
        .cast("long"),
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum("__ntok").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("__i"), F.col("__s")))),
                    lambda s: s["__s"],
                ),
                joiner,
            ).alias("chunk_text"),
        )
    )


def length_outliers(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group document-length outlier flagging: |tokens −
    median| > k · MAD (median absolute deviation), computed per
    ``group_col`` slice (per language: a 3-token zh doc and a 40k-token en
    doc are judged against their own populations).  Median/MAD instead of
    mean/stddev because corpus length distributions are heavy-tailed — a
    handful of concatenation-bug megadocs would inflate a stddev threshold
    and mask themselves; they cannot move a median.

    Determinism: token counts are integers; both medians interpolate at
    most one half-step ((a+b)/2 — a single exact double op), and the k·MAD
    comparison is one multiply.

    Scale: two grouped EXACT percentiles + two broadcast joins of
    |groups|-row frames; the corpus scans twice but never shuffles beyond
    the group aggregates.  At extreme group cardinality swap
    percentile_approx in — same plan shape."""
    ntok = F.size(F.filter(tokens(F.col(text_col)), lambda t: t != F.lit("")))
    base = _spread(df.select(F.col(id_col), F.col(group_col), F.col(text_col))).select(
        F.col(id_col), F.col(group_col), ntok.cast("long").alias("__ntok")
    )
    med = base.groupBy(group_col).agg(F.percentile(F.col("__ntok"), F.lit(0.5)).alias("med"))
    dev = base.join(F.broadcast(med), group_col).withColumn(
        "__absdev", F.abs(F.col("__ntok") - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(F.percentile(F.col("__absdev"), F.lit(0.5)).alias("mad"))
    return dev.join(F.broadcast(mad), group_col).select(
        F.col(id_col),
        F.col(group_col),
        F.col("__ntok").alias("n_tokens"),
        F.col("med"),
        F.col("mad"),
        (F.col("__absdev") > F.lit(float(k)) * F.col("mad")).alias("is_outlier"),
    )


def fuzzy_pairs_editdist(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 24,
    max_dist: int = 8,
    verify_chars: int = 256,
    bucket_cap: int = 50,
) -> DataFrame:
    """Edit-distance-verified near-dup pairs: candidates share a normalized
    ``prefix_len``-char prefix bucket; each candidate pair is verified with
    levenshtein ≤ ``max_dist`` over the first ``verify_chars`` chars.  The
    cheap-bucket + expensive-verify shape shared with MinHash/SimHash, but
    with a character-level metric — the right tool for template spam and
    boilerplate-with-small-edits where token shingles are too coarse.
    Prefix bucketing finds only shared-prefix dups by construction (mutated
    openings need the shingle-based paths); it costs no hashing pass at all.

    Scale: buckets are capped at ``bucket_cap`` rows (row_number per
    bucket, deterministic id order — the same skew guard as minhash's
    banded buckets), so a degenerate common prefix cannot go quadratic;
    levenshtein runs on length-bounded probes only, O(verify_chars²) per
    candidate pair."""
    base = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.substring(F.lower(F.trim(F.col(text_col))), 1, prefix_len).alias("__b"),
        F.substring(F.lower(F.trim(F.col(text_col))), 1, verify_chars).alias("__p"),
    )
    wb = Window.partitionBy("__b").orderBy(F.col(id_col))
    capped = base.withColumn("__rn", F.row_number().over(wb)).filter(
        F.col("__rn") <= bucket_cap
    )
    a = capped.select(
        F.col("__b"), F.col(id_col).alias("id_a"), F.col("__p").alias("__pa")
    )
    b = capped.select(
        F.col("__b"), F.col(id_col).alias("id_b"), F.col("__p").alias("__pb")
    )
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__pa"), F.col("__pb")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def matryoshka_embeddings(
    df: DataFrame, id_col: str, vec_col: str, dims: int, quant: int = 10_000
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al., "Matryoshka Representation
    Learning"): keep the leading ``dims`` components and re-L2-normalize —
    the standard storage/latency lever for MRL-trained embeddings (a 64-dim
    prefix of a 768-dim vector at a fraction of the ANN cost).  Components
    come back floor-quantized (× ``quant``) plus a comma-joined signature
    for digest-style comparison.

    Determinism: the sum of squares is an explicit LEFT FOLD (aggregate HOF
    with 0.0 init — IEEE-identical to any engine's sequential reduce since
    0.0 + x == x), so sqrt/divide/floor see bit-identical doubles.

    Scale: zero shuffle — pure per-row expressions; composes in front of
    ann_* / embedding_neardup so their buckets operate on the truncated
    space."""
    v = F.slice(F.col(vec_col), 1, dims)
    ss = F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x)
    q = F.transform(
        v,
        lambda x: F.floor(F.lit(float(quant)) * x.cast("double") / F.sqrt(ss)).cast("long"),
    )
    return df.select(
        F.col(id_col),
        F.size(v).cast("long").alias("n_dims"),
        F.when(
            ss > 0,
            F.array_join(F.transform(q, lambda x: x.cast("string")), ","),
        )
        .otherwise(F.lit(""))
        .alias("sig"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str,
    lowercase: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Standard text cleaning pass applied before any hashing/dedup stage
    (so that cosmetic whitespace/control differences don't defeat digest
    equality): strip C0/C1 control characters (except \\t \\n \\r), collapse
    runs of spaces/tabs to one space, collapse 3+ newlines to two
    (paragraph preserving), trim line edges, trim the document, optionally
    lowercase.  Everything is RE2-safe regexp_replace chains — a narrow
    zero-shuffle map that composes in front of exact_dedup/minhash so the
    digest sees canonical bytes.  Unicode NFC normalization is deliberately
    out of scope (needs ICU; document-level hashing is byte-exact either
    way)."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out_col or text_col, c)


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, quant: int = 1_000_000
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's DISTINCT
    n-grams that appear in no other document (document frequency 1).  The
    diversity/memorization signal dual to repetition_stats — template spam
    and boilerplate mirror text score near 0, genuinely novel text near 1;
    used to down-weight redundant shards when composing a mix.

    Determinism: novelty is integers (novel count, distinct count) with the
    ratio floor-quantized in one expression.

    Scale (guide §8 "decide with small rows"): a gram with
    df == 1 belongs to exactly ONE document, so the per-doc novel count is
    derivable WITHOUT attaching df back onto the pair frame at all — the
    skew-safe groupBy(gram) aggregate carries min(doc id) alongside the
    count, its df==1 rows group by that owner id, and the per-doc distinct
    gram count is a pure per-row expression on the corpus scan (size of the
    distinct-shingle array — no explode, no shuffle).  A window version
    would put every pair row of a gram on one task (stopword-bigram
    hazard); this shape's only wide operation is the
    map-side-combinable gram count, and the final join is doc-keyed between
    two doc-sized frames.  The corpus is scanned twice, both map-only — no
    cache, no payload re-shuffle."""
    pairs = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(word_ngrams(tokens(F.col(text_col)), n)).alias("__g"),
        )
        .filter(F.col("__g") != "")
    )
    gram_tbl = pairs.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__c"), F.min(F.col(id_col)).alias("__owner")
    )
    novel = (
        gram_tbl.filter(F.col("__c") == 1)
        .groupBy("__owner")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
        .select(F.col("__owner").alias(id_col), "n_novel")
    )
    per_doc = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.size(
            F.filter(word_ngrams(tokens(F.col(text_col)), n), lambda g: g != F.lit(""))
        ).cast("long").alias("n_grams_distinct"),
    )
    return (
        per_doc
        .join(novel, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams_distinct"), F.lit(0)).cast("long").alias("n_grams_distinct"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_grams_distinct") > 0,
                F.floor(
                    F.lit(float(quant))
                    * F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                    / F.col("n_grams_distinct").cast("double")
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("novelty_q"),
        )
    )


def profile_columns(
    df: DataFrame, cols: Sequence[str], approx: bool = False, rsd: float = 0.02
) -> DataFrame:
    """Data-profiling summary, one output row per column: non-null count,
    null count, distinct count, min/max (as strings, engine-portable).  The
    first look at any new 100 TB drop — schema sanity, null blowups,
    key-cardinality checks — produced in ONE pass over the data.

    Scale: a single aggregation computes every column's stats side by side
    (no per-column scans); the per-column rows are assembled driver-side
    from the 1-row aggregate via a stack (unpivot) of literal-width
    expressions.  ``approx=False`` (the oracle path) uses exact
    count_distinct, whose multi-column plan EXPANDS rows ×len(cols) and
    shuffles every distinct value — fine at test scale, the dominant cost
    at 100 TB.  ``approx=True`` is the corpus-scale mode: HyperLogLog++
    ``approx_count_distinct(rsd)`` sketches are fixed-size registers,
    map-side combinable, no Expand node in the plan (pinned by
    tests/test_plans.py::test_profile_columns_approx_has_no_expand);
    ndv carries ±``rsd`` relative error (default 2%)."""
    ndv = (
        (lambda c: F.approx_count_distinct(F.col(c), rsd=rsd))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("long").alias(f"__cnt_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__null_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    # NO _spread before these aggregates.  Partial (map-
    # side) aggregation collapses each scan task's rows to bytes of agg state
    # before any exchange, so the pre-agg round-robin repartition shuffled the
    # full 5-column table (24 MB at sf0.1) only to parallelize work the scan
    # task does in well under the shuffle's own cost — measured 2.09 s →
    # 0.87 s (stats) and 1.74 s → 1.28 s (exact ndv) at sf0.1 (guide §2.3
    # "aggregate before you shuffle", §2.4 remove shuffles outright).  At
    # corpus scale the scan has ≥ cores splits and _spread was a no-op anyway,
    # so this only removes the local compensation where it was a pessimation.
    if approx:
        # sketches are regular (non-distinct) aggregates — everything fits
        # in ONE Expand-free pass
        one = df.agg(
            *aggs, *[ndv(c).cast("long").alias(f"__ndv_{c}") for c in cols]
        )
    else:
        # the exact path computes the multi-distinct aggregate SEPARATELY
        # from the plain stats and crossJoins the two 1-row frames.  A single
        # combined agg evaluates count/null/min/max on the Expand-multiplied
        # rows (×(len(cols)+1)) and keeps their buffer slots in every
        # per-distinct-value partial-agg group — measured 3.1 s vs
        # 0.35 + 1.75 s split at sf0.1 (guide §1.2: per-task work after plan
        # shape).  The Expand itself stays: it IS the one-pass exact
        # multi-column ndv plan; q149's sketch mode is the scale path.
        stats = df.agg(*aggs)
        ndvs = df.agg(*[ndv(c).cast("long").alias(f"__ndv_{c}") for c in cols])
        one = stats.crossJoin(F.broadcast(ndvs))
    stack_args = ", ".join(
        f"'{c}', `__cnt_{c}`, `__null_{c}`, `__ndv_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_nonnull, n_null, n_distinct, min_str, max_str)"
    )


def profile_ndv_audit(
    df: DataFrame, cols: Sequence[str], rsd: float = 0.02
) -> DataFrame:
    """Sketch-vs-exact ndv audit in ONE aggregation pass: per column,
    n_nonnull / n_null / min / max plus BOTH the HyperLogLog++ ndv sketch
    and the exact count_distinct, folded to ``ndv_ok`` = |hll − exact| ≤
    max(3·rsd·exact, 1).

    Restructures the q149 composition
    ``profile_columns(approx=True) ⋈ profile_columns(approx=False)``: the
    plain stats ride the Expand-free sketch aggregate instead of being
    recomputed on the exact side's Expand-multiplied rows, and the key
    join of two 5-row frames becomes a crossJoin of two 1-row aggregates
    BEFORE the unpivot.  (Folding everything into one agg is
    catastrophic: each per-distinct-value partial-agg group then carries
    its own HLL buffer, 19 s vs 2.3 s at sf0.1.  Split shape measured
    ~1.5 s.)  Values are bit-identical to the two-pass composition — the
    audit arithmetic is the same expression over the same two numbers."""
    # no _spread — partial aggregation shrinks the exchange to agg-state
    # bytes, so a pre-agg repartition would only add a full-table shuffle
    # (see profile_columns for the measured numbers)
    stats = df.agg(
        *[
            a
            for c in cols
            for a in (
                F.count(F.col(c)).cast("long").alias(f"__cnt_{c}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__null_{c}"),
                F.approx_count_distinct(F.col(c), rsd=rsd).cast("long").alias(f"__hll_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            )
        ]
    )
    ndvs = df.agg(
        *[F.count_distinct(F.col(c)).cast("long").alias(f"__ndv_{c}") for c in cols]
    )
    one = stats.crossJoin(F.broadcast(ndvs))
    stack_args = ", ".join(
        f"'{c}', `__cnt_{c}`, `__null_{c}`, `__hll_{c}`, `__ndv_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    rows = one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_nonnull, n_null, __ndv_hll, __ndv_exact, min_str, max_str)"
    )
    return rows.select(
        "column",
        "n_nonnull",
        "n_null",
        (
            F.abs(F.col("__ndv_hll") - F.col("__ndv_exact"))
            <= F.greatest(F.lit(3 * rsd) * F.col("__ndv_exact"), F.lit(1.0))
        ).alias("ndv_ok"),
        "min_str",
        "max_str",
    )


def corpus_diff(
    old: DataFrame, new: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions: per id, status =
    'added' (only in new), 'removed' (only in old), 'changed' (both, digest
    differs), 'unchanged'.  The audit step between two curation runs —
    what did the new filter chain actually do — and the input to
    incremental downstream recompute (only added/changed docs re-embed,
    re-tokenize, re-dedup).

    Scale: both sides reduce to (id, digest) BEFORE the join — 16-byte rows,
    never payloads; one shuffle on id (or broadcast when one snapshot is a
    small increment)."""
    o = old.select(F.col(id_col), F.md5(F.col(content_col)).alias("__old_fp"))
    n = new.select(F.col(id_col), F.md5(F.col(content_col)).alias("__new_fp"))
    return o.join(n, id_col, "full_outer").select(
        F.col(id_col),
        F.when(F.col("__old_fp").isNull(), F.lit("added"))
        .when(F.col("__new_fp").isNull(), F.lit("removed"))
        .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def leakage_free_split(
    df: DataFrame,
    id_col: str,
    content_col: str,
    val_permille: int = 50,
    test_permille: int = 50,
    salt: str = "",
    group_col: str | None = None,
) -> DataFrame:
    """Train/val/test split assignment with NO duplicate leakage: the split
    hash is taken over the content digest (or an explicit ``group_col``,
    e.g. the cluster id from dedup_clusters for NEAR-dup safety), so every
    copy of the same content lands in the same split — the failure mode
    this prevents is a train document's exact duplicate appearing in the
    held-out set and inflating eval.  Buckets are per-mille: [0, test) →
    test, [test, test+val) → val, rest train.

    Deterministic md5 bucketing (same rule as sample_hash), so the split is
    reproducible across engines, reruns, and re-shards; a narrow map, no
    shuffle."""
    key = F.col(group_col) if group_col else F.md5(F.col(content_col))
    bucket = portable_hash32(F.concat(F.lit(salt), key.cast("string"))) % 1000
    return df.withColumn(
        "split",
        F.when(bucket < test_permille, F.lit("test"))
        .when(bucket < test_permille + val_permille, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 20,
    quant: int = 1000,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    PMI(x,y) = ln p(x,y) − ln p(x) − ln p(y), with p(x,y) over bigram events
    and marginals over unigram events — the standard phrase-mining /
    tokenizer-merge-candidate signal.  Computed in the LOG domain
    (ln c_xy − ln T2 − ln c_x − ln c_y + 2·ln T1) so no integer product can
    overflow a double at corpus scale, and floor-quantized so the oracle
    compares integer-exactly.

    Scale: one bigram count agg + one unigram count agg (both map-side
    combinable; the n-gram space, not the corpus, shuffles), two
    vocabulary-sized equi-joins for the marginals, 1-row totals broadcast,
    global top-k via TakeOrderedAndProject."""
    base = _spread(df.select(F.col(text_col))).select(tokens(F.col(text_col)).alias("__t"))
    # persist both vocabulary-sized count frames — uni feeds the t1
    # total AND both marginal join sides, bi_all feeds the t2 total AND the
    # collocation rows; unpersisted, each consumer re-tokenizes the corpus
    # (five passes total instead of two; caches are n-gram-type-bounded,
    # guide §5)
    uni = _persist(
        base.select(F.explode("__t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi_all = _persist(
        base.select(F.explode(word_ngrams_multiset(F.col("__t"), 2)).alias("xy"))
        .groupBy("xy")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    bi = (
        bi_all.filter(F.col("c_xy") >= min_count)
        .select(
            F.split_part(F.col("xy"), F.lit(" "), F.lit(1)).alias("x"),
            F.split_part(F.col("xy"), F.lit(" "), F.lit(2)).alias("y"),
            "c_xy",
        )
    )
    totals = F.broadcast(
        uni.agg(F.sum("c").cast("double").alias("__t1")).crossJoin(
            bi_all.agg(F.sum("c_xy").cast("double").alias("__t2"))
        )
    )
    ux = uni.select(F.col("w").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("w").alias("y"), F.col("c").alias("c_y"))
    pmi = (
        F.log(F.col("c_xy").cast("double"))
        - F.log(F.col("__t2"))
        - F.log(F.col("c_x").cast("double"))
        - F.log(F.col("c_y").cast("double"))
        + F.lit(2.0) * F.log(F.col("__t1"))
    )
    return (
        bi.join(ux, "x")
        .join(uy, "y")
        .crossJoin(totals)
        .select("x", "y", "c_xy", "c_x", "c_y", F.floor(pmi * F.lit(quant)).cast("long").alias("pmi_q"))
        .orderBy(F.col("pmi_q").desc(), F.col("x"), F.col("y"))
        .limit(k)
    )


def sample_per_group_quota(
    df: DataFrame,
    id_col: str,
    group_col: str,
    quota: int,
    salt: str = "",
) -> DataFrame:
    """EXACT k rows per group, deterministically: rank each group's rows by
    (md5-bucket, id) and keep the first ``quota`` — the reproducible analog
    of per-group reservoir sampling (same draw on every rerun/engine), for
    fixed-quota eval/holdout splits where sample_to_mixture's rate-based
    draw only hits the budget in expectation.

    Scale: one shuffle on the group key + a ranked window.  A pathologically
    hot group funnels through one task's sort — for those, pre-filter with
    sample_hash to ~10·quota/|group| first (the rank then only orders the
    survivors); groups at or below quota pass through unchanged."""
    bucket = portable_hash32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1_000_000
    w = Window.partitionBy(group_col).orderBy(bucket.asc(), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


# ------------------------------------------------- exact repeated spans

def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 15,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-span detection — the token-granular form of exact
    substring dedup ("Deduplicating Training Data Makes Language Models
    Better", Lee et al.: substrings occurring more than once in the corpus
    are memorization/boilerplate risk).  Every ``span_tokens``-token window
    occurring ``min_count``+ times corpus-wide (across OR within documents)
    counts as duplicated text; per document this reports total windows,
    duplicated windows, and the duplicated fraction — the removal/triage
    signal (docs under ``span_tokens`` tokens have zero windows).

    Scale: explode → count on the span's md5 digest (fixed-size keys,
    map-side combinable) → join back on digest → per-doc agg.  Shuffle
    volume is O(total windows) digests, never pairwise; the ``min_count``
    filter prunes the join's build side to actually-repeated digests
    (typically a tiny fraction of the corpus).  The md5 keeps the oracle
    portable; at 100 TB swap in xxhash64 for an 8-byte key (collision odds
    documented) without touching the plan shape."""
    toks = tokens(F.col(text_col))
    spans = word_ngrams_multiset(toks, span_tokens)
    # de-skew: a per-digest window count would put every occurrence of a
    # span digest on ONE task — a corpus-wide boilerplate span is exactly
    # the hot key that breaks that at 100 TB.  The per-doc
    # window total needs no shuffle at all (size of the span array, a
    # per-row expression on the scan), and the dup count derives from ONE
    # skew-safe digest aggregation:
    #
    #   * min_count == 2 (the default): a window is non-dup iff its digest
    #     occurs EXACTLY ONCE corpus-wide — that occurrence names its owner
    #     doc, so min(id) carried through the digest aggregate routes every
    #     unique window back to its document and n_dup = n_windows − n_uniq
    #     (the same owner trick as ngram_novelty, guide §8 "decide with
    #     small rows").  One tokenize pass, one map-side-combinable shuffle,
    #     doc-sized joins; no cache, no attach join at all.
    #   * min_count > 2: occurrences of a below-threshold digest can spread
    #     over several docs, so the owner trick does not apply — the
    #     per-(doc, digest) counts persist and the repeated digests attach
    #     back with the hot/cold skew-safe join.
    ex = _spread(df).select(F.col(id_col), F.explode(spans).alias("__span")).select(
        F.col(id_col), F.md5(F.col("__span")).alias("__h")
    )
    # size(word_ngrams_multiset(toks, n)) == greatest(size(toks)-n+1, 0)
    # by construction (the transform's index sequence IS that length, incl.
    # the short-doc and null-text guards), so the per-doc window total needs
    # one split() — not a second build of the full ngram-string array
    base = _spread(df).select(
        F.col(id_col),
        F.greatest(F.size(toks) - F.lit(span_tokens - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    if min_count == 2:
        gram_tbl = ex.groupBy("__h").agg(
            F.count(F.lit(1)).alias("__c"), F.min(F.col(id_col)).alias("__owner")
        )
        uniq = (
            gram_tbl.filter(F.col("__c") == 1)
            .groupBy("__owner")
            .agg(F.count(F.lit(1)).alias("__n_uniq"))
            .select(F.col("__owner").alias(id_col), "__n_uniq")
        )
        per_doc = uniq.select(
            F.col(id_col), F.col("__n_uniq").alias("__sub")
        )
        out = base.join(per_doc, id_col, "left").select(
            F.col(id_col),
            F.col("n_windows"),
            (F.col("n_windows") - F.coalesce(F.col("__sub"), F.lit(0))).alias(
                "n_dup_windows"
            ),
        )
    else:
        grp = _persist(
            ex.groupBy(id_col, "__h").agg(F.count(F.lit(1)).alias("__occ"))
        )
        tot = grp.groupBy("__h").agg(F.sum("__occ").alias("__c"))
        rep = tot.filter(F.col("__c") >= min_count)
        per_doc = (
            _attach_key_stats(grp, rep, "__h", "__c")
            .groupBy(id_col)
            .agg(F.sum("__occ").alias("n_dup_windows"))
        )
        out = base.join(per_doc, id_col, "left")
    n_w = F.coalesce(F.col("n_windows"), F.lit(0)).cast("long")
    n_d = F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long")
    return out.select(
        F.col(id_col),
        n_w.alias("n_windows"),
        n_d.alias("n_dup_windows"),
        F.when(n_w > 0, n_d.cast("double") / n_w.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


# ------------------------------------------------- semantic dedup (SemDeDup)

def semantic_dedup(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | str = "auto",
    multiprobe: int = 1,
    max_iter: int = 25,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"): rows
    whose embeddings are near-duplicates (cosine ≥ ``threshold``, incl.
    transitively) form one semantic cluster; keep exactly ONE representative
    (min id) per cluster and every untouched row.  Returns the surviving
    rows of ``emb``.

    Composition of two oracle-proven stages: bucketed-LSH pair generation
    (embedding_neardup — never all-pairs) → alternating large-star/small-star
    components (dedup_clusters — O(log²) rounds), then a left-anti join on
    the non-representative ids.  ``n_planes`` defaults to ``"auto"``
    (corpus-sized bucket count, _resolve_planes): a rate-planted scale
    stress measured exponent 1.4 at a FIXED k=8 — bucket occupancy grew with
    the corpus and the verify stage went quadratic — and dedup is exactly
    the workload where auto's borderline-recall tradeoff is safe (true
    duplicates sit at p → 1).  At 100 TB the remaining levers are
    multiprobe for recall and the history-free edge set for components."""
    pairs = embedding_neardup(
        emb,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_planes=n_planes,
        multiprobe=multiprobe,
    )
    labels = dedup_clusters(pairs, id_a="id_a", id_b="id_b", max_iter=max_iter)
    drop = labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return emb.join(drop, id_col, "left_anti")


# ------------------------------------------------- DSIR importance weights

def dsir_logweights(
    raw: DataFrame,
    target: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 2,
    n_buckets: int = 10_000,
    quant: int = 1000,
    target_filter: Column | None = None,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score each RAW document by
    how much likelier its hashed n-gram profile is under the TARGET domain
    than under the raw corpus — the standard recipe for selecting
    pretraining data that matches a target distribution.  Both corpora are
    reduced to hashed-``n``-gram bag models with add-one smoothing over
    ``n_buckets`` buckets; a document's log-weight is the sum over its gram
    occurrences of ln p_target(bucket) − ln p_raw(bucket).

    Determinism: the per-BUCKET log-ratio is floor-quantized to an integer
    FIRST; the per-document aggregation then sums integers — exact in any
    partitioning/order/engine (a per-doc double sum would not be).  Returns
    (id, n_grams, logw_q); downstream, resample with sample_hash /
    sample_per_group_quota ranked by logw_q.

    Scale: the RAW corpus is tokenized ONCE into a persisted per-(doc,
    bucket) count frame (tokenizing raw twice — once for its histogram,
    once for per-doc scoring — would, unpersisted, make six scan subtrees
    in the physical plan; the raw histogram folds out of the per-doc
    counts, guide §2.4/§5); the
    target subset is one further histogram pass; the score table is
    broadcast; per-doc scoring is a broadcast-join + integer weighted sum
    over the persisted counts — no pairwise stage.  The md5 bucket hash
    keeps the oracle portable (portable_hash32); swap xxhash64 at
    production scale.

    ``target_filter``: when the target domain is a row-filter of
    ``raw`` itself (the common DSIR setup — e.g. lang == 'en'), pass the
    predicate instead of a separate ``target`` frame.  The per-doc count
    frame then carries the (per-doc constant) flag and the target histogram
    folds out of the SAME persisted counts — the whole operator tokenizes
    the corpus exactly once instead of re-tokenizing the target subset in a
    second pass (guide §1.2 "how many full passes are unavoidable", §2.4).
    Results are identical by construction: the sum of per-(doc,bucket)
    counts over flagged docs IS the subset's bucket histogram."""
    def gram_buckets(df: DataFrame) -> DataFrame:
        return (
            _spread(df)
            .select(F.explode(word_ngrams_multiset(tokens(F.col(text_col)), n)).alias("__g"))
            .select((portable_hash32(F.col("__g")) % n_buckets).alias("__b"))
        )

    flag = [] if target_filter is None else [target_filter.alias("__is_t")]
    doc_hist = _persist(
        _spread(raw)
        .select(
            F.col(id_col),
            *flag,
            F.explode(word_ngrams_multiset(tokens(F.col(text_col)), n)).alias("__g"),
        )
        .select(
            F.col(id_col),
            *([F.col("__is_t")] if flag else []),
            (portable_hash32(F.col("__g")) % n_buckets).alias("__b"),
        )
        # __is_t is constant per doc, so adding it to the grouping keys
        # changes no group boundaries
        .groupBy(id_col, *(["__is_t"] if flag else []), "__b")
        .agg(F.count(F.lit(1)).alias("__cn"))
    )
    if target_filter is not None:
        t_hist = (
            doc_hist.filter(F.col("__is_t"))
            .groupBy("__b")
            .agg(F.sum("__cn").alias("__ct"))
        )
    else:
        t_hist = gram_buckets(target).groupBy("__b").agg(F.count(F.lit(1)).alias("__ct"))
    r_hist = doc_hist.groupBy("__b").agg(F.sum("__cn").alias("__cr"))
    t_tot = t_hist.agg(F.sum("__ct").cast("double").alias("__tt"))
    r_tot = r_hist.agg(F.sum("__cr").cast("double").alias("__tr"))
    scores = (
        r_hist.join(t_hist, "__b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "__b",
            F.floor(
                F.lit(float(quant))
                * (
                    F.log(F.coalesce(F.col("__ct"), F.lit(0)).cast("double") + F.lit(1.0))
                    - F.log(F.col("__tt") + F.lit(float(n_buckets)))
                    - F.log(F.col("__cr").cast("double") + F.lit(1.0))
                    + F.log(F.col("__tr") + F.lit(float(n_buckets)))
                )
            )
            .cast("long")
            .alias("__score_q"),
        )
    )
    per_doc = (
        doc_hist.join(F.broadcast(scores), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__cn").cast("long").alias("n_grams"),
            F.sum(F.col("__cn") * F.col("__score_q")).cast("long").alias("logw_q"),
        )
    )
    return (
        raw.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("logw_q"), F.lit(0)).cast("long").alias("logw_q"),
        )
    )


# ------------------------------------------------- bigram backoff LM score

def bigram_backoff_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.4,
    quant: int = 1000,
    model: DataFrame | None = None,
) -> DataFrame:
    """Bigram language-model score with Stupid Backoff (Brants et al.,
    "Large Language Models in Machine Translation"): per bigram occurrence
    xy, score = ln(c(xy)/c(x)) when the bigram was seen, else
    ln(alpha · c(y)/T) — backoff to the unigram.  The corpus is its own
    model (like unigram_logprob); per-doc mean negative score is the
    cross-entropy proxy: low = formulaic/fluent, high = rare/garbled.  A
    sharper quality signal than the unigram model because word ORDER now
    matters.

    Determinism: each bigram's score is floor-quantized to an integer
    BEFORE the per-doc aggregation (integer sums are order/engine exact);
    the mean divides two integers in one double op.

    Scale: one bigram count (map-side combinable) joined to the
    vocabulary-sized unigram count, then one broadcast-sized totals frame;
    per-doc scoring is an explode + two hash joins on gram keys + integer
    sum.  Every stage is bounded by vocabulary/bigram-type cardinality,
    never by pairwise document interactions.

    ``model`` selects the corpus the LM is estimated FROM (default: ``df``
    itself).  With an external model the backoff branch actually fires —
    bigrams unseen in the model fall back to alpha-discounted unigrams, and
    bigrams whose unigram is also unseen score null and drop from the sum
    (mirrored by the oracle)."""
    base = _spread(df).select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    mbase = (
        base
        if model is None
        else _spread(model).select(tokens(F.col(text_col)).alias("__t"))
    )
    uni = (
        mbase.select(F.explode(F.col("__t")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    big = (
        mbase.select(F.explode(word_ngrams_multiset(F.col("__t"), 2)).alias("xy"))
        .groupBy("xy")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    tot = uni.agg(F.sum("c_w").cast("double").alias("__T"))
    occ = base.select(
        F.col(id_col), F.explode(word_ngrams_multiset(F.col("__t"), 2)).alias("xy")
    ).withColumn("x", F.split(F.col("xy"), " ").getItem(0))
    scored = (
        occ.join(big, "xy", "left")
        .join(uni.select(F.col("w").alias("x"), F.col("c_w").alias("c_x")), "x", "left")
        .withColumn("y", F.split(F.col("xy"), " ").getItem(1))
        .join(uni.select(F.col("w").alias("y"), F.col("c_w").alias("c_y")), "y", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            F.floor(
                F.lit(float(quant))
                * F.when(
                    F.col("c_xy").isNotNull(),
                    F.log(F.col("c_xy").cast("double")) - F.log(F.col("c_x").cast("double")),
                ).otherwise(
                    F.lit(math.log(alpha))
                    + F.log(F.col("c_y").cast("double"))
                    - F.log(F.col("__T"))
                )
            )
            .cast("long")
            .alias("__s_q"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("__s_q").cast("long").alias("logp_q"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("logp_q"), F.lit(0)).cast("long").alias("logp_q"),
        )
    )


# -------------------------------------------------- character entropy

COMPRESSION_SCHEMA = "doc_id long, n_bytes long, n_compressed long, ratio_permille long"


def compression_ratio(df: DataFrame, id_col: str, text_col: str, level: int = 6) -> DataFrame:
    """ACTUAL deflate compressibility per document (stdlib ``zlib``) — the
    direct form of the quality signal char_entropy approximates analytically:
    templated/repetitive text compresses far below natural prose, and
    encoding damage compresses barely at all, so curation pipelines
    threshold on the ratio (Gopher-family rule).  Returns (doc_id, n_bytes,
    n_compressed, ratio_permille = ⌊1000·compressed/raw⌋).

    NOT oracle-backed: SQL has no deflate, so this is the one operator class
    where the cross-engine oracle is impossible rather than omitted —
    evidence is the deterministic pytest (repetitive ≪ prose ≪
    incompressible orderings, empty-doc handling) plus char_entropy's
    oracle-exact sibling signal.  Scale: Arrow-batched mapInPandas
    projection, zero shuffle."""
    lvl = int(level)

    def worker(batches: Iterator) -> Iterator:
        import zlib

        import pandas as pd

        cols = ["doc_id", "n_bytes", "n_compressed", "ratio_permille"]
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                comp = len(zlib.compress(raw, lvl))
                rows.append(
                    (doc_id, len(raw), comp, (1000 * comp) // len(raw) if raw else 0)
                )
            yield pd.DataFrame(rows, columns=cols)

    return _arrow_stage(
        df, [(id_col, "doc_id"), (text_col, "text")], worker, COMPRESSION_SCHEMA
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str, quant: int = 1000) -> DataFrame:
    """Shannon character entropy per document (nats, floor-quantized ×
    ``quant``): H = ln N − (Σ n_c·ln n_c)/N over the per-doc character
    histogram.  The classic compressibility proxy used in quality filtering
    (Gopher/Dolma rule families): near-zero entropy = repeated-character
    boilerplate, unusually high = binary junk / encoding damage — both are
    cut points a curation pipeline thresholds on.

    Determinism: each class term floor-quantizes to an integer BEFORE the
    per-doc sum (integer adds are order/engine exact); the final entropy is
    one fixed double expression over (N, S_q).

    Scale: ZERO shuffle — the histogram is built per row with higher-order
    functions (array_distinct + filter counts), so this is a narrow map
    over the scan, O(len × alphabet) comparisons per doc.  For documents
    far beyond ~10⁵ chars, switch to the explode + groupBy(doc, char)
    shape instead (one map-side-combinable shuffle) — same result."""
    base = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), ""), lambda c: c != F.lit("")).alias("__ch"),
    )
    counts = F.transform(
        F.array_distinct(F.col("__ch")),
        lambda d: F.size(F.filter(F.col("__ch"), lambda x: x == d)),
    )
    s_q = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, n: acc
        + F.floor(F.lit(float(quant)) * n.cast("double") * F.log(n.cast("double"))).cast("long"),
    )
    return base.select(
        F.col(id_col),
        F.size(F.col("__ch")).cast("long").alias("n_chars"),
        F.size(F.array_distinct(F.col("__ch"))).cast("long").alias("n_classes"),
        F.when(
            F.size(F.col("__ch")) > 0,
            F.floor(
                F.lit(float(quant)) * F.log(F.size(F.col("__ch")).cast("double"))
                - s_q.cast("double") / F.size(F.col("__ch")).cast("double")
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("entropy_q"),
    )


# -------------------------------------------------- hashed linear classifier

def _inline_score(grams: Column, n_features: int) -> Column:
    """Fold the inline pseudo-weight model over a gram array (see
    classifier_score's weights=None path).

    Shape matters: transform(w) THEN a trivial sum fold.  Embedding the
    per-gram weight expression inside the aggregate's accumulator lambda
    ran ~70x slower (measured 10s vs 0.15s on 5k docs) — the merge lambda's
    expression is evaluated per element on the interpreted path, while the
    transform is a vectorized per-element projection."""

    def bucket(g: Column) -> Column:
        return portable_hash32(F.concat(F.lit("f:"), g)) % n_features

    def w(g: Column) -> Column:
        return portable_hash32(F.concat(F.lit("w:"), bucket(g).cast("string"))) % 2001 - 1000

    return F.aggregate(F.transform(grams, w), F.lit(0).cast("long"), lambda acc, x: acc + x)


def classifier_score_expr(text: Column, n_features: int = 4096, bias_q: int = 0) -> Column:
    """Inline classifier score as a single Column expression — identical
    model to classifier_score(weights=None) but appendable to any DataFrame
    WITHOUT a join (withColumn + filter), so curation pipelines keep the
    score step a zero-shuffle narrow map inside one linear plan."""
    toks = F.filter(tokens(text), lambda t: t != F.lit(""))
    grams = F.concat(toks, word_ngrams_multiset(toks, 2))
    return _inline_score(grams, n_features) + F.lit(int(bias_q))


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_features: int = 4096,
    weights: DataFrame | None = None,
    bias_q: int = 0,
) -> DataFrame:
    """Apply a fastText-style linear text classifier (hashed bag of word
    uni+bigrams → weight lookup → sign) as pure expressions — the standard
    shape for quality/toxicity/domain classifiers exported from a trained
    model and applied at corpus scale without any Python in the hot path.

    ``weights`` is the exported model: a (bucket int, weight_q long)
    DataFrame, broadcast-joined to the exploded gram buckets (weights tables
    are n_features rows — KBs).  With ``weights=None`` a deterministic
    pseudo-weight w(b) = portable_hash32('w:'||b) % 2001 − 1000 is derived
    INLINE from the bucket id, which keeps scoring a zero-shuffle narrow map
    (aggregate HOF over the gram array) and lets an external SQL oracle
    recompute the entire model exactly.

    Output: (id, n_grams, score_q, keep) — keep = score_q + bias ≥ 0.
    Integer weights make the score exact in any partitioning/order."""
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))
    grams = F.concat(toks, word_ngrams_multiset(toks, 2))
    base = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), grams.alias("__g")
    )

    def bucket(g: Column) -> Column:
        return portable_hash32(F.concat(F.lit("f:"), g)) % n_features

    if weights is None:
        scored = base.select(
            F.col(id_col),
            F.size(F.col("__g")).cast("long").alias("n_grams"),
            (_inline_score(F.col("__g"), n_features) + F.lit(int(bias_q))).alias("score_q"),
        )
    else:
        per_gram = base.select(F.col(id_col), F.explode_outer(F.col("__g")).alias("__gv"))
        scored = (
            per_gram.withColumn("bucket", bucket(F.col("__gv")))
            .join(F.broadcast(weights), "bucket", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.col("__gv")).cast("long").alias("n_grams"),
                (
                    F.coalesce(F.sum("weight_q"), F.lit(0)).cast("long") + F.lit(int(bias_q))
                ).alias("score_q"),
            )
        )
    return scored.select(
        F.col(id_col), "n_grams", "score_q", (F.col("score_q") >= 0).alias("keep")
    )


# -------------------------------------------------- CCNet perplexity buckets

def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n_buckets: int = 3,
    quant: int = 1000,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets"): score each document with the cheap
    unigram-LM cross-entropy proxy, then split every ``group_col`` slice
    (CCNet: language) into ``n_buckets`` equal tiles by ascending score —
    bucket 1 = head (most fluent), last = tail.  Downstream recipes keep
    head+middle or reweight by bucket.

    Determinism: scores are the integer-quantized xent_q from
    unigram_logprob; ntile ties break on ``id_col``, so the tile assignment
    is total-order exact in any engine.

    Scale: scoring is unigram_logprob's vocabulary-bounded aggregation with
    ``group_col`` carried through the tf keys (it is functionally
    dependent on the doc id, so the grouping is unchanged and no doc-sized
    join of the group tag onto the scored frame is needed); the tiling is one shuffle by group + per-group sort.
    At corpus scale with few huge groups, replace ntile with precomputed
    per-group score thresholds (exact percentiles on the integer scores)
    and a broadcast threshold join — same buckets, no full sort."""
    joined = unigram_logprob(df, id_col, text_col, quant=quant, carry_cols=(group_col,))
    w = Window.partitionBy(group_col).orderBy(F.col("xent_q").asc(), F.col(id_col).asc())
    return joined.select(
        F.col(id_col),
        F.col(group_col),
        F.col("xent_q"),
        F.ntile(n_buckets).over(w).cast("int").alias("bucket"),
    )


# -------------------------------------------------- BM25 retrieval

def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    quant: int = 1000,
) -> DataFrame:
    """BM25 top-k retrieval for one term query over the corpus (Robertson/
    Lucene formula: idf = ln(1 + (N − df + ½)/(df + ½)); tf saturation with
    k1, length normalization with b).  The retrieval primitive a curation
    pipeline uses to pull topical slices, audit contamination hits, or
    build hard negatives — same stats as tfidf_topk but query-driven.

    Determinism: per-(doc, term) BM25 contributions floor-quantize to
    integers BEFORE the per-doc sum; ranking orders by (score_q desc, id) —
    total order, engine-exact.

    Scale: the explode filters to the broadcast query-term set IMMEDIATELY
    (array_contains on a literal array — predicate applies at the scan
    stage), so the shuffled intermediate is O(matching occurrences), not
    O(all tokens).  N/avgdl is a broadcast 1-row frame.  Top-k is a
    TakeOrderedAndProject, no global sort materialized.

    Passes (guide §2.4): a direct shape tokenizes the corpus FOUR times —
    once for N/avgdl, once for the per-doc-length join, and twice more
    because the tf subtree feeds both the df broadcast and the probe side
    (Spark duplicates unpersisted subtrees).  Here (1) ``dl``
    rides the explode row and joins the tf group key (it is functionally
    dependent on the doc id), killing the length join, and (2) df comes
    from a groupBy(term) count over the PERSISTED tf frame broadcast back
    (a window count would partition the matching-doc frame by term — at
    most len(query_terms) distinct values, so parallelism would be capped
    at the query length and a common query term would put every matching
    doc on one task; the df table is provably ≤ len(query_terms) rows, the one case
    where an unconditional broadcast is safe at any corpus size).  Two
    scans total, identical arithmetic."""
    terms_lit = F.array(*[F.lit(t) for t in query_terms])
    toks = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.filter(tokens(F.col(text_col)), lambda t: t != F.lit("")).alias("__t")
    )
    totals = toks.agg(
        F.count(F.lit(1)).cast("double").alias("__N"),
        F.avg(F.size("__t").cast("double")).alias("__avgdl"),
    )
    occ = toks.select(
        F.col(id_col), F.size("__t").alias("dl"), F.explode("__t").alias("term")
    ).filter(F.array_contains(terms_lit, F.col("term")))
    tf = _persist(occ.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = tf.join(F.broadcast(df_tbl), "term")
    contrib = (
        tf.crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.floor(
                F.lit(float(quant))
                * F.log(
                    F.lit(1.0)
                    + (F.col("__N") - F.col("df").cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
                * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl").cast("double") / F.col("__avgdl")
                    )
                )
            )
            .cast("long")
            .alias("__c_q"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("__c_q").cast("long").alias("score_q"),
    )
    return scored.orderBy(F.col("score_q").desc(), F.col(id_col).asc()).limit(k)


# -------------------------------------------------- corpus quality report

def corpus_report(df: DataFrame, id_col: str, text_col: str, *group_cols: str) -> DataFrame:
    """Per-slice corpus dashboard (the first artifact a curation run
    produces): document counts, exact-duplicate fraction, token/char
    volume, and mean document length per ``group_cols`` slice (e.g.
    source × lang).  Duplicate counting uses the same md5 digest as
    exact_dedup, so 'n_dup' here == rows exact_dedup would drop in-slice.

    Determinism: all counts/sums are integers; the one mean is a single
    integer/integer double division.

    Scale: one pass — per-doc token count is a HOF size (no explode), the
    dup count is count(*) − count(distinct digest) inside the same
    aggregation; shuffle is one hash partitioning on the (low-cardinality)
    group keys with map-side partial aggregation."""
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))
    base = _spread(df).select(
        *[F.col(c) for c in group_cols],
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__fp"),
        F.size(toks).cast("long").alias("__ntok"),
        F.octet_length(F.col(text_col)).cast("long").alias("__nbytes"),
    )
    return (
        base.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.count(F.lit(1)) - F.count_distinct(F.col("__fp"))).cast("long").alias("n_dup"),
            F.sum("__ntok").cast("long").alias("total_tokens"),
            F.sum("__nbytes").cast("long").alias("total_bytes"),
            (F.sum("__ntok").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
        )
    )


# ------------------------------------------------- deterministic shuffle/shard

def shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int = 1024,
    seed: int = 42,
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets a
    pseudo-random ``shard`` in [0, n_shards) and a dense 1-based ``pos``
    inside its shard, both pure functions of (seed, id).  This is the
    "globally shuffle the corpus before training" step done the distributed
    way — no global sort, no RNG state, bit-identical on re-run (resumable
    ingestion, reproducible data orders for training-dynamics work).

    The reference has no ordering operator at all (SURVEY §2.6); this is the
    corpus-scale substitute for `ORDER BY random()`.

    Scale: ONE shuffle, keyed by ``shard`` (uniform by construction — md5
    bits), then a per-shard sort on the 128-bit hash for the in-shard
    order.  ``n_shards`` is the sizing lever: pick it so a shard fits an
    executor's sort buffer (100 TB / 1024 shards ≈ 100 GB → use ~10⁵ shards
    there).  No skew possible; no driver involvement."""
    hkey = F.md5(F.concat(F.lit(f"shuffle:{seed}:"), F.col(id_col).cast("string")))
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in payload_cols],
        F.pmod(F.conv(F.substring(hkey, 1, 8), 16, 10).cast("long"), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        hkey.alias("__hk"),
    )
    w = Window.partitionBy("shard").orderBy(F.col("__hk"), F.col(id_col))
    return out.withColumn("pos", F.row_number().over(w).cast("long")).drop("__hk")


# ------------------------------------------------- boilerplate stripping

def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 5,
    sep: str = "\n",
) -> DataFrame:
    """Remove boilerplate paragraphs: any paragraph whose exact content
    appears in ≥ ``min_docs`` DISTINCT documents (site chrome, headers,
    cookie banners) is deleted from EVERY document.  The dual of
    paragraph_dedup (which keeps the first occurrence): boilerplate is
    defined by document frequency, and no occurrence survives.  Returns one
    row per input document: cleaned text (original paragraph order),
    n_kept, n_removed — documents that were pure boilerplate stay present
    with empty text, so downstream joins never lose rows.

    Scale (guide §8 "decide with small rows, move big rows
    once"): every decision here is a function of (doc id, position,
    paragraph DIGEST) — ~50 bytes/paragraph — so the paragraph TEXT never
    enters any shuffle or cache.  Doc-frequency is a count_distinct(id)
    groupBy over the digest (planned as a (pfp, id)-keyed partial dedup —
    no hot key, the key includes the doc id — then map-side-combined
    counts; a lag-window would put EVERY occurrence of a corpus-wide
    boilerplate digest on a single task),
    attached back onto the persisted narrow metadata with the hot/cold
    skew-safe join; keep-flags fold to one boolean array per document, and
    the reassembly RE-SPLITS the original text per row (a map-side
    expression — CPU traded for never shuffling paragraph payloads, the
    guide §8 rule).  Precondition: ``id_col`` is row-unique (standard for a
    document corpus; enforce with exact_dedup upstream) — the flag array is
    per id while the re-split is per row."""
    parts = _persist(
        _spread(df).select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "para"),
        ).select(F.col(id_col), "pos", F.md5(F.col("para")).alias("pfp"))
    )
    pdf = parts.groupBy("pfp").agg(
        F.count_distinct(F.col(id_col)).alias("__pdf"),
        F.count(F.lit(1)).alias("__rows"),
    )
    flagged = _attach_key_stats(parts, pdf, "pfp", "__rows").withColumn(
        "keep", F.col("__pdf") < F.lit(min_docs)
    )
    fpd = flagged.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("keep")))),
            lambda s: s["keep"],
        ).alias("__keeps"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
    ).withColumnRenamed(id_col, "__fid")
    paras = F.split(F.col(text_col), F.lit(sep), -1)
    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(fpd, F.col(id_col).eqNullSafe(F.col("__fid")))
        .select(
            F.col(id_col),
            F.array_join(
                F.filter(
                    F.zip_with(
                        paras,
                        F.col("__keeps"),
                        lambda p, k: F.when(k, p),
                    ),
                    lambda x: x.isNotNull(),
                ),
                sep,
            ).alias("clean_text"),
            F.col("n_kept"),
            F.col("n_removed"),
        )
    )


# ------------------------------------------------- behavioral sequences

def event_sequences(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    seq_len: int = 16,
) -> DataFrame:
    """Pack each key's time-ordered event history into fixed-length
    non-overlapping sequences — the behavioral-data analog of
    ``pack_tokens`` (user action streams → training sequences for
    recommendation / agent models).  Order within a key is (ts, val) so
    ties are deterministic; output rows are (key, seq_idx, n_events,
    vals array in order, t_start_ms, t_end_ms).  Rows with a null key or
    null timestamp are dropped (matching sessionize / cohort_retention —
    they belong to no orderable history), and null ``val`` ties sort LAST
    explicitly so the ordering is engine-portable (Spark's ascending
    default is NULLS FIRST, ANSI/DuckDB's is NULLS LAST).

    Scale: ONE shuffle keyed by ``key_col``; the window sort is per-key
    (user histories are bounded; a pathological hot key is capped upstream
    by sampling).  The final groupBy reuses the same hash partitioning —
    Catalyst collapses it onto the window exchange, so no second shuffle.
    """
    from .runtime import epoch_ms

    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col), F.col(val_col).asc_nulls_last()
    )
    seq = df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()).select(
        F.col(key_col),
        F.col(ts_col),
        F.col(val_col),
        F.row_number().over(w).alias("__rn"),
    ).withColumn("seq_idx", F.floor((F.col("__rn") - 1) / seq_len).cast("long"))
    return (
        seq.groupBy(key_col, "seq_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__rn"), F.col(val_col).alias("v")))),
                lambda s: s["v"],
            ).alias("vals"),
            epoch_ms(F.min(ts_col)).alias("t_start_ms"),
            epoch_ms(F.max(ts_col)).alias("t_end_ms"),
        )
    )


# ------------------------------------------------- semantic decontamination

def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    multiprobe: int = 2,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag TRAIN rows whose
    embedding is cosine-≥ ``threshold`` to a benchmark row — the semantic
    sibling of the n-gram ``decontaminate`` (paraphrased leaks that n-gram
    overlap misses).  Returns (train id, n_bench_hits, best_bench_id) where
    best = highest cosine (ties → lowest bench id).

    Recall is PROBABILISTIC, like embedding_neardup's: hyperplane LSH only
    guarantees that a qualifying pair shares a probed bucket with
    probability (1 − θ/π per plane); a pair whose codes differ in more than
    ``multiprobe`` bits is missed.  Because a missed leak costs more than
    extra candidate verification here, the default probe radius is 2
    (own bucket + all hamming-1 and hamming-2 neighbors — 1 + n_planes +
    C(n_planes,2) probes per benchmark row; benchmark sides are small, so
    the fan-out is cheap).  Raise ``multiprobe`` further or lower
    ``n_planes`` when the benchmark is tiny and recall trumps cost; for
    EXACT decontamination run the brute-force cosine join that the q133
    oracle uses.

    Candidate generation mirrors embedding_neardup: the corpus buckets ONCE
    by hyperplane LSH; the (small) benchmark side explodes to its probe set
    and is broadcast — the 100 TB train side never reshuffles and is
    scanned exactly once.  Exact cosine verifies candidates only."""
    tb = _spread(train).select(
        F.col(id_col).alias("t_id"),
        F.col(vec_col).alias("__tv"),
        _norm(F.col(vec_col)).alias("__tn"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("__bucket"),
    )
    qb = bench.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("__bv"),
        _norm(F.col(vec_col)).alias("__bn"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("__b0"),
    )
    probe_cols = [F.col("__b0")]
    if multiprobe >= 1:
        probe_cols += [F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if multiprobe >= 2:
        probe_cols += [
            F.col("__b0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    qb = qb.select("b_id", "__bv", "__bn", F.explode(F.array(*probe_cols)).alias("__bucket"))
    scored = (
        F.broadcast(qb)
        .join(tb, "__bucket")
        .withColumn("__sim", _dot(F.col("__tv"), F.col("__bv")) / (F.col("__tn") * F.col("__bn")))
        .filter(F.col("__sim") >= threshold)
    )
    w = Window.partitionBy("t_id").orderBy(F.col("__sim").desc(), F.col("b_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .groupBy(F.col("t_id").alias(id_col))
        .agg(
            F.count_distinct(F.col("b_id")).alias("n_bench_hits"),
            F.min(F.when(F.col("__rk") == 1, F.col("b_id"))).alias("best_bench_id"),
        )
    )


# ------------------------------------------------- incremental near-dup

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature store rows: (id, sig array<long>) — the persisted
    day-2 state for :func:`minhash_lsh_incremental`.  A signature is
    ~``num_hashes``×8 B regardless of document size, so the historical
    store for a 100 TB corpus is a few hundred GB of (id, sig) parquet —
    re-shingling history is never needed again.  Documents shorter than
    ``shingle`` tokens produce no signature (no shingles to hash).

    Same permutation family as minhash_lsh_pairs (``_affine_coeffs``);
    ``portable=True`` swaps the base hash to the md5-prefix form a DuckDB
    oracle can recompute."""
    p = 2147483647
    coeffs = _affine_coeffs(num_hashes)
    grams = word_ngrams_multiset(tokens(F.col(text_col)), shingle)
    base = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col).alias("__id"), grams.alias("__grams"))
        .filter(F.size("__grams") > 0)
    )
    base_hash = portable_hash32(F.col("__g")) if portable else F.xxhash64("__g")
    gram_rows = base.select("__id", F.explode("__grams").alias("__g")).withColumn(
        "__h", F.pmod(base_hash, F.lit(p))
    )
    sig = gram_rows.groupBy("__id").agg(
        *[
            F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(p))).alias(f"mh{j}")
            for j, (a, b) in enumerate(coeffs)
        ]
    )
    return sig.select(
        F.col("__id").alias(id_col),
        F.array(*[F.col(f"mh{j}") for j in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_incremental(
    history_sigs: DataFrame,
    new_sigs: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.9,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-duplicate detection for continuous ingestion: the
    new batch's signatures against the historical signature STORE (plus
    within-batch pairs) — the near-dup sibling of exact_dedup_incremental.
    Returns (id_a, id_b, sim_est) with id_a < id_b, at least one side in
    the new batch, and signature-estimated Jaccard (fraction of equal
    minhash components — the standard estimator; text is NOT available for
    history, so verification is signature-based by design) ≥ ``threshold``.

    Scale: history is touched only as (id, 512 B sig) rows — no re-
    shingling, no text shuffle.  Candidate generation explodes both sides
    to O(rows × bands) band buckets; the per-bucket cap is the same skew
    lever as minhash_lsh_pairs.  sim_est = k/num_hashes is an exact
    rational, so cross-engine comparison is bit-exact."""
    rows = num_hashes // bands
    allr = history_sigs.select(
        F.col(id_col).alias("__id"), F.col("sig"), F.lit(False).alias("__new")
    ).unionByName(
        new_sigs.select(F.col(id_col).alias("__id"), F.col("sig"), F.lit(True).alias("__new"))
    )
    allr = _persist(allr)
    band_arr = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.element_at(F.col("sig"), j + 1) for j in range(b * rows, (b + 1) * rows)]
            )
            for b in range(bands)
        ]
    )
    banded = allr.select("__id", "__new", F.posexplode(band_arr).alias("__band", "__bh"))
    banded = _cap_buckets(banded, ("__band", "__bh"), max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.col("a.__new") | F.col("b.__new")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    sa = allr.select(F.col("__id").alias("id_a"), F.col("sig").alias("__sa"))
    sb = allr.select(F.col("__id").alias("id_b"), F.col("sig").alias("__sb"))
    sim = (
        F.size(F.filter(F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y), lambda v: v))
        / F.lit(num_hashes)
    ).alias("sim_est")
    return (
        cand.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), "id_b")
        .select("id_a", "id_b", sim)
        .filter(F.col("sim_est") >= threshold)
    )


# ------------------------------------------------- HTML extraction

_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # must be LAST so double-escaped text decodes one level
)


def strip_html(df: DataFrame, text_col: str, out_col: str = "text_plain") -> DataFrame:
    """HTML → plain-text extraction (the Common-Crawl ingestion step between
    the WARC parse and text curation): drop script/style blocks, turn block-
    element closers and <br> into newlines, strip remaining tags, decode the
    frequent entities, and canonicalize whitespace.  The whole chain is
    RE2-safe regex + literal replaces (same discipline as normalize_text /
    pii_scrub) so it runs identically in Spark's Java regex and an RE2-based
    SQL oracle, and stays a zero-shuffle narrow map at 100 TB.

    Deliberately heuristic (like trafilatura's fallback path, not a DOM
    parser): stray ``<`` … ``>`` spans in non-HTML text are treated as tags
    by both engines, so cross-engine results still agree byte-for-byte."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", "")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", "")
    c = F.regexp_replace(c, r"(?i)</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>|<br[ /]*>", "\n")
    c = F.regexp_replace(c, r"<[^>]*>", "")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return df.withColumn(out_col, F.trim(c))


# ------------------------------------------------- cluster-balanced selection

def assign_clusters(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    init: str = "kmeans",
) -> DataFrame:
    """Voronoi cluster assignment over an embedding column — the IVF index's
    cell step exposed as a corpus operator: (id, cluster) with cluster =
    argmin centroid distance.  Topic/diversity structure for data-selection
    recipes (cluster-balanced sampling, per-cluster dedup budgets, SemDeDup
    preprocessing).

    Scale: centroids are literals in the plan (driver holds n_lists × dim
    floats only); assignment is a zero-shuffle narrow map over the corpus."""
    spread = _spread(emb)
    centroids = _ivf_centroids(emb, spread, id_col, vec_col, n_lists, seed, init)
    return spread.select(
        F.col(id_col),
        F.element_at(_cells_sorted(F.col(vec_col), centroids), 1)["i"].alias("cluster"),
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cluster: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    init: str = "kmeans",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced corpus selection: assign every row to a Voronoi
    cluster, then keep EXACTLY min(|cluster|, per_cluster) rows per cluster
    by the deterministic md5 rank (sample_per_group_quota's draw) — the
    diversity-preserving subsample (big topics capped, small topics kept
    whole) used to de-bias web-scale mixtures.  Returns (id, cluster).

    Scale: narrow-map assignment + ONE shuffle on the cluster id for the
    ranked window; per-cluster fan-in is the only skew (cap upstream with
    sample_hash for degenerate single-cluster corpora)."""
    asg = assign_clusters(emb, id_col, vec_col, n_lists, seed, init)
    return sample_per_group_quota(asg, id_col, "cluster", per_cluster, salt=salt)


# ------------------------------------------------- snapshot vocabulary drift

def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    k: int = 100,
    quant: int = 1000,
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots (data-drift
    monitoring for continuous ingestion): for the ``k`` highest-volume
    tokens across both snapshots, the per-token counts plus the add-1-
    smoothed log-frequency-ratio  dlog = ln p_new(t) − ln p_old(t),
    floor-quantized ×``quant`` for cross-engine exactness (the summands of
    a KL estimate; large |dlog_q| rows ARE the drift report).

    Scale: two map-side-combinable token counts (vocabulary-bounded, not
    corpus-bounded), one full-outer join on the token, totals via a 1-row
    broadcast scalar join (the q97/q100 pattern), top-k via
    TakeOrderedAndProject — no corpus-sized shuffle."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            _spread(df)
            .select(
                F.explode(F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))).alias(
                    "token"
                )
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(name))
        )

    # persist the vocabulary-sized joined count frame — it feeds both
    # the totals aggregate and the scored projection, and unpersisted it
    # would be recomputed per consumer (four corpus tokenize passes instead
    # of two; the cache is vocabulary-bounded, guide §5 caching rule)
    j = _persist(
        counts(old, "cnt_old")
        .join(counts(new, "cnt_new"), "token", "full")
        .select(
            "token",
            F.coalesce("cnt_old", F.lit(0)).cast("long").alias("cnt_old"),
            F.coalesce("cnt_new", F.lit(0)).cast("long").alias("cnt_new"),
        )
    )
    tot = j.agg(
        F.sum("cnt_old").alias("__t_old"),
        F.sum("cnt_new").alias("__t_new"),
        F.count(F.lit(1)).alias("__vsz"),
    )
    jj = j.crossJoin(F.broadcast(tot))
    dlog = F.log(
        (F.col("cnt_new") + 1).cast("double") / (F.col("__t_new") + F.col("__vsz")).cast("double")
    ) - F.log(
        (F.col("cnt_old") + 1).cast("double") / (F.col("__t_old") + F.col("__vsz")).cast("double")
    )
    return (
        jj.select(
            "token",
            "cnt_old",
            "cnt_new",
            F.floor(F.lit(float(quant)) * dlog).cast("long").alias("dlog_q"),
        )
        .orderBy((F.col("cnt_old") + F.col("cnt_new")).desc(), F.col("token"))
        .limit(k)
    )


# ------------------------------------------------- priority dedup / histogram

def exact_dedup_priority(
    df: DataFrame,
    id_col: str,
    content_col: str,
    priority_col: str,
) -> DataFrame:
    """Exact dedup that keeps the BEST copy, not the first: per distinct
    content, the row with the highest ``priority_col`` (ties → lowest id).
    The real-world dedup recipe when the same text exists in multiple
    sources of different quality (curated dump vs web crawl): plain
    exact_dedup's min-id rule would keep whichever source enumerated
    first.  Returns (fp, id, priority) of each winner.

    Scale: same shape as exact_dedup — digest-keyed, map-side-combinable
    aggregation; payloads never compared pairwise.  Two stages so the
    (priority DESC, id ASC) tie-break works for ANY orderable id type
    (string ids included — no arithmetic negation): stage 1 reduces to the
    lowest id per (fp, priority) — after which priorities are unique within
    a fingerprint — and stage 2 is a plain max_by on priority.  Both stages
    partial-aggregate before their shuffle."""
    return (
        df.select(
            F.md5(F.col(content_col)).alias("fp"),
            F.col(id_col),
            F.col(priority_col),
        )
        .groupBy("fp", priority_col)
        .agg(F.min(id_col).alias(id_col))
        .groupBy("fp")
        .agg(
            F.max_by(
                F.struct(F.col(id_col), F.col(priority_col)), F.col(priority_col)
            ).alias("__w")
        )
        .select("fp", F.col(f"__w.{id_col}").alias(id_col), F.col(f"__w.{priority_col}").alias(priority_col))
    )


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram over a numeric column with underflow (-1) and
    overflow (``n_bins``) bins: (bin, n, lo_edge, hi_edge).  The
    distribution half of profile_columns — length/quality/score
    distributions for curation thresholds, one map-side-combinable
    aggregation keyed by the (≤ n_bins+2)-value bin id.  Bin edges are
    exact doubles of the same (x−lo)/w floor on any engine."""
    w = (float(hi) - float(lo)) / n_bins
    x = F.col(col).cast("double")
    b = (
        F.when(x < F.lit(float(lo)), F.lit(-1))
        .when(x >= F.lit(float(hi)), F.lit(n_bins))
        .otherwise(F.floor((x - F.lit(float(lo))) / F.lit(w)).cast("int"))
    )
    return (
        _spread(df)
        .filter(x.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bin",
            "n",
            (F.lit(float(lo)) + F.col("bin") * F.lit(w)).alias("lo_edge"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(w)).alias("hi_edge"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    priority_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup dedup that keeps the BEST member of every duplicate
    cluster: connected components over ``pairs`` (any pair generator —
    minhash_lsh_pairs, simhash_pairs, embedding_neardup,
    fuzzy_pairs_editdist), then per component keep the row with the
    highest ``priority_col`` (ties → lowest id) and drop the rest; rows in
    no pair pass through.  The fuzzy sibling of exact_dedup_priority and
    the priority-aware generalization of semantic_dedup's min-id rule.

    Scale: components via the alternating large-star/small-star rounds
    (dedup_clusters, O(log²)); winner selection is one window over cluster
    members only (the dup subset, not the corpus); the final anti-join is
    digest-narrow."""
    labels = dedup_clusters(pairs.select(id_a, id_b), id_a=id_a, id_b=id_b, max_iter=max_iter)
    members = df.join(labels.withColumnRenamed("node", id_col), id_col, "inner")
    w = Window.partitionBy("cluster_id").orderBy(F.col(priority_col).desc(), F.col(id_col))
    losers = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------- hybrid retrieval

def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: Sequence[str],
    query_vec: DataFrame,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    k_lexical: int = 50,
    k: int = 10,
    quant: int = 10_000,
) -> DataFrame:
    """Hybrid lexical→semantic retrieval (the RAG-corpus shape): BM25 pulls
    ``k_lexical`` candidates for the term query, then the (1-row broadcast)
    query embedding reranks them by cosine; final order (cos_q desc,
    bm25 score_q desc, id).  Cosine is floor-quantized ×``quant`` BEFORE
    ranking so the rerank order itself is engine-exact.  Returns (id,
    score_q, cos_q, rank).

    Scale: stage 1 is bm25_topk's scan-filtered explode (shuffle is
    O(matching occurrences)); stage 2 touches only k_lexical rows joined
    to their embeddings — corpus embeddings are probed by an id equi-join,
    never scanned."""
    cand = bm25_topk(docs, doc_id_col, text_col, query_terms, k=k_lexical)
    vecs = emb.select(
        F.col(vec_id_col).alias(doc_id_col),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    qv = F.broadcast(
        query_vec.select(F.col(vec_col).alias("__qv"), _norm(F.col(vec_col)).alias("__qn"))
    )
    scored = (
        cand.join(vecs, doc_id_col)
        .crossJoin(qv)
        .withColumn(
            "cos_q",
            F.floor(
                F.lit(float(quant))
                * _dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).cast("long"),
        )
    )
    w = Window.orderBy(F.col("cos_q").desc(), F.col("score_q").desc(), F.col(doc_id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(doc_id_col, "score_q", "cos_q", "rank")
    )


# ------------------------------------------------- URL canonicalization

def url_normalize(col: Column) -> Column:
    """Canonicalize a URL for dedup (the C4/CCNet URL-level recipe):
    lowercase scheme+host, strip the fragment, drop the scheme's DEFAULT
    port only (:80 for http, :443 for https — ``http://host:443/x`` is a
    real distinct resource and keeps its port), collapse trailing path
    slashes (bare host → '/'), and sort query parameters so equivalent
    URLs normalize identically.  RE2-safe regex + array ops — a
    zero-shuffle narrow map, recomputable by a SQL oracle byte-for-byte."""
    u = F.trim(col)
    u = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    host = (
        F.when(scheme == F.lit("http"), F.regexp_replace(host, r":80$", ""))
        .when(scheme == F.lit("https"), F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    pathq = F.regexp_replace(rest, r"^[^/?]+", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    qsorted = F.array_join(
        F.array_sort(F.filter(F.split(query, "&", -1), lambda p: p != F.lit(""))), "&"
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL-level exact dedup on the canonical form: (canon_url, id) keeping
    the lowest id per normalized URL — the pre-content dedup pass a crawl
    pipeline runs before fetching/processing bodies.

    Scale: same shape as exact_dedup — one shuffle keyed by the (already
    canonicalized, bounded-length) URL with a map-side min."""
    return (
        _spread(df)
        .select(url_normalize(F.col(url_col)).alias("canon_url"), F.col(id_col))
        .groupBy("canon_url")
        .agg(F.min(id_col).alias(id_col))
    )


# ------------------------------------------------- temporal split

def temporal_split(
    df: DataFrame,
    ts_col: str,
    val_start_ms: int,
    test_start_ms: int,
) -> DataFrame:
    """Time-based train/val/test split (the leakage rule for temporal data:
    everything the model evaluates on is STRICTLY LATER than anything it
    trained on): rows before ``val_start_ms`` → train, before
    ``test_start_ms`` → val, rest → test.  The temporal complement of
    leakage_free_split's content-hash buckets — use hash splits for i.i.d.
    corpora, temporal splits for forecasting/recommendation logs.

    Scale: one narrow-map comparison per row; at rest, pair with
    write_clustered on the timestamp so each split prunes to contiguous
    files."""
    from .runtime import epoch_ms

    e = epoch_ms(F.col(ts_col))
    return df.withColumn(
        "split",
        F.when(e < F.lit(int(val_start_ms)), F.lit("train"))
        .when(e < F.lit(int(test_start_ms)), F.lit("val"))
        .otherwise(F.lit("test")),
    )
