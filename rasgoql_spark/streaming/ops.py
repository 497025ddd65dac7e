"""Streaming window operators (additive — SURVEY §2.2 records the reference
has NO streaming surface; §7.2 M6 mandates it over the events table).

Every operator here works on BOTH batch and streaming DataFrames: on a batch
frame ``F.window``/``F.session_window`` group exactly like any aggregation
(that batch mode is what the DuckDB oracle checks); on a streaming frame the
same plan runs incrementally with watermark-bounded state.
"""

from __future__ import annotations

from ..functions._artifact import check_fingerprint
from ..functions._cache import release_now, scoped_persist
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..errors import ParameterException
from ..naming import agg_name
from ..operators._util import agg_expr, agg_sql, as_list, resolve_col, resolve_cols
from ..registry import renderer, spark_transform


def _agg_cols(df: DataFrame, aggregations: dict) -> list:
    out = []
    for col, aggs in aggregations.items():
        col = resolve_col(df, col)
        for agg in as_list(aggs):
            out.append(agg_expr(agg, col).alias(agg_name(col, agg)))
    return out


def _agg_sql_cols(aggregations: dict) -> str:
    return ", ".join(
        f"{agg_sql(agg, col)} AS {agg_name(col, agg)}"
        for col, aggs in aggregations.items()
        for agg in as_list(aggs)
    )


def _window_agg_sql(source, fn_call, struct_name, start_alias, end_alias,
                    aggregations, group_by) -> str:
    keys = as_list(group_by)
    ksel = (", ".join(keys) + ", ") if keys else ""
    kgrp = (", " + ", ".join(keys)) if keys else ""
    return (
        f"SELECT {struct_name}.start AS {start_alias}, {struct_name}.end AS {end_alias}, "
        f"{ksel}{_agg_sql_cols(aggregations)} FROM {source} "
        f"GROUP BY {fn_call}{kgrp}"
    )


def _ensure_event_time(df: DataFrame, ts: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP.

    Tz-less parquet (the overwhelmingly common shape for event logs) reads as
    TIMESTAMP_NTZ under Spark 4's ``inferTimestampNTZ`` default, and both
    ``withWatermark`` (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and
    ``unix_micros`` (DATATYPE_MISMATCH) reject NTZ. Under the engine's
    pinned UTC session timezone the cast is a pure relabel — identical
    microsecond values — so batch oracles and hashes are unaffected.
    """
    if dict(df.dtypes).get(ts) == "timestamp_ntz":
        return df.withColumn(ts, F.col(ts).cast("timestamp"))
    return df


def _maybe_watermark(df: DataFrame, ts: str, watermark: str | None) -> DataFrame:
    if watermark and df.isStreaming:
        return _ensure_event_time(df, ts).withWatermark(ts, watermark)
    return df


@spark_transform("tumbling_window", category="streaming")
def tumbling_window(
    df: DataFrame,
    ts: str,
    duration: str,
    aggregations: dict,
    group_by=None,
    watermark: str | None = None,
) -> DataFrame:
    """Fixed windows: WINDOW_START/WINDOW_END + aggs per (window, keys).

    Streaming: set ``watermark`` (e.g. '10 minutes') to bound state and
    admit late data up to that horizon.
    """
    t = resolve_col(df, ts)
    keys = resolve_cols(df, as_list(group_by))
    out = (
        _maybe_watermark(df, t, watermark)
        .groupBy(F.window(F.col(t), duration).alias("__w"), *keys)
        .agg(*_agg_cols(df, aggregations))
    )
    return out.select(
        F.col("__w.start").alias("WINDOW_START"),
        F.col("__w.end").alias("WINDOW_END"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )


@renderer("tumbling_window")
def _r_tumbling_window(source, ts, duration, aggregations, group_by=None, watermark=None) -> str:
    return _window_agg_sql(
        source, f"window({ts}, '{duration}')", "window",
        "WINDOW_START", "WINDOW_END", aggregations, group_by,
    )


@spark_transform("sliding_window", category="streaming")
def sliding_window(
    df: DataFrame,
    ts: str,
    duration: str,
    slide: str,
    aggregations: dict,
    group_by=None,
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows (each event lands in duration/slide windows)."""
    t = resolve_col(df, ts)
    keys = resolve_cols(df, as_list(group_by))
    out = (
        _maybe_watermark(df, t, watermark)
        .groupBy(F.window(F.col(t), duration, slide).alias("__w"), *keys)
        .agg(*_agg_cols(df, aggregations))
    )
    return out.select(
        F.col("__w.start").alias("WINDOW_START"),
        F.col("__w.end").alias("WINDOW_END"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )


@renderer("sliding_window")
def _r_sliding_window(source, ts, duration, slide, aggregations, group_by=None, watermark=None) -> str:
    return _window_agg_sql(
        source, f"window({ts}, '{duration}', '{slide}')", "window",
        "WINDOW_START", "WINDOW_END", aggregations, group_by,
    )


@spark_transform("session_window_agg", category="streaming")
def session_window_agg(
    df: DataFrame,
    ts: str,
    gap: str,
    aggregations: dict,
    group_by=None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: a session closes after ``gap`` of inactivity
    (``F.session_window`` — dynamic, per-key merging windows)."""
    t = resolve_col(df, ts)
    keys = resolve_cols(df, as_list(group_by))
    out = (
        _maybe_watermark(df, t, watermark)
        .groupBy(F.session_window(F.col(t), gap).alias("__w"), *keys)
        .agg(*_agg_cols(df, aggregations))
    )
    return out.select(
        F.col("__w.start").alias("SESSION_START"),
        F.col("__w.end").alias("SESSION_END"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )


@renderer("session_window_agg")
def _r_session_window_agg(source, ts, gap, aggregations, group_by=None, watermark=None) -> str:
    return _window_agg_sql(
        source, f"session_window({ts}, '{gap}')", "session_window",
        "SESSION_START", "SESSION_END", aggregations, group_by,
    )


@spark_transform("sessionize", category="streaming", streaming_ok=False)
def sessionize(
    df: DataFrame, entity: str, ts: str, gap_minutes: float = 30.0
) -> DataFrame:
    """Assign batch session ids (gaps-and-islands): a new session starts when
    the gap to the previous event exceeds ``gap_minutes``. Appends
    ``SESSION_ID`` = '<entity>#<n>' (1-based per entity). One shuffle on the
    entity key; the batch complement of ``session_window_agg``."""
    from pyspark.sql import Window

    e, t = resolve_col(df, entity), resolve_col(df, ts)
    w = Window.partitionBy(e).orderBy(F.col(t).asc())
    # microsecond integer arithmetic (unix_timestamp truncates to seconds,
    # which makes gap comparisons engine-dependent at the boundary)
    # cast-then-unix_micros is dtype-agnostic: a no-op relabel for TIMESTAMP,
    # the required normalization for TIMESTAMP_NTZ (which unix_micros rejects)
    us = F.unix_micros(F.col(t).cast("timestamp"))
    prev_us = F.unix_micros(F.lag(t, 1).over(w).cast("timestamp"))
    gap = us - prev_us
    new_session = F.when(
        gap.isNull() | (gap > int(gap_minutes * 60_000_000)), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(e).orderBy(F.col(t).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = F.sum(new_session).over(run)
    return df.withColumn(
        "SESSION_ID", F.concat_ws("#", F.col(e).cast("string"), sid.cast("string"))
    )


@renderer("sessionize")
def _r_sessionize(source, entity, ts, gap_minutes=30.0) -> str:
    gap_us = int(gap_minutes * 60_000_000)
    over = f"PARTITION BY {entity} ORDER BY {ts}"
    gap = (
        f"(unix_micros(CAST({ts} AS TIMESTAMP)) - "
        f"unix_micros(CAST(LAG({ts}, 1) OVER ({over}) AS TIMESTAMP)))"
    )
    run = f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return (
        f"SELECT * EXCEPT (__new), CONCAT_WS('#', CAST({entity} AS STRING), "
        f"CAST(SUM(__new) OVER ({run}) AS STRING)) AS SESSION_ID FROM "
        f"(SELECT *, CASE WHEN {gap} IS NULL OR {gap} > {gap_us} THEN 1 ELSE 0 END "
        f"AS __new FROM {source})"
    )


@spark_transform("stream_sessionize", category="streaming")
def stream_sessionize(
    df: DataFrame,
    entity: str,
    ts: str,
    gap_minutes: float = 30.0,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sessionization as a CUSTOM STATEFUL operator: one closed session row
    ``(entity, SESSION_START, SESSION_END, N_EVENTS)`` per inactivity gap.

    Streaming path: ``applyInPandasWithState`` with per-entity state
    ``(start_ms, last_ms, n)`` and an event-time timeout at ``last + gap`` —
    a session closes either when a later event arrives past the gap or when
    the watermark passes the timeout. State is bounded: one open session per
    active entity; late rows beyond the watermark are dropped by the engine.
    This is the shape ``F.session_window`` cannot express once per-session
    logic grows beyond built-in aggregates (custom merge rules, session
    payloads, emission side-conditions).

    Batch path: identical output via the gaps-and-islands ``sessionize`` +
    one aggregation — the parity target for tests/oracles.
    """
    from pyspark.sql.types import (
        LongType as _Long,
        StructField as _SF,
        StructType as _ST,
        TimestampType as _Ts,
    )

    e, t = resolve_col(df, entity), resolve_col(df, ts)
    gap_ms = int(gap_minutes * 60_000)
    if not df.isStreaming:
        # normalize first so SESSION_START/END are TIMESTAMP on both paths
        sess = sessionize(_ensure_event_time(df, t), entity, ts, gap_minutes)
        return (
            sess.groupBy(e, "SESSION_ID")
            .agg(
                F.min(t).alias("SESSION_START"),
                F.max(t).alias("SESSION_END"),
                F.count(F.lit(1)).cast("bigint").alias("N_EVENTS"),
            )
            .drop("SESSION_ID")
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    entity_type = df.schema[e].dataType
    out_schema = _ST(
        [
            _SF(e, entity_type),
            _SF("SESSION_START", _Ts()),
            _SF("SESSION_END", _Ts()),
            _SF("N_EVENTS", _Long()),
        ]
    )
    state_schema = _ST(
        [_SF("start", _Long()), _SF("last", _Long()), _SF("n", _Long())]
    )

    def close_sessions(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        # state tracks MICROSECONDS (full timestamp precision); the engine
        # timeout API takes milliseconds
        def row(start_us, last_us, n):
            return {
                e: key[0],
                "SESSION_START": pd.Timestamp(start_us, unit="us"),
                "SESSION_END": pd.Timestamp(last_us, unit="us"),
                "N_EVENTS": n,
            }

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([row(start, last, n)])
            return
        stamps: list[int] = []
        for pdf in pdf_iter:
            us = pd.to_datetime(pdf[t]).astype("datetime64[us]").astype("int64")
            stamps.extend(us.tolist())
        stamps.sort()
        cur = state.get if state.exists else None
        closed = []
        gap_us = gap_ms * 1000
        for us in stamps:
            if cur is None:
                cur = (us, us, 1)
            elif us - cur[1] > gap_us:
                closed.append(row(*cur))
                cur = (us, us, 1)
            else:
                # min/max merge: a late-but-within-watermark event from a
                # later micro-batch may predate the stored session's last (or
                # even first) timestamp — it must widen the session, never
                # shrink SESSION_END or leave SESSION_START unextended.
                cur = (min(cur[0], us), max(cur[1], us), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # a session whose natural close already lies behind the watermark
            # times out at the next watermark tick (timeouts must be ahead of
            # the current watermark)
            state.setTimeoutTimestamp(
                max(cur[1] // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1)
            )
        if closed:
            yield pd.DataFrame(closed)

    return (
        _ensure_event_time(df, t)
        .withWatermark(t, watermark)
        .groupBy(F.col(e))
        .applyInPandasWithState(
            close_sessions,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


@spark_transform("stream_join", category="streaming")
def stream_join(
    df: DataFrame,
    other: DataFrame,
    keys,
    left_ts: str,
    right_ts: str | None = None,
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    join_type: str = "inner",
    right_prefix: str = "R_",
) -> DataFrame:
    """Stream-stream (or batch) equi-join with an event-time proximity
    bound: rows join when their keys match AND the right event falls within
    ``± within`` of the left event — the standard Structured-Streaming
    stream-stream join shape, where the time bound is what lets the engine
    expire buffered state instead of holding both streams forever.

    Both sides get ``watermark`` when streaming (required by Spark for
    stream-stream joins; outer joins additionally emit NULLs only after the
    watermark passes). Right-side columns are prefixed with ``right_prefix``
    (keys keep the left name). The identical plan on batch frames is the
    parity target for tests.
    """
    if join_type not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ParameterException(
            "join_type must be inner, left_outer, right_outer, or full_outer"
        )
    keys = as_list(keys)
    lts = resolve_col(df, left_ts)
    rts = resolve_col(other, right_ts or left_ts)
    left = _maybe_watermark(df, lts, watermark)
    right = _maybe_watermark(other, rts, watermark)
    lkeys = [resolve_col(df, k) for k in keys]
    rkeys = [resolve_col(other, k) for k in keys]
    right = right.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    )
    cond = None
    for lk, rk in zip(lkeys, rkeys):
        c = F.col(lk) == F.col(f"{right_prefix}{rk}")
        cond = c if cond is None else (cond & c)
    prts = f"{right_prefix}{rts}"
    cond = (
        cond
        & (F.col(prts) >= F.col(lts) - F.expr(f"INTERVAL {within}"))
        & (F.col(prts) <= F.col(lts) + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, on=cond, how=join_type)


@spark_transform("stream_dedup", category="streaming")
def stream_dedup(df: DataFrame, keys, ts: str | None = None, watermark: str | None = None) -> DataFrame:
    """Exactly-once key dedup. Streaming with a watermark uses
    ``dropDuplicatesWithinWatermark`` (bounded state — mandatory at scale);
    batch falls back to plain dropDuplicates."""
    keys = as_list(keys)
    if df.isStreaming:
        if not (ts and watermark):
            raise ParameterException("streaming dedup requires ts + watermark to bound state")
        t = resolve_col(df, ts)
        return (
            _ensure_event_time(df, t)
            .withWatermark(t, watermark)
            .dropDuplicatesWithinWatermark(keys)
        )
    return df.dropDuplicates([resolve_col(df, k) for k in keys])


def read_events_stream(spark, path: str, schema: StructType | None = None) -> DataFrame:
    """File-source streaming reader for an events directory: each new parquet
    file becomes a micro-batch (``maxFilesPerTrigger=1`` for deterministic
    tests)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def stream_dedup_against(
    df: DataFrame,
    text: str,
    id_col: str,
    checkpoint: str,
    sink_path: str | None = None,
    sink_table: str | None = None,
    reference: DataFrame | None = None,
    index=None,
    method: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.5,
    nprobe: int = 4,
    max_hamming: int = 6,
    min_tokens: int | None = None,
):
    """Streaming crawl-ingest dedup — the production pipeline shape: new
    document files arrive as a stream, every micro-batch is cleaned against
    the ACCEPTED corpus, and only novel documents append to the sink.

    The reference side is a static frame or (the amortized path) a prebuilt
    index — ``dedup.MinHashIndex`` for near-dup LSH, ``bloom.BloomIndex``
    for exact-content membership, ``similarity.IVFIndex`` for SEMANTIC
    dedup over an embedding column (pass the embedding column name as
    ``text`` and a cosine ``threshold``; batch probes ``nprobe`` inverted
    lists per row via ``dedup_against_embedding``), or ``pq.IVFPQIndex``
    for the memory-bounded semantic form (candidate scans read m small-int
    PQ codes instead of full vectors — the billion-vector-corpus regime),
    or ``dedup.SubstringIndex`` (round 12) for EXACT >=min_tokens-token
    verbatim-run screening — the decontamination-grade regime that drops a
    batch doc quoting any accepted document at any alignment
    (``dedup_against_substring``; fold accepted docs back with
    ``update_substring_index``, which is exactly rebuild-equivalent).
    All five are persistable/loadable as parquet
    artifacts, so the per-batch cost is independent of corpus size. This
    runs via ``foreachBatch`` because the banded-LSH / bloom-confirm
    pipelines are multi-stage batch plans a stream-static join cannot
    express. Sink semantics under replay: a ``sink_path`` sink writes each
    micro-batch to ``{sink_path}/batch=<id>/`` with overwrite (the
    ``write_stream_shards`` pattern) — a replayed batch REPLACES its
    directory, so the path sink is idempotent/exactly-once; a
    ``sink_table`` sink is partitioned by ``__batch_id`` and each
    micro-batch dynamic-overwrites ONLY its own partition, so a replayed
    batch replaces its rows — both sinks are exactly-once under replay.
    Note the sink sees only batch-vs-REFERENCE dedup; chain ``stream_dedup`` upstream for within-stream duplicates,
    and fold accepted docs back into the index with
    ``update_minhash_index``/``update_bloom_index`` on the corpus-refresh
    cadence.

    Returns the started ``StreamingQuery`` (``availableNow`` trigger —
    drains all available input then stops, the testable/backfill form;
    production restarts resume from the checkpoint).
    """
    from ..functions.bloom import BloomIndex, dedup_against_bloom
    from ..functions.dedup import (
        MinHashIndex,
        SubstringIndex,
        dedup_against,
        dedup_against_substring,
    )
    from ..functions.pq import IVFPQIndex
    from ..functions.similarity import (
        BinaryIndex,
        IVFIndex,
        dedup_against_embedding,
    )

    if not df.isStreaming:
        raise ParameterException(
            "stream_dedup_against expects a streaming DataFrame "
            "(use dedup_against for batch)"
        )
    if (sink_path is None) == (sink_table is None):
        raise ParameterException("pass exactly one of sink_path / sink_table")
    if max_hamming < 0:
        # fail fast: a bad bound must surface here, not per-batch inside
        # foreachBatch as a wrapped StreamingQueryException after .start()
        raise ParameterException("max_hamming must be >= 0")
    if min_tokens is not None and min_tokens < 2:
        raise ParameterException("min_tokens must be >= 2")
    if index is not None and not isinstance(
        index, (MinHashIndex, BloomIndex, IVFIndex, IVFPQIndex, BinaryIndex,
                SubstringIndex)
    ):
        raise ParameterException(
            f"index must be a MinHashIndex, BloomIndex, IVFIndex, "
            f"IVFPQIndex, BinaryIndex or SubstringIndex, "
            f"got {type(index).__name__}"
        )
    if isinstance(index, SubstringIndex):
        # round 12: exact verbatim-run screening against the accepted
        # corpus — per-batch cost is the batch's shingling + one
        # fingerprint equi-join against the capped content-keyed postings
        if method not in (None, "substring"):
            raise ParameterException(
                f"method={method!r} conflicts with a SubstringIndex"
            )
        if min_tokens is not None and index.min_tokens != int(min_tokens):
            # same contract as dedup_against_substring (which raises on an
            # index/param mismatch): surface an EXPLICIT conflict pre-start
            # rather than silently screening at the index's bound; omitting
            # min_tokens means "use the index's"
            raise ParameterException(
                f"SubstringIndex was built with "
                f"min_tokens={index.min_tokens}, call requested "
                f"{min_tokens} — pass the matching value or rebuild"
            )
        check_fingerprint(index, reference, "docs")
        _sub_idx = index

        def clean(b: DataFrame) -> DataFrame:
            return dedup_against_substring(
                b, text, id_col, index=_sub_idx,
                min_tokens=_sub_idx.min_tokens, mode="filter",
            )
    elif isinstance(index, BinaryIndex):
        # r9: prebuilt 1-bit signature index — per-batch reference read is
        # the 8-byte signatures (no re-pack of full-width vectors); fold
        # accepted docs with update_binary_index (drift-free: no fitted
        # state, update == rebuild exactly)
        if method not in (None, "binary"):
            raise ParameterException(
                f"method={method!r} conflicts with a BinaryIndex"
            )
        check_fingerprint(index, reference, "vectors")

        def clean(b: DataFrame) -> DataFrame:
            return dedup_against_embedding(
                b, vec_col=text, id_col=id_col, method="binary", index=index,
                max_hamming=max_hamming, mode="filter",
            )
    elif isinstance(index, IVFPQIndex):
        # round 9: the memory-bounded semantic path — per-batch candidate
        # scans read m small-int PQ codes instead of full vectors, so the
        # crawl-ingest loop stays cheap as the accepted corpus grows into
        # the billion-vector regime; fold accepted docs back with
        # update_ivfpq_index on the corpus-refresh cadence
        if method not in (None, "ivfpq"):
            raise ParameterException(
                f"method={method!r} conflicts with an IVFPQIndex"
            )
        check_fingerprint(index, reference, "vectors")

        def clean(b: DataFrame) -> DataFrame:
            return dedup_against_embedding(
                b, vec_col=text, id_col=id_col, method="ivfpq", index=index,
                threshold=threshold, nprobe=nprobe, mode="filter",
            )
    elif isinstance(index, IVFIndex):
        if method not in (None, "embedding", "semantic"):
            raise ParameterException(
                f"method={method!r} conflicts with an IVFIndex"
            )
        # one-time staleness guard, same contract as the other index paths
        check_fingerprint(index, reference, "vectors")

        def clean(b: DataFrame) -> DataFrame:
            return dedup_against_embedding(
                b, vec_col=text, id_col=id_col, method="ivf", index=index,
                threshold=threshold, nprobe=nprobe, mode="filter",
            )
    elif isinstance(index, BloomIndex):
        if method not in (None, "bloom", "exact"):
            raise ParameterException(
                f"method={method!r} conflicts with a BloomIndex"
            )
        # staleness guard, ONCE before the stream starts (never per batch):
        # the index is the authority on the index path, so a reference that
        # doesn't match its build-time row count means a stale artifact
        check_fingerprint(index, reference, "docs")

        def clean(b: DataFrame) -> DataFrame:
            return dedup_against_bloom(
                b, text, id_col,
                bits_log2=index.bits_log2, num_hashes=index.num_hashes,
                index=index,
            )
    elif isinstance(index, MinHashIndex):
        if method not in (None, "minhash"):
            raise ParameterException(
                f"method={method!r} conflicts with a MinHashIndex"
            )
        # same one-time integrity check the batch path runs — lifted out of
        # the per-batch closure so the reference is never re-counted (or
        # forwarded at all) in the hot streaming loop
        check_fingerprint(index, reference, "docs")

        def clean(b: DataFrame) -> DataFrame:
            return dedup_against(
                b, text, id_col, method="minhash",
                num_hashes=index.num_hashes, bands=index.bands,
                shingle_size=index.shingle_size, threshold=threshold,
                mode="filter", index=index,
            )
    elif reference is not None:
        # fail fast BEFORE .start(): an invalid method would otherwise only
        # surface per-batch inside foreachBatch as a wrapped
        # StreamingQueryException after the stream is already running
        if method not in (None, "exact", "minhash", "bloom", "embedding",
                          "binary", "substring"):
            raise ParameterException(
                f"method must be 'exact', 'minhash', 'bloom', 'embedding', "
                f"'binary' or 'substring', got {method!r}"
            )
        if method == "substring":
            # round 12: inline reference path — the index is rebuilt per
            # micro-batch (the other inline regimes' documented trade);
            # pass a prebuilt SubstringIndex to amortize
            def clean(b: DataFrame) -> DataFrame:  # noqa: F811
                return dedup_against_substring(
                    b, text, id_col, reference=reference,
                    min_tokens=20 if min_tokens is None else min_tokens,
                    mode="filter",
                )
        elif method == "binary":
            # r9: 1-bit signature dedup — at a billion reference vectors
            # the signature state is 8 GB, the one semantic form whose
            # reference fits executor memory outright; `text` is the
            # embedding column, max_hamming the bit budget
            def clean(b: DataFrame) -> DataFrame:
                return dedup_against_embedding(
                    b, vec_col=text, id_col=id_col, reference=reference,
                    method="binary", max_hamming=max_hamming, mode="filter",
                )
        elif method == "bloom":
            # bloom defaults, not the minhash num_hashes param — the bloom
            # stage is a prefilter whose output equals the exact path anyway
            def clean(b: DataFrame) -> DataFrame:
                return dedup_against_bloom(b, text, id_col, reference)
        elif method == "embedding":
            # semantic dedup against a static reference frame: `text` is
            # the embedding column; exact brute path (batch broadcasts)
            def clean(b: DataFrame) -> DataFrame:
                return dedup_against_embedding(
                    b, vec_col=text, id_col=id_col, reference=reference,
                    method="brute", threshold=threshold, mode="filter",
                )
        else:
            def clean(b: DataFrame) -> DataFrame:
                return dedup_against(
                    b, text, id_col, reference, method=method or "exact",
                    num_hashes=num_hashes, bands=bands,
                    shingle_size=shingle_size, threshold=threshold,
                    mode="filter",
                )
    else:
        raise ParameterException(
            "stream_dedup_against needs a reference frame or a prebuilt "
            "MinHashIndex/BloomIndex/IVFIndex"
        )

    # foreachBatch hands the closure a CLONED session; catalog refreshes on
    # it don't invalidate the caller's cached file listings, so keep the
    # user's session for the post-overwrite refresh
    return (
        df.writeStream
        .foreachBatch(_exactly_once_sink(clean, sink_path, sink_table,
                                         df.sparkSession))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _exactly_once_sink(clean, sink_path, sink_table, user_spark):
    """The shared foreachBatch sink of the crawl-ingest family
    (stream_dedup_against, stream_embedding_join): apply ``clean`` to the
    micro-batch, then write exactly-once under replay — a ``sink_path``
    sink overwrites ``{path}/batch=<id>/`` (a replayed batch REPLACES its
    directory), a ``sink_table`` sink dynamic-overwrites only its own
    ``__batch_id`` partition."""

    def _sink(batch_df: DataFrame, batch_id: int):
        out = clean(batch_df)
        if sink_table is not None:
            # exactly-once under replay: the table is partitioned by
            # __batch_id and each micro-batch DYNAMIC-overwrites only its
            # own partition — a replayed batch replaces its rows instead of
            # appending duplicates (the table analog of the path sink's
            # overwrite-into-batch-subdir)
            # persist: isEmpty() and the write would otherwise each run the
            # full clean() dedup pipeline (minhash/bloom/IVF probe), doubling
            # per-batch latency on the streaming hot path
            tagged = scoped_persist(out.withColumn("__batch_id", F.lit(batch_id)))
            try:
                bspark = tagged.sparkSession
                if bspark.catalog.tableExists(sink_table):
                    # exactly-once REQUIRES the table to be partitioned by
                    # __batch_id: dynamic overwrite on a non-partitioned table
                    # (e.g. one pre-created by the user or by the old
                    # append-mode sink) silently TRUNCATES it every batch —
                    # refuse loudly instead
                    if not any(
                        c.isPartition and c.name == "__batch_id"
                        for c in bspark.catalog.listColumns(sink_table)
                    ):
                        raise ParameterException(
                            f"sink_table {sink_table!r} exists but is not "
                            "partitioned by __batch_id — the exactly-once sink "
                            "would overwrite the whole table every batch. "
                            "Migrate "
                            "the table (CTAS partitioned by __batch_id) or "
                            "point the stream at a fresh table name"
                        )
                    if tagged.isEmpty():
                        # a replayed batch whose recomputed output is EMPTY
                        # (reference/index grew between runs) must still clear
                        # the rows it wrote last time — dynamic overwrite
                        # writes no partitions for an empty frame
                        bspark.sql(
                            f"ALTER TABLE {sink_table} DROP IF EXISTS "
                            f"PARTITION (__batch_id={batch_id})"
                        )
                    else:
                        # session conf, not the per-writer option — insertInto
                        # ignores the writer-level partitionOverwriteMode
                        # (verified on 4.1: writer option wipes the whole
                        # table); restore the previous value after the write
                        key = "spark.sql.sources.partitionOverwriteMode"
                        prev = bspark.conf.get(key, None)
                        bspark.conf.set(key, "dynamic")
                        try:
                            tagged.write.mode("overwrite").insertInto(sink_table)
                        finally:
                            if prev is None:
                                bspark.conf.unset(key)
                            else:
                                bspark.conf.set(key, prev)
                    # the overwrite replaced files under the partition dir;
                    # drop the cached file listing (in the caller's session —
                    # the batch session is a clone whose refresh wouldn't reach
                    # it) so readers don't hit FILE_NOT_EXIST on stale paths
                    user_spark.catalog.refreshTable(sink_table)
                else:
                    tagged.write.mode("overwrite").partitionBy(
                        "__batch_id"
                    ).saveAsTable(sink_table)
            finally:
                release_now(tagged)
        else:
            # overwrite-into-batch-subdir: a replayed micro-batch replaces
            # its own directory instead of appending duplicates
            out.write.mode("overwrite").parquet(f"{sink_path}/batch={batch_id}")

    return _sink


def stream_embedding_join(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    checkpoint: str,
    index,
    sink_path: str | None = None,
    sink_table: str | None = None,
    k: int = 1,
    nprobe: int = 4,
    max_hamming: int = 6,
    right_prefix: str = "MATCH_",
):
    """Streaming semantic ENRICHMENT — the join-shaped sibling of
    ``stream_dedup_against``: every micro-batch of new documents attaches
    its top-``k`` nearest neighbors from a prebuilt ANN index over the
    accepted corpus, and the enriched rows append to the sink. The
    production shape for retrieval-augmented curation (tag each crawled
    doc with its closest canonical/reference docs as it arrives).

    The index picks the regime, mirroring the batch join family exactly:

    - :class:`~..functions.similarity.BinaryIndex` →
      ``embedding_join_binary`` (pigeonhole band candidates within
      ``max_hamming``; appends ``{right_prefix}ID``/``HAMMING``/``RANK``;
      8 B/vector reference state);
    - :class:`~..functions.pq.IVFPQIndex` → ``embedding_join_ivfpq``
      (nprobe inverted lists, ADC over m small-int codes; appends
      ``COSINE``);
    - :class:`~..functions.similarity.IVFIndex` → ``embedding_join_ivf``
      (nprobe lists over full vectors; appends ``COSINE``).

    All three amortize their fits in the prebuilt index, so per-batch
    cost is independent of corpus size; fold accepted/new reference docs
    with the matching ``update_*_index`` on the corpus-refresh cadence.
    Batch rows with no in-range/in-list neighbor DROP (inner join, the
    family contract) — route a left-outer need through a downstream
    anti-join on the sink. Runs via ``foreachBatch`` (multi-stage batch
    plans a stream-static join cannot express) with the family's shared
    exactly-once sink; ``availableNow`` trigger (drains then stops;
    production restarts resume from the checkpoint)."""
    from ..functions.pq import IVFPQIndex, embedding_join_ivfpq
    from ..functions.similarity import (
        BinaryIndex,
        IVFIndex,
        embedding_join_binary,
        embedding_join_ivf,
    )

    if not df.isStreaming:
        raise ParameterException(
            "stream_embedding_join expects a streaming DataFrame (use the "
            "embedding_join_* operators for batch)"
        )
    if (sink_path is None) == (sink_table is None):
        raise ParameterException("pass exactly one of sink_path / sink_table")
    # fail fast BEFORE .start() — the stream_dedup_against contract
    if k < 1:
        raise ParameterException("k must be >= 1")
    if max_hamming < 0:
        raise ParameterException("max_hamming must be >= 0")
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    if isinstance(index, BinaryIndex):
        def clean(b: DataFrame) -> DataFrame:
            return embedding_join_binary(
                b, vec_col, id_col, k=k, max_hamming=max_hamming,
                right_prefix=right_prefix, index=index,
            )
    elif isinstance(index, IVFPQIndex):
        def clean(b: DataFrame) -> DataFrame:
            return embedding_join_ivfpq(
                b, vec_col, id_col, k=k, nprobe=nprobe,
                right_prefix=right_prefix, index=index,
            )
    elif isinstance(index, IVFIndex):
        def clean(b: DataFrame) -> DataFrame:
            return embedding_join_ivf(
                b, vec_col, id_col, k=k, nprobe=nprobe,
                right_prefix=right_prefix, index=index,
            )
    else:
        raise ParameterException(
            "index must be a BinaryIndex, IVFPQIndex or IVFIndex, got "
            f"{type(index).__name__}"
        )
    return (
        df.writeStream
        .foreachBatch(_exactly_once_sink(clean, sink_path, sink_table,
                                         df.sparkSession))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_to_table(df: DataFrame, table: str, checkpoint: str, mode: str = "append"):
    """foreachBatch sink into a catalog table — the battle-tested pattern for
    arbitrary sinks with exactly-once per-batch semantics."""

    def _sink(batch_df: DataFrame, batch_id: int):
        batch_df.write.mode(mode).saveAsTable(table)

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_shards(
    df: DataFrame,
    path: str,
    checkpoint: str,
    rows_per_shard: int | None = None,
    num_shards: int | None = None,
    by=None,
    file_format: str = "json",
):
    """Stream → training shards: each micro-batch lands as size-controlled
    shard files under ``path/batch=<id>/`` (same sizing controls as
    ``save_shards``: per-file row cap via ``maxRecordsPerFile``, optional
    key co-location via hash repartition). ``foreachBatch`` + checkpoint
    gives exactly-once per-batch delivery; batch subdirectories make
    reprocessing idempotent — rewriting a batch replaces its directory
    rather than appending duplicates. The terminal step of a streaming
    corpus-ingestion pipeline."""
    from ..operators._util import as_list, resolve_cols

    def _sink(batch_df: DataFrame, batch_id: int):
        out = batch_df
        keys = resolve_cols(out, as_list(by))
        if keys:
            n = num_shards or out.sparkSession.sparkContext.defaultParallelism
            out = out.repartition(n, *[F.col(k) for k in keys])
        elif num_shards:
            out = out.repartition(num_shards)
        writer = out.write.mode("overwrite").format(file_format)
        if rows_per_shard:
            writer = writer.option("maxRecordsPerFile", int(rows_per_shard))
        writer.save(f"{path}/batch={batch_id}")

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_psi(
    df: DataFrame,
    column: str,
    breakpoints,
    checkpoint: str,
    baseline: DataFrame | None = None,
    expected: dict | None = None,
    sink_path: str | None = None,
    sink_table: str | None = None,
    epsilon: float = 1e-6,
):
    """Streaming drift monitor — the governance shape of the crawl-ingest
    family: every micro-batch's distribution over ``column`` is scored as a
    Population Stability Index against the ACCEPTED baseline, and the
    per-bin PSI report (``snapshot.psi_against_stats`` schema) lands in the
    monitoring sink, one partition per batch. Alert on ``PSI_TOTAL``
    (> 0.25 = act) from the sink table; the stream never blocks ingest.

    The baseline side is FROZEN proportions: pass ``expected`` (the dict
    ``snapshot.psi_bin_stats`` returns — compute once per corpus release)
    or a static ``baseline`` DataFrame to derive it here (one bounded
    ≤ |bins|+1-row collect). Per-batch cost is ONE hash aggregate on the
    bin id regardless of corpus size — the same amortized regime as
    ``stream_dedup_against`` over a prebuilt index.

    Exactly-once under replay via the shared ``_exactly_once_sink``;
    ``availableNow`` trigger (drains then stops; production restarts resume
    from the checkpoint)."""
    from ..functions.snapshot import psi_against_stats, psi_bin_stats

    if not df.isStreaming:
        raise ParameterException(
            "stream_psi expects a streaming DataFrame (use psi_drift for "
            "batch-vs-batch comparison)"
        )
    # fail fast BEFORE .start(): foreachBatch errors only surface per-batch
    bps = [float(b) for b in as_list(breakpoints)]
    if not bps or sorted(bps) != bps:
        raise ParameterException("breakpoints must be a non-empty ascending list")
    if epsilon <= 0:
        raise ParameterException("epsilon must be > 0")
    if (baseline is None) == (expected is None):
        raise ParameterException(
            "pass exactly one of baseline (static frame) or expected "
            "(psi_bin_stats dict)"
        )
    if sink_path is None and sink_table is None:
        raise ParameterException("stream_psi needs a sink_path or sink_table")
    stats = dict(expected) if expected is not None else psi_bin_stats(
        baseline, column, bps
    )

    def score(b: DataFrame) -> DataFrame:
        return psi_against_stats(b, column, bps, stats, epsilon=epsilon)

    return (
        df.writeStream
        .foreachBatch(_exactly_once_sink(score, sink_path, sink_table,
                                         df.sparkSession))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_anomaly(
    df: DataFrame,
    column: str,
    checkpoint: str,
    baseline: DataFrame | None = None,
    expected: dict | None = None,
    group_by=None,
    threshold: float | None = None,
    sink_path: str | None = None,
    sink_table: str | None = None,
    method: str = "zscore",
):
    """Streaming anomaly monitor — the z-score sibling of ``stream_psi``:
    every micro-batch is scored per group against FROZEN baseline
    statistics, and the per-group report lands in the monitoring sink.
    ``method='zscore'`` (default) freezes mean/std
    (``timeseries.zscore_stats``; report: N, N_ANOMALIES, ANOMALY_RATE,
    BATCH_MEAN, BASELINE_MEAN, MEAN_Z; default threshold 3.0);
    ``method='mad'`` freezes median/MAD (``timeseries.mad_stats``; report:
    N, N_OUTLIERS, OUTLIER_RATE, BATCH_MEDIAN, BASELINE_MEDIAN,
    MEDIAN_SHIFT_Z; default threshold 3.5) — the robust form whose frozen
    center/spread a contaminated baseline cannot distort (50% breakdown).
    Alert on the drift column or the rate from the sink; the stream never
    blocks ingest.

    Pass ``expected`` (the matching stats dict — compute once per release)
    or a static ``baseline`` frame to derive it here (bounded
    one-row-per-group collects). Per-batch cost is ONE hash aggregate on
    the group keys regardless of corpus size — the amortized regime of the
    crawl-ingest family. Exactly-once under replay via the shared
    ``_exactly_once_sink``; ``availableNow`` trigger."""
    from ..functions.timeseries import (
        mad_against_stats,
        mad_stats,
        zscore_against_stats,
        zscore_stats,
    )

    if not df.isStreaming:
        raise ParameterException(
            "stream_anomaly expects a streaming DataFrame (use "
            "timeseries.zscore_against_stats / mad_against_stats for batch "
            "scoring)"
        )
    # fail fast BEFORE .start(): foreachBatch errors only surface per-batch
    if method not in ("zscore", "mad"):
        raise ParameterException("method must be 'zscore' or 'mad'")
    if threshold is None:
        threshold = 3.0 if method == "zscore" else 3.5
    if threshold <= 0:
        raise ParameterException("threshold must be > 0")
    if (baseline is None) == (expected is None):
        raise ParameterException(
            "pass exactly one of baseline (static frame) or expected "
            "(stats dict)"
        )
    if sink_path is None and sink_table is None:
        raise ParameterException("stream_anomaly needs a sink_path or sink_table")
    freeze = zscore_stats if method == "zscore" else mad_stats
    against = zscore_against_stats if method == "zscore" else mad_against_stats
    stats = dict(expected) if expected is not None else freeze(
        baseline, column, group_by
    )
    if not stats:
        raise ParameterException("frozen stats are empty")

    def score(b: DataFrame) -> DataFrame:
        return against(b, column, stats, group_by, threshold)

    return (
        df.writeStream
        .foreachBatch(_exactly_once_sink(score, sink_path, sink_table,
                                         df.sparkSession))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_cms(
    df: DataFrame,
    column: str,
    checkpoint: str,
    group_by=None,
    depth: int = 4,
    width: int = 256,
    sink_path: str | None = None,
    sink_table: str | None = None,
):
    """Streaming frequency-sketch maintenance — the Count-Min sibling of
    ``stream_anomaly``: every micro-batch reduces to per-group CMS rows
    (``functions.cms.cms_sketch`` — KBs of mergeable state, never raw
    rows) landed exactly-once in the monitoring sink. Because counter
    addition is exact and associative, the corpus state AT ANY TIME is one
    ``cms_merge`` over the sink — no read-modify-write of a live state
    store, which is what makes the sink replay-safe: a replayed batch
    replaces its own sketch rows and the merge is unchanged (pinned in
    tests against a batch-mode sketch of the full data).

    Per-batch cost is the batch's own sketch aggregate (shuffle bounded by
    |groups|·depth·width ints), regardless of history size — the amortized
    regime of the crawl-ingest family. ``availableNow`` trigger.
    """
    from ..functions.cms import _check_shape, cms_sketch

    if not df.isStreaming:
        raise ParameterException(
            "stream_cms expects a streaming DataFrame (use cms_sketch for "
            "batch sketching)"
        )
    # fail fast BEFORE .start(): foreachBatch errors only surface per-batch
    _check_shape(depth, width)
    if sink_path is None and sink_table is None:
        raise ParameterException("stream_cms needs a sink_path or sink_table")
    keys = as_list(group_by)
    clash = {"CMS", "CMS_DEPTH", "CMS_WIDTH", "CMS_N"} & set(keys)
    if clash:
        # cms_sketch would raise this per-batch inside foreachBatch —
        # surface it here, pre-start, like every other validation
        raise ParameterException(
            f"group columns {sorted(clash)} collide with the sketch-frame "
            "schema — rename them first"
        )

    def sketch(b: DataFrame) -> DataFrame:
        return cms_sketch(b, column, group_by=keys, depth=depth, width=width)

    return (
        df.writeStream
        .foreachBatch(_exactly_once_sink(sketch, sink_path, sink_table,
                                         df.sparkSession))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def quota_admit(batch_df: DataFrame, spent, keys, quota: int, order,
                cols) -> DataFrame:
    """The PURE per-batch admission decision of :func:`stream_quota`:
    rank the batch per group by ``order`` (``cap_order_exprs``), left-join
    the prior per-group spent counts (null-safe — a NULL group key is a
    real group whose budget must deplete like any other; a plain
    ``on=keys`` join would never match NULL and re-grant that group the
    full quota per batch), admit while ``prior + rank <= quota``.
    ``spent`` is a ``(keys..., __spent bigint)`` frame or ``None`` (no
    prior admissions). Module-level and side-effect-free so the batch
    replica gate entry and the replay tests pin the exact decision the
    foreachBatch sink executes."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = batch_df.withColumn("__rn", F.row_number().over(w))
    if spent is not None:
        # same staging pattern as timeseries._nsjoin
        staged = spent.select(
            *[F.col(k).alias(f"__qk_{i}") for i, k in enumerate(keys)],
            "__spent",
        )
        cond = None
        for i, k in enumerate(keys):
            e = F.col(k).eqNullSafe(F.col(f"__qk_{i}"))
            cond = e if cond is None else cond & e
        ranked = (
            ranked.join(F.broadcast(staged), cond, "left")
            .drop(*[f"__qk_{i}" for i in range(len(keys))])
            .withColumn(
                "__spent",
                F.coalesce(F.col("__spent"), F.lit(0)).cast("bigint"),
            )
        )
    else:
        ranked = ranked.withColumn("__spent", F.lit(0).cast("bigint"))
    return (
        ranked.filter(F.col("__spent") + F.col("__rn") <= int(quota))
        .select(*cols)
    )


def _quota_batch_sink(keys, quota, order, cols, sink_path, key_fields):
    """Build stream_quota's per-batch decision function (module-level so
    tests can pin replay equivalence by invoking it directly).

    Admissions for batch ``b`` are a pure function of (the batch, the
    ``_counts`` side-table partitions with ``batch < b``) — see
    :func:`stream_quota` for the contract. ``key_fields`` are the group
    columns' StructFields from the stream schema (the counts table is read
    with an EXPLICIT schema so a pre-created/empty sink never trips
    schema inference).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    counts_path = f"{sink_path}/_counts"
    counts_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in key_fields]
        + [StructField("__admitted", LongType(), True),
           StructField("batch", LongType(), True)]
    )

    def _sink(batch_df: DataFrame, batch_id: int):
        bspark = batch_df.sparkSession
        # direct existence probe of the counts table (NOT error-class
        # string matching — engines word PATH_NOT_FOUND /
        # UNABLE_TO_INFER_SCHEMA differently across versions, and the
        # explicit read schema below makes inference moot anyway)
        jvm = bspark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(counts_path)
        fs = hpath.getFileSystem(bspark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            prior = bspark.read.schema(counts_schema).parquet(counts_path)
            spent = (
                prior.filter(F.col("batch") < int(batch_id))
                .groupBy(*keys)
                .agg(F.sum("__admitted").cast("bigint").alias("__spent"))
            )
        else:
            # Upgrade guard: a sink written by the pre-_counts layout has
            # batch=* data dirs but no side table. Treating that as a fresh
            # sink would resolve spent to 0 and silently re-grant every
            # group its full quota after restart — fail fast instead and
            # tell the operator how to backfill. A dir for THIS batch id is
            # tolerated: it is the crash-replay case (data written, counts
            # write lost), where the replayed decision legitimately
            # overwrites it — failing there would wedge a healthy stream.
            legacy = fs.globStatus(
                jvm.org.apache.hadoop.fs.Path(f"{sink_path}/batch=*")
            ) or []
            other = [
                st for st in legacy
                if st.getPath().getName() != f"batch={int(batch_id)}"
            ]
            if len(other) > 0:
                raise ParameterException(
                    f"stream_quota sink {sink_path!r} has existing batch=* "
                    "partitions but no _counts side table (pre-upgrade "
                    "layout). Refusing to restart with spent=0: backfill "
                    "the side table first — for each batch=<b> dir, write "
                    "groupBy(group cols).count() as __admitted with that "
                    f"batch id to {counts_path}/batch=<b>/ — or point the "
                    "stream at a fresh sink_path."
                )
            spent = None
        admitted = quota_admit(batch_df, spent, keys, quota, order,
                               cols).persist()
        try:
            admitted.write.mode("overwrite").parquet(
                f"{sink_path}/batch={int(batch_id)}"
            )
            (
                admitted.groupBy(*keys)
                .agg(F.count(F.lit(1)).cast("bigint").alias("__admitted"))
                .write.mode("overwrite")
                .parquet(f"{counts_path}/batch={int(batch_id)}")
            )
        finally:
            admitted.unpersist()

    return _sink


def stream_quota(
    df: DataFrame,
    group_by,
    quota: int,
    key: str,
    checkpoint: str,
    sink_path: str,
    order_by=None,
    seed: int = 42,
    descending: bool = True,
):
    """Streaming per-group admission quota — the cross-batch form of
    ``functions.curation.cap_per_group``: over the WHOLE stream, at most
    ``quota`` rows per group ever reach the sink (the rolling-crawl "total
    budget per host/source" gate, where the batch-local cap can't help
    because a host trickles rows across many batches). NULL group keys are
    one real group with one budget (null-safe join on the spent counts).

    Replay-safe by construction: a micro-batch's admissions are a PURE
    function of (the batch, the ``_counts`` side table's EARLIER batch
    partitions) — batch ``b`` sums prior per-group admission counts from
    ``_counts/batch<b`` partitions only, ranks its own rows per group
    (``order_by`` desc/asc, then seeded-hash tie-break on ``key``), admits
    while ``prior + rank <= quota``, and overwrites BOTH
    ``{sink_path}/batch=<b>/`` and ``{sink_path}/_counts/batch=<b>/``
    (the per-group admitted-count delta for this batch). A replayed batch
    recomputes the identical decision and replaces its own directories —
    exactly-once with NO mutable state store (pinned by
    ``test_stream_quota_replay_is_idempotent``).

    Scale: per-batch prior cost is O(groups x batches) side-table rows,
    INDEPENDENT of the admitted corpus size — the full-sink scan this
    replaces was column-pruned but still listed/read O(admitted corpus)
    per micro-batch over a long stream. Readers of ``sink_path`` never
    see the side table (underscore-prefixed paths are hidden from Spark's
    file index). The batch rank is one window on the group keys with the
    same WindowGroupLimit pre-shuffle prune as cap_per_group; the spent
    side is broadcast (at most |groups| rows). ``availableNow`` trigger.
    """
    if not df.isStreaming:
        raise ParameterException(
            "stream_quota expects a streaming DataFrame (use cap_per_group "
            "for a batch-local cap)"
        )
    if quota < 1:
        raise ParameterException("quota must be >= 1")
    keys = as_list(group_by)
    if not keys:
        raise ParameterException("stream_quota requires at least one group column")
    if not sink_path:
        raise ParameterException("stream_quota needs a sink_path")
    if not key:
        raise ParameterException(
            "key is required — a unique row id makes admissions deterministic"
        )
    if "batch" in df.columns:
        # the sink's partition column — a data column with the same name
        # would make the prior-admissions read fail on every later batch
        raise ParameterException(
            "input has a column named 'batch', which is stream_quota's "
            "reserved sink-partition name — rename it first"
        )
    # fail fast on bad names BEFORE .start(), and build the shared capped
    # sort key (same expression as cap_per_group — one implementation)
    from ..functions.curation import cap_order_exprs

    order = cap_order_exprs(df, order_by, key, seed, descending)
    cols = list(df.columns)

    def _field(name):
        # Spark resolves groupBy names case-insensitively; match that
        # (StructType indexing alone is case-SENSITIVE)
        for f in df.schema.fields:
            if f.name == name:
                return f
        for f in df.schema.fields:
            if f.name.lower() == name.lower():
                return f
        raise ParameterException(
            f"group column {name!r} not found in the stream schema"
        )

    key_fields = [_field(k) for k in keys]
    _sink = _quota_batch_sink(keys, quota, order, cols, sink_path, key_fields)

    return (
        df.writeStream
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
