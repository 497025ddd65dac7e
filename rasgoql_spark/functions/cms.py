"""Mergeable Count-Min frequency sketches (Cormode & Muthukrishnan 2005).

``heavy_hitters`` (functions/text.py) mines frequent values EXACTLY — one
shuffled row per distinct value. At 100 TB the harder regimes are the ones
HLL solves for cardinality (sketch.py): INCREMENTAL and CROSS-DATASET
frequency — count token/url/user frequencies per shard today, merge the
per-shard sketches tomorrow without rescanning, answer point-frequency
queries against a KB-sized state instead of a distinct-value table. A CMS
is a depth×width counter grid; every value increments one counter per row
(``h_d(v) = md5(d ‖ v) mod width``) and a point estimate is the MIN over
the depth counters — an overestimate by at most ``e·N/width`` with
probability ``1 − e^−depth`` (N = total insertions).

Unlike the HLL family (engine-specific DataSketches binaries, rows-only
verification), this CMS is built from the engine's standard md5 hash, so
the sketch is DETERMINISTIC and the estimates replay EXACTLY in any engine
that can compute md5 — the driver oracles recompute the same min-of-bucket
-counts in DuckDB and hash-match.

Scale contract:
- ``cms_sketch``: explode depth rows per input row (depth is 3-8, not a
  blowup), hash-aggregate on (group, bucket) — shuffle bounded by
  |groups|·depth·width rows of two ints, NOT by data size; then one
  |groups|-row assembly into the array form. Map-side partial aggregation
  applies to the bucket counts.
- ``cms_merge``: elementwise array sum per group over |shards| rows — KBs
  per group, never raw data.
- ``cms_estimate``: row-local array lookups on the (tiny) sketch frame.

Unlike the HLL family, the whole CMS pipeline is plain SQL (HOFs over
bigint arrays), so all three transforms carry Spark-SQL renderers — a
sketch TABLE can live in a rendered/dbt pipeline. The driver oracles
additionally verify the ESTIMATES end-to-end against a DuckDB replay of
the bucket-count min, which is the stronger check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import as_list, resolve_col, resolve_cols
from ..registry import renderer, spark_transform
from ._artifact import load_artifact, save_artifact
from ._hash import md5_int

DEPTH_MIN, DEPTH_MAX = 1, 16
WIDTH_MIN, WIDTH_MAX = 8, 1 << 20


def _check_shape(depth: int, width: int) -> None:
    if not DEPTH_MIN <= depth <= DEPTH_MAX:
        raise ParameterException(f"depth must be in [{DEPTH_MIN}, {DEPTH_MAX}]")
    if not WIDTH_MIN <= width <= WIDTH_MAX:
        raise ParameterException(f"width must be in [{WIDTH_MIN}, {WIDTH_MAX}]")


def _bucket(value_str, d_col, width: int):
    """Row d's bucket for a value: md5(d ‖ value) mod width — the same
    cross-engine hash every operator in this engine uses."""
    return F.pmod(
        md5_int(F.concat_ws("|", d_col.cast("string"), value_str)),
        F.lit(int(width)),
    )


def bucket_sql(value_expr: str, d_expr: str, width: int) -> str:
    """DuckDB replay of :func:`_bucket` for the driver oracles."""
    from ._hash import md5_int_sql

    h = md5_int_sql(
        f"concat_ws('|', CAST({d_expr} AS VARCHAR), CAST({value_expr} AS VARCHAR))"
    )
    return f"(({h}) % {int(width)})"


@spark_transform("cms_sketch", category="sketch", streaming_ok=False)
def cms_sketch(
    df: DataFrame,
    column: str,
    group_by=None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Per-group Count-Min sketch of ``column``'s value frequencies:
    ``(group keys…, CMS_DEPTH, CMS_WIDTH, CMS_N, CMS)`` where ``CMS`` is
    the depth·width counter grid flattened row-major (array<bigint>) and
    ``CMS_N`` is the number of non-null insertions. Persist the output as
    the slim mergeable state. NULL values are skipped (not counted) — a
    group whose values are ALL null therefore emits NO sketch row (not a
    zero sketch); consumers that need every group should left-join the
    sketch frame and treat a missing row as EST 0.
    """
    _check_shape(depth, width)
    c = resolve_col(df, column)
    keys = resolve_cols(df, as_list(group_by))
    clash = {"CMS", "CMS_DEPTH", "CMS_WIDTH", "CMS_N"} & set(keys)
    if clash:
        raise ParameterException(
            f"group columns {sorted(clash)} collide with the sketch-frame "
            "schema — rename them first"
        )
    vstr = F.col(c).cast("string")
    pairs = (
        df.filter(F.col(c).isNotNull())
        .select(
            *keys,
            vstr.alias("__v"),
            F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("__d"),
        )
        .select(
            *keys,
            (F.col("__d") * width + _bucket(F.col("__v"), F.col("__d"), width))
            .cast("int")
            .alias("__pos"),
        )
    )
    counts = pairs.groupBy(*keys, "__pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("__pos"), F.col("__cnt")))
    )
    # N = total insertions = sum of row-0 counters (each value hits row 0 once)
    n = F.sum(F.when(F.col("__pos") < width, F.col("__cnt"))).cast("bigint")
    assembled = counts.groupBy(*keys).agg(m.alias("__m"), n.alias("CMS_N"))
    grid = F.transform(
        F.sequence(F.lit(0), F.lit(int(depth) * int(width) - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("int")), F.lit(0).cast("bigint")
        ),
    )
    return assembled.select(
        *keys,
        F.lit(int(depth)).alias("CMS_DEPTH"),
        F.lit(int(width)).alias("CMS_WIDTH"),
        F.coalesce(F.col("CMS_N"), F.lit(0).cast("bigint")).alias("CMS_N"),
        grid.alias("CMS"),
    )


@spark_transform("cms_merge", category="sketch", streaming_ok=False)
def cms_merge(df: DataFrame, group_by=None) -> DataFrame:
    """Union CMS rows to a coarser grouping (per-shard → per-day → global):
    counter grids add elementwise, ``CMS_N`` adds. PRECONDITION: every row
    being merged must share one (CMS_DEPTH, CMS_WIDTH) shape — the output
    carries ``SHAPE_OK`` (boolean) so a mixed-shape merge is detectable
    instead of silently wrong. The rollup never touches raw data.
    """
    for req in ("CMS", "CMS_DEPTH", "CMS_WIDTH", "CMS_N"):
        if req not in df.columns:
            raise ParameterException(
                f"cms_merge expects a cms_sketch output frame (missing {req})"
            )
    keys = resolve_cols(df, as_list(group_by))
    # zero vector sized from the (shared-by-precondition) first shape;
    # first()/collect_list() are sibling aggregates, not nested ones
    zero = F.transform(
        F.sequence(F.lit(1), F.first("CMS_DEPTH") * F.first("CMS_WIDTH")),
        lambda _: F.lit(0).cast("bigint"),
    )
    merged = F.aggregate(
        F.collect_list("CMS"),
        zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    out = df.groupBy(*keys).agg(
        F.first("CMS_DEPTH").alias("CMS_DEPTH"),
        F.first("CMS_WIDTH").alias("CMS_WIDTH"),
        (
            (F.count_distinct(F.col("CMS_DEPTH")) == 1)
            & (F.count_distinct(F.col("CMS_WIDTH")) == 1)
        ).alias("SHAPE_OK"),
        F.sum("CMS_N").cast("bigint").alias("CMS_N"),
        merged.alias("CMS"),
    )
    return out.select(
        *keys, "CMS_DEPTH", "CMS_WIDTH", "CMS_N", "CMS", "SHAPE_OK"
    )


@spark_transform("cms_estimate", category="sketch", streaming_ok=False)
def cms_estimate(df: DataFrame, values) -> DataFrame:
    """Point-frequency estimates from a CMS frame (``cms_sketch`` /
    ``cms_merge`` output): one row per (group row × query value) with
    ``VALUE`` and ``EST`` = min over the depth counters — ≥ the true count,
    within ``e·CMS_N/width`` of it with probability ``1 − e^−depth``.
    Row-local array lookups, shuffle-free.
    """
    vals = [str(v) for v in as_list(values)]
    if not vals:
        raise ParameterException("cms_estimate requires at least one value")
    if "CMS" not in df.columns:
        raise ParameterException(
            "cms_estimate expects a cms_sketch/cms_merge output frame"
        )
    if {"VALUE", "EST"} & set(df.columns):
        raise ParameterException(
            "input already has a VALUE/EST column — rename it first"
        )
    keys = [
        c
        for c in df.columns
        if c not in ("CMS", "CMS_DEPTH", "CMS_WIDTH", "CMS_N", "SHAPE_OK")
    ]
    w = F.col("CMS_WIDTH")
    est = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.col("CMS_DEPTH") - 1),
            lambda d: F.element_at(
                F.col("CMS"),
                (
                    d * w
                    + F.pmod(
                        md5_int(
                            F.concat_ws("|", d.cast("string"), F.col("VALUE"))
                        ),
                        w,
                    )
                    + 1
                ).cast("int"),
            ),
        )
    )
    return (
        df.withColumn(
            "VALUE", F.explode(F.array(*[F.lit(v) for v in vals]))
        )
        .withColumn("EST", est.cast("bigint"))
        .select(*keys, "CMS_N", "VALUE", "EST")
    )


class CMSIndex:
    """Persisted per-group frequency index: one CMS row per group, the
    mergeable cross-job form of :func:`cms_sketch`. Build on the corpus-
    refresh cadence, :func:`update_cms_index` per ingest batch — update
    cost is the NEW batch's sketch plus a |groups|-row elementwise sum;
    the raw history is never rescanned. Counter addition is exact, so an
    incrementally-maintained index is BIT-IDENTICAL to a full rebuild
    (pinned in tests). ``release()`` unpersists the frame; save/load
    follow the artifact contract in ``_artifact.py``."""

    def __init__(self, sketches: DataFrame, depth: int, width: int,
                 column: str, group_by):
        self.sketches = sketches
        self.depth = int(depth)
        self.width = int(width)
        self.column = column
        self.group_by = list(group_by or [])

    def release(self) -> None:
        from ._cache import release_now

        release_now(self.sketches)


def cms_index(df: DataFrame, column: str, group_by=None, depth: int = 4,
              width: int = 256) -> CMSIndex:
    """Build a :class:`CMSIndex` (one aggregate; frame persisted for
    multi-probe reuse)."""
    from ._cache import scoped_persist

    _check_shape(depth, width)
    sk = scoped_persist(
        cms_sketch(df, column, group_by=group_by, depth=depth, width=width)
    )
    sk.count()  # materialize now: a later first-compute would re-read
    # (possibly rewritten) sources in a refresh loop
    return CMSIndex(sk, depth, width, column, as_list(group_by))


def update_cms_index(index: CMSIndex, new_rows: DataFrame) -> CMSIndex:
    """Fold an ingest batch into an existing :class:`CMSIndex`: sketch the
    batch at the index's shape, add counters per group (exact — the state
    equals a full rebuild over the combined data). Returns a NEW index;
    the old one remains usable."""
    from ._cache import scoped_persist

    batch = cms_sketch(new_rows, index.column, group_by=index.group_by,
                       depth=index.depth, width=index.width)
    merged = cms_merge(
        index.sketches.unionByName(batch), index.group_by
    ).drop("SHAPE_OK")  # shapes match by construction (same index params)
    merged = scoped_persist(merged)
    merged.count()
    return CMSIndex(merged, index.depth, index.width, index.column,
                    index.group_by)


def save_cms_index(index: CMSIndex, path: str) -> str:
    """Persist a :class:`CMSIndex` (artifact contract: ``_artifact``)."""
    return save_artifact(
        path, "cms", {"sketches": index.sketches}, depth=index.depth,
        width=index.width, column=index.column, group_by=index.group_by,
    )


def load_cms_index(spark, path: str, persist: bool = True) -> CMSIndex:
    """Load a :func:`save_cms_index` artifact."""
    art = load_artifact(spark, path, "cms")
    (sk,) = art.read("sketches", persist=persist)
    s = art.state
    return CMSIndex(sk, s["depth"], s["width"], s["column"], s["group_by"])


def _bucket_spark_sql(value_expr: str, d_expr: str, width) -> str:
    """Spark-SQL text of :func:`_bucket` (md5 → first-8-hex → bigint)."""
    h = (
        f"CAST(conv(substring(md5(concat_ws('|', CAST({d_expr} AS STRING), "
        f"CAST({value_expr} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    return f"pmod({h}, {width})"


@renderer("cms_sketch")
def _r_cms_sketch(source, column, group_by=None, depth=4, width=256,
                  _input_columns=()) -> str:
    _check_shape(depth, width)
    keys = as_list(group_by)
    part = ", ".join(keys)
    kcomma = f"{part}, " if keys else ""
    grp = f" GROUP BY {part}" if keys else ""
    d, w = int(depth), int(width)
    pos = (
        f"CAST(__d * {w} + {_bucket_spark_sql(column, '__d', w)} AS INT)"
    )
    pairs = (
        f"(SELECT {kcomma}{pos} AS __pos "
        f"FROM (SELECT {kcomma}{column}, "
        f"explode(sequence(0, {d - 1})) AS __d "
        f"FROM {source} WHERE {column} IS NOT NULL))"
    )
    cnt = (
        f"(SELECT {kcomma}__pos, CAST(COUNT(1) AS BIGINT) AS __cnt "
        f"FROM {pairs} GROUP BY {kcomma}__pos)"
    )
    inner = (
        f"(SELECT {kcomma}"
        f"CAST(COALESCE(SUM(CASE WHEN __pos < {w} THEN __cnt END), 0) "
        f"AS BIGINT) AS CMS_N, "
        f"map_from_entries(collect_list(struct(__pos, __cnt))) AS __m "
        f"FROM {cnt}{grp})"
    )
    return (
        f"SELECT {kcomma}{d} AS CMS_DEPTH, {w} AS CMS_WIDTH, CMS_N, "
        f"transform(sequence(0, {d * w - 1}), "
        f"i -> COALESCE(element_at(__m, CAST(i AS INT)), CAST(0 AS BIGINT))) "
        f"AS CMS FROM {inner}"
    )


@renderer("cms_merge")
def _r_cms_merge(source, group_by=None, _input_columns=()) -> str:
    keys = as_list(group_by)
    part = ", ".join(keys)
    kcomma = f"{part}, " if keys else ""
    grp = f" GROUP BY {part}" if keys else ""
    inner = (
        f"(SELECT {kcomma}first(CMS_DEPTH) AS CMS_DEPTH, "
        f"first(CMS_WIDTH) AS CMS_WIDTH, "
        f"(COUNT(DISTINCT CMS_DEPTH) = 1 AND COUNT(DISTINCT CMS_WIDTH) = 1) "
        f"AS SHAPE_OK, "
        f"CAST(SUM(CMS_N) AS BIGINT) AS CMS_N, collect_list(CMS) AS __l "
        f"FROM {source}{grp})"
    )
    merged = (
        "aggregate(__l, "
        "transform(sequence(1, CMS_DEPTH * CMS_WIDTH), x -> CAST(0 AS BIGINT)), "
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b))"
    )
    return (
        f"SELECT {kcomma}CMS_DEPTH, CMS_WIDTH, CMS_N, {merged} AS CMS, "
        f"SHAPE_OK FROM {inner}"
    )


@renderer("cms_estimate")
def _r_cms_estimate(source, values, _input_columns=()) -> str:
    vals = [str(v) for v in as_list(values)]
    if not vals:
        raise ParameterException("cms_estimate requires at least one value")
    keys = [
        c for c in _input_columns
        if c not in ("CMS", "CMS_DEPTH", "CMS_WIDTH", "CMS_N", "SHAPE_OK")
    ]
    kcomma = (", ".join(keys) + ", ") if keys else ""
    lits = ", ".join("'%s'" % v.replace("'", "''") for v in vals)
    idx = (
        f"CAST(d * CMS_WIDTH + "
        f"{_bucket_spark_sql('VALUE', 'd', 'CMS_WIDTH')} + 1 AS INT)"
    )
    est = (
        f"CAST(array_min(transform(sequence(0, CMS_DEPTH - 1), "
        f"d -> element_at(CMS, {idx}))) AS BIGINT)"
    )
    return (
        f"SELECT {kcomma}CMS_N, VALUE, {est} AS EST FROM "
        f"(SELECT *, explode(array({lits})) AS VALUE FROM {source})"
    )
