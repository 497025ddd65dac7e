"""Similarity search over embedding columns (north-star extension;
SURVEY §7.2 M7): brute-force cosine top-k as the exact baseline, an
LSH-bucketed variant as the scale path.

Scale notes: the query side is assumed small relative to the corpus and is
broadcast — the corpus never shuffles. Cosine is computed with JVM array
expressions (zip_with + aggregate) in double precision; no Python UDF in the
hot path. The LSH variant prunes the corpus per query to matching
hyperplane-sign buckets, trading recall for a ~2^planes fan-in reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col, spread
from ..registry import renderer, spark_transform
from ._artifact import check_fingerprint, load_artifact, save_artifact
from ._cache import release_now, release_with, scoped_persist
from ._litfast import centroid_array_lit
from .dedup import _cosine_sql, _hyperplane_sign, _sql_id_literal, cosine_expr


@spark_transform("similarity_search", category="similarity", streaming_ok=False)
def similarity_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame | None = None,
    query_ids=None,
    k: int = 10,
    method: str = "brute",
    num_planes: int = 6,
    round_scores: int | None = 6,
) -> DataFrame:
    """Top-k nearest corpus rows per query by cosine similarity.

    Queries come either as a DataFrame (same vec/id columns) or as
    ``query_ids`` selecting rows of the corpus itself. method='brute' scans
    the whole corpus per query (exact); method='lsh' compares only rows in
    the query's hyperplane-sign bucket (approximate, may return <k).
    Output (QUERY_ID, MATCH_ID, COSINE, RANK) excluding self-matches.
    """
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    corpus = spread(df).select(F.col(i).alias("MATCH_ID"), F.col(v).alias("__cvec"))
    if queries is None:
        if query_ids is None:
            raise ParameterException("pass queries or query_ids")
        qdf = df.filter(F.col(i).isin(list(query_ids)))
    else:
        qdf = queries
    q = qdf.select(
        F.col(resolve_col(qdf, i)).alias("QUERY_ID"),
        F.col(resolve_col(qdf, v)).alias("__qvec"),
    )
    if method == "brute":
        joined = corpus.crossJoin(F.broadcast(q))
    elif method == "lsh":
        csig = F.concat_ws(
            "", *[_hyperplane_sign(F.col("__cvec"), j).cast("string") for j in range(num_planes)]
        )
        qsig = F.concat_ws(
            "", *[_hyperplane_sign(F.col("__qvec"), j).cast("string") for j in range(num_planes)]
        )
        joined = corpus.withColumn("__sig", csig).join(
            F.broadcast(q.withColumn("__sig", qsig)), on="__sig"
        )
    else:
        raise ParameterException("method must be 'brute' or 'lsh'")
    cos = cosine_expr(F.col("__qvec"), F.col("__cvec"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    scored = (
        joined.filter(F.col("QUERY_ID") != F.col("MATCH_ID"))
        .withColumn("COSINE", cos)
    )
    w = Window.partitionBy("QUERY_ID").orderBy(F.col("COSINE").desc(), F.col("MATCH_ID").asc())
    return (
        scored.withColumn("RANK", F.row_number().over(w))
        .filter(F.col("RANK") <= k)
        .select("QUERY_ID", "MATCH_ID", "COSINE", "RANK")
    )


def _with_normalized(df: DataFrame, vec_col: str, out_col: str = "__nvec") -> DataFrame:
    """Append a unit-normalized copy of an array column. The norm is staged
    in its own column and referenced twice downstream, which stops
    CollapseProject from re-inlining the fold into the per-element lambda
    (the round-1 HOF staging lesson). After normalization, cosine == dot —
    every downstream pairwise score drops from dot+2 norms to one dot."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        df.withColumn("__vnorm", norm)
        .withColumn(
            out_col,
            F.when(
                F.col("__vnorm") > 0,
                F.transform(v, lambda x: x.cast("double") / F.col("__vnorm")),
            ).otherwise(F.transform(v, lambda x: F.lit(0.0))),
        )
        .drop("__vnorm")
    )


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _centroid_array(cents: list) -> "F.Column":
    """[(cid, [floats])] → literal array<struct<c, v>> — k·dim literals, tiny
    for any sane centroid count; embedding it makes assignment a pure
    shuffle-free projection (the corpus never joins or explodes).

    Built as ONE ``F.expr`` SQL string instead of per-element ``F.lit``
    Column calls: each Column op is a py4j round trip, and k·dim of them
    (2,752 at sf0.1's auto-k) cost ~1.4 s of pure driver-side plan
    construction PER CALL — measured as ~85% of update_ivf_index's bench
    time and a large share of every inline-fit IVF entry
    (bench/results/creep_breakdown.json). The parsed expression tree is
    value- and schema-identical (double literals round-trip via repr), so
    plans, results, and semanticHash-based caching are unaffected."""
    return centroid_array_lit(cents, id_type="bigint")


def _sims_expr(cents, nvec_col: str = "__nvec"):
    """array<struct<s: sim, nc: -cid>> per row — one dot per centroid.
    ``cents`` is either the Python centroid list (embedded as literals) or a
    Column already holding the array<struct<c, v>> (broadcast fallback)."""
    carr = cents if isinstance(cents, Column) else _centroid_array(cents)
    return F.transform(
        carr,
        lambda ce: F.struct(
            _dot(F.col(nvec_col), ce["v"]).alias("s"), (-ce["c"]).alias("nc")
        ),
    )


def _argmax_cid(cents, nvec_col: str = "__nvec"):
    """cid of the highest-cosine centroid (ties → lowest cid via -cid max)."""
    best = F.array_max(_sims_expr(cents, nvec_col))
    return (-best["nc"]).cast("bigint")


# Above this many centroids the literal-array plan grows linearly with k
# (100 TB corpora want k in the thousands); switch to a one-row broadcast.
IVF_LITERAL_CENTROID_MAX = 256


def _resolve_k(num_centroids, n: int) -> int:
    """``num_centroids='auto'`` → ``max(8, ceil(sqrt(n)))`` — the standard
    IVF sizing (k ≈ √n balances list length n/k against probe cost k), so
    the index keeps its corpus×nprobe/k candidate bound as the corpus
    grows instead of relying on a hand-tuned constant. Auto-k rides the
    existing >``IVF_LITERAL_CENTROID_MAX`` one-row-broadcast fallback, so
    the plan stays O(1) in k at any corpus size (√10^10 ≈ 10^5 centroids)."""
    if isinstance(num_centroids, str):
        if num_centroids != "auto":
            raise ParameterException("num_centroids must be an int or 'auto'")
        import math

        return max(8, math.ceil(math.sqrt(max(n, 0))))
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    return int(num_centroids)


def _resolve_nprobe(nprobe, k: int) -> int:
    """``nprobe='auto'`` → ``min(k, max(4, ceil(sqrt(k))))`` — probe count
    grows with the list count (√k keeps the probed fraction shrinking as
    k grows while candidates-per-query ~ n^(3/4) stays sublinear); a fixed
    nprobe with auto-k would silently shrink recall as the corpus grows."""
    if isinstance(nprobe, str):
        if nprobe != "auto":
            raise ParameterException("nprobe must be an int or 'auto'")
        import math

        return min(k, max(4, math.ceil(math.sqrt(k))))
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    return int(nprobe)


def _attach_centroids(df: DataFrame, cents: list):
    """Make the centroid array available to per-row expressions; returns
    ``(df, centroid_array, drop_cols)``.

    k ≤ IVF_LITERAL_CENTROID_MAX: embed k·dim literals — assignment stays a
    pure shuffle-free projection with zero join.
    k > max: ship the centroids as a ONE-ROW broadcast crossJoin instead —
    the corpus still never shuffles (broadcast nested-loop against a single
    row) and plan size stays O(1) in k."""
    if len(cents) <= IVF_LITERAL_CENTROID_MAX:
        return df, _centroid_array(cents), []
    cent_df = df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "c bigint, v array<double>",
    )
    one_row = cent_df.agg(F.collect_list(F.struct("c", "v")).alias("__cents"))
    return df.crossJoin(F.broadcast(one_row)), F.col("__cents"), ["__cents"]


def _probe_lists(qdf: DataFrame, cents, nprobe: int, id_col: str, nvec_col: str) -> DataFrame:
    """Explode each query row to its ``nprobe`` nearest inverted-list ids:
    ``(id_col, nvec_col, __cid)`` — one row per (query, probed centroid).
    Probe selection is a shuffle-free sort+slice over the per-row sims
    array (struct sort: sim desc, ties → lowest cid because nc = -cid).
    Shared by similarity_search_ivf / embedding_join_ivf /
    dedup_against_embedding so probe semantics (including the
    >256-centroid broadcast fallback) can never diverge between them."""
    qbase, qcarr, _qd = _attach_centroids(qdf, cents)
    return qbase.select(
        id_col, nvec_col,
        F.explode(
            F.slice(F.sort_array(_sims_expr(qcarr, nvec_col), asc=False), 1, nprobe)
        ).alias("__p"),
    ).select(id_col, nvec_col, (-F.col("__p")["nc"]).cast("bigint").alias("__cid"))


def _norm_py(vec: list) -> list:
    s = sum(x * x for x in vec) ** 0.5
    return [x / s for x in vec] if s > 0 else [0.0 for _ in vec]


def _elementwise_mean(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Per-group elementwise mean of array columns via posexplode →
    (group, pos) average → re-assemble sorted by position. Distributed —
    no driver-side vector math."""
    exploded = df.select(group_col, F.posexplode(vec_col).alias("__pos", "__v"))
    return (
        exploded.groupBy(group_col, "__pos")
        .agg(F.avg(F.col("__v").cast("double")).alias("__m"))
        .groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                lambda s: s["__m"],
            ).alias(vec_col)
        )
    )


@spark_transform("build_ivf_index", category="similarity", streaming_ok=False)
def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int | str = "auto",
    iterations: int = 1,
) -> DataFrame:
    """IVF inverted-list index: (id, vec, centroid_id) with k-means-lite
    centroids (deterministic seed = lowest-id vectors, ``iterations`` Lloyd
    refinement passes). ``num_centroids="auto"`` (default) sizes
    k = max(8, ceil(√n)) from the corpus count — see ``_resolve_k``.

    100 TB design: vectors are unit-normalized ONCE (cosine becomes a plain
    dot); the k centroids are collected to the driver (k·dim floats — a
    bounded action like the discovery caps) and embedded as a literal array,
    so every assignment pass is a shuffle-free projection — the corpus never
    joins, explodes, or shuffles for assignment. Only the Lloyd re-average
    shuffles, and it ships slim (cid, pos, value) triples. Above
    ``IVF_LITERAL_CENTROID_MAX`` (256) centroids the literal plan would grow
    linearly with k, so the centroid array ships as a one-row broadcast
    instead — same shuffle-free corpus, O(1) plan size.
    """
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    indexed, _, cached = _ivf_assign(df, vec_col, id_col, num_centroids, iterations)
    out = indexed.select(
        F.col("__id").alias(i), F.col("__vec").alias(v), "CENTROID_ID"
    )
    return release_with(out, cached)


def _ivf_assign(df, vec_col, id_col, num_centroids, iterations):
    """(normalized corpus with CENTROID_ID, centroid list, scoped cache) —
    shared by build_ivf_index and similarity_search_ivf. The normalized
    corpus is persisted ONCE and reused by the seed collect, every Lloyd
    pass, and the final assignment (5 consumers otherwise recompute the
    normalization fold per pass); callers release it with the result."""
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    cached = scoped_persist(_with_normalized(
        spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec")), "__vec"
    ))
    if isinstance(num_centroids, str):
        # auto-k needs the corpus size; the count doubles as the cache
        # materialization the seed collect would otherwise pay
        num_centroids = _resolve_k(num_centroids, cached.count())
    else:
        num_centroids = _resolve_k(num_centroids, 0)
    seeds = cached.orderBy("__id").limit(num_centroids).select("__nvec").collect()
    cents = [(j, list(r["__nvec"])) for j, r in enumerate(seeds)]
    for _ in range(iterations):
        abase, carr, _adrop = _attach_centroids(cached, cents)
        assigned = abase.withColumn("__cid", _argmax_cid(carr))
        # per-(cid, pos) averages collect as k·dim rows (bounded); the final
        # re-assembly happens on the driver — skips a second shuffle round
        rows = (
            assigned.select("__cid", F.posexplode("__nvec").alias("__pos", "__v"))
            .groupBy("__cid", "__pos")
            .agg(F.avg("__v").alias("__m"))
            .collect()
        )
        acc: dict = {}
        for r in rows:
            acc.setdefault(r["__cid"], {})[r["__pos"]] = r["__m"]
        cents = [
            (cid, _norm_py([d[p] for p in range(len(d))]))
            for cid, d in sorted(acc.items())
        ]
    fbase, fcarr, fdrop = _attach_centroids(cached, cents)
    final = fbase.withColumn("CENTROID_ID", _argmax_cid(fcarr)).drop(*fdrop)
    return final, cents, cached


class IVFIndex:
    """Reusable IVF index: the persisted (id, normalized-vector, centroid)
    frame plus the centroid list. Build ONCE with ``ivf_index`` and pass to
    any number of ``similarity_search_ivf`` calls — the production shape:
    index build is the expensive phase (seed collect + Lloyd pass);
    per-query search is a broadcast probe join over the cached frame.
    ``release()`` unpersists the frame; save/load follow the artifact
    contract in ``_artifact.py``. ``n_docs`` is the corpus-size
    fingerprint (rows indexed at build/update time; see
    ``_artifact.check_fingerprint``)."""

    def __init__(self, frame: DataFrame, centroids: list, n_docs: int | None = None):
        self.frame = frame
        self.centroids = centroids
        self.n_docs = n_docs

    def release(self) -> None:
        release_now(self.frame)


def ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int | str = "auto",
    iterations: int = 1,
) -> IVFIndex:
    """Build a reusable ``IVFIndex`` (see class doc). The internal frame
    stays persisted until ``release()`` — deliberate: amortizing the build
    across searches is the point."""
    final, cents, cached = _ivf_assign(df, vec_col, id_col, num_centroids, iterations)
    final = scoped_persist(final)
    # materialize once; searches reuse the assignment. The count doubles as
    # the corpus fingerprint, taken off the cached frame so it cannot drift
    # from the rows actually indexed.
    n = final.count()
    release_now(cached)
    return IVFIndex(final, cents, n_docs=n)


def save_ivf_index(index: IVFIndex, path: str) -> str:
    """Persist an :class:`IVFIndex` (artifact contract: ``_artifact``); the
    centroid list rides in the manifest."""
    return save_artifact(
        path, "ivf", {"frame": index.frame.select("__id", "__nvec", "CENTROID_ID")},
        centroids=index.centroids, n_docs=index.n_docs,
    )


def load_ivf_index(spark, path: str, persist: bool = True) -> IVFIndex:
    """Load a :func:`save_ivf_index` artifact. ``persist`` pins the frame
    for multi-search reuse (call ``release()`` when done)."""
    art = load_artifact(spark, path, "ivf")
    (frame,) = art.read("frame", persist=persist)
    cents = [(int(c), v) for c, v in art.state["centroids"]]
    return IVFIndex(frame, cents, n_docs=art.state["n_docs"])


def update_ivf_index(
    index: IVFIndex,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
) -> IVFIndex:
    """Fold a batch of new vectors into an existing :class:`IVFIndex`
    without re-fitting — the corpus-refresh step of the incremental ANN
    loop (same lifecycle as update_minhash_index / update_bloom_index).

    Only the new batch pays normalization + assignment, and it assigns
    against the index's EXISTING centroids (no Lloyd pass), so per-batch
    cost is independent of corpus size; searches against the returned
    index see the union. Centroids drift from the true k-means of the
    grown corpus over time — rebuild with :func:`ivf_index` on the
    major-refresh cadence (the standard IVF practice). Vector ids must
    stay unique across increments (caller contract). Returns a NEW index;
    the old one remains usable — ``release()`` whichever you keep.
    """
    v, i = resolve_col(new_vecs, vec_col), resolve_col(new_vecs, id_col)
    # dimension guard (mirrors update_ivfpq_index): a mismatched batch
    # would zip_with against the centroids into NULL sims and land every
    # row on a NULL centroid id — silently unsearchable, not an error
    first = new_vecs.select(F.size(F.col(v)).alias("d")).first()
    if first is not None and index.centroids and int(first["d"]) != len(index.centroids[0][1]):
        raise ParameterException(
            f"batch vectors have dim {int(first['d'])} but the index was "
            f"built over dim {len(index.centroids[0][1])}"
        )
    nbase = _with_normalized(
        spread(new_vecs).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    )
    abase, carr, adrop = _attach_centroids(nbase, index.centroids)
    assigned = abase.withColumn("CENTROID_ID", _argmax_cid(carr)).drop(*adrop)
    cols = ["__id", "__nvec", "CENTROID_ID"]
    merged = scoped_persist(index.frame.select(*cols).unionByName(assigned.select(*cols)))
    # eager materialization, NOT lazy-first-compute: a later search must
    # never re-read a possibly-rewritten source for the batch rows (the
    # update_minhash_index lesson); the count doubles as the fingerprint
    n = merged.count()
    return IVFIndex(merged, index.centroids, n_docs=n)


@spark_transform("embedding_join_ivf", category="similarity", streaming_ok=False)
def embedding_join_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    other=None,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    num_centroids: int | str = "auto",
    nprobe: int | str = "auto",
    right_prefix: str = "MATCH_",
    round_scores: int | None = 6,
    rounded: bool = False,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """ANN semantic join: attach each left row's top-``k`` most-similar
    rows from ``other`` (or a prebuilt ``index``) by embedding cosine,
    probing only the ``nprobe`` nearest IVF inverted lists per left row —
    the join-shaped form of ``similarity_search_ivf`` and the scale path
    where ``embedding_join(method='brute')`` would broadcast-scan the full
    right corpus per left row. Appends ``{right_prefix}ID``, ``COSINE``,
    ``RANK`` (approximate recall; left rows with no candidate drop — an
    inner join, matching embedding_join).

    100 TB shape: candidates form by an equi-join on CENTROID_ID — the
    corpus side carries corpus/num_centroids rows per key and the query
    side |left|·nprobe slim (id, nvec) rows, so per-left-row cost is
    corpus × nprobe / num_centroids. ``num_centroids`` must grow with the
    corpus; the default ``"auto"`` sizes it as max(8, ceil(√n)) — the
    standard IVF sizing — and ``nprobe="auto"`` follows with
    max(4, ceil(√k)), so recall does not silently shrink as the corpus
    grows (see ``_resolve_k``/``_resolve_nprobe``). num_centroids is also
    the join's key cardinality, so it sets the shuffle parallelism
    ceiling; IVF list sizes are naturally imbalanced (hot centroids =
    dense embedding regions), and the candidate join is AQE-skew-eligible
    (no broadcast hint on the probe side — see test_plans.py). Above 256
    centroids the probe-selection array ships as a one-row broadcast
    (plan size O(1) in k). With a prebuilt ``index`` the expensive fit is
    amortized across batches and ``other`` is not needed.

    Matches with ``{right_prefix}ID`` equal to the left row's id are
    excluded (and NULL ids never join) — consistent with embedding_join /
    similarity_search's self-match rule. For cross-corpus joins where the
    two id namespaces can coincide, remap one side's ids first (a
    coincidentally equal right id would otherwise be dropped).

    ``rounded=True`` (round 9, opt-in) swaps the unrounded fit for the
    kmeans_cluster rounded-determinism contract so the join replays
    exactly in SQL — this mode has a ``.sql()`` renderer and a DuckDB
    hash oracle (dbt/SQL parity for an ANN join). Inline-only (``index``
    must be None), explicit int sizing required to render, same join
    shape and AQE-skew eligibility as the default.
    """
    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    if rounded:
        if index is not None:
            raise ParameterException(
                "rounded=True is the replayable inline mode; prebuilt "
                "IVFIndex artifacts hold the unrounded fit"
            )
        if round_scores is None:
            raise ParameterException(
                "rounded=True scores by the rounded replay contract; "
                "round_scores must be an int"
            )
        if odf is None:
            raise ParameterException(
                "embedding_join_ivf needs a right-side frame (other=...)"
            )
        return _embedding_join_ivf_rounded(
            df, v, i, odf, other_vec or vec_col, other_id or id_col, k,
            num_centroids, nprobe, right_prefix, round_scores,
        )
    if index is not None:
        check_fingerprint(index, odf, "vectors", side="right-side")
        idx, cents, cached = index.frame, index.centroids, None
    else:
        if odf is None:
            raise ParameterException(
                "embedding_join_ivf needs a right-side frame (other=...) or "
                "a prebuilt IVFIndex"
            )
        ov = resolve_col(odf, other_vec or vec_col)
        oi = resolve_col(odf, other_id or id_col)
        idx, cents, cached = _ivf_assign(odf, ov, oi, num_centroids, iterations=1)
    nprobe = _resolve_nprobe(nprobe, len(cents))
    q = _with_normalized(
        spread(df).select(F.col(i).alias("QUERY_ID"), F.col(v).alias("__qvec")),
        "__qvec", "__qnvec",
    )
    probes = _probe_lists(q, cents, nprobe, "QUERY_ID", "__qnvec")
    cos = _dot(F.col("__qnvec"), F.col("__nvec"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    scored = (
        idx.select(
            F.col("__id").alias(f"{right_prefix}ID"), "__nvec",
            F.col("CENTROID_ID").alias("__cid"),
        )
        .join(probes, on="__cid")
        .filter(F.col("QUERY_ID") != F.col(f"{right_prefix}ID"))
        .withColumn("COSINE", cos)
    )
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("COSINE").desc(), F.col(f"{right_prefix}ID").asc()
    )
    matches = (
        scored.withColumn("RANK", F.row_number().over(w))
        .filter(F.col("RANK") <= k)
        .select(
            F.col("QUERY_ID").alias(i), f"{right_prefix}ID", "COSINE", "RANK"
        )
    )
    out = df.join(matches, on=i, how="inner")
    return out if cached is None else release_with(out, cached)


def _embedding_join_ivf_rounded(df, v, i, odf, ov, oi, k, num_centroids,
                                nprobe, right_prefix, round_to):
    """Replayable ANN join: rounded kmeans over the right side (one Lloyd
    pass, the shared _fit_kmeans contract), rounded probe selection for
    every left row, rounded dot scoring over probed lists. Join shape and
    skew posture match the unrounded path: probe frame equi-joins the
    assigned corpus on the centroid id with no broadcast hint, so AQE can
    split hot inverted lists. MIRROR NOTE: see
    _similarity_search_ivf_rounded — the contract primitives are shared
    single definitions; the composition glue is deliberately repeated in
    the join shape."""
    from .cluster import _fit_kmeans, _unit_rounded
    from .cluster import _assign_expr as _rounded_assign
    from .pq import _probe_lists_rounded

    ov, oi = resolve_col(odf, ov), resolve_col(odf, oi)
    cached = scoped_persist(_unit_rounded(
        spread(odf).select(F.col(oi).alias("__id"), F.col(ov).alias("__vec")),
        "__vec",
    ))
    kc = (
        _resolve_k(num_centroids, cached.count())
        if isinstance(num_centroids, str) else _resolve_k(num_centroids, 0)
    )
    cents = _fit_kmeans(cached, kc, 1, round_to)
    nprobe = _resolve_nprobe(nprobe, len(cents))
    abase, carr, _ad = _attach_centroids(cached, cents)
    asg = abase.withColumn("__cid", _rounded_assign(carr, round_to)).select(
        "__id", "__u", "__cid"
    )
    q = _unit_rounded(
        df.select(F.col(i).alias("QUERY_ID"), F.col(v).alias("__qvec")),
        "__qvec", "__qu",
    ).select("QUERY_ID", "__qu")
    probes = _probe_lists_rounded(
        q, cents, nprobe, "QUERY_ID", "__qu", round_to
    )
    scored = (
        asg.select(F.col("__id").alias(f"{right_prefix}ID"), "__u", "__cid")
        .join(probes, on="__cid")
        .filter(F.col("QUERY_ID") != F.col(f"{right_prefix}ID"))
        .withColumn(
            "COSINE", F.round(_dot(F.col("__qu"), F.col("__u")), round_to)
        )
    )
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("COSINE").desc(), F.col(f"{right_prefix}ID").asc()
    )
    matches = (
        scored.withColumn("RANK", F.row_number().over(w))
        .filter(F.col("RANK") <= k)
        .select(
            F.col("QUERY_ID").alias(i), f"{right_prefix}ID", "COSINE", "RANK"
        )
    )
    return release_with(df.join(matches, on=i, how="inner"), cached)


@renderer("embedding_join_ivf")
def _r_embedding_join_ivf(source, vec_col, id_col, other=None,
                          other_vec=None, other_id=None, k=1,
                          num_centroids="auto", nprobe="auto",
                          right_prefix="MATCH_", round_scores=6,
                          rounded=False, index=None) -> str:
    """Renders ONLY ``rounded=True`` with a named right-side table — the
    default unrounded fit stays the documented exclusion. Same composition
    as the similarity_search_ivf renderer with the fit over ``other`` and
    the probes over every left row."""
    from ..errors import TransformRenderingException
    from .cluster import _dot_sql, _kmeans_render_parts, _unit_norm_sql

    if not rounded or index is not None or other in (None, "<dataframe>"):
        raise TransformRenderingException(
            "embedding_join_ivf is SQL-renderable only with rounded=True "
            "and a named right-side table (the default unrounded contract "
            "would be ULP-flaky in replay; a prebuilt index is an external "
            "artifact)"
        )
    if isinstance(num_centroids, str) or isinstance(nprobe, str):
        raise TransformRenderingException(
            "auto sizing resolves from the corpus count at run time; pass "
            "explicit num_centroids/nprobe to render"
        )
    if round_scores is None:
        raise ParameterException("rounded=True requires an int round_scores")
    if k < 1:
        raise ParameterException("k must be >= 1")
    nv, kcents, kassign = _kmeans_render_parts(
        other, other_vec or vec_col, other_id or id_col, num_centroids, 1,
        round_scores, "embedding_join_ivf",
    )
    qnv = _unit_norm_sql(vec_col, id_col, source)
    sim = f"round({_dot_sql('t.__u', 's.v')}, {int(round_scores)})"
    mid = f"{right_prefix}ID"
    ctes = [
        f"__ivf_cents AS (SELECT c, v FROM {kcents})",
        f"__ivf_asg AS (SELECT __id, c FROM {kassign('__ivf_cents')})",
        (
            f"__ivf_q AS (SELECT __id AS qid, __u FROM {qnv} __ivf_qnv)"
        ),
        (
            f"__ivf_probe AS (SELECT __id AS qid, c FROM (SELECT t.__id, "
            f"s.c, ROW_NUMBER() OVER (PARTITION BY t.__id ORDER BY {sim} "
            f"DESC, s.c ASC) AS rn FROM (SELECT qid AS __id, __u "
            f"FROM __ivf_q) t CROSS JOIN __ivf_cents s) "
            f"WHERE rn <= {int(nprobe)})"
        ),
    ]
    cos = f"round({_dot_sql('q.__u', 't.__u')}, {int(round_scores)})"
    scored = (
        f"SELECT p.qid AS __qid, t.__id AS {mid}, {cos} AS COSINE "
        f"FROM {nv} t JOIN __ivf_asg a ON a.__id = t.__id "
        f"JOIN __ivf_probe p ON p.c = a.c "
        f"JOIN __ivf_q q ON q.qid = p.qid "
        f"WHERE t.__id <> p.qid"
    )
    ranked = (
        f"SELECT __qid, {mid}, COSINE, RANK FROM ("
        f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY __qid "
        f"ORDER BY COSINE DESC, {mid} ASC) AS INT) AS RANK "
        f"FROM ({scored})) WHERE RANK <= {int(k)}"
    )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT s.*, m.{mid}, m.COSINE, m.RANK FROM {source} s "
        f"JOIN ({ranked}) m ON m.__qid = s.{id_col}) __rivfj_out"
    )


@spark_transform("dedup_against_embedding", category="dedup", streaming_ok=False)
def dedup_against_embedding(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    reference: DataFrame | None = None,
    ref_vec: str | None = None,
    ref_id: str | None = None,
    threshold: float = 0.9,
    method: str = "brute",
    num_centroids: int | str = "auto",
    nprobe: int | str = "auto",
    mode: str = "filter",
    round_scores: int | None = 6,
    index=None,
    pq_m: int = 4,
    pq_codebook_size: int = 8,
    pq_iterations: int = 1,
    residual: bool = False,
    max_hamming: int = 6,
    n_words: int | None = None,
) -> DataFrame:
    """Incremental SEMANTIC dedup: drop (mode='filter') or score
    (mode='pairs') batch rows whose embedding is near-identical (cosine >=
    ``threshold``) to ANY vector in an existing REFERENCE corpus — the
    embedding-space member of the incremental family (exact fingerprints:
    ``dedup_against``/``dedup_against_bloom``; shingle LSH:
    ``dedup_against(method='minhash')``; this: paraphrase/reformat dups
    n-grams cannot see, against the accepted training set instead of
    within-batch).

    method='brute' (exact): the BATCH side broadcasts and the reference
    corpus streams through — the corpus never shuffles (the
    decontaminate_embedding shape with the big side reversed: here the
    reference is the large side and the batch is small by nature).
    method='ivf' (scale path, approximate recall): the batch probes its
    ``nprobe`` nearest inverted lists of an IVF index over the reference —
    per-batch cost ~ reference × nprobe / num_centroids, and with a
    prebuilt ``index`` (``ivf_index``/``load_ivf_index``, foldable with
    ``update_ivf_index``) the fit is amortized so per-batch cost is
    independent of reference size. ``num_centroids``/``nprobe`` default to
    ``"auto"`` (√n / √k — see ``_resolve_k``). mode='pairs' returns
    ``(ID, REF_ID, COSINE)`` for matches.

    If both ``reference`` and ``index`` are passed, the reference row
    count is checked against the index's ``n_docs`` fingerprint (same
    staleness contract as dedup_against + MinHashIndex).

    method='binary' (extreme-scale regime): both sides pack per-component
    signs into 32-bit words (``binary_quantize``) and a batch row is
    flagged when its HAMMING distance to ANY reference signature is <=
    ``max_hamming`` (Charikar's bound: expected Hamming ≈ dim·θ/π, so 6
    of 64 bits ≈ cosine 0.96) — at a billion reference vectors the whole
    signature table is 8 GB, the one semantic-dedup form whose reference
    state fits in executor memory outright. Integer-exact (full hash
    oracle + renderer, no rounding contract); mode='pairs' returns
    ``(ID, REF_ID, HAMMING)``. A prebuilt :class:`BinaryIndex`
    (``binary_index``/``load_binary_index``, foldable with
    ``update_binary_index`` — which, having no fitted state, matches a
    full rebuild EXACTLY, unlike the IVF/PQ updates) skips the per-batch
    reference re-pack: the reference read drops from full-width vectors
    to the 8-byte signatures. ``n_words`` (= ceil(dim/32); binary method
    only) is derived from the data by default; pass it explicitly so
    ``.sql()`` chains can both execute AND render (the renderer cannot
    see the data's dim) — it is validated against the derived value at
    execution, the ``binary_quantize`` contract. Dim guards sample the
    first row only (uniform-dim assumption — see
    :func:`similarity_search_binary`); ``binary_index`` aggregate-checks
    uniformity at its one-time build.

    method='ivfpq' (billion-vector regime): candidates come from the same
    probe shape as 'ivf', but the reference side is an :class:`~.pq.
    IVFPQIndex` — the batch-vs-corpus check reads ``m`` small-int PQ codes
    per candidate instead of the full vector (a 64-d float64 corpus scans
    64x fewer bytes), the memory-bounded form incremental semantic dedup
    needs once the accepted corpus outgrows executor memory. Scores are
    ADC approximations of cosine (still reported in the ``COSINE`` column
    for mode-uniformity); the whole path keeps the rounded exact-replay
    contract of ``similarity_search_ivfpq`` (``round_scores`` is the
    contract's rounding and must not be None), so it carries a full hash
    oracle. ``pq_m``/``pq_codebook_size``/``pq_iterations``/``residual``
    size the inline PQ fit; a prebuilt ``index`` (``ivfpq_index`` /
    ``load_ivfpq_index``, foldable with ``update_ivfpq_index``) amortizes
    both fits so per-batch cost is independent of reference size.
    """
    if mode not in ("filter", "pairs"):
        raise ParameterException("mode must be 'filter' or 'pairs'")
    if method not in ("brute", "ivf", "ivfpq", "binary"):
        raise ParameterException(
            "method must be 'brute', 'ivf', 'ivfpq' or 'binary'"
        )
    if reference is None and index is None:
        raise ParameterException(
            "dedup_against_embedding needs a reference frame or a prebuilt "
            "index (IVFIndex for method='ivf', IVFPQIndex for 'ivfpq', "
            "BinaryIndex for 'binary')"
        )
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    cached = None  # inline-built IVF frame, released with the final result
    if method == "brute":
        if reference is None or index is not None:
            raise ParameterException(
                "method='brute' requires a reference frame and no index "
                "(IVFIndex only serves method='ivf')"
            )
        rv = resolve_col(reference, ref_vec or vec_col)
        ri = resolve_col(reference, ref_id or id_col)
        q = _with_normalized(
            df.select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
            "__qvec", "__qn",
        ).select("__qid", "__qn")
        r = _with_normalized(
            spread(reference).select(
                F.col(ri).alias("__rid"), F.col(rv).alias("__rvec")
            ),
            "__rvec", "__rn",
        ).select("__rid", "__rn")
        cos = _dot(F.col("__qn"), F.col("__rn"))
        if round_scores is not None:
            cos = F.round(cos, round_scores)
        scored = r.crossJoin(F.broadcast(q)).withColumn("__cos", cos)
        matches = scored.filter(F.col("__cos") >= threshold)
    elif method == "binary":
        if max_hamming < 0:
            raise ParameterException("max_hamming must be >= 0")
        bdim = df.select(F.size(F.col(v)).alias("d")).first()
        if n_words is not None and bdim is not None:
            # explicit n_words exists so .sql() chains can render (the
            # renderer cannot derive dim); validate it against the data,
            # same contract as binary_quantize
            derived = max(1, (int(bdim["d"]) + 31) // 32)
            if int(n_words) != derived:
                raise ParameterException(
                    f"n_words={int(n_words)} but the {int(bdim['d'])}-dim "
                    f"vectors pack to {derived} words"
                )
        if index is not None:
            if not isinstance(index, BinaryIndex):
                raise ParameterException(
                    "method='binary' takes a BinaryIndex (build with "
                    "binary_index / load_binary_index); got "
                    f"{type(index).__name__}"
                )
            check_fingerprint(index, reference, "vectors")
            n_words = index.n_words
            if bdim is not None and index.dim is not None and int(bdim["d"]) != index.dim:
                raise ParameterException(
                    f"batch vectors have dim {int(bdim['d'])} but the "
                    f"index was built over dim {index.dim}"
                )
            if bdim is not None and max(1, (int(bdim["d"]) + 31) // 32) != n_words:
                raise ParameterException(
                    f"batch vectors pack to "
                    f"{max(1, (int(bdim['d']) + 31) // 32)} words but the "
                    f"index was built with {n_words}"
                )
            rp = index.frame
        else:
            if reference is None:
                raise ParameterException(
                    "method='binary' needs a reference frame or a prebuilt "
                    "BinaryIndex"
                )
            rv = resolve_col(reference, ref_vec or vec_col)
            ri = resolve_col(reference, ref_id or id_col)
            rdim = reference.select(F.size(F.col(rv)).alias("d")).first()
            if bdim is not None and rdim is not None and int(bdim["d"]) != int(rdim["d"]):
                raise ParameterException(
                    f"batch dim {int(bdim['d'])} != reference dim {int(rdim['d'])}"
                )
            n_words = max(1, ((int(rdim["d"]) if rdim is not None else 0) + 31) // 32)
            rp = spread(reference).select(
                F.col(ri).alias("__rid"),
                _sign_words_expr(f"`{rv}`", n_words).alias("__sig"),
            )
        qp = df.select(
            F.col(i).alias("__qid"),
            _sign_words_expr(f"`{v}`", n_words).alias("__qsig"),
        )
        ham = F.aggregate(
            F.zip_with(
                F.col("__qsig"), F.col("__sig"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        # batch broadcasts; the reference signature scan reads 8 B/row
        matches = (
            rp.crossJoin(F.broadcast(qp))
            .withColumn("__ham", ham)
            .filter(F.col("__ham") <= max_hamming)
        )
        if mode == "pairs":
            return matches.select(
                F.col("__qid").alias("ID"), F.col("__rid").alias("REF_ID"),
                F.col("__ham").alias("HAMMING"),
            )
        flagged = matches.select(F.col("__qid").alias(i)).dropDuplicates()
        return df.join(flagged, on=i, how="left_anti").select(*df.columns)
    elif method == "ivfpq":
        from .pq import (
            IVFPQIndex, _adc_pair_score, _adc_probe_frame, _adc_query_luts,
            _probe_lists_rounded, ivfpq_index,
        )
        from .cluster import _unit_rounded

        if round_scores is None:
            raise ParameterException(
                "method='ivfpq' scores by the rounded replay contract; "
                "round_scores must be an int"
            )
        if index is not None:
            if not isinstance(index, IVFPQIndex):
                raise ParameterException(
                    "method='ivfpq' takes an IVFPQIndex (build with "
                    "ivfpq_index / load_ivfpq_index); got "
                    f"{type(index).__name__}"
                )
            check_fingerprint(index, reference, "vectors")
            pidx, cached = index, None
        else:
            rv = resolve_col(reference, ref_vec or vec_col)
            ri = resolve_col(reference, ref_id or id_col)
            kc = (
                num_centroids if isinstance(num_centroids, int)
                else _resolve_k(num_centroids, reference.count())
            )
            pidx = ivfpq_index(
                reference, rv, ri, num_centroids=kc, coarse_iterations=1,
                m=pq_m, codebook_size=pq_codebook_size,
                iterations=pq_iterations, round_to=round_scores,
                residual=residual,
            )
            cached = pidx.frame
        first = df.select(F.size(F.col(v)).alias("d")).first()
        if first is not None and int(first["d"]) != pidx.m * pidx.d_sub:
            raise ParameterException(
                f"batch vectors have dim {int(first['d'])} but the index "
                f"covers dim {pidx.m * pidx.d_sub} (m={pidx.m} x "
                f"d_sub={pidx.d_sub})"
            )
        nprobe = _resolve_nprobe(nprobe, len(pidx.centroids))
        # spread() before the per-row LUT/probe work — the batch side may
        # be a single-partition scan (round 13; embedding_join_ivfpq note)
        q = _unit_rounded(
            spread(df).select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
            "__qvec", "__qu",
        ).select("__qid", "__qu")
        if pidx.rotation is not None:
            # rotated index: the batch must probe in rotated space too
            from .pq import _rotate_expr

            q = q.withColumn("__qu", _rotate_expr("__qu", pidx.rotation))
        probes = _adc_probe_frame(
            _probe_lists_rounded(
                _adc_query_luts(q, pidx, "__qu"), pidx.centroids, nprobe,
                "__qid", "__qu", pidx.round_to, carry=("__lut",),
            ),
            pidx, "__qu",
        )
        from .pq import _cid_barrier

        scored = (
            pidx.frame.select(
                F.col("__id").alias("__rid"),
                # _cid_barrier: the key is an argmax-over-lambdas
                # expression on both sides — without the barrier,
                # constraint inference substitutes it across the join and
                # builds an invalid plan when the index cache is evicted
                # (see the helper's docstring in pq.py)
                _cid_barrier("__cid").alias("__cid"), "__codes",
            )
            # batch is the small side by the operator's contract — the
            # reference/PQ frame never shuffles, and after the LUT
            # preparation its scan reads only (id, cid, m small ints)
            .join(
                F.broadcast(probes.withColumn("__cid", _cid_barrier("__cid"))),
                on="__cid",
            )
            .withColumn("__cos", _adc_pair_score(pidx))
        )
        matches = scored.filter(F.col("__cos") >= threshold)
    else:
        if index is not None:
            if not isinstance(index, IVFIndex):
                raise ParameterException(
                    "method='ivf' takes an IVFIndex (build with ivf_index "
                    f"/ load_ivf_index); got {type(index).__name__}"
                )
            check_fingerprint(index, reference, "vectors")
            idx, cents, cached = index.frame, index.centroids, None
        else:
            rv = resolve_col(reference, ref_vec or vec_col)
            ri = resolve_col(reference, ref_id or id_col)
            idx, cents, cached = _ivf_assign(
                reference, rv, ri, num_centroids, iterations=1
            )
        nprobe = _resolve_nprobe(nprobe, len(cents))
        q = _with_normalized(
            df.select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
            "__qvec", "__qn",
        )
        probes = _probe_lists(q, cents, nprobe, "__qid", "__qn")
        cos = _dot(F.col("__qn"), F.col("__nvec"))
        if round_scores is not None:
            cos = F.round(cos, round_scores)
        scored = (
            idx.select(
                F.col("__id").alias("__rid"), "__nvec",
                F.col("CENTROID_ID").alias("__cid"),
            )
            .join(probes, on="__cid")
            .withColumn("__cos", cos)
        )
        matches = scored.filter(F.col("__cos") >= threshold)
    if mode == "pairs":
        out = matches.select(
            F.col("__qid").alias("ID"), F.col("__rid").alias("REF_ID"),
            F.col("__cos").alias("COSINE"),
        )
    else:
        flagged = matches.select(F.col("__qid").alias(i)).dropDuplicates()
        out = df.join(flagged, on=i, how="left_anti").select(*df.columns)
    # release ties to the FINAL result (the r5 scoped-cache liveness
    # lesson) — tying it to the intermediate would free the inline-built
    # index before the action runs
    return out if cached is None else release_with(out, cached)


def _topk_matches_sql(
    corpus_table, corpus_id, corpus_vec, query_sql, k, round_scores,
) -> str:
    """Shared SELECT for the brute top-k renderers: score every
    (query, corpus) pair with :func:`_cosine_sql` (same formula structure
    as the DataFrame path), rank per query by (COSINE desc, MATCH_ID asc),
    keep RANK <= k; self-matches excluded (the operators' documented
    single-id-namespace rule)."""
    cos = _cosine_sql("q.__qv", "c.__cv")
    if round_scores is not None:
        cos = f"ROUND({cos}, {int(round_scores)})"
    return (
        f"SELECT QUERY_ID, MATCH_ID, COSINE, RANK FROM ("
        f"SELECT QUERY_ID, MATCH_ID, COSINE, "
        f"ROW_NUMBER() OVER (PARTITION BY QUERY_ID ORDER BY COSINE DESC, MATCH_ID ASC) AS RANK "
        f"FROM (SELECT q.__qid AS QUERY_ID, c.__cid AS MATCH_ID, "
        f"{cos} AS COSINE "
        f"FROM (SELECT {corpus_id} AS __cid, {corpus_vec} AS __cv "
        f"FROM {corpus_table}) c CROSS JOIN ({query_sql}) q "
        f"WHERE q.__qid <> c.__cid)"
        f") WHERE RANK <= {int(k)}"
    )


@renderer("similarity_search")
def _r_similarity_search(
    source, vec_col, id_col, queries=None, query_ids=None, k=10,
    method="brute", num_planes=6, round_scores=6,
) -> str:
    from ..errors import TransformRenderingException

    if method != "brute" or queries == "<dataframe>":
        raise TransformRenderingException(
            "similarity_search is SQL-renderable only for method='brute' "
            "with query_ids or a named/chain queries table (the LSH bucket "
            "path is not rendered)"
        )
    if queries is not None:
        qsql = (
            f"SELECT {id_col} AS __qid, {vec_col} AS __qv FROM {queries}"
        )
    elif query_ids is not None:
        ids = ", ".join(_sql_id_literal(x) for x in query_ids)
        qsql = (
            f"SELECT {id_col} AS __qid, {vec_col} AS __qv FROM {source} "
            f"WHERE {id_col} IN ({ids})"
        )
    else:
        raise TransformRenderingException("pass queries or query_ids")
    return _topk_matches_sql(source, id_col, vec_col, qsql, k, round_scores)


def _nvec_subquery_sql(table, id_expr, vec_expr, id_alias, vec_alias) -> str:
    """Spark-SQL rendering of _with_normalized over one side: stages the
    norm in its own column (referenced twice — same double-accumulation
    order as the DataFrame fold, so parity is bit-exact)."""
    norm = (
        f"sqrt(aggregate(transform(__v, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return (
        f"(SELECT {id_alias}, CASE WHEN __n > 0 THEN "
        f"transform(__v, x -> CAST(x AS DOUBLE) / __n) "
        f"ELSE transform(__v, x -> CAST(0.0 AS DOUBLE)) END AS {vec_alias} "
        f"FROM (SELECT {id_expr} AS {id_alias}, {vec_expr} AS __v, "
        f"{norm} AS __n FROM {table}))"
    )


@renderer("dedup_against_embedding")
def _r_dedup_against_embedding(
    source, vec_col, id_col, reference=None, ref_vec=None, ref_id=None,
    threshold=0.9, method="brute", num_centroids="auto", nprobe="auto",
    mode="filter", round_scores=6, index=None, pq_m=4, pq_codebook_size=8,
    pq_iterations=1, residual=False, max_hamming=6, n_words=None,
) -> str:
    from ..errors import TransformRenderingException

    if method == "binary" and index is None and reference is not None:
        # integer-exact replay: packed signatures both sides, xor+popcount
        # threshold; n_words must be explicit (dim unknowable at render
        # time — the binary_quantize renderer's guard)
        if mode not in ("filter", "pairs"):
            raise ParameterException("mode must be 'filter' or 'pairs'")
        if max_hamming < 0:
            raise ParameterException("max_hamming must be >= 0")
        if n_words is None:
            raise TransformRenderingException(
                "dedup_against_embedding(method='binary') renders only "
                "with an explicit n_words (= ceil(dim/32))"
            )
        rp = (
            f"(SELECT {ref_id or id_col} AS __rid, "
            f"{_sign_words_sql(ref_vec or vec_col, int(n_words))} AS __sig "
            f"FROM {reference})"
        )
        qp = (
            f"(SELECT {id_col} AS __qid, "
            f"{_sign_words_sql(vec_col, int(n_words))} AS __qsig FROM {source})"
        )
        ham = (
            "aggregate(zip_with(q.__qsig, r.__sig, (a, b) -> "
            "CAST(bit_count(a ^ b) AS BIGINT)), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x)"
        )
        pairs = (
            f"SELECT __qid AS ID, __rid AS REF_ID, __ham AS HAMMING FROM "
            f"(SELECT q.__qid, r.__rid, {ham} AS __ham "
            f"FROM {rp} r CROSS JOIN {qp} q) WHERE __ham <= {int(max_hamming)}"
        )
        if mode == "pairs":
            return pairs
        return (
            f"SELECT s.* FROM {source} s LEFT ANTI JOIN "
            f"(SELECT DISTINCT ID FROM ({pairs})) f ON s.{id_col} = f.ID"
        )
    if method != "brute" or index is not None or reference is None:
        raise TransformRenderingException(
            "dedup_against_embedding is SQL-renderable only for "
            "method='brute' or method='binary' with a reference table "
            "(the IVF/IVF-PQ paths are multi-stage fit + probe joins; the "
            "ivfpq replay is exercised by its DuckDB gate oracle instead)"
        )
    q = _nvec_subquery_sql(source, id_col, vec_col, "__qid", "__qn")
    r = _nvec_subquery_sql(
        reference, ref_id or id_col, ref_vec or vec_col, "__rid", "__rn"
    )
    dot = (
        "aggregate(zip_with(__qn, __rn, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    cos = f"ROUND({dot}, {round_scores})" if round_scores is not None else dot
    pairs = (
        f"SELECT __qid AS ID, __rid AS REF_ID, __cos AS COSINE FROM "
        f"(SELECT __qid, __rid, {cos} AS __cos FROM {r} r CROSS JOIN {q} q) "
        f"WHERE __cos >= {threshold}"
    )
    if mode == "pairs":
        return pairs
    return (
        f"SELECT s.* FROM {source} s LEFT ANTI JOIN ({pairs}) m "
        f"ON s.{id_col} = m.ID"
    )


@spark_transform("similarity_search_ivf", category="similarity", streaming_ok=False)
def similarity_search_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids,
    k: int = 10,
    num_centroids: int | str = "auto",
    nprobe: int | str = "auto",
    round_scores: int | None = 6,
    rounded: bool = False,
    index: "IVFIndex | None" = None,
) -> DataFrame:
    """ANN top-k via an IVF index: queries probe their ``nprobe`` nearest
    centroids and scan only those inverted lists — cost ~ corpus × nprobe /
    num_centroids per query instead of the full corpus (approximate recall).

    The persisted index holds PRE-NORMALIZED vectors, so the per-candidate
    score is a single dot product; probe selection is a shuffle-free
    sort+slice over the literal centroid array (no centroid join, no
    per-query window). Output (QUERY_ID, MATCH_ID, COSINE, RANK).

    ``num_centroids="auto"`` (default) sizes k = max(8, ceil(√n)) and
    ``nprobe="auto"`` = max(4, ceil(√k)), so the index keeps its candidate
    bound and recall as the corpus grows (see ``_resolve_k``).

    Pass a prebuilt ``index`` (from ``ivf_index``) to skip the build phase
    entirely — the amortized production path; results are identical to the
    inline build with the same parameters.

    ``rounded=True`` (round 9, opt-in) swaps the unrounded fit for the
    kmeans_cluster rounded-determinism contract (9-dp unit vectors and
    centroid components, ``round_scores``-dp argmax/probe comparisons), so
    the whole search replays exactly in SQL: this mode has a ``.sql()``
    renderer and a DuckDB hash oracle — for users who need dbt/SQL parity
    on an ANN search. The default stays unrounded (marginally better
    centroids, no replay). Rounded mode is inline-only (``index`` must be
    None — IVFIndex artifacts store the unrounded fit) and one Lloyd pass,
    matching the inline build."""
    if rounded:
        if index is not None:
            raise ParameterException(
                "rounded=True is the replayable inline mode; prebuilt "
                "IVFIndex artifacts hold the unrounded fit"
            )
        if round_scores is None:
            raise ParameterException(
                "rounded=True scores by the rounded replay contract; "
                "round_scores must be an int"
            )
        return _similarity_search_ivf_rounded(
            df, vec_col, id_col, query_ids, k, num_centroids, nprobe,
            round_scores,
        )
    if index is not None:
        idx, cents, cached = index.frame, index.centroids, None
    else:
        idx, cents, cached = _ivf_assign(df, vec_col, id_col, num_centroids, iterations=1)
    nprobe = _resolve_nprobe(nprobe, len(cents))
    probes = _probe_lists(
        idx.filter(F.col("__id").isin(list(query_ids))).select(
            F.col("__id").alias("QUERY_ID"), F.col("__nvec").alias("__qnvec")
        ),
        cents, nprobe, "QUERY_ID", "__qnvec",
    )
    cos = _dot(F.col("__qnvec"), F.col("__nvec"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    scored = (
        idx.select(
            F.col("__id").alias("MATCH_ID"), "__nvec",
            F.col("CENTROID_ID").alias("__cid"),
        )
        .join(F.broadcast(probes), on="__cid")
        .filter(F.col("QUERY_ID") != F.col("MATCH_ID"))
        .withColumn("COSINE", cos)
    )
    w = Window.partitionBy("QUERY_ID").orderBy(F.col("COSINE").desc(), F.col("MATCH_ID").asc())
    out = (
        scored.withColumn("RANK", F.row_number().over(w))
        .filter(F.col("RANK") <= k)
        .select("QUERY_ID", "MATCH_ID", "COSINE", "RANK")
    )
    return out if cached is None else release_with(out, cached)


def _similarity_search_ivf_rounded(df, vec_col, id_col, query_ids, k,
                                   num_centroids, nprobe, round_to):
    """The replayable IVF search: rounded kmeans fit (shared _fit_kmeans
    contract, one Lloyd pass like the inline unrounded build), rounded
    probe ranking, rounded dot scoring. Same plan shape as the unrounded
    path — persisted normalized corpus, broadcast probe frame, one
    candidate window — so the 100 TB properties carry over unchanged.

    MIRROR NOTE: _embedding_join_ivf_rounded repeats this glue in its
    join shape (different query source, no broadcast hint on the probe
    join, joined-back output). The pieces that define the CONTRACT —
    _unit_rounded, _fit_kmeans, _assign_expr, _probe_lists_rounded — are
    single definitions shared by both (and by the renderers/oracles);
    only the composition is duplicated, so a contract change cannot
    drift the two paths apart, but edits to the glue should be applied
    to both."""
    from .cluster import _fit_kmeans, _unit_rounded
    from .cluster import _assign_expr as _rounded_assign
    from .pq import _probe_lists_rounded

    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    cached = scoped_persist(_unit_rounded(
        spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    ))
    kc = (
        _resolve_k(num_centroids, cached.count())
        if isinstance(num_centroids, str) else _resolve_k(num_centroids, 0)
    )
    cents = _fit_kmeans(cached, kc, 1, round_to)
    nprobe = _resolve_nprobe(nprobe, len(cents))
    abase, carr, _ad = _attach_centroids(cached, cents)
    asg = abase.withColumn("__cid", _rounded_assign(carr, round_to)).select(
        "__id", "__u", "__cid"
    )
    qdf = asg.filter(F.col("__id").isin(list(query_ids))).select(
        F.col("__id").alias("QUERY_ID"), F.col("__u").alias("__qu")
    )
    probes = _probe_lists_rounded(
        qdf, cents, nprobe, "QUERY_ID", "__qu", round_to
    )
    scored = (
        asg.select(F.col("__id").alias("MATCH_ID"), "__u", "__cid")
        .join(F.broadcast(probes), on="__cid")
        .filter(F.col("QUERY_ID") != F.col("MATCH_ID"))
        .withColumn("COSINE", F.round(_dot(F.col("__qu"), F.col("__u")), round_to))
    )
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("COSINE").desc(), F.col("MATCH_ID").asc()
    )
    out = (
        scored.withColumn("RANK", F.row_number().over(w))
        .filter(F.col("RANK") <= k)
        .select("QUERY_ID", "MATCH_ID", "COSINE", "RANK")
    )
    return release_with(out, cached)


@renderer("similarity_search_ivf")
def _r_similarity_search_ivf(source, vec_col, id_col, query_ids, k=10,
                             num_centroids="auto", nprobe="auto",
                             round_scores=6, rounded=False,
                             index=None) -> str:
    """Renders ONLY the opt-in ``rounded=True`` contract (round 9): the
    default mode fits unrounded centroids, whose SQL replay would be
    ULP-flaky — the family's long-documented renderer exclusion. The
    rounded replay composes the kmeans_cluster renderer chains (one Lloyd
    pass, matching the inline build) with the probe ranking and a rounded
    dot scan over probed lists."""
    from ..errors import TransformRenderingException
    from .cluster import _dot_sql, _kmeans_render_parts

    if not rounded or index is not None:
        raise TransformRenderingException(
            "similarity_search_ivf is SQL-renderable only with "
            "rounded=True and an inline fit (the default unrounded "
            "contract would be ULP-flaky in replay; a prebuilt index is "
            "an external artifact)"
        )
    if isinstance(num_centroids, str) or isinstance(nprobe, str):
        raise TransformRenderingException(
            "auto sizing resolves from the corpus count at run time; pass "
            "explicit num_centroids/nprobe to render"
        )
    if round_scores is None:
        raise ParameterException(
            "rounded=True requires an int round_scores"
        )
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    nv, kcents, kassign = _kmeans_render_parts(
        source, vec_col, id_col, num_centroids, 1, round_scores,
        "similarity_search_ivf",
    )
    qlist = ", ".join(_sql_id_literal(q) for q in query_ids)
    sim = f"round({_dot_sql('t.__u', 's.v')}, {int(round_scores)})"
    ctes = [
        f"__ivf_cents AS (SELECT c, v FROM {kcents})",
        f"__ivf_asg AS (SELECT __id, c FROM {kassign('__ivf_cents')})",
        (
            f"__ivf_probe AS (SELECT __id AS qid, c FROM (SELECT t.__id, "
            f"s.c, ROW_NUMBER() OVER (PARTITION BY t.__id ORDER BY {sim} "
            f"DESC, s.c ASC) AS rn FROM {nv} t CROSS JOIN __ivf_cents s "
            f"WHERE t.__id IN ({qlist})) WHERE rn <= {int(nprobe)})"
        ),
        (
            f"__ivf_q AS (SELECT __id AS qid, __u FROM {nv} __ivf_qnv "
            f"WHERE __id IN ({qlist}))"
        ),
    ]
    cos = f"round({_dot_sql('q.__u', 't.__u')}, {int(round_scores)})"
    scored = (
        f"SELECT p.qid AS QUERY_ID, t.__id AS MATCH_ID, {cos} AS COSINE "
        f"FROM {nv} t JOIN __ivf_asg a ON a.__id = t.__id "
        f"JOIN __ivf_probe p ON p.c = a.c "
        f"JOIN __ivf_q q ON q.qid = p.qid "
        f"WHERE t.__id <> p.qid"
    )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT QUERY_ID, MATCH_ID, COSINE, RANK FROM ("
        f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY COSINE DESC, MATCH_ID ASC) AS INT) AS RANK "
        f"FROM ({scored})) WHERE RANK <= {int(k)}) __rivf_out"
    )


@spark_transform("knn_classify", category="similarity", streaming_ok=False)
def knn_classify(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    query_ids,
    k: int = 5,
) -> DataFrame:
    """Majority-label k-NN over the similarity search — demo composition of
    similarity_search + aggregation. Output (QUERY_ID, PREDICTED_LABEL)."""
    i, lbl = resolve_col(df, id_col), resolve_col(df, label_col)
    nn = similarity_search(df, vec_col, id_col, query_ids=query_ids, k=k)
    labeled = nn.join(
        df.select(F.col(i).alias("MATCH_ID"), F.col(lbl).alias("__lbl")), on="MATCH_ID"
    )
    counts = labeled.groupBy("QUERY_ID", "__lbl").agg(F.count(F.lit(1)).alias("__votes"))
    w = Window.partitionBy("QUERY_ID").orderBy(F.col("__votes").desc(), F.col("__lbl").asc())
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("QUERY_ID", F.col("__lbl").alias("PREDICTED_LABEL"))
    )


@renderer("knn_classify")
def _r_knn_classify(source, vec_col, id_col, label_col, query_ids, k=5) -> str:
    """Composes the similarity_search brute renderer (the operator is that
    search + a majority-vote window), so the two renderings can never
    diverge on cosine/ranking semantics."""
    nn = _r_similarity_search(
        source, vec_col, id_col, query_ids=query_ids, k=k, method="brute"
    )
    counts = (
        f"(SELECT nn.QUERY_ID, d.{label_col} AS __lbl, COUNT(1) AS __votes "
        f"FROM ({nn}) nn JOIN {source} d ON d.{id_col} = nn.MATCH_ID "
        f"GROUP BY nn.QUERY_ID, d.{label_col})"
    )
    return (
        f"SELECT QUERY_ID, __lbl AS PREDICTED_LABEL FROM "
        f"(SELECT *, ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY __votes DESC, __lbl ASC) AS __rn FROM {counts}) "
        f"WHERE __rn = 1"
    )


@spark_transform("quantize_embeddings", category="similarity")
def quantize_embeddings(
    df: DataFrame, vec_col: str, id_col: str | None = None, bits: int = 8
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard 4×
    storage/bandwidth compression for embedding corpora (public technique,
    e.g. FAISS SQ8): scale = max|x| / 127, q_i = floor(x_i/scale + 0.5).
    Appends ``Q_SCALE`` (double) and ``Q_VEC`` (array<int> in [-127, 127]);
    zero vectors quantize to zeros with scale 0. Row-local JVM expressions —
    shuffle-free at any scale. ``floor(x + 0.5)`` rather than round() so
    Spark and the DuckDB oracle tie-break .5 identically."""
    if bits != 8:
        raise ParameterException("only bits=8 is supported")
    v = resolve_col(df, vec_col)
    absmax = F.aggregate(
        F.col(v),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    staged = df.withColumn("Q_SCALE", absmax / F.lit(127.0))
    q = F.transform(
        F.col(v),
        lambda x: F.when(
            F.col("Q_SCALE") > 0,
            F.floor(x.cast("double") / F.col("Q_SCALE") + 0.5).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return staged.withColumn("Q_VEC", q)


@renderer("quantize_embeddings")
def _r_quantize_embeddings(source, vec_col, id_col=None, bits=8) -> str:
    absmax = f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    q = (
        f"transform({vec_col}, x -> CASE WHEN Q_SCALE > 0 THEN "
        f"CAST(floor(CAST(x AS DOUBLE) / Q_SCALE + 0.5) AS INT) ELSE 0 END)"
    )
    return (
        f"SELECT *, {q} AS Q_VEC FROM "
        f"(SELECT *, {absmax} / 127.0 AS Q_SCALE FROM {source})"
    )


def _sign_words_sql(vec_col: str, n_words: int) -> str:
    """SQL for packing a vector's per-component signs (x > 0) into
    ``n_words`` 32-bit words carried as bigints: word w holds bit i for
    component w·32+i. 32-bit words rather than 64 so the shifted bit
    (max 2^31) never touches a bigint's sign bit — both engines then
    agree on the integer value without wraparound semantics entering the
    contract. Components beyond the vector's length contribute 0 (short
    vectors pack as if zero-padded). ONE definition serves the DataFrame
    path (via F.expr — pyspark's shiftleft binding wants a Python-int
    shift, the SQL function takes a column) and the renderer, so packing
    parity holds by construction."""
    word = (
        "aggregate(transform(sequence(0, 31), i -> CASE WHEN "
        f"CAST(try_element_at({vec_col}, CAST(w * 32 + i + 1 AS INT)) AS DOUBLE) > 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc | x)"
    )
    return f"transform(sequence(0, {int(n_words) - 1}), w -> {word})"


def _sign_words_expr(vec_name: str, n_words: int) -> Column:
    return F.expr(_sign_words_sql(vec_name, n_words))


@spark_transform("binary_quantize", category="similarity", streaming_ok=False)
def binary_quantize(df: DataFrame, vec_col: str, id_col: str | None = None,
                    n_words: int | None = None) -> DataFrame:
    """Append ``SIGN_BITS`` (array<bigint> of 32-bit words): the 1-bit
    sign quantization of the embedding — 64-dim float64 compresses 256×
    to 8 bytes, the most aggressive memory-bounded form of the
    quantization ladder (float64 → int8 ``quantize_embeddings`` → m-int
    PQ codes → sign bits). Hamming distance between sign vectors tracks
    angular distance (Charikar 2002 SimHash bound: P[bit differs] =
    θ/π), which is what :func:`similarity_search_binary` ranks by.
    Row-local JVM integer expressions — shuffle-free at any scale, and
    exactly replayable (sign tests and bit ops have no float-accumulation
    ambiguity)."""
    v = resolve_col(df, vec_col)
    first = df.select(F.size(F.col(v)).alias("d")).first()
    dim = int(first["d"]) if first is not None else 0
    derived = max(1, (dim + 31) // 32)
    if n_words is None:
        n_words = derived
    elif first is not None and int(n_words) != derived:
        # explicit n_words exists so .sql() chains can render (the data's
        # dim is unknowable at render time); it must agree with the data
        raise ParameterException(
            f"n_words={int(n_words)} but the {dim}-dim vectors pack to "
            f"{derived} words"
        )
    return df.withColumn("SIGN_BITS", _sign_words_expr(f"`{v}`", int(n_words)))


@renderer("binary_quantize")
def _r_binary_quantize(source, vec_col, id_col=None, n_words=None) -> str:
    """The DataFrame path sizes ``n_words`` from the data (ceil(dim/32)),
    which the renderer cannot see — so rendering REQUIRES the explicit
    ``n_words`` chain parameter (validated against the data at execution
    time), the same resolve-at-run-time guard shape as the auto-sizing
    renderers. A silent default would truncate >64-dim corpora."""
    from ..errors import TransformRenderingException

    if n_words is None:
        raise TransformRenderingException(
            "binary_quantize renders only with an explicit n_words "
            "(= ceil(dim/32)); the vector dimension is unknowable at "
            "render time"
        )
    return (
        f"SELECT *, {_sign_words_sql(vec_col, n_words)} "
        f"AS SIGN_BITS FROM {source}"
    )


class BinaryIndex:
    """Reusable 1-bit signature index: the persisted ``(__rid, __sig)``
    frame (``n_words`` 32-bit words per row — 8 bytes at 64 dims) plus
    the packing geometry. Build once with :func:`binary_index` and pass
    to any number of ``dedup_against_embedding(method='binary')`` calls —
    without it each batch re-scans and re-packs the full-width reference
    vectors (512 B/row at 64-dim float64); with it the per-batch
    reference read is the 8-byte signatures only. ``release()``
    unpersists, ``n_docs`` is the row-count staleness fingerprint;
    save/load follow the artifact contract in ``_artifact.py``. ``dim`` records the
    EXACT build-time vector dimension — word count alone is too coarse a
    geometry guard (a 48-dim batch also packs to 2 words but its top 16
    sign bits are zero-padding, silently inflating every Hamming
    distance)."""

    def __init__(self, frame: DataFrame, n_words: int,
                 n_docs: int | None = None, dim: int | None = None):
        self.frame = frame
        self.n_words = n_words
        self.n_docs = n_docs
        self.dim = dim

    def release(self) -> None:
        release_now(self.frame)


def binary_index(reference: DataFrame, vec_col: str, id_col: str) -> BinaryIndex:
    """Build a reusable :class:`BinaryIndex` over a reference corpus —
    one row-local packing pass, persisted until ``release()``."""
    rv, ri = resolve_col(reference, vec_col), resolve_col(reference, id_col)
    # One-time build: a full min/max(size) aggregate is cheap here and
    # catches mixed-dimension corpora outright (per-batch paths sample
    # only the first row and DOCUMENT the uniform-dim assumption — a
    # longer vector would silently lose sign bits beyond n_words*32).
    ext = reference.select(
        F.min(F.size(F.col(rv))).alias("lo"),
        F.max(F.size(F.col(rv))).alias("hi"),
    ).first()
    if ext is None or ext["lo"] is None:
        raise ParameterException("reference is empty")
    if int(ext["lo"]) != int(ext["hi"]):
        raise ParameterException(
            f"reference vectors have mixed dimensions ({int(ext['lo'])}.."
            f"{int(ext['hi'])}) — sign packing requires a uniform dim"
        )
    dim = int(ext["lo"])
    n_words = max(1, (dim + 31) // 32)
    frame = scoped_persist(spread(reference).select(
        F.col(ri).alias("__rid"),
        _sign_words_expr(f"`{rv}`", n_words).alias("__sig"),
    ))
    n = frame.count()
    return BinaryIndex(frame, n_words, n_docs=n, dim=dim)


def save_binary_index(index: BinaryIndex, path: str) -> str:
    """Persist a :class:`BinaryIndex` (artifact contract: ``_artifact``)."""
    return save_artifact(
        path, "binary", {"frame": index.frame.select("__rid", "__sig")},
        n_words=index.n_words, n_docs=index.n_docs, dim=index.dim,
    )


def load_binary_index(spark, path: str, persist: bool = True) -> BinaryIndex:
    art = load_artifact(spark, path, "binary")
    (frame,) = art.read("frame", persist=persist)
    s = art.state
    return BinaryIndex(frame, s["n_words"], n_docs=s["n_docs"], dim=s["dim"])


def update_binary_index(index: BinaryIndex, new_vecs: DataFrame,
                        vec_col: str, id_col: str) -> BinaryIndex:
    """Fold a batch into an existing :class:`BinaryIndex`: only the batch
    pays packing (and packing has no fitted state, so — unlike the
    IVF/PQ updates — there is NO drift: update-then-check equals a full
    rebuild exactly; pytest-pinned). Ids must stay unique across
    increments; returns a NEW index, eagerly materialized."""
    v, i = resolve_col(new_vecs, vec_col), resolve_col(new_vecs, id_col)
    first = new_vecs.select(F.size(F.col(v)).alias("d")).first()
    if first is not None:
        if index.dim is not None and int(first["d"]) != index.dim:
            raise ParameterException(
                f"batch vectors have dim {int(first['d'])} but the index "
                f"was built over dim {index.dim}"
            )
        nw = max(1, (int(first["d"]) + 31) // 32)
        if nw != index.n_words:
            raise ParameterException(
                f"batch vectors pack to {nw} words but the index was built "
                f"with {index.n_words}"
            )
    packed = spread(new_vecs).select(
        F.col(i).alias("__rid"),
        _sign_words_expr(f"`{v}`", index.n_words).alias("__sig"),
    )
    merged = scoped_persist(
        index.frame.select("__rid", "__sig").unionByName(packed)
    )
    n = merged.count()
    return BinaryIndex(merged, index.n_words, n_docs=n, dim=index.dim)


@spark_transform("similarity_search_binary", category="similarity", streaming_ok=False)
def similarity_search_binary(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids,
    k: int = 10,
    rerank: bool = False,
    rerank_factor: int = 4,
    round_scores: int | None = 6,
    n_words: int | None = None,
    index: "BinaryIndex | None" = None,
) -> DataFrame:
    """Top-``k`` nearest corpus rows per query by HAMMING distance over
    1-bit sign quantization (:func:`binary_quantize`): the extreme end of
    the memory-bounded ladder — a 64-dim float64 corpus scans as 8 bytes
    per candidate (256× fewer than raw, 4× fewer than the m=8 PQ codes),
    and the per-pair cost is two XOR+popcount word ops instead of any
    float math. Recall tracks the SimHash angular bound; rerank the
    top-k' (k' ≈ 4k) with exact cosine when precision matters.

    Output (QUERY_ID, MATCH_ID, HAMMING, RANK) — ascending Hamming,
    ties -> lowest MATCH_ID; self-matches excluded. Integer-exact in
    both engines, so the operator carries a full hash oracle and a
    ``.sql()`` renderer with no rounding contract at all.

    ``rerank=True`` is the production two-stage pattern: the Hamming
    stage keeps ``k · rerank_factor`` candidates per query (the cheap
    8-byte scan does the winnowing), then ONLY those survivors pay an
    exact cosine against the full vectors — output
    (QUERY_ID, MATCH_ID, COSINE, RANK), cosine desc. The survivor set is
    integer-determined (Hamming + id tie-break), so the mode stays
    exactly replayable with the standard rounded-cosine policy
    (``round_scores``).

    100 TB shape: signs pack row-locally (no shuffle), the bounded query
    side broadcasts, and the corpus-side scan reads only the packed
    words; the per-query top-k window is WindowGroupLimit-prunable like
    the other search operators. The rerank join touches queries × k ·
    rerank_factor rows — never the corpus.

    ``n_words`` (= ceil(dim/32)) is derived from the data by default and
    validated when passed explicitly; pass it explicitly on ``.sql()``
    chains — the renderer cannot see the data and refuses to guess.

    UNIFORM-DIM ASSUMPTION: the dim guard samples the FIRST row only (a
    full-corpus aggregate per call would defeat the cheap-scan point of
    this operator). In a mixed-dimension corpus, vectors longer than
    dim lose sign bits beyond n_words*32 and shorter ones zero-pad,
    silently skewing Hamming distances — enforce uniform dims upstream
    (``binary_index`` DOES aggregate-check this at its one-time build).

    A prebuilt ``index`` (round 10: :func:`binary_index` /
    :func:`load_binary_index`, foldable with ``update_binary_index``)
    skips the per-call corpus re-pack — the Hamming scan reads the stored
    8-byte signatures instead of full-width vectors, the amortized
    production regime. ``df`` is still the authoritative vector source
    for ``rerank=True``'s exact-cosine stage (and the dim guard); as with
    ``similarity_search_ivfpq``, the ``n_docs`` staleness fingerprint is
    CALLER-CHECKED on the search path — compare ``index.n_docs`` yourself
    before searching a possibly-stale artifact."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    first = df.select(F.size(F.col(v)).alias("d")).first()
    if first is None:
        raise ParameterException("input is empty")
    derived = max(1, (int(first["d"]) + 31) // 32)
    if index is not None:
        if not isinstance(index, BinaryIndex):
            raise ParameterException(
                "similarity_search_binary takes a BinaryIndex (build with "
                f"binary_index / load_binary_index); got "
                f"{type(index).__name__}"
            )
        if index.dim is not None and int(first["d"]) != index.dim:
            raise ParameterException(
                f"corpus vectors have dim {int(first['d'])} but the index "
                f"was built over dim {index.dim}"
            )
        if n_words is not None and int(n_words) != index.n_words:
            raise ParameterException(
                f"n_words={int(n_words)} but the index was built with "
                f"{index.n_words}"
            )
        n_words = int(index.n_words)
        packed = index.frame.select(
            F.col("__rid").alias("MATCH_ID"), "__sig"
        )
    else:
        if n_words is None:
            n_words = derived
        elif int(n_words) != derived:
            raise ParameterException(
                f"n_words={int(n_words)} but the {int(first['d'])}-dim "
                f"vectors pack to {derived} words"
            )
        n_words = int(n_words)
        packed = spread(df).select(
            F.col(i).alias("MATCH_ID"),
            _sign_words_expr(f"`{v}`", n_words).alias("__sig"),
        )
    q = packed.filter(F.col("MATCH_ID").isin(list(query_ids))).select(
        F.col("MATCH_ID").alias("QUERY_ID"), F.col("__sig").alias("__qsig")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("__qsig"), F.col("__sig"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("QUERY_ID") != F.col("MATCH_ID"))
        .withColumn("HAMMING", ham)
    )
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("HAMMING").asc(), F.col("MATCH_ID").asc()
    )
    kf = k * rerank_factor if rerank else k
    top = (
        scored.withColumn("RANK", F.row_number().over(w).cast("int"))
        .filter(F.col("RANK") <= kf)
    )
    if not rerank:
        return top.select("QUERY_ID", "MATCH_ID", "HAMMING", "RANK")
    # survivors only pay the vector read: the tiny (queries x k x factor)
    # id frame broadcasts onto a second corpus projection, so the Hamming
    # scan stays 8 bytes/candidate and the corpus never shuffles
    cvec = df.select(F.col(i).alias("MATCH_ID"), F.col(v).alias("__cvec"))
    qvec = df.select(
        F.col(i).alias("QUERY_ID"), F.col(v).alias("__qvec")
    ).filter(F.col("QUERY_ID").isin(list(query_ids)))
    cos = cosine_expr(F.col("__qvec"), F.col("__cvec"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    rw = Window.partitionBy("QUERY_ID").orderBy(
        F.col("COSINE").desc(), F.col("MATCH_ID").asc()
    )
    return (
        cvec.join(F.broadcast(top.select("QUERY_ID", "MATCH_ID")), on="MATCH_ID")
        .join(F.broadcast(qvec), on="QUERY_ID")
        .withColumn("COSINE", cos)
        .withColumn("RANK", F.row_number().over(rw).cast("int"))
        .filter(F.col("RANK") <= k)
        .select("QUERY_ID", "MATCH_ID", "COSINE", "RANK")
    )


@renderer("similarity_search_binary")
def _r_similarity_search_binary(source, vec_col, id_col, query_ids, k=10,
                                rerank=False, rerank_factor=4,
                                round_scores=6, n_words=None,
                                index=None) -> str:
    """Integer-exact replay: same packing words, xor + bit_count per word,
    ascending-Hamming window. Without rerank there is no rounding
    contract anywhere; rerank mode adds the standard rounded-cosine
    policy over the integer-determined survivor set."""
    if index is not None:
        from ..errors import TransformRenderingException

        raise TransformRenderingException(
            "similarity_search_binary renders the inline packing; a "
            "prebuilt index is an external artifact the renderer cannot "
            "replay"
        )
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    if n_words is None:
        from ..errors import TransformRenderingException

        raise TransformRenderingException(
            "similarity_search_binary renders only with an explicit "
            "n_words (= ceil(dim/32)); the vector dimension is unknowable "
            "at render time"
        )
    qlist = ", ".join(_sql_id_literal(q) for q in query_ids)
    packed = (
        f"(SELECT {id_col} AS __bid, {_sign_words_sql(vec_col, int(n_words))} "
        f"AS __sig FROM {source})"
    )
    ham = (
        "aggregate(zip_with(q.__sig, c.__sig, (a, b) -> "
        "CAST(bit_count(a ^ b) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )
    kf = int(k) * int(rerank_factor) if rerank else int(k)
    hstage = (
        f"SELECT QUERY_ID, MATCH_ID, HAMMING, RANK FROM ("
        f"SELECT QUERY_ID, MATCH_ID, HAMMING, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY HAMMING ASC, MATCH_ID ASC) AS INT) AS RANK "
        f"FROM (SELECT q.__bid AS QUERY_ID, c.__bid AS MATCH_ID, "
        f"{ham} AS HAMMING FROM {packed} c CROSS JOIN "
        f"(SELECT __bid, __sig FROM {packed} __q WHERE __bid IN ({qlist})) q "
        f"WHERE q.__bid <> c.__bid)"
        f") WHERE RANK <= {kf}"
    )
    if not rerank:
        return hstage
    cos = _cosine_sql(f"qv.{vec_col}", f"cv.{vec_col}")
    if round_scores is not None:
        cos = f"ROUND({cos}, {int(round_scores)})"
    return (
        f"SELECT QUERY_ID, MATCH_ID, COSINE, RANK FROM ("
        f"SELECT QUERY_ID, MATCH_ID, COSINE, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY COSINE DESC, MATCH_ID ASC) AS INT) AS RANK "
        f"FROM (SELECT h.QUERY_ID, h.MATCH_ID, {cos} AS COSINE "
        f"FROM ({hstage}) h "
        f"JOIN {source} cv ON cv.{id_col} = h.MATCH_ID "
        f"JOIN {source} qv ON qv.{id_col} = h.QUERY_ID)"
        f") WHERE RANK <= {int(k)}"
    )


def _nibble_band_keys(sig: str, n_words: int, nb: int) -> list:
    """Pigeonhole band keys over a packed sign signature: the
    ``n_words * 8`` nibbles (4-bit groups) partition into ``nb`` contiguous
    bands; any pair within Hamming distance ``nb - 1`` agrees on at least
    one whole band (pigeonhole), so a band equi-join has EXACT recall at
    that threshold — the multi-index hashing decomposition (Norouzi,
    Punjani & Fleet, CVPR 2012, public technique). One F.expr per band
    (integer shifts/masks — replayed verbatim by the oracle)."""
    nn = n_words * 8
    keys = []
    for b in range(nb):
        lo, hi = b * nn // nb, (b + 1) * nn // nb
        parts = [f"'{b}'"] + [
            f"(shiftright(element_at({sig}, {p // 8 + 1}), {4 * (p % 8)}) & 15)"
            for p in range(lo, hi)
        ]
        keys.append(F.expr("concat_ws(':', " + ", ".join(parts) + ")"))
    return keys


@spark_transform("embedding_join_binary", category="similarity", streaming_ok=False)
def embedding_join_binary(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    other=None,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    max_hamming: int = 6,
    rerank: bool = False,
    rerank_factor: int = 4,
    round_scores: int | None = 6,
    right_prefix: str = "MATCH_",
    n_words: int | None = None,
    index: "BinaryIndex | None" = None,
) -> DataFrame:
    """The BIG-BIG semantic join: attach each left row's top-``k`` right
    rows within Hamming distance ``max_hamming`` over 1-bit sign
    signatures (:func:`binary_quantize`) — the one join in the ANN family
    with NO broadcast and NO per-query corpus scan, so it survives a
    billion×billion shape. Candidates come from a pigeonhole band
    equi-join (multi-index hashing, Norouzi et al. 2012): the signature's
    nibbles split into ``max_hamming + 1`` bands, and any pair within the
    threshold agrees on at least one whole band — EXACT recall, not
    probabilistic, so the operator carries a full integer hash oracle and
    a ``.sql()`` renderer. Appends ``{right_prefix}ID``, ``HAMMING``,
    ``RANK`` (ascending Hamming, ties → lowest right id); inner join
    (left rows with no candidate in range drop); id-equal matches
    excluded (the join family's single-namespace rule); fewer than ``k``
    matches when fewer right rows sit inside the threshold — the bound is
    the contract (unbounded top-k needs a corpus scan per row; use
    ``embedding_join_ivf``/``_ivfpq`` for that regime).

    100 TB shape: both sides pack row-locally to 8 B/row signatures
    (64-dim), explode to ``max_hamming + 1`` slim band rows each, and
    shuffle ONLY on the band key — per-row cost is bands × (key bytes),
    independent of either corpus size; the verify stage pays 2
    xor+popcount word ops per colliding pair. Skew: exact-duplicate
    signature clusters collide on every band (the dedup_simhash skew
    note); no broadcast hint anywhere, so the band join stays
    AQE-skew-eligible. ``max_hamming`` must stay below ``n_words * 8``
    (nibble granularity bounds the band count; Charikar's bound says
    Hamming 6 of 64 bits already means cosine ≈ 0.96, so useful
    thresholds sit far below the cap).

    ``rerank=True`` keeps ``k · rerank_factor`` Hamming survivors per
    left row, reranks ONLY those by exact cosine over the full vectors
    (requires the right-side ``other`` frame for its vectors — a
    signatures-only ``index`` cannot serve the rerank stage), and returns
    ``COSINE`` instead of ``HAMMING`` — the survivor set is
    integer-determined, so the mode stays exactly replayable under the
    standard rounded-cosine policy (``round_scores``).

    A prebuilt :class:`BinaryIndex` (``binary_index``/
    ``load_binary_index``, foldable with ``update_binary_index``) skips
    the per-call right-side re-pack; ``n_docs`` staleness is checked when
    both ``other`` and ``index`` are passed. ``n_words`` follows the
    ``binary_quantize`` contract (derived from data, validated when
    explicit, required by the renderer). Uniform-dim assumption as
    documented on :func:`similarity_search_binary`."""
    if k < 1:
        raise ParameterException("k must be >= 1")
    if max_hamming < 0:
        raise ParameterException("max_hamming must be >= 0")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    first = df.select(F.size(F.col(v)).alias("d")).first()
    if first is None:
        raise ParameterException("left side is empty")
    derived = max(1, (int(first["d"]) + 31) // 32)
    if index is not None:
        if not isinstance(index, BinaryIndex):
            raise ParameterException(
                "embedding_join_binary takes a BinaryIndex (build with "
                f"binary_index / load_binary_index); got "
                f"{type(index).__name__}"
            )
        if rerank and odf is None:
            raise ParameterException(
                "rerank=True needs the right-side vectors (other=...); a "
                "BinaryIndex holds signatures only"
            )
        check_fingerprint(index, odf, "vectors", side="right-side")
        if index.dim is not None and int(first["d"]) != index.dim:
            raise ParameterException(
                f"left vectors have dim {int(first['d'])} but the index "
                f"was built over dim {index.dim}"
            )
        if n_words is not None and int(n_words) != index.n_words:
            raise ParameterException(
                f"n_words={int(n_words)} but the index was built with "
                f"{index.n_words}"
            )
        nw = int(index.n_words)
        rp = index.frame.select("__rid", "__sig")
    else:
        if odf is None:
            raise ParameterException(
                "embedding_join_binary needs a right-side frame (other=...)"
                " or a prebuilt BinaryIndex"
            )
        ov = resolve_col(odf, other_vec or vec_col)
        oi = resolve_col(odf, other_id or id_col)
        rdim = odf.select(F.size(F.col(ov)).alias("d")).first()
        if rdim is not None and int(first["d"]) != int(rdim["d"]):
            raise ParameterException(
                f"left dim {int(first['d'])} != right dim {int(rdim['d'])}"
            )
        if n_words is not None and int(n_words) != derived:
            raise ParameterException(
                f"n_words={int(n_words)} but the {int(first['d'])}-dim "
                f"vectors pack to {derived} words"
            )
        nw = derived
        rp = spread(odf).select(
            F.col(oi).alias("__rid"),
            _sign_words_expr(f"`{ov}`", nw).alias("__sig"),
        )
    nb = max_hamming + 1
    if nb > nw * 8:
        raise ParameterException(
            f"max_hamming={max_hamming} needs {nb} bands but the "
            f"{nw * 8}-nibble signature supports at most {nw * 8} — use "
            "the IVF/IVF-PQ join for looser thresholds"
        )
    qp = df.select(
        F.col(i).alias("__qid"),
        _sign_words_expr(f"`{v}`", nw).alias("__qsig"),
    )
    mid = f"{right_prefix}ID"
    lb = qp.select(
        "__qid", "__qsig",
        F.explode(F.array(*_nibble_band_keys("__qsig", nw, nb))).alias("__band"),
    )
    rb = rp.select(
        "__rid", "__sig",
        F.explode(F.array(*_nibble_band_keys("__sig", nw, nb))).alias("__band"),
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("__qsig"), F.col("__sig"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = (
        lb.join(rb, on="__band")
        .filter(F.col("__qid") != F.col("__rid"))
        .withColumn("__ham", ham)
        .filter(F.col("__ham") <= max_hamming)
        # a pair within the threshold can agree on SEVERAL bands — one
        # surviving row per pair (__ham is pair-determined, so any row is
        # the same row)
        .dropDuplicates(["__qid", "__rid"])
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("__ham").asc(), F.col("__rid").asc()
    )
    kf = k * rerank_factor if rerank else k
    top = (
        pairs.withColumn("RANK", F.row_number().over(w).cast("int"))
        .filter(F.col("RANK") <= kf)
    )
    if not rerank:
        matches = top.select(
            F.col("__qid").alias(i), F.col("__rid").alias(mid),
            F.col("__ham").alias("HAMMING"), "RANK",
        )
        return df.join(matches, on=i, how="inner")
    # survivors only pay the vector read — the join-back frames are
    # queries × k · factor rows, never a corpus
    ov = resolve_col(odf, other_vec or vec_col)
    oi = resolve_col(odf, other_id or id_col)
    cvec = odf.select(F.col(oi).alias("__rid"), F.col(ov).alias("__cvec"))
    qvec = df.select(F.col(i).alias("__qid"), F.col(v).alias("__qvec"))
    cos = cosine_expr(F.col("__qvec"), F.col("__cvec"))
    if round_scores is not None:
        cos = F.round(cos, round_scores)
    rw = Window.partitionBy("__qid").orderBy(
        F.col("COSINE").desc(), F.col("__rid").asc()
    )
    matches = (
        top.select("__qid", "__rid")
        .join(cvec, on="__rid")
        .join(qvec, on="__qid")
        .withColumn("COSINE", cos)
        .withColumn("RANK", F.row_number().over(rw).cast("int"))
        .filter(F.col("RANK") <= k)
        .select(
            F.col("__qid").alias(i), F.col("__rid").alias(mid),
            "COSINE", "RANK",
        )
    )
    return df.join(matches, on=i, how="inner")


@renderer("embedding_join_binary")
def _r_embedding_join_binary(source, vec_col, id_col, other=None,
                             other_vec=None, other_id=None, k=1,
                             max_hamming=6, rerank=False, rerank_factor=4,
                             round_scores=6, right_prefix="MATCH_",
                             n_words=None, index=None) -> str:
    """Plain all-pairs rendering (the _r_dedup_simhash precedent): the
    banded candidate join is a result-preserving optimization — pigeonhole
    recall at ``max_hamming`` is EXACT — so the render replays the
    equivalent Hamming-thresholded pair join + window directly. Requires
    explicit ``n_words`` (the binary family's render contract)."""
    from ..errors import TransformRenderingException

    if index is not None:
        raise TransformRenderingException(
            "embedding_join_binary renders the inline packing; a prebuilt "
            "index is an external artifact the renderer cannot replay"
        )
    if other is None:
        raise TransformRenderingException(
            "embedding_join_binary renders only with a right-side table "
            "(other=...)"
        )
    if n_words is None:
        raise TransformRenderingException(
            "embedding_join_binary renders only with an explicit n_words "
            "(= ceil(dim/32)); the vector dimension is unknowable at "
            "render time"
        )
    if k < 1:
        raise ParameterException("k must be >= 1")
    if max_hamming < 0:
        raise ParameterException("max_hamming must be >= 0")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    ov, oi = other_vec or vec_col, other_id or id_col
    mid = f"{right_prefix}ID"
    qp = (
        f"(SELECT {id_col} AS __qid, "
        f"{_sign_words_sql(vec_col, int(n_words))} AS __qsig FROM {source})"
    )
    rp = (
        f"(SELECT {oi} AS __rid, "
        f"{_sign_words_sql(ov, int(n_words))} AS __sig FROM {other})"
    )
    ham = (
        "aggregate(zip_with(q.__qsig, r.__sig, (a, b) -> "
        "CAST(bit_count(a ^ b) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )
    kf = int(k) * int(rerank_factor) if rerank else int(k)
    hstage = (
        f"SELECT __qid, {mid}, HAMMING, RANK FROM ("
        f"SELECT __qid, {mid}, HAMMING, CAST(ROW_NUMBER() OVER ("
        f"PARTITION BY __qid ORDER BY HAMMING ASC, {mid} ASC) AS INT) "
        f"AS RANK FROM (SELECT q.__qid, r.__rid AS {mid}, {ham} AS HAMMING "
        f"FROM {qp} q CROSS JOIN {rp} r WHERE q.__qid <> r.__rid) "
        f"WHERE HAMMING <= {int(max_hamming)}) WHERE RANK <= {kf}"
    )
    if not rerank:
        return (
            f"SELECT s.*, m.{mid}, m.HAMMING, m.RANK FROM {source} s "
            f"JOIN ({hstage}) m ON m.__qid = s.{id_col}"
        )
    from .dedup import _cosine_sql

    cos = _cosine_sql(f"qv.{vec_col}", f"cv.{ov}")
    if round_scores is not None:
        cos = f"ROUND({cos}, {int(round_scores)})"
    ranked = (
        f"SELECT __qid, {mid}, COSINE, RANK FROM ("
        f"SELECT __qid, {mid}, COSINE, CAST(ROW_NUMBER() OVER ("
        f"PARTITION BY __qid ORDER BY COSINE DESC, {mid} ASC) AS INT) AS "
        f"RANK FROM (SELECT h.__qid, h.{mid}, {cos} AS COSINE "
        f"FROM ({hstage}) h JOIN {other} cv ON cv.{oi} = h.{mid} "
        f"JOIN {source} qv ON qv.{id_col} = h.__qid)) WHERE RANK <= {int(k)}"
    )
    return (
        f"SELECT s.*, m.{mid}, m.COSINE, m.RANK FROM {source} s "
        f"JOIN ({ranked}) m ON m.__qid = s.{id_col}"
    )


@spark_transform("embedding_join", category="similarity", streaming_ok=False)
def embedding_join(
    df: DataFrame,
    other,
    vec_col: str,
    id_col: str,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    method: str = "brute",
    num_planes: int = 6,
    right_prefix: str = "MATCH_",
    round_scores: int | None = 6,
) -> DataFrame:
    """Semantic join: attach each left row's top-``k`` most-similar rows
    from ``other`` by embedding cosine — the join-shaped form of
    ``similarity_search`` (entity resolution, cross-corpus linking,
    retrieval labeling). Appends ``{right_prefix}ID``, ``COSINE``, ``RANK``;
    left rows keep all columns (left rows with no candidate — possible
    under method='lsh' bucketing — are dropped, an inner join).

    method='brute' is exact (right side broadcast against every left row —
    right must be the smaller corpus); method='lsh' buckets both sides by
    hyperplane signature so only same-bucket pairs score — the scale path
    when both sides are large.
    """
    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    ov = resolve_col(odf, other_vec or vec_col)
    oi = resolve_col(odf, other_id or id_col)
    matches = similarity_search(
        odf.select(F.col(oi).alias(i), F.col(ov).alias(v)),
        vec_col=v,
        id_col=i,
        queries=df.select(F.col(i), F.col(v)),
        k=k,
        method=method,
        num_planes=num_planes,
        round_scores=round_scores,
    ).select(
        F.col("QUERY_ID").alias(i),
        F.col("MATCH_ID").alias(f"{right_prefix}ID"),
        "COSINE",
        "RANK",
    )
    return df.join(matches, on=i, how="inner")


@renderer("embedding_join")
def _r_embedding_join(
    source, other, vec_col, id_col, other_vec=None, other_id=None, k=1,
    method="brute", num_planes=6, right_prefix="MATCH_", round_scores=6,
) -> str:
    from ..errors import TransformRenderingException

    if method != "brute" or other == "<dataframe>":
        raise TransformRenderingException(
            "embedding_join is SQL-renderable only for method='brute' with "
            "a named/chain right table"
        )
    qsql = f"SELECT {id_col} AS __qid, {vec_col} AS __qv FROM {source}"
    matches = _topk_matches_sql(
        other, other_id or id_col, other_vec or vec_col, qsql, k,
        round_scores,
    )
    return (
        f"SELECT * FROM {source} JOIN ("
        f"SELECT QUERY_ID AS {id_col}, MATCH_ID AS {right_prefix}ID, "
        f"COSINE, RANK FROM ({matches})) USING ({id_col})"
    )
