"""Product quantization (PQ) for embedding columns — Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search" (public technique).
Vectors are unit-normalized, split into ``m`` subspaces, and each subspace
is vector-quantized against its own ``codebook_size``-entry codebook, so a
64-d float vector compresses to ``m`` small ints. ``pq_search`` scores by
asymmetric distance computation (ADC): the query stays full-precision and
dot(q, reconstruction(x)) decomposes EXACTLY into per-subspace lookups —
one table lookup per subspace per candidate, no vector math in the scan.

Determinism contract (same as kmeans_cluster): lowest-id seeds, sub-vector
distances rounded to ``round_to`` before every argmin (ties -> lowest code),
codebook components rounded to 9 dp after every Lloyd mean. The training
replay is therefore exact SQL, which the pq_encode oracle runs; pq_search
gets an IVF-style verification-summary oracle (ADC top-k against the exact
brute-force ranking).

100 TB design: codebooks are a bounded driver collect (m · codebook_size ·
dim/m = dim · codebook_size doubles) embedded as literals — encoding and
ADC scoring are shuffle-free projections; the corpus never joins for
assignment. Training aggregations ship slim (subspace, code, pos, value)
tuples with partial combine, all m subspaces in ONE aggregation pass per
Lloyd iteration. Python never touches row data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col, spread
from ..registry import renderer as _renderer, spark_transform
from ._artifact import check_fingerprint, load_artifact, save_artifact
from ._cache import release_with, scoped_persist
from ._litfast import centroid_array_lit, double_array_lit, double_matrix_lit
from .cluster import CENT_ROUND, _assign_expr, _fit_kmeans, _unit_rounded


def _sq_dist(a: Column, b) -> Column:
    """Sequential-fold squared L2 — same evaluation order both engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _code_expr(sub_col: str, codebook: list, round_to: int) -> Column:
    """argmin code over ROUNDED squared distances; ties -> lowest code."""
    # one F.expr call, not codes·dim py4j F.lit round trips — see _litfast
    cents = centroid_array_lit(codebook, id_type="int")
    dists = F.transform(
        cents,
        lambda ce: F.struct(
            F.round(_sq_dist(F.col(sub_col), ce["v"]), round_to).alias("d"),
            ce["c"].alias("c"),
        ),
    )
    return F.array_min(dists)["c"]


def _stage_subvectors(df: DataFrame, m: int, d_sub: int, u_col: str = "__u") -> DataFrame:
    """Materialize each subspace slice behind a projection boundary (HOF
    staging rule): the argmin lambda evaluates its input once per codebook
    entry, so it must reference a plain column, not the slice expression."""
    return df.withColumns(
        {f"__s{s}": F.slice(F.col(u_col), s * d_sub + 1, d_sub) for s in range(m)}
    )


def _train_codebooks(
    staged: DataFrame, m: int, d_sub: int, codebook_size: int, iterations: int, round_to: int
) -> list:
    """Deterministic per-subspace Lloyd. ``staged`` must be persisted with
    __id, __s0..__s{m-1}. Returns [subspace][(code, centroid)] lists."""
    seed_rows = staged.orderBy("__id").limit(codebook_size).select(
        *[f"__s{s}" for s in range(m)]
    ).collect()
    books = [
        [(c, [round(float(x), CENT_ROUND) for x in r[f"__s{s}"]])
         for c, r in enumerate(seed_rows)]
        for s in range(m)
    ]
    for _ in range(iterations):
        codes = F.array(*[_code_expr(f"__s{s}", books[s], round_to) for s in range(m)])
        assigned = staged.withColumn("__codes", codes)
        sub_structs = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.alias("s"),
                F.element_at("__codes", s + 1).alias("c"),
                F.slice("__u", s * d_sub + 1, d_sub).alias("v"),
            ),
        )
        # ONE aggregation pass covers every subspace: slim (s, c, pos, val)
        rows = (
            assigned.select(F.explode(sub_structs).alias("x"))
            .select("x.s", "x.c", F.posexplode("x.v").alias("__pos", "__val"))
            .groupBy("s", "c", "__pos")
            .agg(F.round(F.avg("__val"), CENT_ROUND).alias("__m"))
            .collect()
        )
        acc: dict = {}
        for r in rows:
            acc.setdefault((r["s"], r["c"]), {})[r["__pos"]] = r["__m"]
        books = [
            [
                (c, [acc[(s, c)][p] for p in range(d_sub)]) if (s, c) in acc else (c, old)
                for c, old in books[s]
            ]
            for s in range(m)
        ]
    return books


def _fused_fit(cached: DataFrame, staged: DataFrame, cents: list, books: list,
               coarse_iterations: int, pq_iterations: int, m: int, d_sub: int,
               round_to: int) -> tuple:
    """Run the coarse-kmeans Lloyd passes and the per-subspace PQ codebook
    Lloyd passes in ONE collect job per pass level (round 13, guide §2.6's
    "overlap independent work" applied as plan-level fusion instead of
    driver threads — threads were measured slower on a shared core pool).
    In the non-residual IVF-PQ build the two fits are independent: kmeans
    pass j needs only cents_{j-1}, codebook pass j needs only books_{j-1}.
    Each pass level unions the two slim aggregation subtrees — each branch
    aggregates by ITS OWN original keys before the union, so the per-branch
    rounded means are the exact values the sequential fits produce — and
    one ``collect`` returns both (kmeans rows tagged ``__s = -1``).
    Job count: max(ci, pi) instead of ci + pi."""
    for j in range(max(coarse_iterations, pq_iterations)):
        branches = []
        if j < coarse_iterations:
            from .similarity import _attach_centroids

            abase, carr, _ad = _attach_centroids(cached, cents)
            assigned = abase.withColumn("__cid", _assign_expr(carr, round_to))
            branches.append(
                assigned.select("__cid", F.posexplode("__u").alias("__pos", "__v"))
                .groupBy("__cid", "__pos")
                .agg(F.round(F.avg("__v"), CENT_ROUND).alias("__m"))
                .select(
                    F.lit(-1).cast("int").alias("__s"),
                    F.col("__cid").cast("bigint").alias("__c"),
                    F.col("__pos"), F.col("__m"),
                )
            )
        if j < pq_iterations:
            codes = F.array(*[_code_expr(f"__s{s}", books[s], round_to) for s in range(m)])
            assigned_pq = staged.withColumn("__codes", codes)
            sub_structs = F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"),
                    F.element_at("__codes", s + 1).alias("c"),
                    F.slice("__u", s * d_sub + 1, d_sub).alias("v"),
                ),
            )
            branches.append(
                assigned_pq.select(F.explode(sub_structs).alias("x"))
                .select("x.s", "x.c", F.posexplode("x.v").alias("__pos", "__val"))
                .groupBy("s", "c", "__pos")
                .agg(F.round(F.avg("__val"), CENT_ROUND).alias("__m"))
                .select(
                    F.col("s").cast("int").alias("__s"),
                    F.col("c").cast("bigint").alias("__c"),
                    F.col("__pos"), F.col("__m"),
                )
            )
        fused = branches[0]
        for b in branches[1:]:
            fused = fused.unionByName(b)
        rows = fused.collect()
        kacc: dict = {}
        bacc: dict = {}
        for r in rows:
            if r["__s"] < 0:
                kacc.setdefault(r["__c"], {})[r["__pos"]] = r["__m"]
            else:
                bacc.setdefault((r["__s"], r["__c"]), {})[r["__pos"]] = r["__m"]
        if j < coarse_iterations:
            from .cluster import _renorm_py

            cents = [
                (cid,
                 _renorm_py([kacc[cid][p] for p in range(len(kacc[cid]))])
                 if cid in kacc else old)
                for cid, old in cents
            ]
        if j < pq_iterations:
            books = [
                [
                    (c, [bacc[(s, c)][p] for p in range(d_sub)])
                    if (s, c) in bacc else (c, old)
                    for c, old in books[s]
                ]
                for s in range(m)
            ]
    return cents, books


@spark_transform("pq_encode", category="similarity", streaming_ok=False)
def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Append ``PQ_CODE`` (array<int>, length ``m``): the product-quantized
    compression of the unit-normalized vector. ~dim·4-byte floats become m
    small ints — the memory layout that makes billion-vector ANN fit."""
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    staged, d_sub, cached = _staged_corpus(df, v, i, m)
    books = _train_codebooks(staged, m, d_sub, codebook_size, iterations, round_to)
    codes = F.array(*[_code_expr(f"__s{s}", books[s], round_to) for s in range(m)])
    out = staged.withColumn("PQ_CODE", codes).select(F.col("__id").alias(i), "PQ_CODE")
    return release_with(
        df.join(out, on=i, how="inner").select(*df.columns, "PQ_CODE"), cached
    )


def rotation_matrix(seed: int, dim: int, sweeps: int = 4) -> list[list[float]]:
    """Deterministic orthogonal pre-rotation for PQ: the composition of
    ``sweeps * dim`` Givens rotations whose plane ``(i, j)`` and angle
    derive from ``md5(f"{seed}:{t}")`` — pure, platform-stable, and
    regenerable from ``(seed, dim, sweeps)`` alone. Random rotation is
    the standard cheap pre-conditioner of the OPQ family (Ge et al.,
    CVPR 2013 evaluate it as the baseline their learned rotation
    improves on; Jégou et al. 2011 §V.D note structured vectors hurt PQ
    without it): it spreads variance evenly across the ``m`` subspaces so
    no codebook starves on a low-energy block. LEARNED OPQ (the SVD
    alternation) is deliberately excluded: a data-derived matrix cannot
    be replayed by the sf-agnostic DuckDB oracle, and this repo's PQ
    family keeps full independent in-SQL replays — the matrix here is a
    closed-form literal both engines regenerate from the spec
    (the ``projection_signs`` precedent, rproj.py).

    Entries are rounded to ``CENT_ROUND`` dp so the literal is compact
    and byte-identical cross-engine; the rounding perturbs orthogonality
    by ≤ dim·5e-10 per component, far below the 6-dp score round."""
    import hashlib
    import math

    if dim < 2:
        raise ParameterException("rotation needs dim >= 2")
    if sweeps < 1:
        raise ParameterException("rotation_sweeps must be >= 1")
    mat = [[1.0 if a == b else 0.0 for b in range(dim)] for a in range(dim)]
    for t in range(sweeps * dim):
        h = hashlib.md5(f"{seed}:{t}".encode()).hexdigest()
        i = int(h[:8], 16) % dim
        j = int(h[8:16], 16) % (dim - 1)
        if j >= i:
            j += 1
        theta = (int(h[16:24], 16) / 0xFFFFFFFF) * 2.0 * math.pi
        c, s = math.cos(theta), math.sin(theta)
        for r in range(dim):
            a, b = mat[r][i], mat[r][j]
            mat[r][i] = a * c + b * s
            mat[r][j] = b * c - a * s
    # python round() is fine here: the SAME rounded literal is embedded in
    # both engines (no cross-engine rounding semantics in play)
    return [[round(x, CENT_ROUND) for x in row] for row in mat]


def _rotate_expr(u_col: str, mat: list) -> Column:
    """Rotated copy of a staged unit vector column: component ``i`` is the
    sequential fold dot(R[i], u) rounded at CENT_ROUND — the same
    fold/round shape as every other replayed dot in the PQ family, so the
    oracle's ``list_sum`` replays it bit-for-bit."""
    rl = double_matrix_lit([list(r) for r in mat])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(mat))),
        lambda i: F.round(
            F.aggregate(
                F.zip_with(
                    F.element_at(rl, i.cast("int")), F.col(u_col),
                    lambda r, x: r * x,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            CENT_ROUND,
        ),
    )


def _rotate_sql(mat: list, nv: str, engine: str = "spark") -> str:
    """The rotated-corpus relation as SQL over a normalized relation
    ``nv`` exposing ``(__id, __u)`` (Spark dialect) — the exact replay of
    :func:`_rotate_expr` for the renderers. The matrix ships once as an
    array-of-arrays literal."""
    rows = ", ".join(
        "array(" + ", ".join(repr(float(x)) for x in row) + ")"
        for row in mat
    )
    dim = len(mat)
    rot = (
        f"transform(sequence(1, {dim}), i -> round(aggregate(zip_with("
        f"element_at(array({rows}), i), __u, (r, x) -> r * x), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), {CENT_ROUND}))"
    )
    return f"(SELECT __id, {rot} AS __u FROM {nv} __pq_rot)"


def _staged_corpus(df: DataFrame, v: str, i: str, m: int,
                   rotation: list | None = None):
    first_dim = df.select(F.size(F.col(v)).alias("d")).first()
    if first_dim is None:
        raise ParameterException("input is empty")
    dim = int(first_dim["d"])
    if m < 1 or dim % m != 0:
        raise ParameterException(f"m must divide the vector dimension ({dim})")
    if rotation is not None and len(rotation) != dim:
        raise ParameterException(
            f"rotation matrix is {len(rotation)}x{len(rotation)} but the "
            f"vectors have dim {dim}"
        )
    d_sub = dim // m
    base = _unit_rounded(
        spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    )
    if rotation is not None:
        base = base.withColumn("__u", _rotate_expr("__u", rotation))
    staged = scoped_persist(_stage_subvectors(base, m, d_sub))
    return staged, d_sub, staged


def _pq_render_parts(source, vec_col, id_col, m, codebook_size, iterations,
                     round_to, caller: str, vec_source: str | None = None):
    """Shared per-subspace SQL chains for the pq_encode / pq_search
    renderers: for each subspace returns ``(sub, codebook, assign)`` —
    the staged subvector relation, the post-Lloyd codebook relation, and
    the final code assignment — all as inline subqueries. ``vec_source``
    overrides the relation subvectors slice from (must expose
    ``(__id, __u)``) — the residual-IVFPQ hook, where the PQ fit runs
    over vector-minus-assigned-centroid instead of the normalized
    corpus."""
    from ..errors import TransformRenderingException

    if m < 1:
        raise ParameterException("m must be >= 1")
    if iterations < 0:
        raise ParameterException("iterations must be >= 0")
    if iterations > 8 or m > 16:
        raise TransformRenderingException(
            f"{caller} renders unrolled per-subspace Lloyd passes; "
            "iterations > 8 or m > 16 produces an impractically large "
            "statement"
        )
    from .cluster import _unit_norm_sql

    nv = vec_source or _unit_norm_sql(vec_col, id_col, source)
    sq = (
        "aggregate(zip_with(t.v, s.v, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    parts = []
    for s_ix in range(int(m)):
        sub = (
            f"(SELECT __id, slice(__u, {s_ix} * (size(__u) DIV {int(m)}) + 1, "
            f"size(__u) DIV {int(m)}) AS v FROM {nv} __pq_nv)"
        )
        prev = (
            f"(SELECT CAST(ROW_NUMBER() OVER (ORDER BY __id) - 1 AS INT) AS c, "
            f"v FROM (SELECT __id, v FROM {sub} ORDER BY __id "
            f"LIMIT {int(codebook_size)}))"
        )

        def assign(cents_sql: str) -> str:
            d = f"round({sq}, {int(round_to)})"
            return (
                f"(SELECT __id, c FROM (SELECT t.__id, s.c, ROW_NUMBER() OVER "
                f"(PARTITION BY t.__id ORDER BY {d} ASC, s.c ASC) AS rn "
                f"FROM {sub} t CROSS JOIN {cents_sql} s) WHERE rn = 1)"
            )

        for _ in range(int(iterations)):
            mm = (
                f"(SELECT c, transform(array_sort(collect_list(struct(pos, m))), "
                f"e -> e.m) AS mv FROM (SELECT c, pos, round(avg(val), {CENT_ROUND}) "
                f"AS m FROM (SELECT a.c, posexplode(t.v) AS (pos, val) "
                f"FROM {sub} t JOIN {assign(prev)} a ON a.__id = t.__id) "
                f"GROUP BY c, pos) GROUP BY c)"
            )
            prev = (
                f"(SELECT p.c, COALESCE(m.mv, p.v) AS v FROM {prev} p "
                f"LEFT JOIN {mm} m ON p.c = m.c)"
            )
        parts.append((sub, prev, assign(prev)))
    return parts


@_renderer("pq_encode")
def _r_pq_encode(source, vec_col, id_col, m=4, codebook_size=8, iterations=1,
                 round_to=6) -> str:
    """Unrolled per-subspace Lloyd replay in Spark SQL (the kmeans_cluster
    renderer technique, L2 distances instead of cosines): lowest-id seeds,
    argmin over ``round_to``-rounded squared distances (ties -> lowest
    code), 9-dp-rounded means with empty codes keeping their previous
    centroid, final per-subspace codes assembled into PQ_CODE. Subvector
    bounds derive row-locally (``size(u) DIV m``) since the renderer never
    sees the data; equality with the DataFrame path (driver-collected
    codebooks as literals) holds through the rounded-distance argmin
    robustness contract. The normalized corpus inlines at each reference —
    executed-SQL recompute; the render is an export artifact."""
    parts = _pq_render_parts(
        source, vec_col, id_col, m, codebook_size, iterations, round_to,
        "pq_encode",
    )
    joins = " ".join(
        f"JOIN {a} f{j} ON f{j}.__id = s.{id_col}"
        for j, (_, _, a) in enumerate(parts)
    )
    arr = ", ".join(f"f{j}.c" for j in range(int(m)))
    return f"SELECT s.*, array({arr}) AS PQ_CODE FROM {source} s {joins}"


@spark_transform("pq_search", category="similarity", streaming_ok=False)
def pq_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: list,
    k: int = 10,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-``k`` by ADC over PQ codes: for each query, the score
    against candidate x is dot(q, reconstruction(x)) = sum_s LUT_s[code_s] —
    ``m`` array lookups per candidate, embedded as literals, so the scan is
    a shuffle-free projection. Output (QUERY_ID, MATCH_ID, ADC_SCORE, RANK);
    queries never match themselves. The exactness ceiling is the codebook
    resolution — calibrate with the verification summary the oracle query
    runs (containment in the exact top-50)."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    staged, d_sub, cached = _staged_corpus(df, v, i, m)
    books = _train_codebooks(staged, m, d_sub, codebook_size, iterations, round_to)
    codes = F.array(*[_code_expr(f"__s{s}", books[s], round_to) for s in range(m)])
    encoded = staged.withColumn("__codes", codes).select("__id", "__codes")
    qrows = (
        staged.filter(F.col("__id").isin([int(q) for q in query_ids]))
        .select("__id", *[f"__s{s}" for s in range(m)])
        .collect()
    )
    if not qrows:
        raise ParameterException("none of query_ids is present in the corpus")
    luts = {
        int(r["__id"]): [
            [
                sum(a * b for a, b in zip(r[f"__s{s}"], vec))
                for _, vec in books[s]
            ]
            for s in range(m)
        ]
        for r in qrows
    }
    per_query = []
    for qid in sorted(luts):
        lut = luts[qid]
        score = F.round(
            sum(
                F.element_at(
                    double_array_lit(list(lut[s])),
                    F.element_at("__codes", s + 1) + 1,
                )
                for s in range(m)
            ),
            round_to,
        )
        per_query.append(
            encoded.filter(F.col("__id") != qid).select(
                F.lit(qid).cast("bigint").alias("QUERY_ID"),
                F.col("__id").alias("MATCH_ID"),
                score.alias("ADC_SCORE"),
            )
        )
    union = per_query[0]
    for p in per_query[1:]:
        union = union.unionByName(p)
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("ADC_SCORE").desc(), F.col("MATCH_ID").asc()
    )
    out = (
        union.withColumn("RANK", F.row_number().over(w).cast("int"))
        .filter(F.col("RANK") <= k)
    )
    return release_with(out, cached)


class IVFPQIndex:
    """Reusable IVF-PQ index: the persisted ``(__id, __u, __cid, __codes)``
    frame plus the coarse centroids and per-subspace PQ codebooks. Build
    ONCE with :func:`ivfpq_index` and pass to any number of
    ``similarity_search_ivfpq`` calls — the amortized production shape
    (index build is the expensive phase: two deterministic fits; per-query
    search is a bounded probe + a codes-only candidate scan).
    ``release()`` unpersists; save/load follow the artifact contract in
    ``_artifact.py``; ``n_docs`` is the row-count staleness fingerprint.
    The fingerprint is CALLER-CHECKED on the search path:
    ``similarity_search_ivfpq(index=...)`` searches whatever frame the
    index holds without comparing ``n_docs`` to the passed ``df`` (the
    prebuilt path ignores ``df`` for candidates by design, so there is no
    authoritative frame to compare against — unlike ``embedding_join_ivf``,
    whose ``other`` frame IS the claimed corpus and is count-checked).
    Callers that track a side corpus should compare ``index.n_docs``
    themselves before searching a possibly-stale artifact."""

    def __init__(self, frame: DataFrame, centroids: list, books: list,
                 m: int, d_sub: int, round_to: int, n_docs: int | None = None,
                 residual: bool = False, rotation: list | None = None,
                 rotation_seed: int = 0, rotation_sweeps: int = 4):
        self.frame = frame
        self.centroids = centroids
        self.books = books
        self.m = m
        self.d_sub = d_sub
        self.round_to = round_to
        self.n_docs = n_docs
        # residual=True: PQ codes encode (vector - assigned coarse centroid)
        # — the full IVFADC formulation; scoring must add the coarse term
        self.residual = residual
        # rotation: the deterministic orthogonal pre-rotation matrix
        # (rotation_matrix(seed, dim, sweeps)) the corpus was built under;
        # the frame's __u holds ROTATED vectors, so in-frame queries need
        # no extra work but external batch sides (dedup/join) must rotate
        # with the same matrix before probing. None = identity/off.
        self.rotation = rotation
        self.rotation_seed = rotation_seed
        self.rotation_sweeps = rotation_sweeps

    def release(self) -> None:
        from ._cache import release_now

        release_now(self.frame)


def _cent_vec_of_cid(df: DataFrame, cents: list, cid_col: str = "__cid",
                     out_col: str = "__cv"):
    """Attach ``out_col`` = the centroid vector of the row's ``cid_col``.
    ``cents`` must be the cid-ordered ``[(cid, vec)]`` list (cids 0..k-1).
    Small k embeds an array<array<double>> literal (positional lookup —
    shuffle-free projection); above the literal cap the centroids ship as
    a k-row broadcast equi-join instead, same trade as _attach_centroids."""
    from .similarity import IVF_LITERAL_CENTROID_MAX

    if len(cents) <= IVF_LITERAL_CENTROID_MAX:
        mat = double_matrix_lit([list(vec) for _, vec in cents])
        return df.withColumn(
            out_col, F.element_at(mat, (F.col(cid_col) + 1).cast("int"))
        )
    cent_df = df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in vec]) for c, vec in cents],
        f"{cid_col} bigint, {out_col} array<double>",
    )
    return df.join(F.broadcast(cent_df), on=cid_col)


def ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_centroids: int = 8,
    coarse_iterations: int = 1,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
    residual: bool = False,
    rotate: bool = False,
    rotation_seed: int = 0,
    rotation_sweeps: int = 4,
    rotation_dim: int | None = None,
) -> IVFPQIndex:
    """Build a reusable :class:`IVFPQIndex`: deterministic rounded coarse
    kmeans (kmeans_cluster contract) + per-subspace PQ codebooks
    (pq_encode contract), with the corpus stored as unit-rounded vectors,
    inverted-list ids, and m-int PQ codes. The frame stays persisted until
    ``release()`` — amortizing the two fits across searches is the point.

    ``residual=True`` is the full IVFADC formulation (Jégou et al. 2011
    §III): PQ quantizes ``vector - assigned_coarse_centroid`` instead of
    the vector itself, so the codebooks spend their resolution on the
    (much smaller) within-list spread — materially better recall at the
    same code budget. Centroid components are 9-dp-rounded by the shared
    contract and doubles subtract exactly, so the residuals — and with
    them the whole fit — keep the exact-replay determinism of the
    no-residual path; scoring adds the per-candidate coarse term
    dot(query, centroid[cid]).

    ``rotate=True`` (round 10) pre-rotates the unit-normalized corpus by
    the deterministic orthogonal matrix
    ``rotation_matrix(rotation_seed, dim, rotation_sweeps)`` before both
    fits — the random-rotation pre-conditioner of the OPQ family (see
    :func:`rotation_matrix` for the public-technique citation and why the
    LEARNED OPQ rotation is deliberately excluded). Rotation preserves
    dot products, so scores still approximate the ORIGINAL cosine; the
    stored ``__u`` holds rotated vectors, in-frame queries need no extra
    work, and external batch sides rotate via ``index.rotation``. The
    whole path stays inside the exact-replay contract (the matrix is a
    closed-form literal; each rotated component is the same fold/round
    shape as every other replayed dot). Composes with ``residual=True``
    (the residual is taken in rotated space)."""
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    if coarse_iterations < 0:
        raise ParameterException("coarse_iterations must be >= 0")
    from .similarity import _attach_centroids

    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    rotation = None
    if rotate:
        dfirst = df.select(F.size(F.col(resolve_col(df, vec_col))).alias("d")).first()
        if dfirst is None:
            raise ParameterException("input is empty")
        # rotation_dim exists so .sql() chains can render (dim is
        # unknowable at render time); validated against the data — the
        # binary_quantize n_words contract
        if rotation_dim is not None and int(rotation_dim) != int(dfirst["d"]):
            raise ParameterException(
                f"rotation_dim={int(rotation_dim)} but the vectors have "
                f"dim {int(dfirst['d'])}"
            )
        rotation = rotation_matrix(rotation_seed, int(dfirst["d"]), rotation_sweeps)
    # slim persisted corpus (__id, __u) — the __vec copy and the __s
    # subvector slices never earn cache bytes: slices are cheap row-local
    # projections their (few) consumers recompute above the cache, with
    # the same once-per-row HOF staging guarantee (projection boundary),
    # and __vec is never read after normalization (round 13)
    base = _unit_rounded(
        spread(df).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    )
    if rotation is not None:
        base = base.withColumn("__u", _rotate_expr("__u", rotation))
    cached = scoped_persist(base.select("__id", "__u"))
    from ._cache import release_now

    # ONE TakeOrdered job collects the lowest-id rows for BOTH fits' seeds
    # and doubles as the dim probe + cache materialization (round 13: this
    # replaces three driver jobs — the dim first(), the kmeans seeds
    # collect, and the codebook seeds collect — with one; the values each
    # consumer sees are the identical lowest-id __u doubles)
    seed_rows = (
        cached.orderBy("__id")
        .limit(max(int(num_centroids), int(codebook_size)))
        .select("__u").collect()
    )
    if not seed_rows:
        release_now(cached)
        raise ParameterException("input is empty")
    dim = len(seed_rows[0]["__u"])
    if m < 1 or dim % m != 0:
        release_now(cached)
        raise ParameterException(f"m must divide the vector dimension ({dim})")
    d_sub = dim // m
    staged = _stage_subvectors(cached, m, d_sub)
    if residual:
        # the residual PQ fit consumes the kmeans result (codes quantize
        # vector - assigned centroid), so the two fits stay sequential here
        cents = _fit_kmeans(cached, num_centroids, coarse_iterations,
                            round_to, seed_rows=seed_rows)
        abase, carr, _adrop = _attach_centroids(staged, cents)
        assigned = abase.withColumn("__cid", _assign_expr(carr, round_to))
        # restage: the PQ fit/encode slices come from the residual vector,
        # which takes the ``__u`` seat so _train_codebooks/_code_expr see
        # the same column shape as the plain path
        res = _cent_vec_of_cid(assigned, cents).withColumn(
            "__r", F.zip_with("__u", F.col("__cv"), lambda x, y: x - y)
        )
        rstaged = scoped_persist(
            _stage_subvectors(
                res.select(
                    "__id", "__cid", F.col("__u").alias("__orig"),
                    F.col("__r").alias("__u"),
                ),
                m, d_sub,
            )
        )
        books = _train_codebooks(
            rstaged, m, d_sub, codebook_size, iterations, round_to
        )
        codes = F.array(
            *[_code_expr(f"__s{s}", books[s], round_to) for s in range(m)]
        )
        frame = scoped_persist(
            rstaged.withColumn("__codes", codes)
            .select("__id", F.col("__orig").alias("__u"), "__cid", "__codes")
        )
        n = frame.count()
        release_now(rstaged)
    else:
        # independent fits: seed both from the shared collect, then run
        # the two Lloyd recurrences pass-fused (one collect per level)
        cents = [
            (j, [round(float(x), CENT_ROUND) for x in r["__u"]])
            for j, r in enumerate(seed_rows[:num_centroids])
        ]
        books = [
            [
                (c, [round(float(x), CENT_ROUND)
                     for x in r["__u"][s * d_sub:(s + 1) * d_sub]])
                for c, r in enumerate(seed_rows[:codebook_size])
            ]
            for s in range(m)
        ]
        cents, books = _fused_fit(
            cached, staged, cents, books, coarse_iterations, iterations,
            m, d_sub, round_to,
        )
        abase, carr, _adrop = _attach_centroids(staged, cents)
        assigned = abase.withColumn("__cid", _assign_expr(carr, round_to))
        codes = F.array(*[_code_expr(f"__s{s}", books[s], round_to) for s in range(m)])
        frame = scoped_persist(
            assigned.withColumn("__codes", codes)
            .select("__id", "__u", "__cid", "__codes")
        )
        # materialize once; the count doubles as the staleness fingerprint
        n = frame.count()
    release_now(cached)
    return IVFPQIndex(
        frame, cents, books, m, d_sub, round_to, n_docs=n, residual=residual,
        rotation=rotation, rotation_seed=rotation_seed,
        rotation_sweeps=rotation_sweeps,
    )


def save_ivfpq_index(index: IVFPQIndex, path: str) -> str:
    """Persist an :class:`IVFPQIndex` (artifact contract: ``_artifact``);
    centroids and codebooks ride in the manifest, and the rotation
    persists as its spec (the matrix regenerates from it)."""
    return save_artifact(
        path, "ivfpq",
        {"frame": index.frame.select("__id", "__u", "__cid", "__codes")},
        centroids=index.centroids, books=index.books, m=index.m,
        d_sub=index.d_sub, round_to=index.round_to, n_docs=index.n_docs,
        residual=index.residual, rotated=index.rotation is not None,
        rotation_seed=index.rotation_seed,
        rotation_sweeps=index.rotation_sweeps,
    )


def load_ivfpq_index(spark, path: str, persist: bool = True) -> IVFPQIndex:
    """Load a :func:`save_ivfpq_index` artifact; ``persist`` pins the frame
    for multi-search reuse (``release()`` when done)."""
    art = load_artifact(spark, path, "ivfpq")
    (frame,) = art.read("frame", persist=persist)
    s = art.state
    rot = None
    if s["rotated"]:
        rot = rotation_matrix(s["rotation_seed"], s["m"] * s["d_sub"],
                              s["rotation_sweeps"])
    return IVFPQIndex(
        frame, [(int(c), v) for c, v in s["centroids"]],
        [[(int(c), v) for c, v in book] for book in s["books"]],
        s["m"], s["d_sub"], s["round_to"], n_docs=s["n_docs"],
        residual=s["residual"], rotation=rot,
        rotation_seed=s["rotation_seed"], rotation_sweeps=s["rotation_sweeps"],
    )


def update_ivfpq_index(
    index: IVFPQIndex,
    new_vecs: DataFrame,
    vec_col: str,
    id_col: str,
) -> IVFPQIndex:
    """Fold a batch into an existing :class:`IVFPQIndex` without re-fitting
    (same contract as update_ivf_index): only the batch pays normalization
    + assignment + encoding against the EXISTING centroids/codebooks, so
    per-batch cost is independent of corpus size; centroids and codebooks
    drift from the grown corpus's optimum — rebuild on the major-refresh
    cadence. Returns a NEW index; ids must stay unique across increments."""
    from .similarity import _attach_centroids

    v, i = resolve_col(new_vecs, vec_col), resolve_col(new_vecs, id_col)
    # dimension guard: F.slice / zip_with silently truncate a
    # mismatched-dim batch into wrong codes (inline builds are protected
    # by _staged_corpus's divisibility check; the fold-in path must check
    # against the index's recorded geometry itself)
    first = new_vecs.select(F.size(F.col(v)).alias("d")).first()
    if first is not None and int(first["d"]) != index.m * index.d_sub:
        raise ParameterException(
            f"batch vectors have dim {int(first['d'])} but the index was "
            f"built over dim {index.m * index.d_sub} (m={index.m} x "
            f"d_sub={index.d_sub})"
        )
    base = _unit_rounded(
        spread(new_vecs).select(F.col(i).alias("__id"), F.col(v).alias("__vec")),
        "__vec",
    )
    if index.rotation is not None:
        # replay the build-time pre-rotation exactly — codes/centroids
        # live in rotated space
        base = base.withColumn("__u", _rotate_expr("__u", index.rotation))
    abase, carr, _adrop = _attach_centroids(base, index.centroids)
    withcid = abase.withColumn("__cid", _assign_expr(carr, index.round_to))
    if index.residual:
        # codes encode the residual vs the assigned coarse centroid — the
        # batch must replay the build-time encoding exactly
        res = _cent_vec_of_cid(withcid, index.centroids).withColumn(
            "__r", F.zip_with("__u", F.col("__cv"), lambda x, y: x - y)
        )
        enc = _stage_subvectors(
            res.select("__id", "__cid", F.col("__u").alias("__orig"),
                       F.col("__r").alias("__u")),
            index.m, index.d_sub,
        )
    else:
        enc = _stage_subvectors(withcid, index.m, index.d_sub)
    codes = F.array(*[
        _code_expr(f"__s{s}", index.books[s], index.round_to)
        for s in range(index.m)
    ])
    assigned = enc.withColumn("__codes", codes)
    if index.residual:
        assigned = assigned.select(
            "__id", F.col("__orig").alias("__u"), "__cid", "__codes"
        )
    cols = ["__id", "__u", "__cid", "__codes"]
    merged = scoped_persist(
        index.frame.select(*cols).unionByName(assigned.select(*cols))
    )
    # eager materialization (the update_minhash_index lesson): a later
    # search must never re-read a possibly-rewritten source for batch rows
    n = merged.count()
    return IVFPQIndex(
        merged, index.centroids, index.books, index.m, index.d_sub,
        index.round_to, n_docs=n, residual=index.residual,
        rotation=index.rotation, rotation_seed=index.rotation_seed,
        rotation_sweeps=index.rotation_sweeps,
    )


def _probe_lists_rounded(qdf: DataFrame, cents: list, nprobe: int,
                         id_col: str, u_col: str, round_to: int,
                         carry: tuple = ()) -> DataFrame:
    """Explode each query row to its ``nprobe`` highest ROUNDED-cosine
    inverted lists (ties -> lowest cid) — the replayable twin of
    ``similarity._probe_lists`` for DataFrame-shaped query sides, matching
    ``similarity_search_ivfpq``'s driver-side probe selection exactly
    (sim desc at ``round_to`` dp, cid asc). Shuffle-free sort+slice over
    the per-row sims array; >256-centroid corpora take the one-row
    broadcast via ``_attach_centroids``. ``carry`` names extra columns
    preserved through the explosion (e.g. the pre-computed ADC LUT)."""
    from .similarity import _attach_centroids

    dotf = lambda a, b: F.aggregate(  # noqa: E731 — sequential fold, both engines
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    qbase, qcarr, _qd = _attach_centroids(qdf, cents)
    sims = F.transform(
        qcarr,
        lambda ce: F.struct(
            F.round(dotf(F.col(u_col), ce["v"]), round_to).alias("s"),
            (-ce["c"]).alias("nc"),
        ),
    )
    return qbase.select(
        id_col, u_col, *carry,
        F.explode(F.slice(F.sort_array(sims, asc=False), 1, nprobe)).alias("__p"),
    ).select(id_col, u_col, *carry,
             (-F.col("__p")["nc"]).cast("bigint").alias("__cid"))


def _adc_query_luts(qdf: DataFrame, idx: IVFPQIndex,
                    q_u_col: str = "__qu") -> DataFrame:
    """Attach the ADC lookup table to the QUERY frame, BEFORE the probe
    explosion — the classic ADC preparation (Jégou 2011 §V.A) in DataFrame
    form. ``__lut[s][c] = dot(q_sub_s, book_s[c])`` depends only on the
    query vector, never on the probed list, so computing it here runs the
    m·cb·d_sub mult-adds once per QUERY instead of once per (query,
    probed list) row — an nprobe-× cut of the probe-preparation cost
    (round-13 measurement: probes+LUT 1.19 s → 0.76 s at nprobe=4).
    After it, per-candidate work is m array lookups instead of m
    d_sub-element folds, the broadcast payload carries LUTs instead of
    vectors, and the candidate scan reads only ``(__id, __cid, __codes)``
    — zero vector bytes on the big side.

    Bit-parity: each LUT value is the same sequential JVM fold the
    per-pair form computed, just evaluated earlier over the identical
    doubles (verified bitwise over 1.02M LUT entries), so scores are
    bit-identical and the SQL replay (list_sum LUTs) is unchanged.
    Subvector slices are staged as columns before the transform lambda
    references them (the HOF staging rule — the lambda body evaluates
    once per codebook entry)."""
    dotf = lambda a, b: F.aggregate(  # noqa: E731 — sequential fold, both engines
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    staged = qdf.withColumns({
        f"__qs{s}": F.slice(F.col(q_u_col), s * idx.d_sub + 1, idx.d_sub)
        for s in range(idx.m)
    })
    # closure factory, NOT a default-arg lambda: F.transform dispatches on
    # the lambda's arity, so `lambda bv, s=s` would receive the element
    # INDEX as s
    def _lut_for(s: int):
        return F.transform(
            double_matrix_lit([list(vec) for _, vec in idx.books[s]]),
            lambda bv: dotf(F.col(f"__qs{s}"), bv),
        )

    luts = [_lut_for(s) for s in range(idx.m)]
    return staged.withColumn("__lut", F.array(*luts)).drop(
        *[f"__qs{s}" for s in range(idx.m)]
    )


def _adc_probe_frame(probes: DataFrame, idx: IVFPQIndex,
                     q_u_col: str = "__qu") -> DataFrame:
    """Finish a probe frame whose query side was prepared by
    :func:`_adc_query_luts` and exploded by :func:`_probe_lists_rounded`
    with ``carry=("__lut",)``: attach the residual coarse term (which DOES
    depend on the probed list, so it must be computed per probe row), then
    DROP the query vector so the candidate join ships LUTs, not vectors."""
    out = probes
    if idx.residual:
        # coarse term depends only on (query, probed list) — per probe row,
        # never per candidate
        dotf = lambda a, b: F.aggregate(  # noqa: E731 — sequential fold
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = _cent_vec_of_cid(out, idx.centroids).withColumn(
            "__qc", dotf(F.col(q_u_col), F.col("__cv"))
        ).drop("__cv")
    return out.drop(q_u_col)


def _cid_barrier(col: str) -> Column:
    """Constraint-propagation barrier: a value-exact identity
    (``shuffle`` of a one-element array) whose NONDETERMINISTIC flag stops
    Catalyst from treating the column as an alias of its defining
    expression. Needed on expression-valued equi-join keys (the inverted-
    list id is an argmax over HOF lambdas on both sides): without it,
    InferFiltersFromConstraints substitutes one side's defining expression
    across the join equality, and the lambda-bound attributes inside it
    cannot be rewritten to the other side — Spark builds an invalid plan
    (``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND`` on the staged normalization
    column) whenever the index cache is not substituted first (e.g. the
    caller dropped the ``release_with`` anchor and the scoped cache was
    evicted; recompute must ALWAYS be plan-valid — the module's own
    correctness-safety invariant). The barrier costs one 1-element array
    per row and changes no value, no type, and no join strategy (AQE
    still broadcasts small sides)."""
    return F.expr(f"shuffle(array({col}))[0]")


def _adc_pair_score(idx: IVFPQIndex) -> Column:
    """ADC score over a (probe ⨯ candidate) join whose probe side was
    prepared by :func:`_adc_probe_frame`: m array lookups into ``__lut``
    by the candidate's PQ codes, plus the precomputed ``__qc`` coarse
    term leading the left-associated sum for residual indexes (FP
    addition is order-sensitive at the round boundary, so the term order
    matches the search path and the SQL replay exactly)."""
    terms = [
        F.element_at(
            F.element_at("__lut", s + 1),
            (F.element_at("__codes", s + 1) + 1).cast("int"),
        )
        for s in range(idx.m)
    ]
    if idx.residual:
        total = F.col("__qc")
    else:
        total, terms = terms[0], terms[1:]
    for t in terms:
        total = total + t
    return F.round(total, idx.round_to)


@spark_transform("similarity_search_ivfpq", category="similarity", streaming_ok=False)
def similarity_search_ivfpq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: list,
    k: int = 10,
    num_centroids: int = 8,
    nprobe: int = 2,
    coarse_iterations: int = 1,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
    residual: bool = False,
    rotate: bool = False,
    rotation_seed: int = 0,
    rotation_sweeps: int = 4,
    rotation_dim: int | None = None,
    rerank: bool = False,
    rerank_factor: int = 4,
    index: "IVFPQIndex | None" = None,
) -> DataFrame:
    """IVF-PQ approximate top-``k`` (Jégou et al. 2011's IVFADC;
    ``residual=True`` is the full residual formulation — PQ codes quantize
    vector-minus-assigned-centroid and scoring adds the coarse term
    dot(query, centroid[cid]) per candidate, better recall at the same
    code budget; the default quantizes raw vectors):
    a deterministic spherical-kmeans coarse quantizer partitions
    the corpus into ``num_centroids`` inverted lists; each query probes its
    ``nprobe`` highest-cosine lists; candidates inside the probed lists are
    scored by ADC over their PQ codes. Output (QUERY_ID, MATCH_ID,
    ADC_SCORE, RANK); queries never match themselves; fewer than ``k`` rows
    when the probed lists hold fewer candidates.

    Unlike ``similarity_search_ivf`` (unrounded centroids, auto sizing —
    the production scale path), this operator keeps the full rounded
    determinism contract of ``kmeans_cluster`` + ``pq_encode`` (rounded
    argmax/argmin, 9-dp centroid components), so the ENTIRE pipeline —
    coarse fit, probing, PQ fit, ADC ranking — replays exactly in SQL:
    it has a full DuckDB hash oracle and a ``.sql()`` renderer, the first
    ANN operator with either.

    100 TB design: the candidate scan reads (id, centroid_id, m small ints)
    — the PQ compression is what makes the inverted lists fit in memory at
    billion-vector scale (64-d float64 -> 4 bytes here, a 128x reduction).
    Coarse assignment and PQ encoding are shuffle-free projections against
    driver-collected literals (bounded: k·dim + m·codebook_size·d_sub
    doubles); the probe frame is bounded (queries × nprobe rows) and
    broadcast, so the corpus never shuffles for candidate selection —
    the only corpus-wide movement is the per-query top-k window over
    ~n·nprobe/num_centroids candidates.

    ``rerank=True`` (round 10) is the IVFADC+R refinement of Jégou et
    al. 2011 §V ("Searching in one billion vectors"): the ADC stage keeps
    ``k · rerank_factor`` candidates per query (the compressed-code scan
    does the winnowing), then ONLY those survivors pay an exact rounded
    cosine against the stored full-width unit vectors — output switches to
    (QUERY_ID, MATCH_ID, COSINE, RANK), cosine desc (the
    similarity_search_binary rerank convention). The survivor set is
    determined by the rounded ADC ordering (score + id tie-break), so the
    mode stays inside the exact-replay contract: full hash oracle and
    ``.sql()`` renderer like the plain path. The refine join touches
    queries × k · rerank_factor rows — never the corpus — and under
    ``rotate=True`` both sides live in rotated space, where the dot equals
    the original cosine (orthogonal invariance).

    Pass a prebuilt ``index`` (from :func:`ivfpq_index` /
    :func:`load_ivfpq_index`) to skip both fits — the amortized production
    path; sizing parameters then come from the index and results are
    identical to an inline build with the same parameters.

    Missing-id semantics: ids in ``query_ids`` that are absent from the
    corpus are silently dropped; if NONE are present this (DataFrame) path
    raises ``ParameterException``. The ``.sql()`` renderer diverges on the
    none-present case — pure SQL has no side channel for the guard, so the
    rendered statement returns an empty result instead (same class of
    documented render-only divergence as the other render guards)."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    if index is not None:
        idx, own = index, False
    else:
        idx, own = (
            ivfpq_index(
                df, vec_col, id_col, num_centroids, coarse_iterations,
                m, codebook_size, iterations, round_to, residual=residual,
                rotate=rotate, rotation_seed=rotation_seed,
                rotation_sweeps=rotation_sweeps, rotation_dim=rotation_dim,
            ),
            True,
        )
    m, round_to = idx.m, idx.round_to
    cents, books, d_sub = idx.centroids, idx.books, idx.d_sub
    # the query rows are a bounded collect (len(query_ids) rows —
    # pq_search's existing contract); it doubles as the none-present
    # guard. Probe selection and ADC scoring then run IN-PLAN (F.round —
    # Python's banker's round() is not usable for the replay contract)
    # over a LOCAL frame re-entered from this collect, so no corpus
    # self-join exists and one action executes the whole search.
    qrows = (
        idx.frame.filter(F.col("__id").isin([int(q) for q in query_ids]))
        .select("__id", "__u")
        .collect()
    )
    if not qrows:
        raise ParameterException("none of query_ids is present in the corpus")
    dot = lambda a, b: F.aggregate(  # noqa: E731 — sequential fold, both engines
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    spark = df.sparkSession
    # one LOCAL query frame (bounded: len(query_ids) rows re-entered from
    # the collect — the floats round-trip exactly), prepared by the SAME
    # in-plan machinery the join path uses: per-query ADC LUTs before the
    # probe explosion, rounded top-nprobe list selection, then ONE
    # broadcast equi-join against the codes-only corpus scan. Round 13:
    # replaces the per-query literal-filter union (|queries| corpus scans
    # + a plan that grows with queries x m x codebook_size literals) and
    # the separate probe-selection Spark job + collect. Values are
    # bit-identical: _adc_query_luts folds the same doubles the Python
    # sum folded (verified bit-parity, see its docstring),
    # _probe_lists_rounded ranks by the same rounded dot / cid tie-break
    # the window did, and _adc_pair_score sums LUT terms in the same
    # left-associated order (coarse term first under residual). The
    # expression-valued join key takes _cid_barrier on both sides — the
    # constraint-rewrite guard the join path established.
    qdf = spark.createDataFrame(
        [(int(r["__id"]), [float(x) for x in r["__u"]]) for r in qrows],
        "__qid bigint, __qu array<double>",
    )
    probes = _adc_probe_frame(
        _probe_lists_rounded(
            _adc_query_luts(qdf, idx, "__qu"), cents, nprobe,
            "__qid", "__qu", round_to, carry=("__lut",),
        ),
        idx, "__qu",
    )
    scored = (
        idx.frame.select(
            F.col("__id").alias("MATCH_ID"),
            _cid_barrier("__cid").alias("__cid"), "__codes",
        )
        .join(
            F.broadcast(probes.withColumn("__cid", _cid_barrier("__cid"))),
            on="__cid",
        )
        .filter(F.col("__qid") != F.col("MATCH_ID"))
        .select(
            F.col("__qid").alias("QUERY_ID"), "MATCH_ID",
            _adc_pair_score(idx).alias("ADC_SCORE"),
        )
    )
    w = Window.partitionBy("QUERY_ID").orderBy(
        F.col("ADC_SCORE").desc(), F.col("MATCH_ID").asc()
    )
    kf = k * rerank_factor if rerank else k
    out = (
        scored.withColumn("RANK", F.row_number().over(w).cast("int"))
        .filter(F.col("RANK") <= kf)
    )
    if rerank:
        # IVFADC+R refine: survivors only pay the full-vector read — the
        # tiny (queries x k x factor) id frame broadcasts onto the stored
        # unit vectors, so the corpus-wide work stays the m-int ADC scan
        cu = idx.frame.select(
            F.col("__id").alias("MATCH_ID"), F.col("__u").alias("__cu")
        )
        qexact = qdf.select(
            F.col("__qid").alias("QUERY_ID"), F.col("__qu")
        )
        rw = Window.partitionBy("QUERY_ID").orderBy(
            F.col("COSINE").desc(), F.col("MATCH_ID").asc()
        )
        out = (
            cu.join(
                F.broadcast(out.select("QUERY_ID", "MATCH_ID")),
                on="MATCH_ID",
            )
            .join(F.broadcast(qexact), on="QUERY_ID")
            .withColumn(
                "COSINE",
                F.round(dot(F.col("__qu"), F.col("__cu")), round_to),
            )
            .withColumn("RANK", F.row_number().over(rw).cast("int"))
            .filter(F.col("RANK") <= k)
            .select("QUERY_ID", "MATCH_ID", "COSINE", "RANK")
        )
    return release_with(out, idx.frame) if own else out


@_renderer("similarity_search_ivfpq")
def _r_similarity_search_ivfpq(source, vec_col, id_col, query_ids, k=10,
                               num_centroids=8, nprobe=2, coarse_iterations=1,
                               m=4, codebook_size=8, iterations=1,
                               round_to=6, residual=False, rotate=False,
                               rotation_seed=0, rotation_sweeps=4,
                               rotation_dim=None, rerank=False,
                               rerank_factor=4, index=None) -> str:
    """Full SQL replay of the IVF-PQ pipeline — the first renderable ANN
    operator (the similarity_search_ivf family is excluded by its unrounded
    contract; this operator rounds by contract precisely to be replayable).
    Composes the kmeans_cluster renderer's coarse-fit chains with the
    pq_search renderer's per-subspace Lloyd/LUT chains, then restricts the
    ADC scan to (assignment, probe) centroid matches. ``residual=True``
    feeds the PQ chains vector-minus-assigned-centroid subvectors
    (``_pq_render_parts(vec_source=...)``) and prefixes the ADC sum with
    the per-(query, list) coarse term — same term order as the DataFrame
    path (coarse first, left-associated), which matters at the 6-dp round
    boundary."""
    from ..errors import TransformRenderingException

    if index is not None:
        raise TransformRenderingException(
            "similarity_search_ivfpq renders the inline fit; a prebuilt "
            "index is an external artifact the renderer cannot replay"
        )
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    from .cluster import _dot_sql, _kmeans_render_parts, _unit_norm_sql

    ctes = []
    nv_override = None
    if rotate:
        if rotation_dim is None:
            raise TransformRenderingException(
                "similarity_search_ivfpq(rotate=True) renders only with an "
                "explicit rotation_dim (the vector dimension is unknowable "
                "at render time — the binary n_words contract)"
            )
        mat = rotation_matrix(int(rotation_seed), int(rotation_dim),
                              int(rotation_sweeps))
        # NAMED CTE: the rotated corpus is referenced by the seeds, every
        # Lloyd pass, the probe, and the query slices — inlining the
        # 64x64 literal at each site would explode the statement
        ctes.append(
            "__ivfpq_rnv AS "
            + _rotate_sql(mat, _unit_norm_sql(vec_col, id_col, source))
        )
        nv_override = "__ivfpq_rnv"
    nv, kcents, kassign = _kmeans_render_parts(
        source, vec_col, id_col, num_centroids, coarse_iterations, round_to,
        "similarity_search_ivfpq", nv_override=nv_override,
    )
    qlist = ", ".join(str(int(q)) for q in query_ids)
    sim = f"round({_dot_sql('t.__u', 's.v')}, {int(round_to)})"
    if residual:
        # name the centroid relation once — it is referenced by the
        # assignment, the probe, the residual construction, and the
        # coarse-term LUT (4 consumers; inlining would 4x the Lloyd chain)
        ctes.append(f"__ivf_cents AS (SELECT c, v FROM {kcents})")
        kcents = "__ivf_cents"
    ctes.append(f"__ivf_asg AS (SELECT __id, c FROM {kassign(kcents)})")
    ctes.append(
        f"__ivf_probe AS (SELECT __id AS qid, c FROM (SELECT t.__id, s.c, "
        f"ROW_NUMBER() OVER (PARTITION BY t.__id ORDER BY {sim} DESC, "
        f"s.c ASC) AS rn FROM {nv} t CROSS JOIN {kcents} s "
        f"WHERE t.__id IN ({qlist})) WHERE rn <= {int(nprobe)})"
    )
    vec_source = None
    if residual:
        ctes.append(
            f"__ivf_rv AS (SELECT t.__id, zip_with(t.__u, c.v, "
            f"(x, y) -> x - y) AS __u FROM {nv} t "
            f"JOIN __ivf_asg a ON a.__id = t.__id "
            f"JOIN {kcents} c ON c.c = a.c)"
        )
        vec_source = "__ivf_rv"
        ctes.append(
            f"__ivf_qc AS (SELECT t.__id AS qid, s.c AS cid, "
            f"{_dot_sql('t.__u', 's.v')} AS cv FROM {nv} t "
            f"CROSS JOIN {kcents} s WHERE t.__id IN ({qlist}))"
        )
    if vec_source is None and rotate:
        vec_source = nv  # the rotated corpus CTE (plain path)
    parts = _pq_render_parts(
        source, vec_col, id_col, m, codebook_size, iterations, round_to,
        "similarity_search_ivfpq", vec_source=vec_source,
    )
    d_sub_sql = f"(size(__u) DIV {int(m)})"
    for j, (sub, cb, a) in enumerate(parts):
        ctes.append(f"__pq_cb{j} AS (SELECT c, v FROM {cb})")
        ctes.append(f"__pq_f{j} AS (SELECT __id, c FROM {a})")
        if residual:
            # query LUT slices come from the RAW normalized vectors, not
            # the residual relation the corpus codes were fit on
            qsub = (
                f"(SELECT __id, slice(__u, {j} * {d_sub_sql} + 1, "
                f"{d_sub_sql}) AS v FROM {nv} __pq_qnv)"
            )
        else:
            qsub = sub
        ctes.append(
            f"__pq_q{j} AS (SELECT __id AS qid, v FROM {qsub} "
            f"WHERE __id IN ({qlist}))"
        )
    dot = (
        "aggregate(zip_with(__pq_q{j}.v, __pq_b{j}.v, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    score = " + ".join(dot.replace("{j}", str(j)) for j in range(int(m)))
    if residual:
        score = f"__ivf_qc.cv + {score}"
    code_joins = " ".join(
        f"JOIN __pq_f{j} ON __pq_f{j}.__id = s.{id_col} "
        f"JOIN __pq_cb{j} __pq_b{j} ON __pq_b{j}.c = __pq_f{j}.c"
        for j in range(int(m))
    )
    q_joins = " ".join(
        f"JOIN __pq_q{j} ON __pq_q{j}.qid = __ivf_probe.qid"
        for j in range(int(m))
    )
    if residual:
        q_joins += (
            " JOIN __ivf_qc ON __ivf_qc.qid = __ivf_probe.qid "
            "AND __ivf_qc.cid = __ivf_asg.c"
        )
    scored = (
        f"SELECT CAST(__ivf_probe.qid AS BIGINT) AS QUERY_ID, "
        f"s.{id_col} AS MATCH_ID, "
        f"round({score}, {int(round_to)}) AS ADC_SCORE "
        f"FROM {source} s {code_joins} "
        f"JOIN __ivf_asg ON __ivf_asg.__id = s.{id_col} "
        f"JOIN __ivf_probe ON __ivf_probe.c = __ivf_asg.c {q_joins} "
        f"WHERE s.{id_col} <> __ivf_probe.qid"
    )
    if not rerank:
        return (
            "SELECT * FROM (WITH " + ", ".join(ctes)
            + f" SELECT QUERY_ID, MATCH_ID, ADC_SCORE, RANK FROM ("
            f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
            f"ORDER BY ADC_SCORE DESC, MATCH_ID ASC) AS INT) AS RANK "
            f"FROM ({scored})) WHERE RANK <= {int(k)}) __ivfpq_out"
        )
    # IVFADC+R refine replay: the ADC-ranked survivor set (rounded score +
    # id tie-break — integer-determined given the replayed fit) joins back
    # to the staged unit vectors for the exact rounded cosine
    kf = int(k) * int(rerank_factor)
    cand = (
        f"SELECT QUERY_ID, MATCH_ID FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY ADC_SCORE DESC, MATCH_ID ASC) AS __adcrk "
        f"FROM ({scored})) WHERE __adcrk <= {kf}"
    )
    exact = f"round({_dot_sql('qn.__u', 'tn.__u')}, {int(round_to)})"
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT QUERY_ID, MATCH_ID, COSINE, RANK FROM ("
        f"SELECT c.QUERY_ID, c.MATCH_ID, {exact} AS COSINE, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY c.QUERY_ID "
        f"ORDER BY {exact} DESC, c.MATCH_ID ASC) AS INT) AS RANK "
        f"FROM ({cand}) c "
        f"JOIN {nv} qn ON qn.__id = c.QUERY_ID "
        f"JOIN {nv} tn ON tn.__id = c.MATCH_ID"
        f") WHERE RANK <= {int(k)}) __ivfpq_out"
    )


@spark_transform("embedding_join_ivfpq", category="similarity", streaming_ok=False)
def embedding_join_ivfpq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    other=None,
    other_vec: str | None = None,
    other_id: str | None = None,
    k: int = 1,
    num_centroids: int | str = 8,
    nprobe: int | str = 2,
    coarse_iterations: int = 1,
    m: int = 4,
    codebook_size: int = 8,
    iterations: int = 1,
    round_to: int = 6,
    residual: bool = False,
    rotate: bool = False,
    rotation_seed: int = 0,
    rotation_sweeps: int = 4,
    rotation_dim: int | None = None,
    rerank: bool = False,
    rerank_factor: int = 4,
    right_prefix: str = "MATCH_",
    index: "IVFPQIndex | None" = None,
) -> DataFrame:
    """ANN semantic join at PQ memory footprint: attach each left row's
    top-``k`` most-similar rows from ``other`` (or a prebuilt
    :class:`IVFPQIndex`) by ADC-approximated cosine over the right side's
    PQ codes — the operator a 100 TB semantic-enrichment join (every doc →
    its nearest neighbors in a billion-vector corpus) actually needs once
    the right corpus outgrows what ``embedding_join_ivf`` can hold as
    full-width vectors. Appends ``{right_prefix}ID``, ``COSINE`` (the ADC
    approximation, reported under the family's uniform column name — the
    ``dedup_against_embedding(method='ivfpq')`` convention), ``RANK``;
    inner join (left rows with no candidate drop); matches with
    ``{right_prefix}ID`` equal to the left row's id are excluded and NULL
    ids never join — the embedding_join family's shared single-namespace
    rule (remap one side's ids first when two disjoint namespaces can
    coincide).

    100 TB shape: the right corpus stores (id, cid, m small ints) — the
    candidate scan reads ZERO vector bytes on the big side (a 64-d
    float64 corpus reads 64× fewer bytes than embedding_join_ivf's probed
    scan). Each left row probes its ``nprobe`` highest rounded-cosine
    inverted lists; the probe frame carries per-(query, list) ADC lookup
    tables (``_adc_probe_frame`` — m·codebook_size doubles per row,
    SMALLER than the query vector whenever m·codebook_size < dim) instead
    of query vectors, so after the equi-join on the centroid id the
    per-candidate work is m array lookups. The candidate join carries NO
    broadcast hint — the left side may be the full corpus (unlike the
    dedup form, whose batch side is small by contract), so the plan stays
    AQE-skew-eligible on hot inverted lists and AQE promotes small probe
    sides to broadcast on its own (the embedding_join_ivf posture).

    Keeps the full rounded determinism contract of
    ``similarity_search_ivfpq`` (rounded coarse fit, rounded probe
    selection, ADC folds rounded at ``round_to``), so the inline-fit form
    replays exactly in SQL: full DuckDB hash oracle + ``.sql()`` renderer.
    ``residual=True`` is the IVFADC residual formulation (coarse term
    first, left-associated — FP addition is order-sensitive at the round
    boundary). A prebuilt ``index`` (``ivfpq_index``/``load_ivfpq_index``,
    foldable with ``update_ivfpq_index``) amortizes both fits, with the
    ``n_docs`` staleness fingerprint checked against ``other`` when both
    are passed; results match an inline build with the same parameters.

    ``rerank=True`` (round 10) is the IVFADC+R refinement (Jégou et al.
    2011 §V) in join shape: the ADC stage keeps ``k · rerank_factor``
    candidates per left row, then only those survivors pay an exact
    rounded cosine against the index's stored full-width unit vectors —
    ``COSINE`` becomes the exact rounded cosine instead of the ADC
    approximation, same output columns. The refine join touches
    |left| × k × rerank_factor rows, never the right corpus; under
    ``rotate=True`` both sides already live in rotated space where the
    dot equals the original cosine. The survivor set is determined by
    the rounded ADC ordering, so the mode keeps the full replay
    contract (hash oracle + ``.sql()`` renderer).

    Reference parity: the join-shaped member of SURVEY §2's similarity
    extensions (reference has no ANN join; composes its join +
    aggregate semantics with the public IVFADC technique, Jégou 2011)."""
    if k < 1:
        raise ParameterException("k must be >= 1")
    if rerank and rerank_factor < 1:
        raise ParameterException("rerank_factor must be >= 1")
    if round_to is None:
        raise ParameterException(
            "embedding_join_ivfpq scores by the rounded replay contract; "
            "round_to must be an int"
        )
    from .similarity import _resolve_k, _resolve_nprobe

    odf = other.df if hasattr(other, "df") else other
    v, i = resolve_col(df, vec_col), resolve_col(df, id_col)
    if index is not None:
        if not isinstance(index, IVFPQIndex):
            raise ParameterException(
                "embedding_join_ivfpq takes an IVFPQIndex (build with "
                "ivfpq_index / load_ivfpq_index); got "
                f"{type(index).__name__}"
            )
        check_fingerprint(index, odf, "vectors", side="right-side")
        idx, own = index, False
    else:
        if odf is None:
            raise ParameterException(
                "embedding_join_ivfpq needs a right-side frame (other=...) "
                "or a prebuilt IVFPQIndex"
            )
        ov = resolve_col(odf, other_vec or vec_col)
        oi = resolve_col(odf, other_id or id_col)
        kc = (
            num_centroids if isinstance(num_centroids, int)
            else _resolve_k(num_centroids, odf.count())
        )
        idx, own = (
            ivfpq_index(
                odf, ov, oi, num_centroids=kc,
                coarse_iterations=coarse_iterations, m=m,
                codebook_size=codebook_size, iterations=iterations,
                round_to=round_to, residual=residual, rotate=rotate,
                rotation_seed=rotation_seed,
                rotation_sweeps=rotation_sweeps, rotation_dim=rotation_dim,
            ),
            True,
        )
    # dim guard (the dedup_against_embedding ivfpq contract): a mismatched
    # left side would zip_with into NULL probe sims, silently joinless
    first = df.select(F.size(F.col(v)).alias("d")).first()
    if first is not None and int(first["d"]) != idx.m * idx.d_sub:
        raise ParameterException(
            f"left vectors have dim {int(first['d'])} but the index covers "
            f"dim {idx.m * idx.d_sub} (m={idx.m} x d_sub={idx.d_sub})"
        )
    np_ = _resolve_nprobe(nprobe, len(idx.centroids))
    mid = f"{right_prefix}ID"
    # spread() the query side BEFORE the per-row probe/LUT work (round 13;
    # the embedding_join_ivf precedent): the left frame is often a narrow
    # single-partition scan, and everything up to the candidate join's
    # broadcast/exchange — normalization, the m·cb·d_sub LUT fold, probe
    # ranking — would otherwise run in ONE task (measured 0.9 s serial per
    # call at the bench sizing, the single-task stage in the profile)
    q = _unit_rounded(
        spread(df).select(F.col(i).alias("__qid"), F.col(v).alias("__qvec")),
        "__qvec", "__qu",
    ).select("__qid", "__qu")
    if idx.rotation is not None:
        # the corpus lives in rotated space; the left side must probe and
        # build LUTs there too (rotation preserves the dot, so COSINE
        # still approximates the ORIGINAL cosine)
        q = q.withColumn("__qu", _rotate_expr("__qu", idx.rotation))
    probes = _adc_probe_frame(
        _probe_lists_rounded(
            _adc_query_luts(q, idx, "__qu"), idx.centroids, np_,
            "__qid", "__qu", idx.round_to, carry=("__lut",),
        ),
        idx, "__qu",
    )
    # the equi-join key is an argmax-over-HOF-lambdas expression on BOTH
    # sides — _cid_barrier stops Catalyst's constraint inference from
    # substituting either side's defining expression across the join (an
    # invalid plan whenever the index cache is not substituted; see the
    # helper's docstring). NO broadcast hint: the left side may be the
    # full corpus (unlike the dedup form, whose batch side is small by
    # contract), so the plan stays AQE-skew-eligible on hot inverted
    # lists and AQE promotes small probe sides to broadcast on its own.
    scored = (
        idx.frame.select(
            F.col("__id").alias(mid),
            _cid_barrier("__cid").alias("__cid"), "__codes",
        )
        .join(probes.withColumn("__cid", _cid_barrier("__cid")), on="__cid")
        .filter(F.col("__qid") != F.col(mid))
        .withColumn("COSINE", _adc_pair_score(idx))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("COSINE").desc(), F.col(mid).asc()
    )
    kf = k * rerank_factor if rerank else k
    matches = (
        scored.withColumn("RANK", F.row_number().over(w).cast("int"))
        .filter(F.col("RANK") <= kf)
    )
    if rerank:
        # IVFADC+R refine in join shape: survivors (|left| x k x factor
        # rows) read the stored full-width vectors; the right corpus never
        # re-scans. No broadcast hint — the survivor frame scales with the
        # left side, so AQE decides (the candidate-join posture above).
        cu = idx.frame.select(
            F.col("__id").alias(mid), F.col("__u").alias("__cu")
        )
        rw = Window.partitionBy("__qid").orderBy(
            F.col("COSINE").desc(), F.col(mid).asc()
        )
        dot = lambda a, b: F.aggregate(  # noqa: E731 — sequential fold
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        matches = (
            matches.select("__qid", mid)
            .join(cu, on=mid)
            .join(q, on="__qid")
            .withColumn(
                "COSINE",
                F.round(dot(F.col("__qu"), F.col("__cu")), idx.round_to),
            )
            .withColumn("RANK", F.row_number().over(rw).cast("int"))
            .filter(F.col("RANK") <= k)
        )
    out = df.join(
        matches.select(F.col("__qid").alias(i), mid, "COSINE", "RANK"),
        on=i, how="inner",
    )
    return release_with(out, idx.frame) if own else out


@_renderer("embedding_join_ivfpq")
def _r_embedding_join_ivfpq(source, vec_col, id_col, other=None,
                            other_vec=None, other_id=None, k=1,
                            num_centroids=8, nprobe=2, coarse_iterations=1,
                            m=4, codebook_size=8, iterations=1, round_to=6,
                            residual=False, rotate=False, rotation_seed=0,
                            rotation_sweeps=4, rotation_dim=None,
                            rerank=False, rerank_factor=4,
                            right_prefix="MATCH_", index=None) -> str:
    """Full SQL replay of the PQ-coded ANN join: the
    ``_r_similarity_search_ivfpq`` composition with the fit chains running
    over the RIGHT table and a table-shaped query side — every left row
    normalizes (shared ``_unit_norm_sql`` contract), probes its top-nprobe
    rounded-cosine lists, and scores probed candidates by per-subspace
    query-slice × codebook folds; left scalar columns join back at the
    end. Query LUT slices always come from the raw normalized left
    vectors (for residual indexes the corpus codes were fit on residuals,
    the queries were not — Jégou 2011 §V.A)."""
    from ..errors import TransformRenderingException

    if index is not None:
        raise TransformRenderingException(
            "embedding_join_ivfpq renders the inline fit; a prebuilt "
            "index is an external artifact the renderer cannot replay"
        )
    if other is None:
        raise TransformRenderingException(
            "embedding_join_ivfpq renders only with a right-side table "
            "(other=...)"
        )
    if isinstance(num_centroids, str) or isinstance(nprobe, str):
        raise TransformRenderingException(
            "auto sizing resolves from the corpus count at run time; pass "
            "explicit num_centroids/nprobe to render"
        )
    if round_to is None:
        raise ParameterException(
            "embedding_join_ivfpq scores by the rounded replay contract; "
            "round_to must be an int"
        )
    if k < 1:
        raise ParameterException("k must be >= 1")
    if num_centroids < 1:
        raise ParameterException("num_centroids must be >= 1")
    if nprobe < 1:
        raise ParameterException("nprobe must be >= 1")
    from .cluster import _dot_sql, _kmeans_render_parts, _unit_norm_sql

    ov, oi = other_vec or vec_col, other_id or id_col
    ctes = []
    nv_override = None
    mat = None
    if rotate:
        if rotation_dim is None:
            raise TransformRenderingException(
                "embedding_join_ivfpq(rotate=True) renders only with an "
                "explicit rotation_dim (the vector dimension is unknowable "
                "at render time — the binary n_words contract)"
            )
        mat = rotation_matrix(int(rotation_seed), int(rotation_dim),
                              int(rotation_sweeps))
        ctes.append(
            "__ivfj_rnv AS "
            + _rotate_sql(mat, _unit_norm_sql(ov, oi, other))
        )
        nv_override = "__ivfj_rnv"
    nv, kcents, kassign = _kmeans_render_parts(
        other, ov, oi, num_centroids, coarse_iterations, round_to,
        "embedding_join_ivfpq", nv_override=nv_override,
    )
    sim = f"round({_dot_sql('t.__u', 's.v')}, {int(round_to)})"
    mid = f"{right_prefix}ID"
    # name the centroid relation once — assignment, probe, residual
    # construction and coarse-term LUT all reference it (inlining would
    # multiply the unrolled Lloyd chain)
    ctes.append(f"__ivfj_cents AS (SELECT c, v FROM {kcents})")
    kc_rel = "__ivfj_cents"
    ctes.append(f"__ivfj_asg AS (SELECT __id, c FROM {kassign(kc_rel)})")
    qnv = _unit_norm_sql(vec_col, id_col, source)
    if rotate:
        # the left side probes in rotated space too
        qnv = _rotate_sql(mat, qnv)
    ctes.append(
        f"__ivfj_q AS (SELECT __id AS qid, __u FROM {qnv} __ivfj_qnv)"
    )
    ctes.append(
        f"__ivfj_probe AS (SELECT __id AS qid, c FROM (SELECT t.__id, s.c, "
        f"ROW_NUMBER() OVER (PARTITION BY t.__id ORDER BY {sim} DESC, "
        f"s.c ASC) AS rn FROM (SELECT qid AS __id, __u FROM __ivfj_q) t "
        f"CROSS JOIN {kc_rel} s) WHERE rn <= {int(nprobe)})"
    )
    vec_source = None
    if residual:
        ctes.append(
            f"__ivfj_rv AS (SELECT t.__id, zip_with(t.__u, c.v, "
            f"(x, y) -> x - y) AS __u FROM {nv} t "
            f"JOIN __ivfj_asg a ON a.__id = t.__id "
            f"JOIN {kc_rel} c ON c.c = a.c)"
        )
        vec_source = "__ivfj_rv"
        ctes.append(
            f"__ivfj_qc AS (SELECT t.qid, s.c AS cid, "
            f"{_dot_sql('t.__u', 's.v')} AS cv FROM __ivfj_q t "
            f"CROSS JOIN {kc_rel} s)"
        )
    if vec_source is None and rotate:
        vec_source = nv  # the rotated right-side CTE (plain path)
    parts = _pq_render_parts(
        other, ov, oi, m, codebook_size, iterations, round_to,
        "embedding_join_ivfpq", vec_source=vec_source,
    )
    d_sub_sql = f"(size(__u) DIV {int(m)})"
    for j, (_sub, cb, a) in enumerate(parts):
        ctes.append(f"__pqj_cb{j} AS (SELECT c, v FROM {cb})")
        ctes.append(f"__pqj_f{j} AS (SELECT __id, c FROM {a})")
        # query slices ALWAYS from the raw normalized left vectors
        ctes.append(
            f"__pqj_q{j} AS (SELECT qid, slice(__u, {j} * {d_sub_sql} + 1, "
            f"{d_sub_sql}) AS v FROM __ivfj_q)"
        )
    dot = (
        "aggregate(zip_with(__pqj_q{j}.v, __pqj_b{j}.v, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    score = " + ".join(dot.replace("{j}", str(j)) for j in range(int(m)))
    if residual:
        score = f"__ivfj_qc.cv + {score}"
    code_joins = " ".join(
        f"JOIN __pqj_f{j} ON __pqj_f{j}.__id = cnd.{oi} "
        f"JOIN __pqj_cb{j} __pqj_b{j} ON __pqj_b{j}.c = __pqj_f{j}.c"
        for j in range(int(m))
    )
    q_joins = " ".join(
        f"JOIN __pqj_q{j} ON __pqj_q{j}.qid = __ivfj_probe.qid"
        for j in range(int(m))
    )
    if residual:
        q_joins += (
            " JOIN __ivfj_qc ON __ivfj_qc.qid = __ivfj_probe.qid "
            "AND __ivfj_qc.cid = __ivfj_asg.c"
        )
    scored = (
        f"SELECT __ivfj_probe.qid AS __qid, cnd.{oi} AS {mid}, "
        f"round({score}, {int(round_to)}) AS COSINE "
        f"FROM {other} cnd {code_joins} "
        f"JOIN __ivfj_asg ON __ivfj_asg.__id = cnd.{oi} "
        f"JOIN __ivfj_probe ON __ivfj_probe.c = __ivfj_asg.c {q_joins} "
        f"WHERE cnd.{oi} <> __ivfj_probe.qid"
    )
    if rerank:
        if rerank_factor < 1:
            raise ParameterException("rerank_factor must be >= 1")
        # IVFADC+R refine in join shape: the ADC-ranked survivor set joins
        # back to the staged right-side unit vectors (rotated when
        # rotate=True — same space as the probing left side) for the exact
        # rounded cosine
        kf = int(k) * int(rerank_factor)
        cand = (
            f"SELECT __qid, {mid} FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY __qid "
            f"ORDER BY COSINE DESC, {mid} ASC) AS __adcrk "
            f"FROM ({scored})) WHERE __adcrk <= {kf}"
        )
        exact = f"round({_dot_sql('qn.__u', 'tn.__u')}, {int(round_to)})"
        ranked = (
            f"SELECT __qid, {mid}, COSINE, RANK FROM ("
            f"SELECT c.__qid, c.{mid}, {exact} AS COSINE, "
            f"CAST(ROW_NUMBER() OVER (PARTITION BY c.__qid "
            f"ORDER BY {exact} DESC, c.{mid} ASC) AS INT) AS RANK "
            f"FROM ({cand}) c "
            f"JOIN __ivfj_q qn ON qn.qid = c.__qid "
            f"JOIN {nv} tn ON tn.__id = c.{mid}"
            f") WHERE RANK <= {int(k)}"
        )
    else:
        ranked = (
            f"SELECT __qid, {mid}, COSINE, RANK FROM ("
            f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY __qid "
            f"ORDER BY COSINE DESC, {mid} ASC) AS INT) AS RANK "
            f"FROM ({scored})) WHERE RANK <= {int(k)}"
        )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT s.*, m.{mid}, m.COSINE, m.RANK FROM {source} s "
        f"JOIN ({ranked}) m ON m.__qid = s.{id_col}) __ivfpqj_out"
    )


@_renderer("pq_search")
def _r_pq_search(source, vec_col, id_col, query_ids, k=10, m=4,
                 codebook_size=8, iterations=1, round_to=6) -> str:
    """ADC replay over the unrolled PQ fit: candidate codes come from the
    same per-subspace Lloyd chains as the pq_encode renderer; each
    (query, candidate) score is the sum over subspaces of
    dot(query_subvector, codebook[code]) computed in-flight by joining the
    candidate's code against the post-Lloyd codebook relation — the exact
    join-form of the DataFrame path's driver-collected lookup tables (both
    sides fold the dot product sequentially over array order, so the
    doubles match bit-for-bit before the shared ROUND). Top-k per query by
    the same (score DESC, id ASC) window."""
    if not query_ids:
        raise ParameterException("query_ids must be non-empty")
    if k < 1:
        raise ParameterException("k must be >= 1")
    parts = _pq_render_parts(
        source, vec_col, id_col, m, codebook_size, iterations, round_to,
        "pq_search",
    )
    qlist = ", ".join(str(int(q)) for q in query_ids)
    # one CTE per subspace for the codebook and the code assignment, plus a
    # per-subspace query-slice relation; named CTEs keep the corpus-wide
    # Lloyd chains single-definition
    ctes = []
    for j, (sub, cb, a) in enumerate(parts):
        ctes.append(f"__pq_cb{j} AS (SELECT c, v FROM {cb})")
        ctes.append(f"__pq_f{j} AS (SELECT __id, c FROM {a})")
        ctes.append(
            f"__pq_q{j} AS (SELECT __id AS qid, v FROM {sub} "
            f"WHERE __id IN ({qlist}))"
        )
    dot = (
        "aggregate(zip_with(__pq_q{j}.v, __pq_b{j}.v, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    score = " + ".join(dot.replace("{j}", str(j)) for j in range(int(m)))
    code_joins = " ".join(
        f"JOIN __pq_f{j} ON __pq_f{j}.__id = s.{id_col} "
        f"JOIN __pq_cb{j} __pq_b{j} ON __pq_b{j}.c = __pq_f{j}.c"
        for j in range(int(m))
    )
    q_joins = " ".join(
        f"JOIN __pq_q{j} ON __pq_q{j}.qid = __pq_q0.qid"
        for j in range(1, int(m))
    )
    scored = (
        f"SELECT CAST(__pq_q0.qid AS BIGINT) AS QUERY_ID, "
        f"s.{id_col} AS MATCH_ID, "
        f"round({score}, {int(round_to)}) AS ADC_SCORE "
        f"FROM {source} s {code_joins} CROSS JOIN __pq_q0 {q_joins} "
        f"WHERE s.{id_col} <> __pq_q0.qid"
    )
    return (
        "SELECT * FROM (WITH " + ", ".join(ctes)
        + f" SELECT QUERY_ID, MATCH_ID, ADC_SCORE, RANK FROM ("
        f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY QUERY_ID "
        f"ORDER BY ADC_SCORE DESC, MATCH_ID ASC) AS INT) AS RANK "
        f"FROM ({scored})) WHERE RANK <= {int(k)}) __pq_out"
    )
