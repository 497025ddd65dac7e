"""The three benchmark workloads.

Each workload generates its inputs (untimed), sets itself up on a session
(timed as set-up), runs ops in a closed loop with one client, and checks
its outputs once per run, outside the timed loop. Every call into a layer
of the program runs inside ``tracer.span(layer, op)``; spans cost nothing
when the tracer is off.

- ``feature_chains``: the B1-B8 relational chains over TPC-H-shaped
  tables. One op builds one chain, renders its SQL and dbt model, and
  fetches the result (``to_df``) or writes it (``save_shards``).
  Execution dominates; construction is the control that stays flat.
- ``curation_pipeline``: url_normalize -> dedup_url -> decontaminate ->
  quality_filter -> dedup_minhash -> mix_datasets on a fresh crawl per op,
  written with ``save_shards``. Construction-time eager actions dominate.
- ``ingest_loop``: each op screens a new batch against a persisted MinHash
  index and a persisted IVF-PQ index, writes the survivors, folds them into
  both indexes, and saves and reloads both. The only workload that touches
  the ANN layer.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

# ------------------------------------------------------------------ checks

_ROUND = 9


def canonical_hash(df: pd.DataFrame) -> str:
    """Order-free hash of a result: upper-cased, name-sorted columns,
    doubles rounded to 9 places, timestamps at microseconds, sorted rows
    (the canonical form the repository's oracle gate compares)."""
    df = df.copy()
    df.columns = [str(c).upper() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif np.issubdtype(s.dtype, np.floating):
            df[c] = s.round(_ROUND)
        elif np.issubdtype(s.dtype, np.integer):
            df[c] = s.astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.md5(
        pd.util.hash_pandas_object(df.astype(str), index=False).values.tobytes()
    ).hexdigest()


def read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def dir_bytes_rows(path: str) -> tuple[int, int]:
    """Bytes and rows of the parquet files a sink wrote."""
    nbytes = nrows = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            p = os.path.join(path, f)
            nbytes += os.path.getsize(p)
            nrows += pq.ParquetFile(p).metadata.num_rows
    return nbytes, nrows


# ------------------------------------------------------------------ base


class Workload:
    """One op is ``run_op(k)``; it returns the input rows it consumed."""

    setup_reps = 3  # set-ups per run; ``setup_s`` is their median
    cycle = 1  # ops per cycle; runs end on a whole cycle
    min_cycles = 2  # the loop runs at least this many cycles

    def __init__(self, work: str, seed: int, scale: float, tracer, pool: int):
        self.work, self.seed, self.scale = work, seed, scale
        self.tracer, self.pool = tracer, pool
        self.session = None
        self.sink_files: list[str] = []  # sink outputs of traced ops

    def span(self, name: str, op: str):
        return self.tracer.span(name, op)

    def generate(self) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """One set-up repetition on a fresh SparkSession (timed as set-up)."""
        raise NotImplementedError

    def _connect(self, spark, data_dir: str | None = None) -> None:
        import rasgoql_spark as rql

        with self.span("session.resolve", "setup"):
            self.session = rql.connect(spark, data_dir=data_dir)

    def warm_up(self) -> None:
        """Codegen and JIT warm-up, once after the set-up repetitions."""
        raise NotImplementedError

    def run_op(self, k: int) -> int:
        raise NotImplementedError

    def check(self) -> tuple[dict, set[int]]:
        """(check results, indices of ops whose outputs failed a check)."""
        raise NotImplementedError

    def flag_counts(self) -> tuple[int, int, int, int]:
        """(text copies flagged, text copies, vector copies flagged, vector
        copies) over the timed ops; zeros where nothing is planted."""
        return 0, 0, 0, 0


# ------------------------------------------------------------------ W1


def _b1(d):
    return (d["lineitem"]
            .filter(filter_statements=["l_shipdate >= TIMESTAMP '1996-01-01'",
                                       "l_shipdate < TIMESTAMP '1997-01-01'"])
            .drop_columns(include_cols=["l_orderkey", "l_partkey", "l_quantity",
                                        "l_extendedprice", "l_shipdate"]))


def _b2(d):
    return (d["lineitem"]
            .datetrunc(dates={"l_shipdate": "week"})
            .aggregate(group_by=["l_partkey", "L_SHIPDATE_WEEK"],
                       aggregations={"l_extendedprice": ["SUM"],
                                     "l_quantity": ["AVG", "MIN", "MAX"]}))


def _b3(d):
    return (d["lineitem"]
            .join(join_table=d["orders"], join_columns={"l_orderkey": "o_orderkey"},
                  join_type="INNER", join_prefix="O")
            .join(join_table=d["customer"], join_columns={"O_O_CUSTKEY": "c_custkey"},
                  join_type="INNER", join_prefix="C", broadcast=True)
            .aggregate(group_by=["C_C_MKTSEGMENT"],
                       aggregations={"l_extendedprice": ["SUM"], "l_quantity": ["AVG"],
                                     "l_orderkey": ["COUNT"]}))


def _b4(d):
    return (d["lineitem"]
            .datetrunc(dates={"l_shipdate": "week"})
            .aggregate(group_by=["l_partkey", "L_SHIPDATE_WEEK"],
                       aggregations={"l_extendedprice": ["SUM"]})
            .lag(columns=["L_EXTENDEDPRICE_SUM"], amounts=[1, 2, 3],
                 order_by=["L_SHIPDATE_WEEK"], partition=["l_partkey"])
            .moving_avg(input_columns=["L_EXTENDEDPRICE_SUM"], window_sizes=[4],
                        order_by=["L_SHIPDATE_WEEK"], partition=["l_partkey"]))


def _b5(d):
    return d["lineitem"].pivot(dimensions=["l_linestatus"], pivot_column="l_returnflag",
                               value_column="l_extendedprice", agg_method="SUM",
                               list_of_vals=["A", "N", "R"])


def _b6(d):
    return (d["orders"]
            .one_hot_encode(column="o_orderpriority", list_of_vals=gen.PRIORITIES)
            .train_test_split(order_by=["o_orderdate", "o_orderkey"], train_percent=0.8))


def _b7(d):
    return (d["lineitem"]
            .rolling_agg(aggregations={"l_quantity": ["SUM", "MAX"]},
                         order_by=["l_shipdate", "l_orderkey", "l_linenumber"],
                         offsets=[-7, 7], group_by=["l_suppkey"])
            .drop_columns(include_cols=["l_orderkey", "l_linenumber",
                                        "L_QUANTITY_SUM_7_7", "L_QUANTITY_MAX_7_7"]))


def _b8(d):
    return d["events"].tumbling_window(ts="ts", duration="1 hour",
                                       aggregations={"event_id": ["COUNT"], "value": ["SUM"]},
                                       group_by=["event_type"])


# DuckDB oracles for the two chains the repository's oracle set has no
# single entry for; hand-written, like every oracle, never derived from
# the code under test.
_B4_ORACLE = (
    "WITH a AS (SELECT l_partkey, CAST(date_trunc('week', l_shipdate) AS TIMESTAMP) "
    "AS L_SHIPDATE_WEEK, SUM(l_extendedprice) AS L_EXTENDEDPRICE_SUM FROM lineitem "
    "GROUP BY 1, 2) "
    "SELECT l_partkey, L_SHIPDATE_WEEK, L_EXTENDEDPRICE_SUM, "
    "LAG(L_EXTENDEDPRICE_SUM, 1) OVER w AS LAG_L_EXTENDEDPRICE_SUM_1, "
    "LAG(L_EXTENDEDPRICE_SUM, 2) OVER w AS LAG_L_EXTENDEDPRICE_SUM_2, "
    "LAG(L_EXTENDEDPRICE_SUM, 3) OVER w AS LAG_L_EXTENDEDPRICE_SUM_3, "
    "AVG(L_EXTENDEDPRICE_SUM) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) "
    "AS MEAN_L_EXTENDEDPRICE_SUM_4 FROM a "
    "WINDOW w AS (PARTITION BY l_partkey ORDER BY L_SHIPDATE_WEEK)"
)
_B6_ORACLE = (
    "SELECT *, "
    + ", ".join(
        f"CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END AS "
        f"\"O_ORDERPRIORITY_{p.replace('-', '_').replace(' ', '_')}\""
        for p in gen.PRIORITIES)
    + ", CASE WHEN PERCENT_RANK() OVER (ORDER BY o_orderdate, o_orderkey) < 0.8 "
    "THEN 'TRAIN' ELSE 'TEST' END AS TT_SPLIT FROM orders"
)

# name -> (tables read, builder, terminal, oracle: oracle_sql() key or SQL)
CHAINS = {
    "b1_filter_project": (("lineitem",), _b1, "sink", "filter_project"),
    "b2_aggregate": (("lineitem",), _b2, "sink", "aggregate"),
    "b3_join_agg": (("lineitem", "orders", "customer"), _b3, "fetch", "join_agg"),
    "b4_window_chain": (("lineitem",), _b4, "sink", _B4_ORACLE),
    "b5_pivot": (("lineitem",), _b5, "fetch", "pivot"),
    "b6_encode_split": (("orders",), _b6, "sink", _B6_ORACLE),
    "b7_rolling_agg": (("lineitem",), _b7, "sink", "rolling_agg"),
    "b8_tumbling_window": (("events",), _b8, "fetch", "tumbling_window"),
}
_CHAIN_NAMES = list(CHAINS)


class FeatureChains(Workload):
    cycle = len(CHAINS)
    # a set-up here is only a session start, about 0.5 s and noisy: more
    # repetitions for a steady median
    setup_reps = 5
    # sf0.05 row counts: sf0.1 tables leave too few cycles in a run
    base_scale = 0.5
    # the first timed cycle still runs slower (JIT): a fixed minimum keeps
    # its share of the ops, and so the median, the same from run to run
    min_cycles = 3

    def generate(self) -> dict:
        self.data = os.path.join(self.work, "tpch")
        self.warm = os.path.join(self.work, "tpch_warm")
        self.sizes = gen.tpch(self.data, self.seed, self.base_scale * self.scale)
        gen.tpch(self.warm, self.seed, self.base_scale * self.scale / 5)
        self.fetched: dict[str, pd.DataFrame] = {}
        self.checked_op: dict[str, int] = {}
        return {"rows": self.sizes}

    def setup(self, spark) -> None:
        self._connect(spark, self.data)
        with self.span("session.resolve", "setup"):
            for t in self.sizes:
                self.session.dataset(t)

    def warm_up(self) -> None:
        import rasgoql_spark as rql

        # one cycle of every chain shape on tables a fifth the size:
        # codegen and most of the JIT warm-up at a fraction of a full cycle
        warm = rql.RasgoSession(self.session.spark, data_dir=self.warm)
        for name in CHAINS:
            self._op(warm, name, "warmup", os.path.join(self.work, "warm_out", name))

    def _op(self, session, name: str, op: str, out: str):
        tables, build, terminal, _ = CHAINS[name]
        with self.span("session.resolve", op):
            d = {t: session.dataset(t) for t in tables}
        with self.span("build", op):
            chain = build(d)
        with self.span("render.sql", op):
            chain.sql()
        with self.span("render.dbt", op):
            chain.to_dbt(os.path.join(self.work, "dbt"), file_name=name)
        if terminal == "fetch":
            with self.span("fetch", op):
                return chain.to_df()
        with self.span("sink", op):
            chain.save_shards(out, mode="overwrite")
        return out

    def run_op(self, k: int) -> int:
        name = _CHAIN_NAMES[k % self.cycle]
        first = name not in self.checked_op
        out = os.path.join(self.work, "check" if first else "out", name)
        res = self._op(self.session, name, f"op-{k}", out)
        if first:
            self.checked_op[name] = k
            if isinstance(res, pd.DataFrame):
                self.fetched[name] = res
        if self.tracer.enabled and isinstance(res, str):
            self.sink_files.append(res)
        return sum(self.sizes[t] for t in CHAINS[name][0])

    def check(self):
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql("SET TimeZone = 'UTC'")
            for t in ("lineitem", "orders", "customer", "events"):
                path = os.path.join(self.data, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            results, bad = {}, set()
            for name, k in self.checked_op.items():
                oracle = CHAINS[name][3]
                if name in self.fetched:
                    got = con.from_df(self.fetched[name])
                else:
                    got = con.read_parquet(os.path.join(self.work, "check", name, "*.parquet"))
                got.create_view("got")
                con.sql(f"CREATE OR REPLACE VIEW want AS {oracles.get(oracle, oracle)}")
                results[name] = diff_rows(con, "got", "want")
                if results[name]["mismatched_rows"]:
                    bad.add(k)
        finally:
            con.close()
        return results, bad


def diff_rows(con, got: str, want: str) -> dict:
    """Compare two DuckDB relations as multisets of rows, matching columns
    by upper-cased name: doubles rounded to 9 places and timestamps cast
    to plain microsecond TIMESTAMP on both sides (the canonical form of the
    repository's oracle gate). ``mismatched_rows`` counts rows in either
    side's EXCEPT ALL; a differing column set counts every row."""
    def cols(rel):
        r = con.sql(f"SELECT * FROM {rel} LIMIT 0")
        return {c.upper(): (c, str(t)) for c, t in zip(r.columns, r.types)}

    g, w = cols(got), cols(want)
    n_got = con.sql(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.sql(f"SELECT count(*) FROM {want}").fetchone()[0]
    if set(g) != set(w):
        return {"rows": n_got, "mismatched_rows": n_got + n_want,
                "columns": sorted(set(g) ^ set(w))}

    def select(rel, spec):
        out = []
        for up in sorted(spec):
            c, t = spec[up]
            q = f'"{c}"'
            if t in ("DOUBLE", "FLOAT"):
                q = f"round({q}, {_ROUND})"
            elif t.startswith("TIMESTAMP"):
                q = f"CAST({q} AS TIMESTAMP)"
            out.append(q)
        return f"SELECT {', '.join(out)} FROM {rel}"

    diff = con.sql(
        f"SELECT count(*) FROM (({select(got, g)} EXCEPT ALL {select(want, w)}) "
        f"UNION ALL ({select(want, w)} EXCEPT ALL {select(got, g)}))").fetchone()[0]
    return {"rows": n_got, "mismatched_rows": int(diff)}


# ------------------------------------------------------------------ W2


def curation_chain(docs, evals):
    """The curation pipeline; returns (cleaned, mixed) chains."""
    cleaned = (
        docs.url_normalize(url="url")
        .dedup_url(url="url", id_col="doc_id")
        .decontaminate(text="text", id_col="doc_id", eval_table=evals,
                       ngram=5, threshold=0.5, mode="filter")
        .quality_filter(text="text", min_tokens=20, max_word_rep_ratio=0.6)
        .dedup_minhash(text="text", id_col="doc_id", threshold=0.2, mode="filter")
    )
    en = cleaned.filter(filter_statements=["lang = 'en'"])
    rest = cleaned.filter(filter_statements=["lang <> 'en'"])
    return cleaned, en.mix_datasets(others=[rest], weights=[3, 1], key="doc_id")


_WARM_REP = 1_000_000  # corpus index of the set-up warm-up crawl


class CurationPipeline(Workload):
    def generate(self) -> dict:
        self.n_docs = max(200, int(2_000 * self.scale))
        self.corpora = []
        for rep in list(range(self.pool)) + [_WARM_REP]:
            path = os.path.join(self.work, "corpus", str(rep))
            self.corpora.append((path, gen.curation_corpus(path, self.seed, rep, self.n_docs)))
        self.warm = self.corpora.pop()
        first = self.corpora[0][1]
        return {"docs_per_op": first["docs"], "eval_per_op": first["eval"],
                "corpora": len(self.corpora),
                "planted_per_op": {k: len(v) for k, v in first["planted"].items()}}

    def setup(self, spark) -> None:
        self._connect(spark)

    def warm_up(self) -> None:
        self._op(self.warm[0], "warmup", os.path.join(self.work, "warm_out"))

    def _op(self, corpus: str, op: str, out: str) -> None:
        with self.span("session.resolve", op):
            docs = self.session.dataset(os.path.join(corpus, "docs.parquet"))
            evals = self.session.dataset(os.path.join(corpus, "eval.parquet"))
        with self.span("build", op):
            _, mixed = curation_chain(docs, evals)
        with self.span("sink", op):
            mixed.save_shards(out, mode="overwrite")

    def run_op(self, k: int) -> int:
        if k >= len(self.corpora):
            raise IndexError("corpus pool exhausted")
        out = os.path.join(self.work, "check" if k == 0 else "out")
        self._op(self.corpora[k][0], f"op-{k}", out)
        if self.tracer.enabled:
            self.sink_files.append(out)
        return self.corpora[k][1]["docs"]

    def check(self):
        """Re-run the first op's pipeline: every planted exact, URL and
        contaminated doc must be gone from its cleaned output, and the mixed
        output must hash the same as the one the timed op wrote."""
        path, info = self.corpora[0]
        docs = self.session.dataset(os.path.join(path, "docs.parquet"))
        evals = self.session.dataset(os.path.join(path, "eval.parquet"))
        cleaned, mixed = curation_chain(docs, evals)
        kept = set(cleaned.df.select("doc_id").toPandas()["doc_id"].tolist())
        again = canonical_hash(mixed.to_df())
        got = canonical_hash(read_dir(os.path.join(self.work, "check")))
        planted = info["planted"]
        leaked = {k: sorted(kept & set(planted[k])) for k in ("exact", "url", "contaminated")}
        removed = {k: round(1 - len(kept & set(v)) / len(v), 4) for k, v in planted.items()}
        ok = got == again and not any(leaked.values())
        return ({"output_hash": got, "rerun_hash_match": got == again,
                 "leaked": leaked, "removed_ratio": removed, "kept_docs": len(kept)},
                set() if ok else {0})


# ------------------------------------------------------------------ W3

_PQ = {"num_centroids": 16, "coarse_iterations": 1, "m": 8,
       "codebook_size": 16, "iterations": 1}
_MH_THRESHOLD, _ANN_THRESHOLD, _NPROBE = 0.5, 0.45, 4


class IngestLoop(Workload):
    def generate(self) -> dict:
        self.data = os.path.join(self.work, "ingest")
        self.n_acc = max(200, int(1_000 * self.scale))
        self.bsize = max(60, int(250 * self.scale))
        # batch 0 is the set-up warm-up batch; the timed loop starts at 1
        self.inputs = gen.ingest_inputs(self.data, self.seed, self.n_acc,
                                        self.pool + 1, self.bsize)
        self.flags: dict[int, tuple[set, set]] = {}
        self.in_index: set[int] = set(range(self.n_acc))
        self.expect_in_index: dict[int, set[int]] = {}
        self.saves = 0
        return {"accepted": self.n_acc, "batch_rows": self.bsize,
                "batches": self.pool,
                "planted_per_batch": {
                    "text_copies": len(self.inputs["batches"][0]["text_copies"]),
                    "vector_copies": len(self.inputs["batches"][0]["vector_copies"])}}

    def _batch(self, b: int) -> str:
        return os.path.join(self.data, f"batch_{b:03d}.parquet")

    def setup(self, spark) -> None:
        from rasgoql_spark.functions.dedup import minhash_index
        from rasgoql_spark.functions.pq import ivfpq_index

        self._connect(spark)
        self.in_index = set(range(self.n_acc))
        with self.span("session.resolve", "setup"):
            acc = self.session.dataset(os.path.join(self.data, "accepted.parquet")).df
        with self.span("dedup.build", "setup"):
            self.mh = minhash_index(acc, "text", "doc_id")
        with self.span("ann.build", "setup"):
            self.pq = ivfpq_index(acc, "embedding", "doc_id", **_PQ)

    def warm_up(self) -> None:
        self._batch_op(0, "warmup")
        # the index state the first timed batch probes, kept for the
        # stability check
        self.first_index = self.last_save

    def _batch_op(self, b: int, op: str) -> None:
        from rasgoql_spark.functions.dedup import (
            load_minhash_index, save_minhash_index, update_minhash_index)
        from rasgoql_spark.functions.pq import (
            load_ivfpq_index, save_ivfpq_index, update_ivfpq_index)

        spark = self.session.spark
        with self.span("session.resolve", op):
            batch = self.session.dataset(self._batch(b))
        txt, vec = self._probe(batch.df, self.mh, self.pq, op)
        self.flags[b] = (txt, vec)
        flagged = sorted(txt | vec)
        survivors = (batch.filter(filter_statements=[
            f"doc_id NOT IN ({', '.join(map(str, flagged))})"]) if flagged else batch)
        out = os.path.join(self.work, "accepted", f"batch_{b:03d}.parquet")
        with self.span("sink", op):
            survivors.save_shards(out, mode="overwrite")
        if self.tracer.enabled and op.startswith("op-"):
            self.sink_files.append(out)
        with self.span("session.resolve", op):
            accepted = self.session.dataset(out).df
        with self.span("dedup.update", op):
            mh = update_minhash_index(self.mh, accepted, "text", "doc_id")
        with self.span("ann.update", op):
            pqi = update_ivfpq_index(self.pq, accepted, "embedding", "doc_id")
        # every save goes to a new path: the next load must never read a
        # directory the previous index is still lazily reading from
        self.saves += 1
        paths = (os.path.join(self.work, "index", f"mh_{self.saves}"),
                 os.path.join(self.work, "index", f"pq_{self.saves}"))
        with self.span("dedup.save", op):
            save_minhash_index(mh, paths[0])
        with self.span("ann.save", op):
            save_ivfpq_index(pqi, paths[1])
        for idx in (self.mh, mh, self.pq, pqi):
            idx.release()
        with self.span("dedup.load", op):
            self.mh = load_minhash_index(spark, paths[0])
        with self.span("ann.load", op):
            self.pq = load_ivfpq_index(spark, paths[1])
        self.last_save = paths
        self.in_index |= set(pd.read_parquet(out, columns=["doc_id"])["doc_id"].tolist())

    def _probe(self, df, mh, pqi, op: str) -> tuple[set, set]:
        from rasgoql_spark.functions.dedup import dedup_against
        from rasgoql_spark.functions.similarity import dedup_against_embedding

        with self.span("dedup.probe", op):
            txt = {r[0] for r in dedup_against(
                df, "text", "doc_id", method="minhash", index=mh,
                threshold=_MH_THRESHOLD, mode="pairs").select("ID").collect()}
        with self.span("ann.probe", op):
            vec = {r[0] for r in dedup_against_embedding(
                df, "embedding", "doc_id", method="ivfpq", index=pqi,
                threshold=_ANN_THRESHOLD, nprobe=_NPROBE, mode="pairs",
            ).select("ID").collect()}
        return txt, vec

    def run_op(self, k: int) -> int:
        b = k + 1
        if b >= len(self.inputs["batches"]):
            raise IndexError("batch pool exhausted")
        # the ids this batch may be flagged against, before it is folded in
        self.expect_in_index[b] = set(self.in_index)
        self._batch_op(b, f"op-{k}")
        return self.bsize

    def flag_counts(self) -> tuple[int, int, int, int]:
        """Text copies whose source was indexed count as planted."""
        tf = tn = vf = vn = 0
        for b, (txt, vec) in self.flags.items():
            if b == 0:
                continue
            info = self.inputs["batches"][b]
            for doc, src in info["text_copies"].items():
                if src in self.expect_in_index[b]:
                    tn += 1
                    tf += doc in txt
            vn += len(info["vector_copies"])
            vf += sum(doc in vec for doc in info["vector_copies"])
        return tf, tn, vf, vn

    def check(self):
        """Every planted text copy of an indexed doc is flagged, and batch
        1 probed again against the index it first met gives the same
        flagged-id sets."""
        from rasgoql_spark.functions.dedup import load_minhash_index
        from rasgoql_spark.functions.pq import load_ivfpq_index

        bad = set()
        missed = {}
        for b in self.flags:
            if b == 0:
                continue
            info = self.inputs["batches"][b]
            miss = sorted(d for d, s in info["text_copies"].items()
                          if s in self.expect_in_index[b] and d not in self.flags[b][0])
            if miss:
                missed[b] = miss
                bad.add(b - 1)
        stable = None
        if 1 in self.flags:
            spark = self.session.spark
            mh = load_minhash_index(spark, self.first_index[0])
            pqi = load_ivfpq_index(spark, self.first_index[1])
            again = self._probe(self.session.dataset(self._batch(1)).df, mh, pqi, "check")
            mh.release()
            pqi.release()
            stable = again == self.flags[1]
            if not stable:
                bad.add(0)
        digest = hashlib.md5(repr(sorted(
            (b, sorted(t), sorted(v)) for b, (t, v) in self.flags.items())).encode()).hexdigest()
        tf, tn, vf, vn = self.flag_counts()
        return ({"missed_text_copies": missed, "rerun_flags_match": stable,
                 "flag_digest": digest, "text_flagged": f"{tf}/{tn}",
                 "vector_flagged": f"{vf}/{vn}"}, bad)


WORKLOADS = {
    "feature_chains": FeatureChains,
    "curation_pipeline": CurationPipeline,
    "ingest_loop": IngestLoop,
}
