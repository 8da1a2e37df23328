"""The three benchmark workloads, driven through the engine's public
entry points only.

A workload hands the runner a list of operations per pass. Each
operation is ``(label, span name, fn)``; ``fn(ctx)`` does the work and,
on the cold pass (``ctx.cold``), returns the output that ``check``
compares with an independent DuckDB computation. Warm passes force query results
into Spark's ``noop`` sink instead of collecting them.

Why these three (see README.md for the full table):

- ``bank_warehouse``: the paper's own medallion workload. CSV parsing,
  casts, broadcast star joins, Parquet writes and read-modify-write
  merges; no Python UDF runs.
- ``mart_queries``: short relational registry queries where the fixed
  per-query cost (planning, job count, scheduling) dominates. No CSV, no
  write, no UDF.
- ``near_dedup``: the Arrow/pandas UDF boundary, repeated shingling,
  bucket-join shuffles and connected-component iterations, which the
  other two bypass.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import shutil
from dataclasses import dataclass
from pathlib import Path

import duckdb

from perfbench import gen

MART_QUERIES = (
    "q_star_join", "q_group_agg", "q_join_agg", "q_window_dedup", "q_market_share",
    "q_cohort_retention", "q_range_join", "q_event_sessions",
)
NEAR_DEDUP_QUERIES = (
    "q_dedup_minhash", "q_dedup_text_e2e", "q_dedup_image_e2e",
)
MART_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")

# workload -> size name -> generator parameters
SIZES = {
    "bank_warehouse": {"default": {"scale": 1, "batches": 2},
                       "tiny": {"scale": 1, "batches": 1}},
    "mart_queries": {"default": {"sf": 0.01}, "tiny": {"sf": 0.001}},
    "near_dedup": {"default": {"n_docs": 600}, "tiny": {"n_docs": 120}},
}
PAYMENT_KEYS = ["loan_id", "payment_date_key"]


@dataclass
class Ctx:
    tracer: object
    cold: bool


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def generate(workload: str, out_dir: str, seed: int, size: str) -> dict[str, int]:
    params = SIZES[workload][size]
    if workload == "bank_warehouse":
        return gen.bank_csvs(out_dir, seed, params["scale"], params["batches"])
    if workload == "mart_queries":
        return gen.mart_tables(out_dir, seed, params["sf"])
    return gen.documents(out_dir, seed, params["n_docs"])


# ------------------------------------------------------------ result digests


def _cell(v):
    import datetime as dt
    import decimal

    import numpy as np
    import pandas as pd

    if isinstance(v, np.ndarray):
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def digest(pdf) -> str:
    """Order-insensitive hash of a pandas frame: columns by name, cells
    normalized (ints and decimals as floats, temporals as ISO strings),
    rows sorted."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_cell(v) for v in r))
                  for r in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def _registry():
    import etl_demos_spark.workload_ext  # noqa: F401  (registers the extension queries)
    from etl_demos_spark.workload import REGISTRY

    return REGISTRY


# ----------------------------------------------------------------- workloads


class QueryWorkload:
    """Registry queries over a testdata-shaped directory, each checked
    against its DuckDB oracle on the cold pass."""

    pass_s = 4.0  # typical warm pass on 4 cores; sets the warm-pass count

    def __init__(self, spark, data_dir: str, seed: int, queries: tuple[str, ...]):
        self.spark = spark
        self.data_dir = data_dir
        self.registry = _registry()
        self.queries = list(queries)
        # the seed permutes the query order of every pass
        random.Random(seed).shuffle(self.queries)

    def _run(self, ctx: Ctx, q: str):
        self.spark.catalog.clearCache()
        with ctx.tracer.span("workload.build"):
            df = self.registry[q].fn(self.spark, self.data_dir)
        with ctx.tracer.span("exec.force"):
            if ctx.cold:
                return df.toPandas()
            noop(df)
        return None

    def ops(self, work_dir: str):
        return [(q, "workload.query", lambda ctx, q=q: self._run(ctx, q)) for q in self.queries]

    def _duck(self, tables) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
            )
        return con

    def check(self, results: dict) -> list[str]:
        con = self._duck(self.tables)
        failures = []
        for q, got in results.items():
            want = con.sql(self.registry[q].oracle).df()
            if len(got) != len(want) or digest(got) != digest(want):
                failures.append(f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
        con.close()
        return failures

    def probes(self, tracer, results: dict) -> None:
        return None


class MartQueries(QueryWorkload):
    tables = MART_TABLES
    pass_s = 6.0

    def __init__(self, spark, data_dir, seed, size):
        super().__init__(spark, data_dir, seed, MART_QUERIES)


class NearDedup(QueryWorkload):
    tables = ("documents",)

    def __init__(self, spark, data_dir, seed, size):
        super().__init__(spark, data_dir, seed, NEAR_DEDUP_QUERIES)
        self.n_docs = SIZES["near_dedup"][size]["n_docs"]

    def probes(self, tracer, results: dict) -> dict:
        """Per-operator spans over a materialized documents frame, so each
        span holds only its operator's own work."""
        import pyspark.sql.functions as F

        from etl_demos_spark.data import load_table
        from etl_demos_spark.operators import dedup, image_dedup
        from etl_demos_spark.operators.embedding_dedup import connected_components

        spark = self.spark
        docs = load_table(spark, self.data_dir, "documents").localCheckpoint(eager=True)
        out = {}
        with tracer.span("operators.dedup.signature"):
            sigs = dedup.minhash_signatures_from_docs(
                docs, "doc_id", "text", 3, 128, "md5", short_docs="whole"
            ).localCheckpoint(eager=True)
        with tracer.span("operators.dedup.lsh"):
            banded = dedup.banded_buckets(sigs, 32, 4)
            right = banded.select(F.col("id").alias("id2"), "band", "bucket")
            out["lsh_candidates"] = (
                banded.join(right, ["band", "bucket"])
                .filter(F.col("id") < F.col("id2"))
                .select("id", "id2").distinct().count()
            )
        verified = len(results.get("q_dedup_minhash", ()))
        out["lsh_precision"] = verified / out["lsh_candidates"] if out["lsh_candidates"] else 0.0
        with tracer.span("operators.dedup.jaccard"):
            dedup.jaccard_pairs(docs, "doc_id", "text", 3, 0.5).count()
        with tracer.span("operators.dedup.postings"):
            grams = dedup.shingled_docs(docs, "doc_id", "text", 3).select(
                "id", F.explode(F.array_distinct("sh")).alias("g")
            )
            out["postings_pairs"] = int(
                grams.groupBy("g").count()
                .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0
            )
        # the same planted corpus q_dedup_image_e2e decodes
        from etl_demos_spark.workload_ext import _planted_image_corpus

        corpus = _planted_image_corpus(spark, self.data_dir).localCheckpoint(eager=True)
        with tracer.span("operators.image_dedup.signature"):
            image_dedup.image_signatures(corpus, "dhash").count()
        pairs = spark.createDataFrame(
            results["q_dedup_minhash"][["id_a", "id_b"]]
        ).localCheckpoint(eager=True)
        with tracer.span("operators.embedding_dedup.cc"):
            connected_components(pairs).count()
        return out


class BankWarehouse:
    """CSV ingest → 13-model build → quality gate → K payment-correction
    merges → compaction → the q_bank_mart mart, in a fresh warehouse
    directory each pass."""

    pass_s = 10.0

    def __init__(self, spark, data_dir: str, seed: int, size: str):
        self.spark = spark
        self.data_dir = data_dir
        self.batches = SIZES["bank_warehouse"][size]["batches"]
        self.registry = _registry()

    def _sources(self):
        from etl_demos_spark.sources.registry import Source, SourceRegistry

        reg = SourceRegistry()
        reg.add(Source(name="customers", path=f"{self.data_dir}/customers.csv"))
        reg.add(Source(name="loan_applications", path=f"{self.data_dir}/auto_loan_default.csv"))
        reg.add(Source(name="payments", path=f"{self.data_dir}/payments.csv"))
        for b in range(self.batches):
            reg.add(Source(name=f"batch{b}", path=f"{self.data_dir}/payments_batch_{b}.csv"))
        return reg

    def ops(self, work_dir: str):
        import pyspark.sql.functions as F

        from etl_demos_spark.plans import incremental
        from etl_demos_spark.plans.bank_pipeline import build_bank_pipeline
        from etl_demos_spark.plans.quality import run_assertions

        spark = self.spark
        wh = f"{work_dir}/warehouse"
        merged_path = f"{wh}/payments_merged"
        pipe = build_bank_pipeline(warehouse_dir=wh)
        views = [n for n in pipe.order() if pipe.models[n].materialized == "view"]
        st: dict = {}

        def ingest(ctx):
            reg = self._sources()
            st["srcs"] = {n: reg.load(spark, n) for n in reg.sources}

        def tables(ctx):
            st["built"] = pipe.run(spark, st["srcs"], check=False)
            if ctx.cold:
                return {
                    "dim_date": st["built"]["dim_date"].count(),
                    "dim_contract_status": st["built"]["dim_contract_status"].count(),
                    "f_loan_contract": st["built"]["f_loan_contract"].count(),
                    "loans": st["srcs"]["loan_applications"].count(),
                    "files": sum(1 for _ in Path(wh).glob("**/*.parquet")),
                }
            return None

        def view(name):
            return lambda ctx: noop(st["built"][name])

        def gate(ctx):
            return run_assertions(st["built"], pipe.assertions)

        def seed_table(ctx):
            incremental.merge_upsert(
                spark, st["built"]["f_payment_transaction"], merged_path, PAYMENT_KEYS
            )

        def merge(b):
            def fn(ctx):
                staged = pipe.models["stg_payments"].fn(spark, payments=st["srcs"][f"batch{b}"])
                upd = pipe.models["f_payment_transaction"].fn(spark, stg_payments=staged)
                incremental.merge_upsert(spark, upd, merged_path, PAYMENT_KEYS)
                if ctx.cold and b == self.batches - 1:
                    return sum(1 for _ in Path(merged_path).glob("**/*.parquet"))
                return None
            return fn

        def compact(ctx):
            incremental.compact(spark, merged_path)
            if ctx.cold:
                return spark.read.parquet(merged_path).toPandas()
            return None

        def mart(ctx):
            built = st["built"]
            df = (
                built["f_loan_contract"]
                .join(F.broadcast(built["dim_customer"].select("customer_key", "age_band")),
                      "customer_key")
                .groupBy("age_band")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_loans"),
                    F.sum("loan_default").cast("long").alias("n_defaults"),
                    F.round(F.sum("loan_default") / F.count(F.lit(1)), 6).alias("default_rate"),
                )
            )
            if ctx.cold:
                return df.toPandas()
            noop(df)
            return None

        ops = [("ingest", "sources.ingest", ingest), ("tables", "plans.model.tables", tables)]
        ops += [(f"view:{v}", "plans.model.views", view(v)) for v in views]
        ops += [("gate", "plans.quality.gate", gate),
                ("seed", "plans.incremental.seed", seed_table)]
        ops += [(f"merge:{b}", "plans.incremental.merge", merge(b)) for b in range(self.batches)]
        ops += [("compact", "plans.incremental.compact", compact),
                ("mart", "workload.mart", mart)]
        return ops

    def check(self, results: dict) -> list[str]:
        failures = []
        inv = results["tables"]
        for name, want in (("dim_date", 5844), ("dim_contract_status", 4),
                           ("f_loan_contract", inv["loans"])):
            if inv[name] != want:
                failures.append(f"{name}: {inv[name]} rows, expected {want}")
        gate = results["gate"]
        if gate != []:
            failures.append(f"quality gate failed: {gate}")
        con = duckdb.connect()
        oracle = re.sub(
            r"read_csv_auto\('[^']*/([^/']+\.csv)'\)",
            lambda m: f"read_csv_auto('{self.data_dir}/{m.group(1)}')",
            self.registry["q_bank_mart"].oracle,
        )
        if digest(results["mart"]) != digest(con.sql(oracle).df()):
            failures.append("q_bank_mart mart differs from the DuckDB oracle")
        merged = results["compact"]
        if digest(merged) != digest(self._duck_replay(con)):
            failures.append("merged payments differ from the DuckDB upsert replay")
        con.close()
        return failures

    def _duck_replay(self, con):
        def fact(csv):
            return f"""
                SELECT loan_id,
                       CAST(strftime(CAST(payment_date AS DATE), '%Y%m%d') AS BIGINT)
                           AS payment_date_key,
                       CAST(CAST(amount AS DECIMAL(18,2)) AS DOUBLE) AS amount,
                       CAST(CAST(principal_amt AS DECIMAL(18,2)) AS DOUBLE) AS principal_amt,
                       CAST(CAST(interest_amt AS DECIMAL(18,2)) AS DOUBLE) AS interest_amt,
                       CAST(CAST(fee_amt AS DECIMAL(18,2))
                            + CAST(late_fee_amt AS DECIMAL(18,2)) AS DOUBLE) AS total_fees,
                       CAST(channel_id AS BIGINT) AS channel_key
                FROM read_csv_auto('{self.data_dir}/{csv}')"""

        con.execute(f"CREATE TABLE merged AS {fact('payments.csv')}")
        for b in range(self.batches):
            con.execute(f"CREATE OR REPLACE TEMP TABLE b AS {fact(f'payments_batch_{b}.csv')}")
            con.execute("DELETE FROM merged USING b WHERE merged.loan_id = b.loan_id "
                        "AND merged.payment_date_key = b.payment_date_key")
            con.execute("INSERT INTO merged SELECT * FROM b")
        return con.sql("SELECT * FROM merged").df()

    def probes(self, tracer, results: dict) -> dict:
        """Quarantine read of the payments CSV against its staging
        schema: rows the PERMISSIVE parse rejects."""
        from pyspark.sql.types import (DateType, DecimalType, LongType, StringType,
                                       StructField, StructType)

        from etl_demos_spark.sources.quarantine import read_csv_quarantine

        money = DecimalType(38, 9)
        schema = StructType([
            StructField("loan_id", StringType()), StructField("payment_date", DateType()),
            StructField("amount", money), StructField("principal_amt", money),
            StructField("interest_amt", money), StructField("fee_amt", money),
            StructField("late_fee_amt", money), StructField("channel_id", LongType()),
        ])
        with tracer.span("sources.quarantine"):
            _clean, bad = read_csv_quarantine(self.spark, f"{self.data_dir}/payments.csv", schema)
            return {"rows_quarantined": bad.count()}


WORKLOADS = {
    "bank_warehouse": BankWarehouse,
    "mart_queries": MartQueries,
    "near_dedup": NearDedup,
}


def clear_dir(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
