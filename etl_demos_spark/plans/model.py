"""Model registry with ref()-style dependencies and toposort execution.

Semantic port of the reference's dbt model graph (D1/D2:
dags/bank_etl_dag.py:75 `load_tasks >> dbt_run >> dbt_test`; every model's
`{{ ref(...) }}` edge) — but where dbt compiles Jinja-SQL text and ships it
to BigQuery, here a model is a plain Python function taking upstream
DataFrames and returning a DataFrame; the "manifest" is this registry and
the IR is DataFrame lineage (Catalyst sees the WHOLE pipeline, so filters
push across model boundaries — something dbt's materialization walls
prevent).

Materialization (reference `{{ config(materialized=...) }}`,
dbt_project.yml:7): ``view`` keeps the model lazy (temp view; downstream
queries re-derive, Catalyst fuses), ``table`` writes Parquet and re-reads
(pipeline breaker — cuts lineage, caches the result, enables partitioned
layout). Same trade-off the reference makes, exposed per model.
"""

from __future__ import annotations

import graphlib
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

ModelFn = Callable[..., DataFrame]  # (spark, **upstream DataFrames)


@dataclass
class Model:
    name: str
    fn: ModelFn
    refs: tuple[str, ...] = ()
    sources: tuple[str, ...] = ()
    materialized: str = "view"  # view | table
    partition_by: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """A source registry + model graph + assertion set, runnable in
    dependency order."""

    warehouse_dir: str | None = None
    models: dict[str, Model] = field(default_factory=dict)
    assertions: list = field(default_factory=list)

    def model(
        self,
        name: str,
        refs: Sequence[str] = (),
        sources: Sequence[str] = (),
        materialized: str = "view",
        partition_by: Sequence[str] = (),
    ):
        """Decorator: register a model function. ``refs`` name upstream
        models, ``sources`` name raw inputs provided at run()."""

        def deco(fn: ModelFn) -> ModelFn:
            self.models[name] = Model(
                name, fn, tuple(refs), tuple(sources), materialized, tuple(partition_by)
            )
            return fn

        return deco

    def _validate_refs(self) -> None:
        """Fail fast, by name, on refs to unregistered models — without
        this a typo'd ref is scheduled as a model of its own and
        surfaces as a bare KeyError mid-run."""
        for name, m in self.models.items():
            unknown = [r for r in m.refs if r not in self.models]
            if unknown:
                raise ValueError(
                    f"model {name!r} refs unregistered model(s) {unknown}; "
                    f"registered: {sorted(self.models)}"
                )

    def _graph(self) -> graphlib.TopologicalSorter:
        self._validate_refs()
        return graphlib.TopologicalSorter(
            {name: set(m.refs) for name, m in self.models.items()}
        )

    def order(self) -> list[str]:
        return list(self._graph().static_order())

    def run(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        check: bool = True,
    ) -> dict[str, DataFrame]:
        """Build every model, each as soon as its refs are built (D5 — the
        reference runs dbt with 4 threads, profiles.yml:10). Returns
        name → DataFrame.

        ``table`` models are written to the warehouse dir (partitioned if
        declared) and re-read, so downstream plans start from a fresh scan
        with statistics; ``view`` models stay lazy lineage. Only the table
        writes run Spark work at build time, so independent writes (the
        dimensions, then the facts) overlap in Spark's scheduler the way
        dbt's threads overlap CREATE TABLEs. Build threads inherit the
        caller's job group, job tags and scheduler pool.

        If a model function or its write raises, no model that depends on
        it is started, writes already in flight finish, and the first
        error is re-raised with the model's name added as a note.
        ``check`` then runs the assertions as one Spark action
        (plans/quality.run_assertions) and raises on any failure.
        """
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        from pyspark.util import inheritable_thread_target

        graph = self._graph()
        graph.prepare()
        built: dict[str, DataFrame] = {}

        def build_one(name: str) -> DataFrame:
            m = self.models[name]
            missing = [s for s in m.sources if s not in sources]
            if missing:
                raise KeyError(f"model {name}: missing sources {missing}")
            kwargs = {s: sources[s] for s in m.sources}
            kwargs.update({r: built[r] for r in m.refs})
            df = m.fn(spark, **kwargs)
            if m.materialized == "table":
                if not self.warehouse_dir:
                    raise ValueError(f"model {name}: table materialization needs warehouse_dir")
                path = f"{self.warehouse_dir}/{name}"
                writer = df.write.mode("overwrite")
                if m.partition_by:
                    writer = writer.partitionBy(*m.partition_by)
                writer.parquet(path)
                df = spark.read.parquet(path)
            return df

        # Wrapped here, on the caller's thread: the wrapper snapshots the
        # caller's Spark local properties and tags at wrap time.
        target = inheritable_thread_target(spark)(build_one)
        error: Exception | None = None
        with ThreadPoolExecutor(max_workers=max(1, len(self.models))) as pool:
            running = {}
            while True:
                if error is None:
                    for name in graph.get_ready():
                        running[pool.submit(target, name)] = name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = running.pop(fut)
                    try:
                        built[name] = fut.result()
                    except Exception as e:
                        if error is None:
                            e.add_note(f"raised while building model {name!r}")
                            error = e
                    else:
                        graph.done(name)
        if error is not None:
            raise error
        if check:
            from etl_demos_spark.plans.quality import run_assertions

            failures = run_assertions(built, self.assertions)
            if failures:
                raise AssertionError(f"data-quality failures: {failures}")
        return built

    def add_assertion(
        self, model: str, kind: str, columns: Sequence[str], **params
    ) -> None:
        """dbt-style declarative test (staging.yml:12-28,
        marts_core.yml:3-16). All four dbt schema-test kinds register:
        'not_null', 'unique', 'accepted_values' (pass ``values=[...]``),
        'relationships' (pass ``to=<model name>, field=<col>`` — ``to``
        resolves against the built models at run time). Unknown kinds
        fail HERE, by name, not as a KeyError mid-run after tables were
        already written."""
        from etl_demos_spark.plans.quality import CHECKS

        if kind not in CHECKS:
            raise ValueError(
                f"unknown assertion kind {kind!r}; known: {sorted(CHECKS)}"
            )
        self.assertions.append((model, kind, tuple(columns), params))
