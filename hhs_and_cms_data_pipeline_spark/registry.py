"""Query/operator registry feeding ``__spark_entry__.py``.

Every operator ID from SURVEY.md §2 registers here as a QuerySpec:
a ``(spark, sf_dir) -> DataFrame`` builder plus (when SQL-expressible) an
equivalent ANSI-SQL oracle string for the DuckDB differential check.
Column names are aliased identically on both sides (the driver sorts columns
by name before hashing values).

``register`` is the one place that applies the session policy
(``session.ensure_session_conf``: UTC, AQE, ``nanosAsLong``): it wraps every
builder so the conf is set on the session before the builder plans, on
every call. Builders do not call it themselves.

Query *names* are the public contract: ``bench.py``, the benchmark and the
tests resolve specs by name, so a rename is a breaking change.
``all_specs()`` serves the specs in registration order — the order of
``_OPERATOR_MODULES``, then top to bottom within each module — and the
order carries no other meaning.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .session import ensure_session_conf

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules whose import populates the registry.
_OPERATOR_MODULES = (
    "hhs_and_cms_data_pipeline_spark.operators.report",
    "hhs_and_cms_data_pipeline_spark.operators.relational",
    "hhs_and_cms_data_pipeline_spark.operators.ingest",
    "hhs_and_cms_data_pipeline_spark.operators.dedup",
    "hhs_and_cms_data_pipeline_spark.operators.similarity",
    "hhs_and_cms_data_pipeline_spark.operators.text",
    "hhs_and_cms_data_pipeline_spark.operators.retrieval",
    "hhs_and_cms_data_pipeline_spark.operators.multimodal",
    "hhs_and_cms_data_pipeline_spark.operators.streaming_batch",
    "hhs_and_cms_data_pipeline_spark.operators.sources_sinks",
    "hhs_and_cms_data_pipeline_spark.operators.relational_ext",
    "hhs_and_cms_data_pipeline_spark.operators.windows_scale",
    "hhs_and_cms_data_pipeline_spark.operators.ingest_queries",
    "hhs_and_cms_data_pipeline_spark.operators.curation",
    "hhs_and_cms_data_pipeline_spark.operators.tpch_full",
    "hhs_and_cms_data_pipeline_spark.operators.graph",
    "hhs_and_cms_data_pipeline_spark.operators.sketch",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB-runnable ANSI SQL; None => rows-only check
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query spec {name!r}")

        @functools.wraps(fn)
        def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_conf(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(name, builder, oracle, bench, tags)
        return builder

    return deco


# Operator modules that failed to import in ``all_specs`` — module name →
# repr(exception).  Non-empty means the registry is serving a PARTIAL
# surface; ``__spark_entry__``/bench surface this loudly but keep the
# queries from healthy modules runnable (round-10 postmortem: one module's
# syntax error must not zero out all 275 queries).
IMPORT_ERRORS: dict[str, str] = {}


def all_specs() -> dict[str, QuerySpec]:
    IMPORT_ERRORS.clear()
    for mod in _OPERATOR_MODULES:
        try:
            importlib.import_module(mod)
        except Exception as exc:  # noqa: BLE001 — record and keep serving
            IMPORT_ERRORS[mod] = repr(exc)
    if IMPORT_ERRORS:
        import sys as _sys

        for mod, err in IMPORT_ERRORS.items():
            print(
                f"[registry] OPERATOR MODULE FAILED TO IMPORT: {mod}: {err}",
                file=_sys.stderr,
            )
        # Decorators run top-to-bottom, so a module that dies halfway
        # through import has already registered its early queries — against
        # module state that never finished initializing. Serving those is
        # worse than dropping them: prune every entry whose builder belongs
        # to a failed module before serving the partial surface.
        pruned = [
            n
            for n, s in _REGISTRY.items()
            if getattr(s.builder, "__module__", None) in IMPORT_ERRORS
        ]
        for n in pruned:
            del _REGISTRY[n]
        if pruned:
            print(
                f"[registry] pruned {len(pruned)} half-imported queries: "
                f"{sorted(pruned)}",
                file=_sys.stderr,
            )
        if not _REGISTRY:
            raise ImportError(
                f"no operator module imported cleanly: {IMPORT_ERRORS}"
            )
    return dict(_REGISTRY)
