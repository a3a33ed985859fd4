"""Named-query registry.

Every operator implemented from SURVEY.md §2 registers here as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus,
when SQL-expressible, the equivalent ANSI SQL string for the DuckDB
oracle. ``__spark_entry__.py`` exposes the registry to the driver;
``tests/test_correctness.py`` replays the same oracle comparison
locally at sf0.001.

Contract (see __spark_entry__.py): every computed column must be
aliased identically in the Spark plan and the oracle SQL — the driver
sorts columns by name before hashing values.
"""

from __future__ import annotations

import importlib
import importlib.util
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

#: modules that register queries on import (order = SURVEY §7 build plan)
_QUERY_MODULES = (
    "severless_data_pipeline_aws_spark.operators.relational",
    "severless_data_pipeline_aws_spark.operators.joins",
    "severless_data_pipeline_aws_spark.operators.aggregates",
    "severless_data_pipeline_aws_spark.operators.windows",
    "severless_data_pipeline_aws_spark.operators.setops",
    "severless_data_pipeline_aws_spark.operators.subqueries",
    "severless_data_pipeline_aws_spark.operators.tpch",
    "severless_data_pipeline_aws_spark.operators.tpch_suite",
    "severless_data_pipeline_aws_spark.operators.nulls",
    "severless_data_pipeline_aws_spark.operators.sampling",
    "severless_data_pipeline_aws_spark.operators.funnel",
    "severless_data_pipeline_aws_spark.operators.cdc",
    "severless_data_pipeline_aws_spark.operators.stats",
    "severless_data_pipeline_aws_spark.functions.scalar",
    "severless_data_pipeline_aws_spark.operators.dashboard",
    "severless_data_pipeline_aws_spark.sources.generator",
    "severless_data_pipeline_aws_spark.streaming.queries",
    "severless_data_pipeline_aws_spark.operators.dedup",
    "severless_data_pipeline_aws_spark.operators.similarity",
    "severless_data_pipeline_aws_spark.operators.text",
    "severless_data_pipeline_aws_spark.operators.sketches",
    "severless_data_pipeline_aws_spark.operators.multimodal",
    "severless_data_pipeline_aws_spark.operators.anomaly",
    "severless_data_pipeline_aws_spark.operators.graphs",
    "severless_data_pipeline_aws_spark.functions.udf",
)


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tuple(tags))
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry.

    A module file that does not exist yet is skipped LOUDLY (warning);
    an import failure *inside* an existing module is re-raised — silently
    dropping its queries would shrink the advertised surface without a
    trace.

    Ordering: the returned dict is interleaved round-robin across the
    source modules, flagship first (see ``_interleaved``). The driver's
    correctness gate samples the first N registry entries; plain
    registration order would put that whole sample inside the relational
    head, while round-robin makes any prefix span every operator family.
    The order is fixed: it reads no file besides the query modules.
    """
    for mod in _QUERY_MODULES:
        if importlib.util.find_spec(mod) is None:
            warnings.warn(f"query module {mod} not built yet — skipped", stacklevel=2)
            continue
        importlib.import_module(mod)
    return _interleaved(_REGISTRY)


#: kept first so the driver's smoke check always exercises it
_FLAGSHIP = "flagship_revenue_by_status_year"


def _interleaved(reg: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    """Round-robin the registry across source modules, flagship first.

    Modules cycle in ``_QUERY_MODULES`` order and each module's queries
    keep their registration order, so any prefix of at least
    ``len(_QUERY_MODULES)`` entries spans every module. The order depends
    only on the module list and registration order — never on files
    beside the package, the environment, hashing or time.
    """
    mod_rank = {m: i for i, m in enumerate(_QUERY_MODULES)}
    buckets: dict[str, list[QuerySpec]] = {}
    for spec in reg.values():
        buckets.setdefault(spec.fn.__module__, []).append(spec)
    ordered = [buckets[m] for m in sorted(buckets, key=lambda m: mod_rank.get(m, len(mod_rank)))]
    out: dict[str, QuerySpec] = {}
    if _FLAGSHIP in reg:
        out[_FLAGSHIP] = reg[_FLAGSHIP]
    for i in range(max(map(len, ordered), default=0)):
        for bucket in ordered:
            if i < len(bucket):
                out.setdefault(bucket[i].name, bucket[i])
    return out


def queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {k: v.oracle for k, v in load_all().items() if v.oracle is not None}
