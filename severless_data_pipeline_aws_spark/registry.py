"""Named-query registry.

Every operator implemented from SURVEY.md §2 registers here as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus,
when SQL-expressible, the equivalent ANSI SQL string for the DuckDB
oracle. ``__spark_entry__.py`` exposes the registry to the driver;
``tests/test_correctness.py`` replays the same oracle comparison
locally at sf0.001.

Loading is lazy. ``load_all()`` imports no query module: it reads the
``@register("name"`` literals out of each module's source and returns
a read-only mapping in a fixed order. A query module is imported the
first time one of its names is looked up, so a caller that runs one
query compiles only that query's module (and whatever it imports); an
import error inside a module surfaces at that lookup. ``queries()``
and ``oracle_sql()`` touch every name and so import every module.

Contract (see __spark_entry__.py): every computed column must be
aliased identically in the Spark plan and the oracle SQL — the driver
sorts columns by name before hashing values.
"""

from __future__ import annotations

import importlib
import os
import re
import threading
import warnings
from collections.abc import Callable, Iterator, Mapping
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
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    Write it as ``@register(`` at the start of a line with ``name`` as a
    string literal first: ``load_all()`` finds registrations by scanning
    the module sources for that form."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tuple(tags))
        return fn

    return deco


#: the one form every registration takes (the scan reads only this)
_REGISTER_RE = re.compile(r'^@register\(\s*"([^"]+)"', re.MULTILINE)
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

#: first imports of query modules happen under this lock (specs are
#: resolved from threads, and query modules import each other)
_IMPORT_LOCK = threading.RLock()
_imported: set[str] = set()
_failed: dict[str, Exception] = {}


def _import(mod: str) -> None:
    """Import query module ``mod`` once; a failed import re-raises on every later call."""
    with _IMPORT_LOCK:
        if mod in _failed:
            raise _failed[mod]
        if mod in _imported:
            return
        try:
            importlib.import_module(mod)
        except Exception as exc:
            _failed[mod] = exc
            raise
        _imported.add(mod)


def _scan() -> list[tuple[str, str]]:
    """``(name, module)`` for every registration, in registration order, read from the sources.

    A module file that does not exist is skipped with a warning; a name
    found twice raises ``ValueError``, as the decorator does."""
    pairs: list[tuple[str, str]] = []
    seen: set[str] = set()
    for mod in _QUERY_MODULES:
        path = os.path.join(_PKG_DIR, *mod.split(".")[1:]) + ".py"
        if not os.path.exists(path):
            warnings.warn(f"query module {mod} not built yet — skipped", stacklevel=3)
            continue
        with open(path, encoding="utf-8") as f:
            names = _REGISTER_RE.findall(f.read())
        for name in names:
            if name in seen:
                raise ValueError(f"duplicate query name {name!r}")
            seen.add(name)
            pairs.append((name, mod))
    return pairs


class _LazySpecs(Mapping[str, QuerySpec]):
    """Read-only name -> QuerySpec; a lookup imports the owning module on first use."""

    def __init__(self, owners: dict[str, str]):
        self._owners = owners

    def __getitem__(self, name: str) -> QuerySpec:
        mod = self._owners[name]
        if mod not in _imported:
            _import(mod)
        return _REGISTRY[name]

    def __contains__(self, name: object) -> bool:
        return name in self._owners

    def __iter__(self) -> Iterator[str]:
        return iter(self._owners)

    def __len__(self) -> int:
        return len(self._owners)


def load_all() -> Mapping[str, QuerySpec]:
    """Every registered query, by name, without importing any query module.

    The names come from a scan of the query modules' sources (see
    ``_scan``): a module file that does not exist yet is skipped LOUDLY
    (warning) and a name registered twice raises ``ValueError``, both
    here. A module is imported the first time one of its names is
    looked up; an import failure *inside* it is re-raised at that
    lookup and at every later lookup of its names — silently dropping
    its queries would shrink the advertised surface without a trace.

    Ordering: the mapping is interleaved round-robin across the source
    modules, flagship first (see ``_interleaved``). The driver's
    correctness gate samples the first N registry entries; plain
    registration order would put that whole sample inside the relational
    head, while round-robin makes any prefix span every operator family.
    The order is fixed: it reads no file besides the query modules.
    """
    return _LazySpecs(_interleaved(_scan()))


#: kept first so the driver's smoke check always exercises it
_FLAGSHIP = "flagship_revenue_by_status_year"


def _interleaved(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Round-robin ``(name, module)`` pairs across source modules, flagship first.

    Modules cycle in ``_QUERY_MODULES`` order and each module's queries
    keep their registration order, so any prefix of at least
    ``len(_QUERY_MODULES)`` entries spans every module. The order depends
    only on the module list and registration order — never on files
    beside the package, the environment, hashing or time.
    """
    buckets: dict[str, list[str]] = {}
    for name, mod in pairs:
        buckets.setdefault(mod, []).append(name)
    ordered = list(buckets.values())  # pairs come in _QUERY_MODULES order
    owner = dict(pairs)
    out: dict[str, str] = {}
    if _FLAGSHIP in owner:
        out[_FLAGSHIP] = owner[_FLAGSHIP]
    for i in range(max(map(len, ordered), default=0)):
        for bucket in ordered:
            if i < len(bucket):
                out.setdefault(bucket[i], owner[bucket[i]])
    return out


def queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {k: v.oracle for k, v in load_all().items() if v.oracle is not None}
