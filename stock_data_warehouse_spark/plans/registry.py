"""Query catalog: one named entry per operator from SURVEY.md §2.

Each query registers a PySpark callable ``(spark, sf_dir) -> DataFrame``
and (when SQL-expressible) the DuckDB oracle SQL next to it, so the two
can never drift apart. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry.

Contract (driver): column names must match between the Spark result and
the oracle result — every computed column is aliased identically on both
sides. Results are compared order-insensitively, so queries with LIMIT
must make the selected *set* deterministic (unique-key tiebreakers).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


class DuplicateQueryError(ValueError):
    """A second query registered under an existing ``name``: the
    catalog would silently keep only the later one, and the earlier
    would go on reading as graded while nothing ran it."""

    def __init__(self, name: str):
        super().__init__(f"query {name!r} is already registered")
        self.name = name


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional DuckDB oracle) to the
    catalog. Raises :class:`DuplicateQueryError` if ``name`` is taken."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise DuplicateQueryError(name)
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def query_fns() -> dict[str, QueryFn]:
    _load_all()
    return dict(QUERIES)


def oracle_map() -> dict[str, str]:
    _load_all()
    return dict(ORACLES)


_LOADED = False


#: Every module that registers queries, imported lazily by name. A
#: module that fails to import raises ``CatalogImportError``: a
#: catalog that silently lost a module's queries would still pass
#: every check of the queries it kept.
_PLAN_MODULES = (
    "relational", "scalar", "windows", "extensions",
    "timeseries", "reference_pipeline", "sampling", "analytics",
    "tpch_shapes",
)

#: Non-plans modules that also register queries (absolute names).
_EXTRA_MODULES = (
    "stock_data_warehouse_spark.streaming.jobs",
    "stock_data_warehouse_spark.sources.sinks",
    "stock_data_warehouse_spark.sources.pydatasource",
)


class CatalogImportError(ImportError):
    """A query-registering module (``name``) failed to import; the
    cause is chained. Any exception counts (e.g. a Column built at
    import time raises AssertionError when no SparkContext exists
    yet)."""

    def __init__(self, mod: str):
        super().__init__(f"query module {mod} failed to import",
                         name=mod)


def _load_all() -> None:
    """Import every query-registering module so side-effects run."""
    global _LOADED
    if _LOADED:
        return
    import importlib
    mods = [f"{__package__}.{m}" for m in _PLAN_MODULES]
    mods += list(_EXTRA_MODULES)
    for mod in mods:
        try:
            importlib.import_module(mod)
        except Exception as exc:
            raise CatalogImportError(mod) from exc
    _LOADED = True
