"""Query registry: the engine's operator inventory, checkable vs DuckDB.

Every operator from SURVEY.md §2.2/§2.4 registers itself here with

- a name,
- a Spark implementation ``(spark, sf_dir) -> DataFrame``,
- optionally an equivalent ANSI-SQL oracle string DuckDB can run over the
  same Parquet tables (omitted only for genuinely non-SQL-expressible ops,
  e.g. LSH bucketing — those get a weaker rows-only check).

Contract notes (driver: /root/repo/__spark_entry__.py):
- column names must match between Spark result and oracle → alias every
  computed column on both sides;
- the driver's value-hash is order-insensitive but float-exact in spirit →
  round every double the two engines compute independently (sums, avgs)
  in *both* implementations to the same number of decimals.
"""

from __future__ import annotations

import functools
import re
import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..data import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


#: A module-constant placeholder in an operator docstring: ``{_NAME}``
#: or ``{NAME}``, written as if the docstring were an f-string.
_PLACEHOLDER = re.compile(r"\{(_?[A-Z][A-Z0-9_]*)\}")


def _fill_placeholders(fn: QueryFn) -> None:
    """Substitute each placeholder in ``fn``'s docstring with the value
    of that name in the defining module; an unknown name raises."""
    if not fn.__doc__:
        return

    def value(m: re.Match) -> str:
        if m[1] not in fn.__globals__:
            raise NameError(f"{fn.__qualname__} docstring names undefined {m[1]}")
        return str(fn.__globals__[m[1]])

    fn.__doc__ = _PLACEHOLDER.sub(value, fn.__doc__)


def query(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register an operator implementation and (optionally) its SQL oracle.

    An oracle built from the SQL of a module imported after the operator's
    own is a callable that returns it; ``render_oracles`` calls it once
    every operator module is imported."""

    def deco(fn: QueryFn) -> QueryFn:
        _fill_placeholders(fn)

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_views(spark, sf_dir)
            return fn(spark, sf_dir)

        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle if callable(oracle) else textwrap.dedent(oracle).strip()
        return wrapped

    return deco


def render_oracles() -> None:
    """Replace each oracle given as a callable by the SQL it returns."""
    for name, oracle in ORACLES.items():
        if callable(oracle):
            ORACLES[name] = textwrap.dedent(oracle()).strip()
