"""The query registry: one ``@query`` decorator on each ``q_<name>`` builder
in the ``queries*.py`` modules, and the single name -> entry map that
``__spark_entry__``, ``bench.py`` and the parity tests read.

A query's name is its builder's name without the ``q_`` prefix. Its oracle
is the DuckDB SQL the result is compared with: a string, a function that
builds the string on first use (for oracles that embed model weights), or
None for the few operators with no SQL form.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Entry:
    builder: Builder
    oracle: str | Callable[[], str] | None
    bench: bool  # timed by bench.py
    scan_table: str | None  # dominant input table, for bench.py's rows/s
    slow_oracle: bool  # parity case over 10 s at sf0.001

    def oracle_sql(self) -> str | None:
        if callable(self.oracle):
            self.oracle = self.oracle()
        return self.oracle


_ENTRIES: dict[str, Entry] = {}


def query(
    *,
    oracle: str | Callable[[], str] | None,
    bench: bool = True,
    scan_table: str | None = None,
    slow_oracle: bool = False,
) -> Callable[[Builder], Builder]:
    """Register the decorated ``q_<name>`` builder under ``<name>``."""

    def register(builder: Builder) -> Builder:
        if not builder.__name__.startswith("q_"):
            raise ValueError(
                f"query builder {builder.__qualname__} must be named q_<name>"
            )
        name = builder.__name__[2:]
        if scan_table and not bench:
            raise ValueError(
                f"query {name!r}: scan_table is a bench metric, so it needs bench=True"
            )
        if name in _ENTRIES:
            first = _ENTRIES[name].builder
            raise ValueError(
                f"query {name!r} registered twice: by {first.__module__} "
                f"and by {builder.__module__}"
            )
        _ENTRIES[name] = Entry(builder, oracle, bench, scan_table, slow_oracle)
        return builder

    return register


def entries() -> dict[str, Entry]:
    """Every registered query, after importing each ``queries*`` module
    (``queries``, ``queries_ext``, ``queries_ext2`` ... in that order)."""
    package = importlib.import_module("fink_science_spark")
    names = [m.name for m in pkgutil.iter_modules(package.__path__)
             if m.name.startswith("queries")]
    for name in sorted(names, key=lambda n: (len(n), n)):
        importlib.import_module(f"fink_science_spark.{name}")
    return dict(_ENTRIES)
