"""Query-plan surface: the named queries the engine exposes.

Each query is a ``QuerySpec``: a DataFrame-producing function
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the exact
ANSI-SQL oracle DuckDB runs on the same parquet for the correctness gate.

Registry contract (driver harness, see ``__spark_entry__.py``):
- Output column NAMES must match between Spark and oracle (the driver
  sorts columns by name before hashing).
- Output VALUES must be bit-deterministic: exact DECIMAL sums cast to
  double, explicit tie-breaks on every LIMIT, rounded outputs for
  fixed-length float math (see ``functions/__init__.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Container, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    description: str = ""
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: add a query function to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(name, fn, oracle, description, tags)
        return fn

    return deco


def _recorded_status() -> dict[str, tuple[int, str]]:
    """``{name: (last_recorded_round, status)}`` from every past round's
    CORRECTNESS_r*.json (repo root); status ∈ pass|fail|no_oracle."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("err") == "no_oracle":
                status = "no_oracle"
            elif row.get("hash_match") and row.get("rows_match"):
                status = "pass"
            else:
                status = "fail"
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, status)
    return out


def window_order(
    names: Iterable[str],
    recorded: Mapping[str, tuple[int, str]],
    has_oracle: Container[str],
) -> list[str]:
    """Order ``names`` for the driver's recording window, which records
    only the first 50 registry entries each round.

    The sort key is (group, last recorded round, name). Groups, most
    urgent first:

    0. last row FAILED — the fix needs a green row;
    1. last row was rows-only (``no_oracle``) but the query is now in
       ``has_oracle`` — the upgrade needs a hash row;
    2. never recorded — needs a first row;
    3. everything else, stalest row first — so every query cycles back
       through the window and a late regression cannot hide.

    ``recorded`` is ``_recorded_status()``-shaped. A changed query needs
    no queue: it re-records when its turn comes round, and the replica
    sweep (``tools/check_oracle.py``) certifies it meanwhile.
    """

    def key(name: str) -> tuple[int, int, str]:
        rec = recorded.get(name)
        if rec is None:
            return (2, 0, name)
        rnd, status = rec
        if status == "fail":
            return (0, rnd, name)
        if status == "no_oracle" and name in has_oracle:
            return (1, rnd, name)
        return (3, rnd, name)

    return sorted(names, key=key)


def all_queries() -> dict[str, QuerySpec]:
    """Import every plan module (side-effect: registration) and return
    the full registry in :func:`window_order`."""
    from spotify_tracks_etl_portfolio_spark.plans import (  # noqa: F401
        analytics,
        extensions,
        medallion_queries,
        relational,
    )

    has_oracle = {n for n, spec in QUERIES.items() if spec.oracle is not None}
    order = window_order(QUERIES, _recorded_status(), has_oracle)
    return {name: QUERIES[name] for name in order}
