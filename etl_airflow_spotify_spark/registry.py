"""Query registry powering __spark_entry__.

Each named query is a pair: a Spark callable ``(spark, sf_dir) -> DataFrame``
and (when SQL-expressible) a DuckDB oracle SQL string computing the same
result over the same parquet tables. The driver compares the two at sf0.01
(row count + schema + order-insensitive value hash), so:

  * every computed column is aliased IDENTICALLY on both sides;
  * double-typed aggregates are rounded (ROUND_DIGITS) on both sides so
    summation-order nondeterminism can't flip the hash;
  * DuckDB integer SUMs are cast to BIGINT to match Spark's long.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

ROUND_DIGITS = 4

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL twin; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "",
             tags: tuple[str, ...] = ()) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a query to the registry under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, spark_fn=fn, oracle=oracle,
                                    doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# The driver hash-checks only the first 50 entries of ``queries()`` in
# dict order (CORRECTNESS_r01.json was exactly the first 50
# registrations), so that prefix is the only part of the registry the
# oracle re-attests each round.  The order is derived from the committed
# ledgers, never hand-kept: oracle-bearing queries come first (a rows-only
# query has nothing to hash); among them the stalest attestation comes
# first, where staleness is the round of the query's latest driver row if
# that row is usable and 0 if there is no row or the latest row is red;
# ties keep registration order.  Re-attested queries drop to the back of
# the queue on their own, so the window rotates every round.
#
# CODE_CHANGED_AFTER maps a query whose code changed to the last ledger
# round that predates the change: rows at or before that round no longer
# count, so the query ranks as never attested until the driver writes a
# newer row, after which the entry is inert and can be dropped.
LEDGER_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50

CODE_CHANGED_AFTER: dict[str, int] = {
    "kcore_peeling_profile": 10,        # driver-side local start
    "dedup_cluster_assign_star": 10,    # Arrow-built union-find finish
    "hdbscan_mutual_reachability": 10,  # uses the star-CC finish
    "dbscan_rfm_segments": 10,          # uses the star-CC finish
    "training_data_prep_v2": 10,        # driver finish when it fits
    "word_entropy": 10,                 # row-local word statistics
    "repetition_filter": 10,            # row-local word statistics
    "decontaminate_ngram": 10,          # n-grams from projected tokens
    "stream_decontaminate": 10,         # n-grams from projected tokens
}

Ledger = dict[str, list[tuple[int, dict]]]


def ledger_rows() -> Ledger:
    """``{query: [(round, driver row), ...]}`` from ``CORRECTNESS_rNN.json``."""
    out: Ledger = {}
    for fname in os.listdir(LEDGER_DIR):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None:
            continue
        with open(os.path.join(LEDGER_DIR, fname)) as f:
            for name, row in json.load(f).items():
                out.setdefault(name, []).append((int(m.group(1)), row))
    return out


def usable(row: dict) -> bool:
    """A driver row attests its query: hash-green or declared rows-only."""
    return (row.get("err") in (None, "no_oracle")
            and row.get("hash_match") is not False)


def staleness(rows: list[tuple[int, dict]], changed_after: int = 0) -> int:
    """Round of the latest driver row newer than ``changed_after`` if it
    is usable; 0 (stalest) if there is none or it is red."""
    live = [(rnd, row) for rnd, row in rows if rnd > changed_after]
    if not live:
        return 0
    rnd, row = max(live, key=lambda r: r[0])
    return rnd if usable(row) else 0


def driver_rank(specs: list[QuerySpec], ledger: Ledger,
                changed: dict[str, int] = CODE_CHANGED_AFTER
                ) -> list[QuerySpec]:
    """``specs`` (in registration order) in driver order."""
    return sorted(specs, key=lambda s: (
        s.oracle is None,
        staleness(ledger.get(s.name, []), changed.get(s.name, 0))))


def all_queries() -> dict[str, QuerySpec]:
    # Import query modules for their registration side effects.
    from . import queries  # noqa: F401

    ordered = driver_rank(list(_REGISTRY.values()), ledger_rows())
    return {spec.name: spec for spec in ordered}
