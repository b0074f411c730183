"""Pin the laws of the driver window.

The correctness driver hash-checks only the first ``WINDOW`` entries of
``queries()`` in dict order. ``registry.driver_rank`` derives that order
from the committed ``CORRECTNESS_rNN.json`` ledgers, so these tests state
what every window must satisfy rather than which names it holds.
"""

import __spark_entry__ as entrymod
from etl_airflow_spotify_spark.registry import (
    CODE_CHANGED_AFTER, WINDOW, QuerySpec, _REGISTRY, all_queries,
    driver_rank, ledger_rows, staleness, usable,
)


def _stale(name: str, ledger) -> int:
    return staleness(ledger.get(name, []), CODE_CHANGED_AFTER.get(name, 0))


def _attested() -> set[str]:
    """Queries with a USABLE driver row (hash-green or declared
    rows-only) in any prior round. A hash-failed row is not an
    attestation."""
    return {name for name, rows in ledger_rows().items()
            if any(usable(r) for _, r in rows)}


def test_rotation_cohorts_are_genuinely_stale():
    """Every window slot re-attests a query at least as stale as every
    oracle-bearing query left outside the window: no slot is wasted on a
    fresh row while a staler one waits."""
    qs, ledger = all_queries(), ledger_rows()
    window = list(qs)[:WINDOW]
    waiting = [_stale(n, ledger) for n in list(qs)[WINDOW:]
               if qs[n].oracle is not None]
    stalest_waiting = min(waiting, default=float("inf"))
    wasted = [n for n in window if _stale(n, ledger) > stalest_waiting]
    assert not wasted, (
        f"window slots held by rows fresher than round "
        f"{stalest_waiting}: {wasted}")


def test_driver_order_is_exactly_the_planned_window():
    """Every oracle-bearing query with no usable attestation (no row, a
    red latest row, or code changed since its row) is in the window,
    ahead of every query that does have one."""
    qs, ledger = all_queries(), ledger_rows()
    void = [n for n, s in qs.items()
            if s.oracle is not None and _stale(n, ledger) == 0]
    assert list(qs)[:len(void)] == void


def test_driver_order_no_duplicates():
    """The driver order holds every registration exactly once, and
    ranking it again changes nothing."""
    qs = all_queries()
    assert sorted(qs) == sorted(_REGISTRY)
    again = driver_rank(list(qs.values()), ledger_rows())
    assert [s.name for s in again] == list(qs)


def test_driver_order_names_exist():
    """The driver contract presents the derived order."""
    qs = all_queries()
    assert list(entrymod.queries()) == list(qs)
    assert list(entrymod.oracle_sql()) == [
        n for n, s in qs.items() if s.oracle is not None]


def test_changed_queries_all_have_oracles():
    """Every CODE_CHANGED_AFTER entry names a registered, oracle-bearing
    query and a round the ledgers already hold."""
    qs = all_queries()
    newest = max(rnd for rows in ledger_rows().values() for rnd, _ in rows)
    for name, rnd in CODE_CHANGED_AFTER.items():
        assert name in qs, f"{name} is not registered"
        assert qs[name].oracle, f"{name} lost its oracle"
        assert rnd <= newest, f"{name}: round {rnd} is not in the ledgers"


def _spec(name: str, oracle: str | None = "SELECT 1") -> QuerySpec:
    return QuerySpec(name=name, spark_fn=lambda spark, sf: None,
                     oracle=oracle)


GREEN = {"err": None, "hash_match": True}
RED = {"err": None, "hash_match": False}
ROWS_ONLY = {"err": "no_oracle", "hash_match": None}


def test_rank_red_latest_row_first():
    """A red latest row ranks with the never-attested, ahead of every
    green one, whatever its older rows say; rows-only queries go last."""
    specs = [_spec("green_r1"), _spec("rows_only", None),
             _spec("green_r3"), _spec("red_r3")]
    ledger = {"green_r1": [(1, GREEN)],
              "rows_only": [(1, ROWS_ONLY)],
              "green_r3": [(1, RED), (3, GREEN)],
              "red_r3": [(1, GREEN), (2, GREEN), (3, RED)]}
    ranked = [s.name for s in driver_rank(specs, ledger, {})]
    assert ranked == ["red_r3", "green_r1", "green_r3", "rows_only"]


def test_rank_without_ledger_is_registration_order():
    specs = [_spec("c"), _spec("a", None), _spec("b"), _spec("d")]
    ranked = [s.name for s in driver_rank(specs, {}, {})]
    assert ranked == ["c", "b", "d", "a"]


def test_code_change_voids_older_rows_until_a_newer_one():
    specs = [_spec("old"), _spec("changed")]
    ledger = {"old": [(1, GREEN)], "changed": [(2, GREEN)]}
    voided = driver_rank(specs, ledger, {"changed": 2})
    assert [s.name for s in voided] == ["changed", "old"]
    ledger["changed"].append((3, GREEN))
    reattested = driver_rank(specs, ledger, {"changed": 2})
    assert [s.name for s in reattested] == ["old", "changed"]


def test_window_has_no_rows_only_slots():
    """No slot may be spent on an oracle-less query: every rows-only-
    by-design query got its `err: no_oracle` row in r6."""
    qs = all_queries()
    rows_only = [n for n in list(qs)[:WINDOW] if qs[n].oracle is None]
    assert not rows_only, (
        f"rows-only queries holding window slots: {rows_only}")


def test_every_query_attested_or_windowed():
    """Query-level invariant: anything without a driver row in a prior
    round must be inside this round's checked window or share every
    operator class with an evidenced query."""
    qs = all_queries()
    window = set(list(qs)[:WINDOW])
    attested = _attested()
    evidenced_tags = {t for n, s in qs.items()
                      if n in attested or n in window for t in s.tags}
    dark = [n for n in qs
            if n not in attested and n not in window
            and not set(qs[n].tags) <= evidenced_tags]
    assert not dark, f"never-attested queries with uncovered classes: {dark}"


def test_ledger_stays_closed():
    """Tag-level invariant: every operator class keeps either a prior
    attestation or a slot in this window (the r7 ledger must not
    re-open as classes are added)."""
    qs = all_queries()
    attested = _attested()
    covered = {t for s in list(qs.values())[:WINDOW] for t in s.tags}
    covered |= {t for n, s in qs.items() if n in attested for t in s.tags}
    all_tags = {t for s in qs.values() for t in s.tags}
    assert covered >= all_tags, (
        f"tags with neither an attestation nor a window slot: "
        f"{sorted(all_tags - covered)}"
    )
