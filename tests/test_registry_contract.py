"""Driver-contract invariants: the things that silently cost a round
if they drift (the driver checks only the FIRST 50 queries() entries,
and every oracle key must resolve to a registered query)."""

from __future__ import annotations

import __spark_entry__ as entry
from rag_system_vector_db_spark.registry import LAZY_ORACLES, ORACLES, QUERIES


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)
    assert set(LAZY_ORACLES) <= set(QUERIES)
    assert not set(ORACLES) & set(LAZY_ORACLES), "a query can't have both"


def test_verify_first_names_resolve_and_fit_the_window():
    missing = set(entry._VERIFY_FIRST) - set(QUERIES)
    assert not missing, f"_VERIFY_FIRST names not registered: {sorted(missing)}"
    # The driver checks the FIRST 50 queries() entries. The list may
    # carry a short documented tail past 50 (next-in-line if the
    # window widens), but the re-verification targets — everything a
    # round changed or added — must sit inside the window, so the
    # overflow stays small and deliberate.
    assert len(entry._VERIFY_FIRST) <= 55, (
        "verify-first overflow grew past a documented next-in-line tail"
    )
    assert len(entry._VERIFY_FIRST) == len(set(entry._VERIFY_FIRST))


def test_ordered_puts_verify_first_entries_first():
    q = entry.queries()
    names = list(q)
    head = names[: len(entry._VERIFY_FIRST)]
    assert head == entry._VERIFY_FIRST
    # and the dict is complete: same key set as the registry
    assert set(names) == set(QUERIES)


def test_oracle_sql_resolves_lazy_entries_to_strings():
    o = entry.oracle_sql()
    for name in LAZY_ORACLES:
        assert isinstance(o[name], str) and "SELECT" in o[name].upper()


def test_bench_lists_name_registered_queries():
    from tools import runner

    for name in runner.SETS:
        missing = set(runner.resolve(name)) - set(QUERIES)
        assert not missing, f"runner set {name!r} names unregistered: {sorted(missing)}"


def test_no_forced_broadcast_of_data_proportional_relations():
    """Scale-posture regression guard (r4 verdict): the only explicit
    F.broadcast hints allowed are query-side / one-row-scalar /
    fixed-size frames. The sites that once forced corpus-proportional
    relations resident (dedup_ngram_jaccard's per-doc shingle arrays,
    minhash_accuracy's candidate pair set, TPC-H customer/supplier,
    chunk_diary's day table, sequence_packing's shard offsets) must
    stay hint-free so AQE chooses from runtime sizes."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "rag_system_vector_db_spark"
    banned = {
        "operators/dedup.py": ["F.broadcast(aa)", "F.broadcast(bb)", "F.broadcast(pairs)"],
        "operators/chunking.py": ["F.broadcast(days", "F.broadcast(offsets)"],
        "plans/analytics.py": ["F.broadcast(cust)", "F.broadcast(supp)"],
    }
    offenders = []
    for rel, needles in banned.items():
        src = (root / rel).read_text()
        offenders += [(rel, n) for n in needles if n in src]
    assert not offenders, f"forced data-proportional broadcasts reappeared: {offenders}"
