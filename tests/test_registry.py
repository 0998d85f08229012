"""Registry meta-contract: the structure the driver depends on."""

from __future__ import annotations

import re

from bench import HEADLINE
from document_vector_indexer_spark.queries.registry import all_queries


def test_registry_shape():
    specs = all_queries()
    assert len(specs) >= 85
    for name, spec in specs.items():
        assert re.fullmatch(r"[a-z0-9_]+", name), name
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    assert n_oracle >= 78


def test_rows_only_set_is_frozen():
    """The oracle-less set is FROZEN at the five declared dead-ends
    (r10 VERDICT item 7): each has a documented structural reason a
    value oracle is impossible plus its compensating check (registry.
    ROWS_ONLY_BY_DESIGN). A new rows-only key must add its note there
    — and should make you look hard for an oracled sibling first."""
    from document_vector_indexer_spark.queries.registry import (
        ROWS_ONLY_BY_DESIGN,
    )

    specs = all_queries()
    oracle_less = {n for n, s in specs.items() if s.oracle is None}
    assert oracle_less == set(ROWS_ONLY_BY_DESIGN)
    for note in ROWS_ONLY_BY_DESIGN.values():
        assert "Compensated" in note


def test_headline_queries_registered():
    specs = all_queries()
    missing = [n for n in HEADLINE if n not in specs]
    assert not missing, missing


def test_entry_contract_importable():
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(all_queries())

