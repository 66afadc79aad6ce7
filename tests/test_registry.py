"""Driver-contract invariants: the registry the driver consumes must
stay internally consistent."""

import __spark_entry__ as entrymod
from bench import HEADLINE


def test_oracles_subset_of_queries_and_aligned():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert all(entrymod._ORACLES[k] == v for k, v in o.items())


def test_bench_headline_names_registered():
    q = entrymod.queries()
    assert [n for n in HEADLINE if n not in q] == []


def test_registry_order_and_oracle_coverage():
    names = list(entrymod.queries())
    # queries() is the registry in registration order, as a copy
    assert names == list(entrymod._QUERIES)
    assert entrymod.queries() is not entrymod._QUERIES
    # every registered query carries an oracle, in the same order
    assert list(entrymod.oracle_sql()) == names
    # entry() runs the flagship query
    assert "agg_sum_groups" in names
