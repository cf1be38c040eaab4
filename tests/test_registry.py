"""The gate registry's shape, pinned without a Spark session.

``queries()`` and ``oracle_sql()`` are views of one table,
``__spark_entry__._GATES``. The external correctness check samples
the first 50 names in order, so the order is frozen: a digest changes
only in the change that adds, removes or reorders a gate, and that
change updates it here.
"""

import hashlib

import __spark_entry__ as e

QUERIES_SHA256 = "8f12b6a0c3e0069613edc0a5f9b929cc00b07735eac7c273c4416e37980ba543"
ORACLES_SHA256 = "cbf9cea9c4a6e36016f4721d1668dc579f9c74b34e8ade1033a817b73943fcaf"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_query_names_and_order_are_pinned():
    names = list(e.queries())
    assert _sha256("\n".join(names)) == QUERIES_SHA256
    assert (names[0], names[49], names[50], names[-1]) == (
        "orders_cdc_state_stream",
        "docs_rare_tokens",
        "docs_source_stats",
        "events_missing_hours",
    )


def test_oracle_sql_is_pinned():
    o = e.oracle_sql()
    assert _sha256("\n".join(f"{k}\t{o[k]}" for k in sorted(o))) == ORACLES_SHA256


def test_every_row_is_one_gate_with_a_builder_and_an_oracle():
    assert len(e._GATES) == len(e.queries())  # no name is registered twice
    for name, builder, sql in e._GATES:
        assert callable(builder), name
        assert isinstance(sql, str) and sql.strip(), name
