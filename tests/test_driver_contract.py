"""The driver contract without a Spark session: ``queries()`` and
``oracle_sql()`` name the same queries, every oracle is SQL text, and the
driver-recorded prefix keeps its order; a query name registers once."""

import hashlib

import pytest

import __spark_entry__ as E

# sha256 of the first 50 ``queries()`` names, newline-joined
RECORDED_PREFIX_SHA256 = "3bd4f7da82febd813a9ec62182a420429ed9863446f68047b066870cd2d979d9"


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


def test_every_oracle_is_nonempty_sql_text():
    bad = [n for n, sql in E.oracle_sql().items() if not isinstance(sql, str) or not sql.strip()]
    assert not bad, f"queries without oracle SQL text: {bad}"


def test_driver_recorded_prefix_keeps_its_order():
    names = list(E.queries())
    digest = hashlib.sha256("\n".join(names[:50]).encode()).hexdigest()
    assert digest == RECORDED_PREFIX_SHA256, (
        "the first 50 queries() entries changed: the external driver records only "
        "that prefix, so reordering the registry changes which queries it checks"
    )


def test_a_query_name_registers_once():
    with pytest.raises(ValueError, match="doc_nfc"):
        E._query("SELECT 1")(E.q_doc_nfc)
    assert E.oracle_sql()["doc_nfc"] != "SELECT 1"
