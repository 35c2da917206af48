"""Driver registry contract: ``queries()`` and ``oracle_sql()`` name the
same 49 gates, and the oracle SQL text is byte-identical to the
published one — a refactor of ``__spark_entry__.py`` must change
neither."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entry

ORACLE_SQL_SHA256 = "7a5c9cc49e48d6e34cdd1b8c60092f3c20f3e6f91b26462184fb97df6c77b6db"


def test_query_and_oracle_registries_agree():
    keys = sorted(entry.queries())
    assert keys == sorted(entry.oracle_sql())
    assert len(keys) == 49


def test_oracle_sql_text_unchanged():
    text = json.dumps(entry.oracle_sql(), sort_keys=True)
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SQL_SHA256
