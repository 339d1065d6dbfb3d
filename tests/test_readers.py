"""``sources/readers.py`` session pinning: ``load_table`` pins the confs
every engine query depends on, writes them only when they differ, and
keeps the SQL-text expressions' string escapes meaning what the DuckDB
oracles mean."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_8x8_spark.sources.readers import load_table


def test_second_load_table_sets_no_conf(spark, sf_dir, monkeypatch):
    """Setting a deprecated conf logs a WARN per call even when the
    value is unchanged, so an already-pinned session must see no
    ``RuntimeConfig.set`` at all."""
    from pyspark.sql.conf import RuntimeConfig

    load_table(spark, sf_dir, "documents")
    calls = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    load_table(spark, sf_dir, "documents")
    assert calls == []


def test_escaped_string_literals_session_tokenizes_like_oracle(spark, sf_dir):
    """A session that arrives with the legacy
    ``escapedStringLiterals=true`` would read the ``'\\\\s+'`` in
    ``normalized()`` as a literal backslash and stop collapsing
    whitespace; ``load_table`` must pin it back so the SQL-text
    ``tokens``/``shingles`` still match the DuckDB oracle text."""
    import duckdb

    from etl_8x8_spark.operators.dedup import (
        _TOKENS_SQL,
        _shingles_sql,
        shingles,
        tokens,
    )

    s = spark.newSession()
    s.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    load_table(s, sf_dir, "documents")
    assert s.conf.get("spark.sql.parser.escapedStringLiterals") == "false"

    text = "  The  quick\t\tbrown   fox\n\njumps  over \t the lazy dog  "
    got = (
        s.createDataFrame([(text,)], "text string")
        .select(
            F.expr(tokens()).alias("toks"),
            F.expr(shingles(tokens())).alias("sset"),
        )
        .first()
    )
    want = (
        duckdb.connect()
        .execute(
            f"SELECT {_TOKENS_SQL} AS toks, {_shingles_sql(_TOKENS_SQL)} AS sset"
            " FROM (SELECT ? AS text)",
            [text],
        )
        .fetchone()
    )
    assert list(got["toks"]) == list(want[0])
    assert len(want[0]) == 9
    assert sorted(got["sset"]) == sorted(want[1])
