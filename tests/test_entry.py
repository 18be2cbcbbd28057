"""Driver-contract smoke tests: entry() runs with rows>0; every oracle_sql key
has a queries() twin; column names align between Spark and SQL (the driver
hash compares by sorted column name)."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"pred", "n_triples", "n_subjects"}


def test_oracle_keys_subset_of_queries():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_every_query_runs_at_sf0001(sf0001_queries):
    for name in entrymod.queries():
        df = sf0001_queries[name]
        assert df.count() >= 0, name


def test_sql_column_names_match_spark(spark):
    """Lowercased column sets must agree — the driver sorts by name before
    hashing, so any mismatch is an automatic fail.

    Queries are constructed at the ORACLE sf dir (sf0.01, same as the
    driver's gate): building the Spark side there eagerly materializes the
    sequential-oracle parquets the SQL references, so this test is
    self-contained on a fresh checkout instead of depending on cache state
    left behind by earlier runs.
    """
    import duckdb

    osf = entrymod.ORACLE_SF_DIR
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{osf}/{t}.parquet'")
    qs = entrymod.queries()
    for name, sql in entrymod.oracle_sql().items():
        spark_cols = sorted(c.lower() for c in qs[name](spark, osf).columns)
        duck_cols = sorted(
            c.lower()
            for c in con.execute(
                f"SELECT * FROM ({sql}) _q LIMIT 0"
            ).fetchdf().columns
        )
        assert spark_cols == duck_cols, (name, spark_cols, duck_cols)
