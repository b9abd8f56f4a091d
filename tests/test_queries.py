"""Driver-style correctness gate, run locally: every oracle-backed query in
__spark_entry__ must match DuckDB on row count and order-insensitive values
(columns sorted by name, like the driver's compare); rows-only queries must
run and return a stable schema."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

# default sf0.001 keeps the suite fast; set DISCO_TEST_SF=/root/testdata/sf0.01
# to mirror the driver's gate scale exactly
SF_DIR = os.environ.get("DISCO_TEST_SF", "/root/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value canonicalization: fixed decimal repr
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, int):
        return str(v)
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


ORACLE_QUERIES = sorted(entry_mod.oracle_sql())
ROWS_ONLY = sorted(set(entry_mod.queries()) - set(entry_mod.oracle_sql()))


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    if sset != dset:
        diff = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
        raise AssertionError(f"{name} value mismatch, e.g. {diff}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    rows = df.collect()
    assert df.columns  # stable schema
    # deterministic across runs
    rows2 = entry_mod.queries()[name](spark, SF_DIR).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


# --- oracle/Spark dtype parity -------------------------------------------
# The driver's value hash is dtype-representation-sensitive: a DuckDB
# windowed sum over BIGINT is HUGEINT, fetched as float64 ("123.0"), which
# hash-mismatches Spark's bigint ("123") even when every value is equal
# (the round-4 pack_chunks red row). _canon() above masks exactly that
# class, so this test checks the TYPES: for every oracled query, each
# column must agree on integral-ness and float-ness between the DuckDB
# result schema and the Spark schema (recursively through arrays).

_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}
_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOAT = {"float", "double"}


def _duck_cat(t):
    t = str(t).upper()
    if t.endswith("[]"):
        return ("array", _duck_cat(t[:-2]))
    if t in _DUCK_INT:
        return "int"
    if t in {"HUGEINT", "UBIGINT"}:
        # not int64-representable: the driver fetches these as float64
        return "wide-int"
    if t in _DUCK_FLOAT:
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return "other"


def _spark_cat(s):
    if s.startswith("array<") and s.endswith(">"):
        return ("array", _spark_cat(s[6:-1]))
    if s in _SPARK_INT:
        return "int"
    if s in _SPARK_FLOAT:
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    return "other"


def _cats_agree(duck_cat, spark_cat):
    if isinstance(duck_cat, tuple) or isinstance(spark_cat, tuple):
        return (isinstance(duck_cat, tuple) and isinstance(spark_cat, tuple)
                and _cats_agree(duck_cat[1], spark_cat[1]))
    # integral and float classes must match exactly; "wide-int" never
    # agrees with anything (cast the oracle to ::BIGINT instead)
    for cls in ("int", "float", "decimal", "wide-int"):
        if (duck_cat == cls) != (spark_cat == cls):
            return False
    return True


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_dtype_parity(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema}
    rel = duck.sql(entry_mod.oracle_sql()[name])
    bad = []
    for col, dt in zip(rel.columns, rel.types):
        dc, sc = _duck_cat(dt), _spark_cat(spark_types[col])
        if not _cats_agree(dc, sc):
            bad.append((col, str(dt), spark_types[col]))
    assert not bad, (f"{name}: oracle/Spark dtype class mismatch "
                     f"(col, duck, spark): {bad}")


def test_dedup_exact_nfc_null_text_matches_oracle(spark, tmp_path):
    # nfc_dedup reads NULL text as the empty document; the oracle must
    # hash '' too, not NULL (absent from the sf datasets, so pinned here)
    con = duckdb.connect()
    con.execute("COPY (SELECT * FROM (VALUES (1::BIGINT, NULL::VARCHAR), "
                "(2, 'caf' || chr(233))) v(doc_id, text)) "
                f"TO '{tmp_path}/documents.parquet' (FORMAT parquet)")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    sdf = entry_mod.queries()["dedup_exact_nfc"](spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(entry_mod.oracle_sql()["dedup_exact_nfc"])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert _rowset(dcols, drows) == _rowset(sdf.columns, srows)
    null_class = [r for r in drows if r[dcols.index("keep_id")] == 3]
    assert null_class and null_class[0][dcols.index("n_raw_forms")] == 1


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"source", "n_docs", "avg_quality", "avg_tokens"}
