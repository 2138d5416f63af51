"""The DuckDB-SQL replicas must be bit-exact: the F1 generator vs numpy,
and the xxhash64 twin vs Spark."""

from __future__ import annotations

import duckdb
import hypothesis.strategies as st
import numpy as np
from hypothesis import HealthCheck, given, settings

from loongcollector_spark.sources.sql_oracle import (
    f1_cte,
    pmod_sql,
    xxhash64_longs_sql,
    xxhash64_str_sql,
)
from loongcollector_spark.sources.synthetic import (
    SOURCES,
    VOCAB_SIZE,
    _n_tok,
    _row_key,
    _source_idx,
    _splitmix64,
)
from tests.xxh64_ref import spark_xxhash64

N = 20_000
SEED = 42


def test_sql_f1_matches_numpy_generator():
    sql = f"WITH {f1_cte(N, SEED, (0, 2, 5))} SELECT * FROM f1 ORDER BY i"
    con = duckdb.connect()
    rows = con.sql(sql).fetchall()
    assert len(rows) == N

    ids = np.arange(N, dtype=np.int64)
    want_src = np.asarray(SOURCES)[_source_idx(ids, SEED)]
    want_ntok = _n_tok(ids, SEED)
    keys = _row_key(ids, SEED)
    with np.errstate(over="ignore"):
        want = {
            p: (_splitmix64(keys + np.uint64(p + 1)) % np.uint64(VOCAB_SIZE)).astype(np.int64)
            for p in (0, 2, 5)
        }

    got_src = np.array([r[1] for r in rows])
    got_ntok = np.array([r[2] for r in rows])
    assert (got_src == want_src).all()
    assert (got_ntok == want_ntok).all()
    for col, p in ((3, 0), (4, 2), (5, 5)):
        got = np.array([r[col] for r in rows])
        assert (got == want[p]).all(), f"token position {p} diverged"


# Spark's xxhash64 and its DuckDB twin: boundary lengths around the 32-byte
# stripe and the 8-/4-byte tails, in 1-, 2- and 4-byte UTF-8 characters
_BOUNDARY = (
    ["x" * k for k in range(70)] + ["é" * k for k in range(20)] + ["😀" * k for k in range(10)]
)
_I64 = st.integers(-(1 << 63), (1 << 63) - 1)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    st.lists(st.text(st.characters(blacklist_categories=("Cs", "Cc")), max_size=80), max_size=30),
    st.lists(st.tuples(_I64, _I64, _I64), min_size=1, max_size=30),
)
def test_xxhash64_sql_twin_matches_spark(spark, strs, longs):
    """The SQL twin equals F.xxhash64 bit for bit: UTF-8 strings, chained
    longs (each hash seeding the next) and pmod of negative hashes — and so
    does the pure-Python reference the other gram-hash tests use."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    strs = _BOUNDARY + strs
    con = duckdb.connect()
    con.register("s", pa.table({"s": pa.array(strs, pa.string())}))
    got = sorted(con.sql(xxhash64_str_sql("s", "s", "h")).fetchall())
    want = sorted(
        tuple(r) for r in spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s")).collect()
    )
    assert got == want
    assert all(h == spark_xxhash64(s) for s, h in want)

    cols = ["a", "b", "c"]
    columns = zip(cols, zip(*longs))
    con.register("t", pa.table({c: pa.array(list(v), pa.int64()) for c, v in columns}))
    one = xxhash64_longs_sql("t", ["a"], "h1")
    three = xxhash64_longs_sql(f"({one})", cols, "h3")
    got = sorted(con.sql(f"SELECT *, {pmod_sql('h3', 1000)} AS p FROM ({three})").fetchall())
    want = sorted(
        tuple(r) for r in spark.createDataFrame(longs, "a long, b long, c long").select(
            *cols, F.xxhash64("a"), F.xxhash64(*cols), F.pmod(F.xxhash64(*cols), F.lit(1000))
        ).collect()
    )
    assert got == want
    assert all(h3 == spark_xxhash64(a, b, c) for a, b, c, _, h3, _ in want)
