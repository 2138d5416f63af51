"""DuckDB-SQL replica of the deterministic F1 generator (synthetic.py).

The tokenized-sequence table is a pure function of the row index, so the
driver's DuckDB oracle can regenerate it IN SQL and verify the flagship
tokenized queries end-to-end — per-row source/n_tok/header-token equality is
bit-exact (validated against numpy over 100k rows: splitmix64 via HUGEINT
arithmetic with 32-bit multiply splitting, u01 double division, pow(u,3)
floor, and cumulative-weight searchsorted all agree).

This is the strongest form of the north rule's "token-array equality vs the
reference output": the oracle recomputes the expected tokens from seed alone.

The module also replays Spark's xxhash64 (``xxhash64_str_sql`` /
``xxhash64_longs_sql``), so the gram-hash queries' oracles recompute the
production gram hash (``functions.dedup.gram_hashes``) bit for bit.
"""

from __future__ import annotations

import numpy as np

from loongcollector_spark.sources.synthetic import (
    MAX_TOK,
    MIN_TOK,
    SOURCE_WEIGHTS,
    SOURCES,
    VOCAB_SIZE,
    _LEVELS,
    _METHODS,
    _STATUS,
)

_M64 = 18446744073709551616  # 2^64


def _mul64(a: str, b: str) -> str:
    """(a*b) mod 2^64 over HUGEINT without overflowing signed 128-bit."""
    return (
        f"(( ({a}) % 4294967296) * ({b} % 4294967296) "
        f"+ ((( ({a}) % 4294967296) * ({b} // 4294967296) "
        f"+ (({a}) // 4294967296) * ({b} % 4294967296)) % 4294967296) * 4294967296) % {_M64}"
    )


def _xorshift(x: str, s: int) -> str:
    return f"CAST(xor(CAST(({x}) AS UBIGINT), CAST(({x}) AS UBIGINT) >> {s}) AS HUGEINT)"


def splitmix64_sql(x: str) -> str:
    """Full splitmix64 finalizer of a u64-as-HUGEINT SQL expression."""
    x1 = f"((({x}) + 11400714819323198485) % {_M64})"
    x2 = _xorshift(x1, 30)
    x3 = _mul64(x2, "13787848793156543929")
    x4 = _xorshift(x3, 27)
    x5 = _mul64(x4, "10723151780598845931")
    return _xorshift(x5, 31)


# --------------------------------------------------------------------------
# Spark's xxhash64 (org.apache.spark.sql.catalyst.expressions.XXH64, seed 42)
# replayed bit for bit. Values are u64 held in UHUGEINT: products of two u64
# fit in 128 bits, and `& 2^64-1` wraps them (a 128-bit `%` is an order of
# magnitude slower in DuckDB 1.0). A value used twice in one expression is
# evaluated twice and its text doubles, so the hash runs as a chain of
# one-level projections, each adding one column (`_staged`).
# --------------------------------------------------------------------------

_XP1 = 11400714785074694791
_XP2 = 14029467366897019727
_XP3 = 1609587929392839161
_XP4 = 9650029242287828579
_XP5 = 2870177450012600261
_U = "::UHUGEINT"


def _w(x: str) -> str:
    return f"(({x}) & {_M64 - 1}{_U})"


def _mul(x: str, c) -> str:
    return _w(f"({x}) * {c}{_U}")


def _add(x: str, y) -> str:
    return _w(f"({x}) + ({y}){_U}")


def _rotl(x: str, r: int) -> str:
    return f"({_w(f'({x}) << {r}')} | (({x}) >> {64 - r}))"


def _xs(x: str, s: int) -> str:
    return f"xor({x}, ({x}) >> {s})"


def _round(acc: str, lane: str) -> str:
    return _mul(_rotl(_add(acc, _mul(lane, _XP2)), 31), _XP1)


def _hex_le(b: str, byte0: str, nbytes: int) -> str:
    """Little-endian u64 of ``nbytes`` bytes at 0-based ``byte0`` of the
    hex string ``b``."""
    digits = " || ".join(
        f"substr({b}, 2 * ({byte0}) + {2 * k + 1}, 2)" for k in reversed(range(nbytes))
    )
    return f"CAST(('0x' || {digits}) AS UBIGINT){_U}"


def _fmix(h: str, p: str) -> list[tuple[str, str]]:
    return [
        (f"{p}f1", _mul(_xs(h, 33), _XP2)),
        (f"{p}f2", _mul(_xs(f"{p}f1", 29), _XP3)),
        (f"{p}f3", _xs(f"{p}f2", 32)),
    ]


def u64_to_i64_sql(u: str) -> str:
    """A u64 (any non-negative integer type below 2^64) as the signed
    BIGINT with the same bits, as a JVM long holds it."""
    flipped = f"xor(CAST({u} AS UHUGEINT), {1 << 63}{_U})"
    return f"CAST(CAST({flipped} AS HUGEINT) - {1 << 63} AS BIGINT)"


def _staged(src: str, steps: list[tuple[str, str]], out: str) -> str:
    """``SELECT *, <last step> AS out FROM src``: each step becomes a column
    of its own projection, so a value used twice is computed once."""
    sql = f"SELECT * FROM {src}"
    for name, expr in steps:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    temps = ", ".join(name for name, _ in steps)
    last = u64_to_i64_sql(steps[-1][0])
    return f"SELECT * EXCLUDE ({temps}), {last} AS {out} FROM ({sql})"


def xxhash64_str_sql(src: str, col: str, out: str) -> str:
    """``SELECT *, F.xxhash64(col) AS out FROM src`` for a VARCHAR column:
    XXH64.hashUnsafeBytes over the UTF-8 bytes — 32-byte stripes, then
    8-byte lanes, one 4-byte word and single bytes, then the finaliser."""
    s = f"42{_U}"
    v0 = [_add(s, _XP1 + _XP2), _add(s, _XP2), s, _add(s, (1 << 64) - _XP1)]
    init = "struct_pack(" + ", ".join(f"v{i} := {v0[i]}" for i in range(4)) + ")"
    stripes = "list_transform(range(__n // 32), i -> struct_pack(" + ", ".join(
        f"v{i} := __l[4 * i + {i + 1}]" for i in range(4)) + "))"
    step = "struct_pack(" + ", ".join(
        f"v{i} := {_round(f'a.v{i}', f'x.v{i}')}" for i in range(4)) + ")"
    h = _w(" + ".join(_rotl(f"__v.v{i}", r) for i, r in enumerate((1, 7, 12, 18))))
    for i in range(4):
        h = _add(_mul(f"xor({h}, {_round('0', f'__v.v{i}')})", _XP1), _XP4)
    lane = _add(_mul(_rotl(f"xor(a, {_round('0', 'k')})", 27), _XP1), _XP4)
    tail = "__l[__n // 32 * 4 + 1 :]"  # the lanes after the last stripe
    word = _mul(_hex_le("__b", "__n // 8 * 8", 4), _XP1)
    word_step = _add(_mul(_rotl(f"xor(__h2, {word})", 23), _XP2), _XP3)
    byte = f"CAST(('0x' || substr(__b, 2 * i + 1, 2)) AS UBIGINT){_U}"
    byte_step = _mul(_rotl(f"xor(a, {_mul('c', _XP5)})", 11), _XP1)
    return _staged(src, [
        ("__b", f"hex(encode({col}))"),
        ("__n", f"octet_length(encode({col}))"),
        ("__l", f"list_transform(range(__n // 8), j -> {_hex_le('__b', '8 * j', 8)})"),
        ("__v", f"list_reduce(list_concat([{init}], {stripes}), (a, x) -> {step})"),
        ("__h1", _add(f"CASE WHEN __n >= 32 THEN {h} ELSE {_add(s, _XP5)} END", "__n")),
        ("__h2", f"list_reduce(list_concat([__h1], {tail}), (a, k) -> {lane})"),
        ("__h3", f"CASE WHEN __n % 8 >= 4 THEN {word_step} ELSE __h2 END"),
        ("__h4", f"list_reduce(list_concat([__h3], list_transform(range(__n - __n % 4, __n), "
                 f"i -> {byte})), (a, c) -> {byte_step})"),
        *_fmix("__h4", "__s"),
    ], out)


def xxhash64_longs_sql(src: str, cols: list[str], out: str) -> str:
    """``SELECT *, F.xxhash64(c1, c2, ...) AS out FROM src`` for non-null
    BIGINT columns: XXH64.hashLong per column, each hash seeding the next."""
    steps: list[tuple[str, str]] = []
    seed = f"42{_U}"
    for i, c in enumerate(cols):
        p = f"__x{i}"
        u = f"CAST(CAST({c} AS HUGEINT) + {_M64} AS UHUGEINT)"
        steps += [
            (f"{p}a", _mul(_w(u), _XP2)),
            (f"{p}b", f"xor({_add(seed, _XP5 + 8)}, {_mul(_rotl(f'{p}a', 31), _XP1)})"),
            (f"{p}c", _add(_mul(_rotl(f"{p}b", 27), _XP1), _XP4)),
            *_fmix(f"{p}c", p),
        ]
        seed = f"{p}f3"
    return _staged(src, steps, out)


def pmod_sql(x: str, m: int) -> str:
    """Spark's ``pmod(x, m)``: the non-negative remainder."""
    return f"((({x}) % {m}) + {m}) % {m}"


def _xor_const(a: str, c: int) -> str:
    return f"CAST(xor(CAST(({a}) AS UBIGINT), CAST({c} AS UBIGINT)) AS HUGEINT)"


def _sql_str_array(vals) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


def f1_cte(n_rows: int, seed: int = 42, token_positions: tuple[int, ...] = (0, 2, 5)) -> str:
    """WITH-clause SQL producing `f1(i, source, n_tok, t{p}...)` identical to
    generate_sequences(spark, n_rows, seed) header fields. token_positions are
    0-based header indices (token j lives at stream offset j+1)."""
    cum = np.cumsum(SOURCE_WEIGHTS)
    cum_sql = "[" + ", ".join(repr(float(c)) for c in cum) + "]"
    src_salt = 0xA5A5A5A5 + seed
    ntok_salt = 0x5EED5EED + seed
    keymul = seed * 0x10001
    tok_cols = ",\n  ".join(
        f"CAST({splitmix64_sql(f'(row_key + {p + 1}) % {_M64}')} % {VOCAB_SIZE} AS INT) AS t{p}"
        for p in token_positions
    )
    return f"""
ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range({n_rows})),
g AS (SELECT i,
  {splitmix64_sql(_xor_const('i', src_salt))} AS src_h,
  {splitmix64_sql(_xor_const('i', ntok_salt))} AS ntok_h,
  {splitmix64_sql(f'(i + {keymul}) % {_M64}')} AS row_key
FROM ids),
g2 AS (SELECT i, row_key,
  len(list_filter({cum_sql}, c -> c <= CAST(src_h AS DOUBLE) / 18446744073709551616.0)) AS src_idx_raw,
  CAST({MIN_TOK} + floor(({MAX_TOK} - {MIN_TOK}) * power(CAST(ntok_h AS DOUBLE) / 18446744073709551616.0, 3)) AS INT) AS n_tok
FROM g),
f1 AS (SELECT i,
  {_sql_str_array(SOURCES)}[least(src_idx_raw, {len(SOURCES) - 1}) + 1] AS source,
  n_tok,
  {tok_cols}
FROM g2)"""


def f1_tokens_cte(n_rows: int, seed: int = 42) -> str:
    """WITH-clause SQL producing ``f1t(i, doc_id, source, n_tok, tokens)``
    with the FULL token list per row — token j (0-based) is
    splitmix64(row_key + j + 1) % VOCAB_SIZE, replayed inside a DuckDB list
    lambda. The strongest oracle form: the verifier regenerates every token
    of every sequence from seed alone and then re-runs the operator's
    semantics over them in SQL."""
    cum = np.cumsum(SOURCE_WEIGHTS)
    cum_sql = "[" + ", ".join(repr(float(c)) for c in cum) + "]"
    src_salt = 0xA5A5A5A5 + seed
    ntok_salt = 0x5EED5EED + seed
    keymul = seed * 0x10001
    tok_j = splitmix64_sql(f"(row_key + j + 1) % {_M64}")
    return f"""
ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range({n_rows})),
g AS (SELECT i,
  {splitmix64_sql(_xor_const('i', src_salt))} AS src_h,
  {splitmix64_sql(_xor_const('i', ntok_salt))} AS ntok_h,
  {splitmix64_sql(f'(i + {keymul}) % {_M64}')} AS row_key
FROM ids),
g2 AS (SELECT i, row_key,
  len(list_filter({cum_sql}, c -> c <= CAST(src_h AS DOUBLE) / 18446744073709551616.0)) AS src_idx_raw,
  CAST({MIN_TOK} + floor(({MAX_TOK} - {MIN_TOK}) * power(CAST(ntok_h AS DOUBLE) / 18446744073709551616.0, 3)) AS INT) AS n_tok
FROM g),
g3 AS (SELECT i, row_key, n_tok,
  {_sql_str_array(SOURCES)}[least(src_idx_raw, {len(SOURCES) - 1}) + 1] AS source
FROM g2),
f1t AS MATERIALIZED (SELECT i,
  source || '-' || lpad(CAST(i AS VARCHAR), 12, '0') AS doc_id,
  source, n_tok,
  list_transform(range(0, n_tok), j -> CAST({tok_j} % {VOCAB_SIZE} AS INT)) AS tokens
FROM g3)"""


def contamination_oracle(
    n_rows: int, patterns: list[list[int]], seed: int = 42
) -> str:
    """Oracle for queries.contamination_token_hits: regenerate the full token
    streams, then find the FIRST occurrence (0-based) of each benchmark
    pattern via a list-lambda scan (DuckDB list slices are 1-based inclusive:
    tokens[i : i+m-1] is the m-token window starting at i)."""
    m = len(patterns[0])
    if any(len(p) != m for p in patterns):
        raise ValueError("all patterns must share one length")
    # per-pattern branch with an element-wise conjunction (no slice allocs;
    # the AND short-circuits on the first token, so the scan is ~one integer
    # compare per position instead of an m-slice equality)
    branches = []
    for k, p in enumerate(patterns):
        cond = " AND ".join(f"f.tokens[i + {j}] = {t}" for j, t in enumerate(p))
        branches.append(
            f"""SELECT {k} AS pattern_id, f.doc_id,
         CAST(list_filter(range(1, len(f.tokens) - {m} + 2),
                          i -> {cond})[1] - 1 AS INT) AS match_pos
  FROM f1t f"""
        )
    union = "\n  UNION ALL\n  ".join(branches)
    return f"""
WITH {f1_tokens_cte(n_rows, seed)},
hits AS (
  {union})
SELECT pattern_id, doc_id, match_pos
FROM hits WHERE match_pos IS NOT NULL
"""


def benchmark_patterns(
    rows: list[int], m: int = 3, seed: int = 42
) -> list[list[int]]:
    """Deterministic 'benchmark set' for the decontamination fixture: the
    first m tokens of the given row indices (numpy replay of the generator —
    each pattern provably occurs in its origin row at position 0)."""
    from loongcollector_spark.sources.synthetic import _row_key, _splitmix64

    out = []
    for r in rows:
        key = _row_key(np.array([r], dtype=np.int64), seed)[0]
        with np.errstate(over="ignore"):
            toks = [
                int(_splitmix64(np.array([key + np.uint64(j + 1)], dtype=np.uint64))[0]
                    % np.uint64(VOCAB_SIZE))
                for j in range(m)
            ]
        out.append(toks)
    return out


def token_native_rollup_oracle(n_rows: int = 5000, seed: int = 42) -> str:
    """Oracle for queries.token_native_parse_rollup: route on status/level
    extracted straight from header tokens, roll up per (source, sink)."""
    status_arr = _sql_str_array([str(s) for s in _STATUS])
    level_arr = _sql_str_array(list(_LEVELS))
    return f"""
WITH {f1_cte(n_rows, seed, (0, 2, 5))},
fields AS (
  SELECT source, n_tok,
         {status_arr}[(t2 % {len(_STATUS)}) + 1] AS status,
         {level_arr}[(t5 % {len(_LEVELS)}) + 1] AS level
  FROM f1),
routed AS (
  SELECT source, n_tok,
         CASE WHEN regexp_full_match(status, '5\\d\\d') THEN 'errors'
              WHEN regexp_full_match(level, 'WARN|ERROR') THEN 'warns'
              ELSE 'default' END AS sink
  FROM fields)
SELECT source, sink, COUNT(*) AS rows, CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM routed GROUP BY source, sink
"""


def tokenized_pipeline_oracle(n_rows: int = 5000, seed: int = 42) -> str:
    """Oracle for queries.tokenized_pipeline_e2e: detok render emits JSON
    lines only for the app-* family, so parse_json yields `level` there and
    NULL elsewhere; route ERROR -> errors, web-* -> web, else default."""
    level_arr = _sql_str_array(list(_LEVELS))
    return f"""
WITH {f1_cte(n_rows, seed, (5,))},
fields AS (
  SELECT source, n_tok,
         CASE WHEN source LIKE 'app-%'
              THEN {level_arr}[(t5 % {len(_LEVELS)}) + 1] END AS level
  FROM f1),
routed AS (
  SELECT source, n_tok,
         CASE WHEN level = 'ERROR' THEN 'errors'
              WHEN source LIKE 'web-%' THEN 'web'
              ELSE 'default' END AS sink
  FROM fields)
SELECT source, sink, COUNT(*) AS rows, CAST(SUM(n_tok) AS BIGINT) AS tokens
FROM routed GROUP BY source, sink
"""
