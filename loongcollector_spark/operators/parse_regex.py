"""Regex field extraction — ``processor_parse_regex_native`` /
``processor_regex``.

Reference behavior (core/plugin/processor/ProcessorParseRegexNative.cpp:181-248
and plugins/processor/regex/regex.go:55-67): match ``SourceKey`` against a
compiled regex with capture groups; on match, write group i to ``Keys[i]``;
on mismatch apply the CommonParserOptions failure matrix; the ``(.*)``
whole-line pattern takes a copy-through fast path; ``FullMatch`` toggles
anchored matching.

Spark-first: one path of pure JVM expressions — one ``rlike`` for the
success predicate plus one ``regexp_extract`` per key, all fused by
whole-stage codegen (regex compiled once per task by Catalyst, mirroring the
reference's compile-at-Init). A vectorized Python ``str.extract`` engine was
measured against it and removed: on 100k ``events`` rows of NGINX traffic
(10 keys) it took 1.26 s narrow / 4.71 s with a 512-int payload per row,
against 0.60 / 0.64 s for these expressions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import ParserOptions, apply_parser_options

_FASTPATH_WHOLE_LINE = ("(.*)", "^(.*)$")


def parse_regex(
    df: DataFrame,
    source_key: str,
    pattern: str,
    keys: Sequence[str],
    options: ParserOptions | None = None,
    full_match: bool = True,
) -> DataFrame:
    options = options or ParserOptions()

    if pattern in _FASTPATH_WHOLE_LINE and len(keys) == 1:
        # whole-line fast path (ProcessorParseRegexNative.cpp:103-121)
        return apply_parser_options(
            df, source_key, F.col(source_key).isNotNull(),
            {keys[0]: F.col(source_key)}, options,
        )

    anchored = pattern if not full_match else _anchor(pattern)
    src = F.col(source_key)
    success = src.isNotNull() & src.rlike(anchored)
    extracted = {
        k: F.regexp_extract(src, anchored, i + 1) for i, k in enumerate(keys)
    }
    return apply_parser_options(df, source_key, success, extracted, options)


def _anchor(pattern: str) -> str:
    p = pattern
    if not p.startswith("^"):
        p = "^" + p
    if not p.endswith("$"):
        p = p + "$"
    return p

