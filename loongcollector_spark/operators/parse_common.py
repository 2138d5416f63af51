"""Shared keep/discard semantics for every parser.

The reference gives every parser the same failure matrix via
``CommonParserOptions`` (core/plugin/processor/CommonParserOptions.cpp:92-118):

- on parse FAILURE: keep the raw source value (``KeepingSourceWhenParseFail``),
  optionally copy the raw line to ``__raw_log__`` (``CopingRawLog``), or erase
  the event entirely (``ShouldEraseEvent``) — every parser is a project+filter.
- on parse SUCCESS: optionally keep the source field
  (``KeepingSourceWhenParseSucceed``), optionally renamed.

Columnar mapping: "erase the event" = ``filter``; "remove the source key" on a
per-row basis = null-out the source column on those rows (fixed schema); the
``__raw_log__`` copy is a conditional column.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RAW_LOG_KEY = "__raw_log__"
_VERDICT = "__parse_ok__"


@dataclass(frozen=True)
class ParserOptions:
    keep_source_on_fail: bool = True
    keep_source_on_success: bool = False
    copy_raw_log: bool = False
    renamed_source_key: str | None = None

    def should_erase_on_fail(self) -> bool:
        # CommonParserOptions::ShouldEraseEvent: a failed event survives only
        # if the raw source is being kept somewhere.
        return not (self.keep_source_on_fail or self.copy_raw_log)


def apply_parser_options(
    df: DataFrame,
    source_key: str,
    success: Column,
    extracted: dict[str, Column],
    options: ParserOptions,
) -> DataFrame:
    """Apply the parse-fail truth table around a parser's extracted columns.

    ``success`` is a boolean Column; ``extracted`` maps new column name ->
    expression (evaluated only meaningfully when success holds). The verdict
    and every extracted column are evaluated against the INPUT row in one
    projection, so a key that overwrites ``source_key`` (or any column an
    expression reads) cannot change what later keys or the verdict see.
    """
    ok, raw = F.col(_VERDICT), F.col(source_key)
    if options.keep_source_on_success and options.keep_source_on_fail:
        kept = raw
    elif options.keep_source_on_success:
        kept = F.when(ok, raw)
    elif options.keep_source_on_fail:
        kept = F.when(~ok, raw)
    else:
        kept = F.lit(None).cast(df.schema[source_key].dataType)
    renamed = options.renamed_source_key not in (None, source_key)

    cols: dict[str, Column] = {} if renamed else {source_key: kept}
    for name, expr in extracted.items():
        # reference parsers add contents on match only: failure leaves a
        # prior column intact, and a key that overwrites the source keeps
        # its extracted value on success (the source is deleted only when
        # the parse failed or no key overwrote it)
        if name in cols:
            cols[name] = F.when(ok, expr).otherwise(cols[name])
        elif name in df.columns and name != source_key:
            cols[name] = F.when(ok, expr).otherwise(F.col(name))
        else:
            cols[name] = F.when(ok, expr)
    if options.copy_raw_log:
        cols[RAW_LOG_KEY] = F.when(~ok, raw)
    if renamed:
        cols[options.renamed_source_key] = kept

    out = df.withColumn(_VERDICT, success)
    if options.should_erase_on_fail():
        out = out.filter(ok)
    out = out.withColumns(cols)
    if renamed and source_key not in extracted:
        out = out.drop(source_key)
    return out.drop(_VERDICT)
