"""The workloads: what one pass runs, and the oracle each pass is checked
against. Passes call only the package's public functions; the pipeline
oracle reuses the generator's own numpy helpers."""

from __future__ import annotations

import os
import time

import numpy as np

from common import CONF

# --------------------------------------------------------------------------
# pipeline_text: F1 scan -> render_lines (Arrow pandas_udf detok) ->
# parse_regex / parse_json / parse_delimiter -> dict_map -> first-match route
# -> shard_hash -> persist -> 4 noop sinks + salted sink_metrics rollup.
# --------------------------------------------------------------------------

NGINX = r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) ([^"]+)" (\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
NGINX_KEYS = [
    "remote_addr", "time_local", "method", "url", "protocol",
    "status", "body_bytes_sent", "http_referer", "http_user_agent", "http_x_forwarded_for",
]
KEEP = {"keep_source_on_fail": True, "keep_source_on_success": True}
SINKS = ("errors", "web", "app", "default")

# (layer name, processor name, params); the hit column is a key only that
# parser writes, so non-null means the row parsed.
PARSERS = [
    ("parse_regex", {"source_key": "line", "pattern": NGINX, "keys": NGINX_KEYS,
                     "full_match": False, "options": KEEP}, "remote_addr"),
    ("parse_json", {"source_key": "line", "keys": ["method", "path", "status", "bytes", "level"],
                    "options": KEEP}, "level"),
    ("parse_delimiter", {"source_key": "line", "separator": "\t",
                         "keys": ["uid", "time", "d_method", "value", "d_level"],
                         "options": KEEP}, "uid"),
]
DICT_MAP = ("dict_map", {"source_key": "source",
                         "mapping": {"web-01": "edge", "web-02": "edge", "app-01": "svc", "sys-01": "infra"},
                         "dest_key": "tier", "missing": "other"})


def routes():
    from loongcollector_spark.operators.route import Condition, Route

    return [
        Route("errors", Condition(content_key="status", content_regex=r"5\d\d")),
        Route("web", Condition(content_key="source", content_regex="web-.*")),
        Route("app", Condition(content_key="source", content_regex="app-.*")),
    ]


def text_spec(processors=None):
    from loongcollector_spark.pipeline import PipelineSpec
    from loongcollector_spark.sinks import SinkSpec

    if processors is None:
        processors = [(name, params) for name, params, _ in PARSERS] + [DICT_MAP]
    return PipelineSpec(
        name="perfbench_text",
        processors=processors,
        routes=routes(),
        shard_keys=("source", "doc_id"),
        shard_count=CONF["pipeline_text"]["shard_count"],
        sinks={s: SinkSpec(name=s, format="noop") for s in SINKS},
    )


def durable_spec(base: str):
    """Same route/shard/rollup as text_spec, no parsers (fields come from
    token_extract), parquet sinks under ``base``."""
    from loongcollector_spark.pipeline import PipelineSpec
    from loongcollector_spark.sinks import SinkSpec

    spec = text_spec(processors=[])
    spec.name = "perfbench_durable"
    spec.sinks = {s: SinkSpec(name=s, path=f"{base}/{s}") for s in SINKS}
    return spec


def token_front(df):
    """pipeline_durable's front end: fields straight from header tokens."""
    from loongcollector_spark.operators.token_ops import TokenField, token_field_extract
    from loongcollector_spark.sources.synthetic import _LEVELS, _METHODS, _STATUS

    return token_field_extract(
        df,
        "tokens",
        {
            "method": TokenField(position=0, vocab=list(_METHODS)),
            "status": TokenField(position=2, vocab=[str(s) for s in _STATUS]),
            "level": TokenField(position=5, vocab=list(_LEVELS)),
        },
    )


def text_pass(spark, path: str, drop_row: bool = False) -> dict:
    from pyspark.sql import functions as F

    from loongcollector_spark.pipeline import run_pipeline
    from loongcollector_spark.sources import render_lines

    df = render_lines(spark.read.parquet(path))
    if drop_row:
        df = df.filter(F.col("doc_id") != F.lit(first_doc_id(spark, path)))
    return run_pipeline(df, text_spec(), checkpoint=False)


def first_doc_id(spark, path: str) -> str:
    return spark.read.parquet(path).select("doc_id").limit(1).collect()[0][0]


def expected_rollup(seed: int, rows: int, status_on_all: bool = False) -> dict:
    """Oracle for the rollup: rows and tokens per (source, sink), recomputed
    with numpy from the generator's own splitmix64 functions. With the
    render front only web and app lines carry a status; the token front
    (``status_on_all``) gives every row one."""
    from loongcollector_spark.sources.synthetic import (
        SOURCES, VOCAB_SIZE, _STATUS, _n_tok, _row_key, _source_idx, _splitmix64,
    )

    i = np.arange(rows, dtype=np.int64)
    src = _source_idx(i, seed)
    ntok = _n_tok(i, seed).astype(np.int64)
    with np.errstate(over="ignore"):
        t2 = _splitmix64(_row_key(i, seed) + np.uint64(3)) % np.uint64(VOCAB_SIZE)
    status = _STATUS[(t2 % np.uint64(len(_STATUS))).astype(np.int64)]
    fam = np.asarray([family(s) for s in SOURCES])[src]
    carries_status = np.ones(rows, bool) if status_on_all else np.isin(fam, ["web", "app"])
    sink = np.where(
        carries_status & (status >= 500) & (status < 600), 0,
        np.where(fam == "web", 1, np.where(fam == "app", 2, 3)),
    )
    key = src * len(SINKS) + sink
    n = len(SOURCES) * len(SINKS)
    counts = np.bincount(key, minlength=n)
    tokens = np.bincount(key, weights=ntok, minlength=n)
    return {
        (SOURCES[k // len(SINKS)], SINKS[k % len(SINKS)]): (int(counts[k]), int(tokens[k]))
        for k in range(n)
        if counts[k]
    }


def family(source: str) -> str:
    return source.split("-")[0]


# The line format render_lines gives each source family, and so the one
# parser that must parse all of that family's rows and no other row.
PARSER_OF_FAMILY = {"web": "parse_regex", "app": "parse_json", "sys": "parse_delimiter"}


def expected_layers(expected: dict) -> dict:
    """Oracle for the parse and enrich layers, from the rollup oracle's rows
    per source: every row of a source parses with its family's parser only,
    and dict_map gives every row its source's tier. An unmapped source gets
    none: ``missing`` only fills rows whose source is null."""
    per_source: dict[str, int] = {}
    for (source, _), (rows, _) in expected.items():
        per_source[source] = per_source.get(source, 0) + rows
    mapping = DICT_MAP[1]["mapping"]
    return {
        (source, mapping.get(source)): (
            rows, *(rows if PARSER_OF_FAMILY[family(source)] == name else 0 for name, _, _ in PARSERS)
        )
        for source, rows in per_source.items()
    }


def layer_counts(spark, path: str) -> dict:
    """Per (source, tier): rows, then rows each parser parsed, over the
    compiled (unexecuted) pipeline of text_spec."""
    from pyspark.sql import functions as F

    from loongcollector_spark.pipeline import compile_pipeline
    from loongcollector_spark.sources import render_lines

    routed = compile_pipeline(render_lines(spark.read.parquet(path)), text_spec())
    rows = routed.groupBy("source", DICT_MAP[1]["dest_key"]).agg(
        F.count(F.lit(1)).alias("rows"), *[F.count(F.col(col)).alias(name) for name, _, col in PARSERS]
    ).collect()
    return {(r[0], r[1]): tuple(int(x) for x in r[2:]) for r in rows}


def check_layers(got: dict, expected: dict) -> str | None:
    if got == expected:
        return None
    diff = sorted((k for k in set(got) | set(expected) if got.get(k) != expected.get(k)), key=str)
    return (f"parse/dict_map counts differ on {len(diff)} (source, tier) cells, e.g. {diff[0]}: "
            f"got {got.get(diff[0])}, expected {expected.get(diff[0])} (rows, {', '.join(n for n, _, _ in PARSERS)})")


def rollup_of(result: dict) -> dict:
    return {(r["source"], r["__sink__"]): (int(r["rows"]), int(r["tokens"])) for r in result["metrics_rollup"]}


def check_rollup(result: dict, expected: dict) -> str | None:
    got = rollup_of(result)
    if got == expected:
        return None
    diff = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
    return f"rollup mismatch on {len(diff)} (source, sink) cells, e.g. {diff[0]}: got {got.get(diff[0])}, expected {expected.get(diff[0])}"


# --------------------------------------------------------------------------
# curation_mix: registered queries over a generated documents table.
# --------------------------------------------------------------------------

MIX_QUERIES = (
    "dedup_simhash_multirot",
    "bloom_contamination_flags",
    "quality_classifier_gate",
)


def run_query(spark, name: str, sf_dir: str):
    """One registered query, collected into this process; returns (cols, rows)."""
    from loongcollector_spark.functions import dedup
    from loongcollector_spark.queries import QUERIES

    try:
        sdf = QUERIES[name].spark(spark, sf_dir)
        return sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        dedup.release_persisted()


def oracle_hashes(sf_dir: str, names=MIX_QUERIES) -> dict:
    """DuckDB oracle of each query: [sorted columns, row count, value hash],
    normalised exactly as tools/check_oracles.py does."""
    import duckdb

    from loongcollector_spark.queries import QUERIES
    from tools.check_oracles import table_hash

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
    out = {}
    for name in names:
        rel = con.sql(QUERIES[name].sql)
        cols = list(rel.columns)
        rows = [tuple(r) for r in rel.fetchall()]
        out[name] = [sorted(cols), len(rows), table_hash(cols, rows)]
    con.close()
    return out


def check_query(name: str, cols, rows, oracle: dict) -> str | None:
    from tools.check_oracles import table_hash

    want = oracle[name]
    got = [sorted(cols), len(rows), table_hash(list(cols), rows)]
    if got == want:
        return None
    return f"{name}: spark {got[0]} x {got[1]} rows != oracle {want[0]} x {want[1]} rows (or values differ)"


def make_oracle(workload: str, seed: int, data: str, rows: int) -> dict:
    """Everything a pass is checked against, computed before any Spark
    process starts, so neither its time nor its memory is measured."""
    if workload == "pipeline_text":
        expected = expected_rollup(seed, rows)
        return {
            "rollup": [[src, sink, r, t] for (src, sink), (r, t) in expected.items()],
            "tokens": sum(t for _, t in expected.values()),
        }
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    text = ds.dataset(os.path.join(data, "documents.parquet")).to_table(columns=["text"])["text"]
    return {
        "queries": oracle_hashes(data),
        "tokens": int(pc.sum(pc.list_value_length(pc.split_pattern(text, " "))).as_py()),
    }


class Workload:
    """One pass of a workload plus its oracle (see make_oracle)."""

    def __init__(self, spark, name: str, data: str, rows: int, oracle: dict, drop_row: bool = False):
        self.spark, self.name, self.data, self.drop_row = spark, name, data, drop_row
        self.seqs, self.tokens = rows, oracle["tokens"]
        if name == "pipeline_text":
            self.expected = {(src, sink): (r, t) for src, sink, r, t in oracle["rollup"]}
        else:
            self.oracle = oracle["queries"]

    def check_layers(self) -> tuple[str | None, dict]:
        """Untimed check of the layers the pass result does not show: the
        parsers and dict_map. Returns (what went wrong or None, the counts)."""
        if self.name != "pipeline_text":
            return None, {}
        try:
            got = layer_counts(self.spark, self.data)
        except Exception as exc:  # e.g. a parser that no longer writes its keys
            return f"layer check: {type(exc).__name__}: {exc}"[:500], {}
        return check_layers(got, expected_layers(self.expected)), got

    def run_pass(self) -> str | None:
        """Run one pass; return None if its output matches the oracle, else
        what went wrong."""
        if self.name == "pipeline_text":
            res = text_pass(self.spark, self.data, drop_row=self.drop_row)
            return check_rollup(res, self.expected)
        problems = []
        drop = self.drop_row
        for q in MIX_QUERIES:
            cols, rows = run_query(self.spark, q, self.data)
            if drop and rows:  # drop one row of the first non-empty result
                rows, drop = rows[1:], False
            err = check_query(q, cols, rows, self.oracle)
            if err:
                problems.append(err)
        return "; ".join(problems) or None

    def timed_pass(self) -> tuple[float, str | None]:
        t = time.perf_counter()
        try:
            err = self.run_pass()
        except Exception as exc:  # a pass that raises counts as failed
            err = f"{type(exc).__name__}: {exc}"[:500]
        return time.perf_counter() - t, err
