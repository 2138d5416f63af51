"""The traced run: per-layer self times from cumulative prefixes, and
Spark's stage metrics for every span.

A prefix is the pipeline cut after one layer, forced with a ``noop`` write;
a layer's self time is the difference between adjacent prefixes. The
layers after the last prefix (cache, sink fan-out, rollup, lineage writes)
are timed as their own public calls on one persisted routed frame.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import workloads as wl
from common import STATE_DIR, jvm_heap_mb
from spans import STAGE_FIELDS, Tracer

ROUNDS = 2


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace(spark, port: int, work, seed: int, setup_s: float) -> dict:
    """Per-layer metrics of one workload. Plain and traced passes alternate
    in the same warm process, so their ratio is the cost of tracing."""
    tracer = Tracer(spark, port)
    errors, plain = [], []

    def plain_pass() -> None:
        wall, err = work.timed_pass()
        plain.append(wall)
        if err:
            errors.append(err)

    plain_pass()  # cold pass: warms workers and codegen; not compared
    if work.name == "pipeline_text":
        layers, traced = _text_layers(spark, tracer, work, seed, errors, plain_pass)
    else:
        layers, traced = _mix_layers(spark, tracer, work, errors, plain_pass)
    layers["session.start_s"] = setup_s
    layers["first_pass_s"] = plain[0]
    layers["jvm.heap_committed_mb"] = jvm_heap_mb(spark)["committed"]
    layers["trace.pass_s"] = statistics.median(traced)
    layers["trace.plain_pass_s"] = statistics.median(plain[1:])
    layers["trace.overhead_frac"] = layers["trace.pass_s"] / layers["trace.plain_pass_s"] - 1
    return {
        "layers": layers,
        "attempted": len(plain) + len(traced),
        "failed": len(errors),
        "errors": errors[:5],
        "seqs": work.seqs,
        "spans": tracer.spans,
    }


def _text_layers(spark, tracer: Tracer, work, seed: int, errors: list, plain_pass) -> tuple[dict, list]:
    from pyspark.sql import functions as F

    from loongcollector_spark.operators import aggregate as agg_ops
    from loongcollector_spark.operators import route as route_ops
    from loongcollector_spark.operators.parse_common import ParserOptions
    from loongcollector_spark.pipeline import PROCESSORS, compile_pipeline, run_pipeline
    from loongcollector_spark.sinks import SinkSpec, write_sink
    from loongcollector_spark.sources import render_lines

    path = work.data
    spec = wl.text_spec()

    def scan():
        return spark.read.parquet(path)

    def processor(name, params):
        kwargs = dict(params)
        if "options" in kwargs:
            kwargs["options"] = ParserOptions(**kwargs["options"])
        return lambda df: PROCESSORS[name](df, **kwargs)

    def route_shard(df):
        routed = route_ops.route_first_match(df, spec.routes, default_sink=spec.default_sink)
        return agg_ops.shard_hash(
            routed, spec.shard_keys, spec.shard_count, connector=spec.shard_connector, repartition=False
        )

    steps = [("scan", lambda df: df), ("render", render_lines)]
    steps += [(name, processor(name, params)) for name, params, _ in wl.PARSERS]
    steps += [(wl.DICT_MAP[0], processor(*wl.DICT_MAP)), ("route_shard", route_shard)]

    prefix = {name: [] for name, _ in steps}
    prefix.update(compile=[], token_extract=[])
    compile_s = []
    for r in range(ROUNDS):
        df = scan()
        for name, step in steps:
            df = step(df)
            with tracer.span(f"prefix.{name}", round=r) as rec:
                _force(df)
            prefix[name].append(rec["wall_s"])
        with tracer.span("prefix.compile", round=r) as rec:
            t0 = time.perf_counter()
            routed = compile_pipeline(render_lines(scan()), spec)
            compile_s.append(time.perf_counter() - t0)
            _force(routed)
        prefix["compile"].append(rec["wall_s"])
        with tracer.span("prefix.token_extract", round=r) as rec:
            _force(wl.token_front(scan()))
        prefix["token_extract"].append(rec["wall_s"])
    # the least noisy estimate of a prefix's cost is its fastest round
    P = {k: min(v) for k, v in prefix.items()}
    names = [name for name, _ in steps]
    layers = {
        "sources.scan_s": P["scan"],
        "sources.render_s": P["render"] - P["scan"],
        "token_extract.self_s": P["token_extract"] - P["scan"],
        "pipeline.compile_s": statistics.median(compile_s),
    }
    for prev, name in zip(names[1:], names[2:]):
        layers[f"{name}.self_s"] = P[name] - P[prev]

    # The back half of run_pipeline, one public call at a time.
    routed = compile_pipeline(render_lines(scan()), spec).persist()
    with tracer.span("pipeline.cache") as cache:
        n_rows = routed.count()
    layers["pipeline.cache_s"] = cache["wall_s"] - P["compile"]
    layers["pipeline.cache_mb"] = tracer.cache_bytes() / 2**20
    with tracer.span("sinks.fanout") as fan:
        for s in wl.SINKS:
            write_sink(routed.filter(F.col(route_ops.SINK_COLUMN) == s), SinkSpec(name=s, format="noop"))
    layers["sinks.fanout_s"] = fan["wall_s"]
    with tracer.span("rollup") as roll:
        rollup = [r.asDict() for r in agg_ops.sink_metrics(routed).collect()]
    layers["rollup_s"] = roll["wall_s"]
    layers["rollup.shuffle_bytes"] = roll["spark.shuffle_write_bytes"]
    err = wl.check_rollup({"metrics_rollup": rollup}, work.expected)
    if err:
        errors.append("traced rollup: " + err)
    for s in wl.SINKS:
        layers[f"route.rows.{s}"] = sum(r["rows"] for r in rollup if r["__sink__"] == s)
    routed.unpersist()
    err, counts = work.check_layers()
    if err:
        errors.append("traced " + err)
    for k, (name, _, _) in enumerate(wl.PARSERS, start=1):
        layers[f"{name}.hit_ratio"] = sum(c[k] for c in counts.values()) / max(n_rows, 1)

    passes = []
    for r in range(ROUNDS):
        plain_pass()
        with tracer.span("pass", round=r) as rec:
            res = run_pipeline(render_lines(scan()), spec, checkpoint=False)
        passes.append(rec["wall_s"])
        err = wl.check_rollup(res, work.expected)
        if err:
            errors.append("traced pass: " + err)
    for k in STAGE_FIELDS:
        layers[k] = rec[k]
    covered = sum(layers[f"{n}.self_s"] for n in names[2:]) + layers["sources.scan_s"] + layers["sources.render_s"]
    covered += layers["pipeline.cache_s"] + layers["sinks.fanout_s"] + layers["rollup_s"]
    layers["trace.covered_frac"] = covered / statistics.median(passes)

    layers.update(_lineage_layers(spark, tracer, work, seed, scan, errors))
    return layers, passes


def _lineage_layers(spark, tracer: Tracer, work, seed: int, scan, errors: list) -> dict:
    """pipeline_durable's back end: token_extract front, then checkpointed
    parquet sinks with per-bucket manifests, verified after the write."""
    from pyspark.sql import functions as F

    from loongcollector_spark import lineage
    from loongcollector_spark.operators import route as route_ops
    from loongcollector_spark.pipeline import compile_pipeline

    base = os.path.join(STATE_DIR, "out", f"durable-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    routed = compile_pipeline(wl.token_front(scan()), wl.durable_spec(base)).persist()
    routed.count()
    out = {}
    try:
        with tracer.span("lineage.bucket_stats") as rec:
            lineage.bucket_stats(routed).collect()
        out["lineage.bucket_stats_s"] = rec["wall_s"]
        with tracer.span("lineage.write") as rec:
            for s in wl.SINKS:
                lineage.checkpointed_write(
                    routed.filter(F.col(route_ops.SINK_COLUMN) == s), f"{base}/{s}", run_id="perfbench"
                )
        out["lineage.write_s"] = rec["wall_s"]
        files, size = 0, 0
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
        out["lineage.files_written"] = files
        out["lineage.bytes_written"] = size
        expected = wl.expected_rollup(seed, work.seqs, status_on_all=True)
        buckets = 0
        for s in wl.SINKS:
            v = lineage.verify_sink(spark, f"{base}/{s}")
            want = sum(r for (_, sink), (r, _) in expected.items() if sink == s)
            buckets += v["buckets"]
            if not v["ok"] or v["rows"] != want:
                errors.append(f"lineage sink {s}: ok={v['ok']} rows={v['rows']} expected={want}")
        out["lineage.buckets"] = buckets
    finally:
        routed.unpersist()
        shutil.rmtree(base, ignore_errors=True)
    return out


def _mix_layers(spark, tracer: Tracer, work, errors: list, plain_pass) -> tuple[dict, list]:
    from loongcollector_spark.functions import dedup
    from loongcollector_spark.queries import QUERIES

    sf_dir = work.data
    q_s = {q: [] for q in wl.MIX_QUERIES}
    release, passes = [], []
    for r in range(ROUNDS):
        plain_pass()
        with tracer.span("pass", round=r) as pass_rec:
            spark_tot = {k: 0.0 for k in STAGE_FIELDS}
            rel = 0.0
            for q in wl.MIX_QUERIES:
                with tracer.span(f"q.{q}", round=r) as rec:
                    sdf = QUERIES[q].spark(spark, sf_dir)
                    rows = [tuple(x) for x in sdf.collect()]
                q_s[q].append(rec["wall_s"])
                for k in STAGE_FIELDS:
                    spark_tot[k] += rec[k]
                shuffle = rec["spark.shuffle_write_bytes"]
                with tracer.span("functions.release", round=r) as rrec:
                    dedup.release_persisted()
                rel += rrec["wall_s"]
                err = wl.check_query(q, sdf.columns, rows, work.oracle)
                if err:
                    errors.append("traced " + err)
                if r == ROUNDS - 1:
                    q_s[q + ".shuffle_bytes"] = shuffle
        release.append(rel)
        passes.append(pass_rec["wall_s"])
    layers = {f"q.{q}_s": statistics.median(q_s[q]) for q in wl.MIX_QUERIES}
    layers.update({f"q.{q}.shuffle_bytes": q_s[q + ".shuffle_bytes"] for q in wl.MIX_QUERIES})
    layers["functions.release_s"] = statistics.median(release)
    layers.update(spark_tot)
    covered = sum(layers[f"q.{q}_s"] for q in wl.MIX_QUERIES) + layers["functions.release_s"]
    layers["trace.covered_frac"] = covered / statistics.median(passes)
    return layers, passes
