"""perfbench: oracle-checked benchmark of loongcollector_spark.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_text --seed 1 --seconds 10 --trace 0

--trace 0 measures the end-to-end metrics with tracing off; --trace 1 makes
the separate traced run that reports the per-layer metrics. Metric names and
units come from BENCHMARK.json. Earlier stdout lines carry the host record;
the last line is one JSON object {correct, attempted, failed, metrics}. A
pass whose output differs from its oracle is counted in ``failed``, left
out of every timing, and makes the exit code 1.

This process generates the inputs (inputs.py) and orchestrates; each Spark
session lives in a child process (child.py), so set-up is measured from a
cold start.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

from common import (
    CONF, RECORD_DIR, ROOT, STATE_DIR, WORKLOADS, child_env, host_fingerprint,
    loadavg, nproc, session_pids, session_pss_kb, spark_settings,
)

CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "child.py")
# Per-layer metrics of layers a workload never calls: they did no work.
BYPASSED = {
    "pipeline_text": ("q.", "functions."),
    "curation_mix": ("sources.", "parse_", "dict_map.", "token_extract.", "route", "rollup", "pipeline.",
                     "sinks.", "lineage.", "trace.serial_seq_per_s", "trace.scale_eff"),
}


class ChildFailed(RuntimeError):
    pass


def spawn(role: str, args, log, deadline: float, *extra: str) -> dict:
    """Run one child to completion and return its tagged JSON record. The
    child leads a session of its own, whose processes are killed and reaped
    whatever happens, so no JVM or Python worker outlives the run."""
    cmd = [sys.executable, CHILD, "--role", role, "--workload", args.workload,
           "--seed", str(args.seed), "--data", args.data, "--rows", str(args.rows),
           "--oracle", args.oracle, "--t0", repr(time.monotonic()), *extra]
    if args.corrupt == "drop_row":
        cmd.append("--drop-row")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(), stdout=subprocess.PIPE,
                            stderr=log, text=True, start_new_session=True)
    peak = {"kb": 0}
    done = threading.Event()
    poller = threading.Thread(target=_poll_memory, args=(proc.pid, peak, done), daemon=True)
    poller.start()
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        out = ""
        os.kill(proc.pid, signal.SIGUSR1)  # the child dumps its Python stacks to the log
        time.sleep(1)
    finally:
        done.set()
        poller.join()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in session_pids(proc.pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            for _ in range(50):
                if not session_pids(proc.pid):
                    break
                time.sleep(0.1)
        proc.wait()
    recs = [json.loads(l[2:]) for l in out.splitlines() if l.startswith("@@")]
    if proc.returncode != 0 or not recs:
        raise ChildFailed(f"{role} child exited {proc.returncode} without a record (see {log.name})")
    recs[-1]["peak_rss_mb"] = peak["kb"] / 1024
    return recs[-1]


def _poll_memory(sid: int, peak: dict, done: threading.Event) -> None:
    """Peak of the summed PSS of the child's session: the PySpark driver,
    the JVM and its Python workers. Polling from this otherwise idle process
    keeps the cost out of the measured one."""
    while not done.wait(0.25):
        peak["kb"] = max(peak["kb"], session_pss_kb(sid))


def end_to_end(args, log, deadline) -> tuple[dict, dict]:
    run = spawn("run", args, log, deadline, "--seconds", str(args.seconds))
    ok = [p for p in run["passes"] if p is not None]
    if not ok or run["first_pass_s"] is None:
        # a failed pass is never reported as a throughput number
        return {}, run
    pass_s = statistics.median(ok)
    metrics = {
        "setup_s": run["setup_s"],
        # the JIT compilation set-up starts runs on into the first pass, so
        # the two halves trade time between runs; their sum does not
        "first_result_s": run["setup_s"] + run["first_pass_s"],
        "mix_s": pass_s,
        "seq_per_s": run["seqs"] / pass_s,
        "tok_per_s": run["tokens"] / pass_s,
        "peak_rss_mb": run["peak_rss_mb"],
    }
    return metrics, run


def per_layer(args, log, deadline) -> tuple[dict, dict]:
    traced = spawn("trace", args, log, deadline)
    children = {"trace": traced}
    layers = dict(traced["layers"])
    if args.workload == "pipeline_text":
        # one warm pass on one core, against the plain passes on nproc
        # cores; the long cold pass at local[1] is its warm-up
        serial = spawn("run", args, log, deadline, "--seconds", "0", "--warmup-s", "0",
                       "--min-passes", "1", "--master", CONF["serial_master"])
        children["serial"] = serial
        s_ok = [p for p in serial["passes"] if p is not None]
        if s_ok:
            layers["trace.serial_seq_per_s"] = serial["seqs"] / min(s_ok)
            layers["trace.scale_eff"] = min(s_ok) / (nproc() * layers["trace.plain_pass_s"])
    attempted = sum(c["attempted"] for c in children.values())
    failed = sum(c["failed"] for c in children.values())
    layers["err_frac"] = failed / attempted
    layers["gen_s"] = args.gen_s
    return layers, children


def make_inputs(args) -> None:
    """Write the workload's input and its oracle before any Spark process
    starts, so neither is part of what the runs measure."""
    sys.path.insert(0, ROOT)  # the generator and the oracles reuse package code
    import inputs
    import workloads

    files = CONF["files_per_cpu"] * nproc()
    if args.workload == "pipeline_text":
        args.rows = 2000 if args.tiny else CONF["pipeline_text"]["rows"]
        args.data = inputs.sequences(args.seed, args.rows, files)
    else:
        args.rows = 200 if args.tiny else CONF["curation_mix"]["docs"]
        args.data = inputs.documents(args.seed, args.rows, files)
    args.oracle = os.path.join(args.data, "_oracle.json")  # Spark skips "_" files
    if not os.path.exists(args.oracle):
        oracle = workloads.make_oracle(args.workload, args.seed, args.data, args.rows)
        with open(args.oracle + ".tmp", "w") as fh:
            json.dump(oracle, fh)
        os.replace(args.oracle + ".tmp", args.oracle)
    if args.corrupt == "expected":
        with open(args.oracle) as fh:
            oracle = json.load(fh)
        # one expected row count, one higher
        if args.workload == "pipeline_text":
            oracle["rollup"][0][2] += 1
        else:
            oracle["queries"][workloads.MIX_QUERIES[0]][1] += 1
        args.oracle = os.path.join(STATE_DIR, "oracle-corrupt.json")
        with open(args.oracle, "w") as fh:
            json.dump(oracle, fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("none", "drop_row", "expected"), default="none",
                    help="gate self-test: drop one routed row, or change one expected count")
    ap.add_argument("--tiny", action="store_true", help="gate self-test: tiny inputs")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "loongcollector_spark")):
        print("perfbench: loongcollector_spark is not in this checkout", file=sys.stderr)
        return 2
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    started = time.monotonic()
    deadline = started + CONF["run_deadline_s"]
    make_inputs(args)
    args.gen_s = time.monotonic() - started
    record = {
        "args": vars(args),
        "host": host_fingerprint(),
        "spark_settings": spark_settings(bool(args.trace)),
        "loadavg_start": loadavg(),
    }
    print("host: " + json.dumps(record["host"]), flush=True)
    os.makedirs(RECORD_DIR, exist_ok=True)
    log_path = os.path.join(STATE_DIR, f"{args.workload}-s{args.seed}-t{args.trace}.log")
    with open(log_path, "w") as log:
        try:
            measured, children = (per_layer if args.trace else end_to_end)(args, log, deadline)
            attempted = (
                sum(c["attempted"] for c in children.values()) if args.trace else children["attempted"]
            )
            failed = (
                sum(c["failed"] for c in children.values()) if args.trace else children["failed"]
            )
        except ChildFailed as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 3
    record.update(children=children, loadavg_end=loadavg(), wall_s=time.monotonic() - started)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(RECORD_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("loadavg: " + json.dumps({"start": record["loadavg_start"], "end": record["loadavg_end"]}))
    errors = [e for c in (children.values() if args.trace else [children]) for e in c.get("errors", [])]
    for e in errors:
        print(f"oracle: {e}", file=sys.stderr)

    correct = failed == 0 and bool(measured)
    metrics = {}
    if correct:
        for m in wanted:
            name = m["name"]
            if name not in measured and not (args.trace and name.startswith(BYPASSED[args.workload])):
                print(f"perfbench: metric {name} was not measured", file=sys.stderr)
                return 4
            metrics[name] = {"value": measured.get(name, 0.0), "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
