"""Self-test of the benchmark's gate: at a tiny size, a corrupted result
must come out as a failure (correct=false, failed>0, exit code 1, no
metric), and an intact one as a pass.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")

CASES = [
    ("pipeline_text", "none", True),
    ("pipeline_text", "drop_row", False),
    ("pipeline_text", "expected", False),
    ("curation_mix", "none", True),
    ("curation_mix", "drop_row", False),
    ("curation_mix", "expected", False),
]


def main() -> int:
    bad = 0
    for workload, corrupt, want_ok in CASES:
        cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", "0", "--tiny", "--corrupt", corrupt]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        if want_ok:
            good = proc.returncode == 0 and last["correct"] and last["failed"] == 0 and last["metrics"]
        else:
            good = proc.returncode == 1 and not last["correct"] and last["failed"] > 0 and not last["metrics"]
        bad += not good
        print(f"{'ok ' if good else 'BAD'} {workload} corrupt={corrupt}: exit {proc.returncode} {json.dumps(last)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
