"""Benchmark self-test: determinism of inputs and of exact counters, and
the tracing overhead.

    python3 perfbench/selftest.py [--workload dml_mixed] [--seed 7] [--seconds 16]

1. The same seed generates byte-identical inputs; another seed does not.
2. Two traced runs with the same seed report identical exact counters
   (``spark_jobs``, ``py4j_calls``, ``files_added``), and
   ``bytes_written`` within 0.1%.
3. One untraced run with the same seed; the difference between its
   end-to-end figures and the traced runs' is the tracing overhead.

Prints one JSON object and exits 0 when checks 1 and 2 hold.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

EXACT = ("spark_jobs", "py4j_calls", "files_added")
# Spark may lay rows out in another order from run to run, so a written
# file's compressed size can differ by a few bytes
BYTES_REL_TOL = 1e-3


def _digest(seed: int, out: str) -> str:
    """Hash of every generated input file for ``seed``."""
    shutil.rmtree(out, ignore_errors=True)
    gen.write_corpus_tables(seed, 2000, os.path.join(out, "corpus"))
    plan = gen.claims_batches(seed, 600, 2)
    for b, rows in enumerate(plan.batches):
        gen.write_claims_csv(rows, os.path.join(out, "landing", f"b{b}.csv"))
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    h.update(repr(gen.reference_rows(seed)).encode())
    shutil.rmtree(out, ignore_errors=True)
    return h.hexdigest()


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(metrics, end-to-end figures) of one run; a traced run reports its
    end-to-end figures on stderr."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{proc.stderr[-2000:]}")
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    if not trace:
        return metrics, {k: v["value"] for k, v in metrics.items()}
    line = [x for x in proc.stderr.splitlines() if x.startswith("end_to_end ")][-1]
    return metrics, json.loads(line[len("end_to_end "):])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="dml_mixed")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=16)
    args = ap.parse_args()

    scratch = os.path.join(ROOT, ".perfbench_work", "selftest")
    a, b, c = (_digest(s, scratch) for s in (args.seed, args.seed, args.seed + 1))
    try:
        os.rmdir(os.path.dirname(scratch))  # only when no run is using it
    except OSError:
        pass
    inputs_ok = a == b and a != c

    t1, e1 = _run(args.workload, args.seed, args.seconds, 1)
    t2, e2 = _run(args.workload, args.seed, args.seconds, 1)
    exact = {k: (t1[k]["value"], t2[k]["value"]) for k in t1 if k.rsplit(".", 1)[-1] in EXACT}
    differ = {k: v for k, v in exact.items() if v[0] != v[1]}
    sizes = {k: (t1[k]["value"], t2[k]["value"]) for k in t1 if k.endswith(".bytes_written")}
    size_rel = {k: abs(a - b) / max(a, b) for k, (a, b) in sizes.items() if a != b}

    _, e0 = _run(args.workload, args.seed, args.seconds, 0)
    print(
        json.dumps(
            {
                "inputs_identical_for_same_seed": a == b,
                "inputs_differ_for_other_seed": a != c,
                "exact_counters_compared": len(exact),
                "exact_counters_differing": differ,
                "bytes_written_relative_difference": size_rel,
                "untraced": e0,
                "traced": [e1, e2],
                # mean of the traced runs over the untraced run, minus one
                "tracing_overhead": {k: (e1[k] + e2[k]) / 2 / e0[k] - 1 for k in e0 if e0[k]},
            },
            indent=1,
        )
    )
    sizes_ok = all(r <= BYTES_REL_TOL for r in size_rel.values())
    return 0 if inputs_ok and not differ and sizes_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
