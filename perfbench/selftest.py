#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

1. BENCHMARK.json names exactly the metrics run.py prints, and only
   workloads run.py knows.
2. A tiny-input run of every workload passes all of its output checks.
3. Deliberately damaged outputs are rejected, so no check is vacuous:
   one wallet's published feature changed, one document dropped from the
   store, one wallet's feature changed in the exported features after the
   JVM-side checks passed (only the DuckDB golden table can reject it),
   one planted near-duplicate pair dropped, one cleaned document dropped.

Exits 0 when every case behaves as expected.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TINY = {"daily_full": 0.05, "daily_incremental": 0.05, "corpus_dedup": 0.1}
CASES = [  # (workload, perturbation, expected `correct`)
    ("daily_full", None, True),
    ("daily_incremental", None, True),
    ("corpus_dedup", None, True),
    ("daily_full", "feature", False),
    ("daily_full", "document", False),
    ("daily_full", "golden", False),
    ("corpus_dedup", "pairs", False),
    ("corpus_dedup", "clean", False),
]


def check_manifest():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END, \
        "BENCHMARK.json end_to_end != run.END_TO_END"
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER, \
        "BENCHMARK.json per_layer != run.PER_LAYER"
    unknown = {w["name"] for w in bench["workloads"]} - set(run.WORKLOADS)
    assert not unknown, f"BENCHMARK.json names unknown workloads {unknown}"


def main():
    check_manifest()
    print("manifest ok", flush=True)
    bad = 0
    for i, (w, perturb, want) in enumerate(CASES):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(100 + i),
               "--seconds", "1", "--trace", "0", "--copies", str(TINY[w])]
        if perturb:
            cmd += ["--perturb", perturb]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            got = json.loads(last)["correct"]
        except ValueError:
            got = None
        ok = p.returncode == 0 and got == want
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {w} perturb={perturb}: correct={got} (want {want})",
              flush=True)
        if not ok:
            sys.stderr.write(p.stderr[-3000:])
    print(f"{len(CASES) - bad}/{len(CASES)} cases as expected")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
