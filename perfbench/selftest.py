#!/usr/bin/env python3
"""The benchmark's self-tests. Run from the repository root:

    python3 perfbench/selftest.py

Checks that:
  - the same seed gives the identical op sequence and texts (and the tail
    percentile rule), via the harness's perfbench.SelfTest;
  - the correctness gate's digest check catches a planted wrong row, a
    missing row and a reordered result, and compares an async result as a
    multiset;
  - run.py prints every metric BENCHMARK.json names, each with its unit,
    the harness emits exactly the declared per-layer metrics, and
    workloads.json records the pinned pipeline operators the harness runs.
"""
import datetime
import decimal
import json
import os
import subprocess
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import oracle  # noqa: E402
import run  # noqa: E402


def test_digest_catches_planted_rows():
    rows = [{"orderkey": i, "quantity": 1.5 * i, "price": decimal.Decimal(f"{i}.25"),
             "shipdate": datetime.date(1996, 1, 1 + i), "returnflag": "NAR"[i % 3]}
            for i in range(1, 20)]
    good = pa.Table.from_pylist(rows)
    assert oracle.compare(good, good) is None

    wrong = [dict(r) for r in rows]
    wrong[7]["quantity"] += 0.01
    assert oracle.compare(pa.Table.from_pylist(wrong), good)
    assert oracle.compare(pa.Table.from_pylist(rows[:-1]), good)
    swapped = rows[1:2] + rows[:1] + rows[2:]
    assert oracle.compare(pa.Table.from_pylist(swapped), good)
    # async results are multisets: order is free, a wrong row still fails
    assert oracle.compare(pa.Table.from_pylist(swapped), good, ordered=False) is None
    assert oracle.compare(pa.Table.from_pylist(wrong), good, ordered=False)

    # float noise far below 9 significant digits is not a mismatch
    noisy = [dict(r, quantity=r["quantity"] * (1 + 1e-14)) for r in rows]
    assert oracle.compare(pa.Table.from_pylist(noisy), good) is None


def test_metrics_declared(layer_names):
    """run.py prints what BENCHMARK.json declares, with its units; the
    harness emits exactly the declared per-layer names, and run.py adds
    failed_frac; each declared unit matches the metric's name."""
    e2e, per_layer = run.declared(os.path.join(HERE, ".."))
    assert set(e2e) == {"setup_s", "peak_rss_mb", "ok_frac", "throughput_per_s",
                        "p50_ms", "p75_ms"}, e2e
    assert set(per_layer) == set(layer_names) | {"failed_frac"}, (
        set(per_layer) ^ (set(layer_names) | {"failed_frac"}))
    suffix_units = {"_per_s": "1/s", "_ms": "ms", "_s": "s", "_bytes": "bytes",
                    "_frac": "fraction", "_mb": "MB"}
    for name, unit in list(e2e.items()) + list(per_layer.items()):
        want = next((u for sfx, u in suffix_units.items() if name.endswith(sfx)), None)
        assert want is None or want == unit, (name, unit)
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_pinned_operators(pipeline):
    pinned = json.load(open(os.path.join(HERE, "workloads.json")))["pipeline_operators"]
    assert pinned == pipeline, f"workloads.json {pinned} != harness {pipeline}"


def main():
    root = os.getcwd()
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    cp, _ = run.build(root, cache)
    out = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        print(out.stderr, file=sys.stderr)
        sys.exit(1)
    text = out.stdout.splitlines()
    layers = text[text.index("LAYERS") + 1:text.index("PIPELINE")]
    pipeline = [l.split() for l in text[text.index("PIPELINE") + 1:]]
    test_digest_catches_planted_rows()
    test_metrics_declared(layers)
    test_pinned_operators(pipeline)
    print(f"selftest ok: seeds, tail rule, digest, {len(layers) + 1} per-layer "
          f"metrics, {len(pipeline)} pinned operators")


if __name__ == "__main__":
    main()
