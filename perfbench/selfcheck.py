"""Self-checks of the benchmark itself (no Spark session is started):

1. the same seed yields byte-identical generated inputs, and another
   seed yields different ones;
2. BENCHMARK.json's workload and metric names follow the name and unit
   charsets, are unique, and match the workloads this benchmark runs;
3. the tail-percentile rule picks the highest percentile that still has
   at least ten samples above it.

Run from the root of a checkout: ``python3 perfbench/selfcheck.py``.
Exits 0 when every check passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

import gen
import run


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in sorted(files):
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(d: str, seed: int) -> dict[str, str]:
    gen.generate(os.path.join(d, "data"), 0.01, seed)
    gen.replicate_events(os.path.join(d, "data"), os.path.join(d, "ev"), 2, 2)
    for i, b in enumerate(gen.cdc_batches(
            np.random.default_rng([seed, 1]), 500, 2, 100)):
        gen.write_table(b, os.path.join(d, f"cdc{i}.parquet"))
    return _digest(d)


def check_inputs() -> list[str]:
    base = os.path.join(run.ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    try:
        a = _inputs(os.path.join(base, "a"), 7)
        b = _inputs(os.path.join(base, "b"), 7)
        c = _inputs(os.path.join(base, "c"), 8)
    finally:
        run.remove_work(base)
    errors = []
    if a != b:
        errors.append("same seed, different inputs: "
                      + ", ".join(k for k in a if a[k] != b.get(k)))
    if a == c:
        errors.append("different seeds, identical inputs")
    return errors


def check_names() -> list[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    seen: set[str] = set()
    for m in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]:
        if not run.NAME_RE.match(m["name"]) or m["name"] in seen:
            errors.append(f"bad or repeated name {m['name']!r}")
        seen.add(m["name"])
        if "unit" in m and not run.UNIT_RE.match(m["unit"]):
            errors.append(f"bad unit {m['unit']!r} of {m['name']}")
    sys.path.insert(0, run.ROOT)
    import workloads  # the package import is what needs ROOT

    declared = [w["name"] for w in spec["workloads"]]
    if sorted(declared) != sorted(workloads.WORKLOADS):
        errors.append(f"workloads {declared} != {sorted(workloads.WORKLOADS)}")
    e2e = {m["name"] for m in spec["end_to_end"]}
    if e2e != {"setup_s", "cpu_ms_per_op", "peak_rss_nonheap_mb"}:
        errors.append(f"end-to-end metrics {sorted(e2e)} differ from run.py")
    layers = set(run.RUN_LAYERS).union(
        *(w.LAYERS for w in workloads.WORKLOADS.values()))
    declared = {m["name"] for m in spec["per_layer"]}
    if layers != declared:
        errors.append(f"per-layer metrics no workload produces: "
                      f"{sorted(declared - layers)}; produced, not declared: "
                      f"{sorted(layers - declared)}")
    return errors


def check_tail_rule() -> list[str]:
    errors = []
    if run.tail_percentile(list(range(10))) is not None:
        errors.append("10 samples must give no tail")
    cases = {11: (9.0, 0), 20: (50.0, 9), 60: (83.3, 49), 100: (90.0, 89),
             1000: (99.0, 989)}
    for n, want in cases.items():
        got = run.tail_percentile([float(i) for i in range(n)])
        if got != (want[0], float(want[1])):
            errors.append(f"n={n}: got {got}, want {want}")
    for n in range(11, 3000):
        p, v = run.tail_percentile([float(i) for i in range(n)])
        beyond = n - 1 - v
        # one step (0.1) higher must leave fewer than ten samples above
        nxt = -(-(round(p * 10) + 1) * n // 1000)
        if beyond < 10 or (p < 100 and n - nxt >= 10):
            errors.append(f"n={n}: p{p} leaves {beyond} samples above")
            break
    return errors


def main() -> int:
    failed = False
    for check in (check_tail_rule, check_names, check_inputs):
        errors = check()
        print(f"{check.__name__}: {'ok' if not errors else 'FAILED'}")
        for e in errors:
            print(f"  {e}")
        failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
