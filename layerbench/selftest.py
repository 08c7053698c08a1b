"""Self-test of the layered benchmark on tiny inputs.

    python3 layerbench/selftest.py

Runs one traced operation per workload on tiny inputs (tables at 1% of
the benchmark's scale, a 1 MB Zipf text) and asserts that
* every output check passes and no operation fails;
* every end-to-end and per-layer metric is present with its unit;
* the telemetry the benchmark relies on is read, not silently zero:
  `sources.jobs` and `observe.ops_reporting` on the rows workload and
  every `drain.*` metric on the drains workload.
It also checks that `BENCHMARK.json` names exactly the workloads and
metrics (with their units) that `run.py` produces. Exits 1 when any
assertion fails.
"""
import json
import os
import sys

import run

CASES = {
    "wordcount_zipf": ("wordcount", []),
    "rows_sf0.1": ("q_dedup_ngram_df", ["sources.jobs", "observe.ops_reporting"]),
    "drains_sf0.1": ("q_wordcount_freq_stream",
                     [k for k, _ in run.PER_LAYER if k.startswith("drain.")]),
}


def manifest_errors():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs = []
    if [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
        errs.append("BENCHMARK.json workloads differ from run.WORKLOADS")
    for key, spec in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        if [(m["name"], m["unit"]) for m in bench[key]] != spec:
            errs.append(f"BENCHMARK.json {key} differs from run.py")
    return errs


def main():
    bad = manifest_errors()
    for e in bad:
        print(e)
    for workload, (op, nonzero) in CASES.items():
        rec = run.run(workload, seed=1, seconds=1, trace=1, ops=[op], setups=1,
                      scale=0.01, zipf_mb=1)
        e2e = run.metrics(rec, rec["input_bytes"], trace=0)
        layers = rec["metrics"]
        errs = [f"{f['op']} ({f['pass']}): {f['error']}" for f in rec["failures"]]
        for table, spec in ((e2e, run.END_TO_END), (layers, run.PER_LAYER)):
            errs += [f"{k}: missing or not in {u}" for k, u in spec
                     if table.get(k, {}).get("unit") != u]
        errs += [f"{k} reads 0" for k in nonzero if not layers.get(k, {}).get("value")]
        print(f"{workload} ({op}): {'ok' if not errs else 'FAILED'}")
        for e in errs:
            print(f"  {e}")
        bad += errs
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
