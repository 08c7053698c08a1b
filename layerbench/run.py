"""Layered benchmark of the graft engine: one command, one workload per run.

    python3 layerbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run builds the program from source
(`build.py`), makes the workload's inputs from the seed
(`gen_inputs.py`, cached under `.layerbench/cache`), and drives one
`local[4]` JVM (`src/graftbench/LayerBench.scala`): a closed loop of one
client, one operation at a time. The JVM sets the session up three times
(each setup is a session build plus one checked pass), then runs timed
passes for S seconds. Afterwards every checked output is compared with
its DuckDB oracle here.

With `--trace 0` the last stdout line carries the end-to-end metrics
(`wall_s`, `mb_per_s`, `setup_s`, `peak_rss_mb`); with `--trace 1` the
tracer is attached on alternate passes and the line carries the
per-layer metrics, medians over the traced passes. The full run record
goes to `.layerbench/records/`; `diff.py` compares two of them.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".layerbench")
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_inputs  # noqa: E402

CORES = 4
SETUPS = 3
TABLE_SEED = 42   # the row workloads read fixed tables; --seed orders the ops
TABLE_SCALE = 1   # 5,000 documents and 100,000 events: sf0.1's sizes
ZIPF_MB = 6

# name -> (operations, tables read). Row names are `SparkEntry.queries`
# keys; `wordcount` is WordCountApp's body over the Zipf text.
WORKLOADS = {
    # the reference's own query with a large vocabulary: data work
    # (tokenize, aggregate, shuffle, sort, sinks), no construction jobs
    "wordcount_zipf": (["wordcount"], []),
    # fixed cost: every row infers its table's schema in a construction
    # job and runs small stages; the n-gram row carries an observe guard
    "rows_sf0.1": (["q_wordcount_freq", "q_events_funnel", "q_dedup_ngram_df"],
                   ["documents", "events"]),
    # the streaming layer: the whole drain runs inside the registry call
    "drains_sf0.1": (["q_wordcount_freq_stream"], ["documents"]),
}

END_TO_END = [("wall_s", "s"), ("mb_per_s", "MB/s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("construct.ms", "ms"), ("construct.jobs", "count"),
    ("sources.jobs", "count"), ("sources.ms", "ms"),
    ("scan.bytes_read", "bytes"), ("scan.records_read", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.tasks_per_stage", "ratio"), ("sched.one_task_stages", "count"),
    ("sched.stage_wall_ms", "ms"), ("sched.task_skew", "ratio"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.deser_ms", "ms"), ("exec.cpu_share", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "bytes"),
    ("wc.map_ms", "ms"), ("sink.alpha_ms", "ms"), ("sink.freq_ms", "ms"),
    ("sink.bytes_written", "bytes"),
    ("drain.batches", "count"), ("drain.input_rows", "count"),
    ("drain.trigger_ms", "ms"), ("drain.add_batch_ms", "ms"),
    ("drain.planning_ms", "ms"), ("drain.wal_ms", "ms"),
    ("drain.state_commit_ms", "ms"), ("drain.state_rows", "count"),
    ("drain.idle_ms", "ms"),
    ("observe.ops_reporting", "count"), ("jvm.gc_ms", "ms"),
    ("process.cpu_s", "s"), ("trace.overhead_frac", "ratio"),
]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap():
    """The JVM heap: SPARK_DRIVER_MEM, else half of RAM in GiB, 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def make_inputs(tables, seed, scale, zipf_mb):
    """Return (data_dir, text_path, input_stats, input_bytes)."""
    cache = os.path.join(STATE, "cache")
    if not tables:
        path, stats = gen_inputs.cached(
            cache, f"zipf-s{seed}-{zipf_mb}mb.txt",
            lambda p: gen_inputs.zipf_text(p, seed, zipf_mb))
        return "", path, stats, stats["bytes"]
    path, stats = gen_inputs.cached(
        cache, f"tables-s{TABLE_SEED}-x{scale}",
        lambda p: gen_inputs.doc_tables(p, TABLE_SEED, scale))
    return path, "", stats, sum(stats[t]["bytes"] for t in tables)


def run_jvm(cp, work, props, deadline):
    with open(os.path.join(work, "run.properties"), "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM options as build.sbt sets them, plus a fixed young generation:
    # with G1 sizing it adaptively, peak RSS of the same word-count run
    # swung by half between runs (1.9 vs 2.9 GB on a 4-vCPU, 16 GB VM)
    cmd = (["java"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap()}", "-Xmn512m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.LayerBench",
            os.path.join(work, "run.properties")])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("layerbench: the JVM was stopped before it finished")
        signal.signal(signal.SIGTERM, stop)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except (subprocess.TimeoutExpired, KeyboardInterrupt):
            stop()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"layerbench: the JVM exited with {p.returncode}")
    with open(os.path.join(work, "out", "record.json")) as f:
        return json.load(f)


def pass_layers(p):
    """One pass's per-layer sums, with the ratios derived from them."""
    tot = {}
    for op in p["ops"]:
        for k, v in op["layers"].items():
            if k == "sched.task_skew":
                tot[k] = max(tot.get(k, 0.0), v)
            else:
                tot[k] = tot.get(k, 0.0) + v
        lay = op["layers"]
        if lay.get("drain.batches", 0) > 0:
            tot["drain.idle_ms"] = tot.get("drain.idle_ms", 0.0) + (
                lay.get("construct.ms", 0.0) - lay.get("drain.trigger_ms", 0.0))
    tot["sched.tasks_per_stage"] = (tot.get("sched.tasks", 0.0) /
                                    tot["sched.stages"]) if tot.get("sched.stages") else 0.0
    tot["exec.cpu_share"] = (tot.get("exec.cpu_ms", 0.0) /
                             tot["exec.run_ms"]) if tot.get("exec.run_ms") else 0.0
    tot["jvm.gc_ms"] = p["jvm.gc_ms"]
    tot["process.cpu_s"] = p["process.cpu_s"]
    return tot


def metrics(rec, in_bytes, trace):
    """End-to-end metrics (trace 0) or per-layer metrics (trace 1)."""
    med = statistics.median
    passes = rec["passes"]
    plain = [p["wall_s"] for p in passes if not p["traced"]]
    if not trace:
        vals = {"wall_s": med(plain), "mb_per_s": in_bytes / 1e6 / med(plain),
                "setup_s": med(rec["setups_s"]), "peak_rss_mb": rec["peak_rss_mb"]}
        return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
    traced = [p for p in passes if p["traced"]]
    sums = [pass_layers(p) for p in traced]
    vals = {k: med([s.get(k, 0.0) for s in sums]) for k, _ in PER_LAYER}
    vals["trace.overhead_frac"] = med([p["wall_s"] for p in traced]) / med(plain) - 1
    return {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER}


def run(workload, seed, seconds, trace, ops=None, setups=SETUPS,
        scale=TABLE_SCALE, zipf_mb=ZIPF_MB):
    """One benchmark run; returns its record (also written to
    `.layerbench/records/`)."""
    t_start = time.time()
    deadline = t_start + 170
    os.chdir(ROOT)
    cp = build.build()
    all_ops, tables = WORKLOADS[workload]
    ops = [o for o in all_ops if ops is None or o in ops]
    random.Random(seed).shuffle(ops)
    data, text, stats, in_bytes = make_inputs(tables, seed, scale, zipf_mb)

    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    try:
        rec = run_jvm(cp, work, {
            "out": os.path.join(work, "out"), "data": data, "text": text,
            "ops": ",".join(ops), "seconds": seconds, "setups": setups,
            "trace": trace, "cores": CORES}, deadline)
        check = checks.check(os.path.join(work, "out", "check"), ops, data, text)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = rec["failures"] + [{"op": op, "pass": "oracle", "error": err}
                                  for op, err in check.items() if err]
    rec.update(workload=workload, seed=seed, seconds=seconds, input=stats,
               input_bytes=in_bytes, oracle=check, failures=failures,
               metrics=metrics(rec, in_bytes, trace), elapsed_s=time.time() - t_start)
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(os.path.join(STATE, "records", tag + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    return rec


def main():
    ap = argparse.ArgumentParser(description="Layered benchmark of the graft engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    rec = run(a.workload, a.seed, a.seconds, a.trace)
    failures, attempted = rec["failures"], rec["attempted"]
    for fl in failures:
        print(f"FAILED {fl['op']} ({fl['pass']}): {fl['error']}")
    print(f"{a.workload} seed={a.seed} ops={','.join(rec['ops'])} passes={len(rec['passes'])} "
          f"input_bytes={rec['input_bytes']} failed_frac={len(failures) / attempted:.4f}")
    for k, m in rec["metrics"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
