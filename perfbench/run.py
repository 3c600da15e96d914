"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds the program from source
(reused after the first run), stages seeded inputs in a scratch
directory of its own, starts one JVM that warms up and then times a
fixed number of whole rounds of the workload, derived from `--seconds`
alone (`rounds_for`), checks the outputs against
DuckDB or an exact recomputation, removes its scratch directory and
prints one JSON object as the last line of standard output. `--trace 1`
attaches the listeners and prints the per-layer metrics instead of the
end-to-end ones; its spans land in `.bench_out/`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.time()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
DEADLINE_S = 170

# Sizes of one workload's inputs; see README.md for why each was chosen.
TOPOLOGY = dict(files=12, rows_per_file=250, warm_files=4)
CORPUS = dict(docs=60, warm_docs=16)
BATCH = dict(scale=0.05)

# The timed work is a fixed number of whole rounds: `--seconds` divided
# by a round's nominal time on a quiet 4-vCPU host, and at least
# MIN_ROUNDS, so every run of the same `--seconds` times the same work.
ROUND_S = {"topology": 12.0, "batch_mix": 8.0}
MIN_ROUNDS = {"topology": 1, "batch_mix": 3}

# family:entry, one entry per family of registry operators. Each is
# oracle-green on these inputs, has an oracle that reads only the base
# tables, and is not in Bench.amortizedEntries. The cold corpus build is
# the sixth member of every round (family "corpus").
BATCH_ENTRIES = [
    "relational:q1_pricing_summary", "analytics:q66_sessionize_scan",
    "graph:graph_assortativity", "warehouse:meta_benford", "text:text_pii_scrub",
]

PER_LAYER = [
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_s", "sched_gap_s",
    "stream.addBatch_ms", "stream.queryPlanning_ms", "stream.walCommit_ms",
    "stream.commitOffsets_ms", "stream.latestOffset_ms", "stream.getBatch_ms",
    "stream.triggerExecution_ms", "state.commit_ms", "state.rows", "state.memory_bytes",
    "sink.rows", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "artifact.builds", "artifact.build_s", "artifact.bytes",
    "family.relational_s", "family.analytics_s", "family.graph_s", "family.warehouse_s",
    "family.text_s", "family.corpus_s",
    "wall.items_per_s", "wall.batch_ms_p50", "wall.query_ms_p50",
]
STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
                 "getBatch"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def write_parts(table, out_dir, n_files, first_mtime=1_700_000_000):
    """Split `table` in order into `n_files` parquet files whose mtimes
    increase with the part number, so a file stream takes them in order."""
    out_dir.mkdir(parents=True)
    rows = table.num_rows
    for i in range(n_files):
        lo, hi = rows * i // n_files, rows * (i + 1) // n_files
        p = out_dir / f"part-{i:05d}.parquet"
        gen.write(table.slice(lo, hi - lo), p)
        os.utime(p, (first_mtime + i, first_mtime + i))


def rounds_for(workload, seconds):
    return max(MIN_ROUNDS[workload], round(seconds / ROUND_S[workload]))


def stage_corpus(seed, warm, rounds, inputs):
    """The corpus build's documents: a reference copy for the checks and
    one cold copy per round (the program keys its artifact cache on the
    part files' names, so every copy is a table it has not seen), plus a
    smaller table of other documents for the warm-up."""
    docs = gen.documents(seed, CORPUS["docs"])
    (inputs / "reference").mkdir(parents=True)
    gen.write(docs, inputs / "reference" / "documents.parquet")
    for i in range(rounds):
        d = inputs / "copies" / f"c{i:04d}" / "documents.parquet"
        d.mkdir(parents=True)
        shutil.copyfile(inputs / "reference" / "documents.parquet", d / f"part-c{i:04d}.parquet")
    d = inputs / "warm_copies" / "w0" / "documents.parquet"
    d.mkdir(parents=True)
    gen.write(gen.documents(warm, CORPUS["warm_docs"]), d / "part-w0.parquet")


def stage(workload, seed, rounds, inputs):
    """Writes the run's inputs; returns the settings the JVM needs."""
    warm = seed + 7_919_000  # warm-up inputs differ from the timed ones
    props = {}
    if workload == "topology":
        c = TOPOLOGY
        ev = gen.events(seed, c["files"] * c["rows_per_file"])
        write_parts(ev, inputs / "backlog", c["files"])
        write_parts(gen.events(warm, c["warm_files"] * c["rows_per_file"]),
                    inputs / "warm_backlog", c["warm_files"])
        props["topology.rows"] = ev.num_rows
    else:
        (inputs / "tables").mkdir(parents=True)
        for name, t in gen.all_tables(seed, BATCH["scale"]).items():
            gen.write(t, inputs / "tables" / f"{name}.parquet")
        stage_corpus(seed, warm, rounds, inputs)
        props["batch.entries"] = ",".join(BATCH_ENTRIES)
    return props


def host_sample():
    """CPU steal and load of the host, from /proc: diagnostics only."""
    try:
        cpu = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
        load = Path("/proc/loadavg").read_text().split()[:3]
        return {"cpu_jiffies": sum(int(x) for x in cpu), "steal_jiffies": int(cpu[7]),
                "load": [float(x) for x in load]}
    except (OSError, IndexError, ValueError):
        return {}


def host_delta(a, b):
    if not a or not b:
        return {}
    total = b["cpu_jiffies"] - a["cpu_jiffies"]
    steal = b["steal_jiffies"] - a["steal_jiffies"]
    return {"steal_share": round(steal / total, 4) if total else 0.0,
            "load_before": a["load"], "load_after": b["load"]}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 100 else None


def pass_ms(result, key):
    """batch_mix: one pass over the list with every member at its median
    (wall or CPU) milliseconds, so one slow sample does not move the pass."""
    return sum(median(xs) for xs in result["notes"][key].values())


def end_to_end(workload, result, setup_s):
    """The gated metrics: set-up time and work done per CPU-second of the
    JVM. CPU time leaves out the time other tenants steal from the host's
    vCPUs, which moves every wall-clock figure far more (see README.md)."""
    if workload == "topology":
        rate = result["items"] / (sum(result["round_cpu_ms"]) / 1e3)
    else:
        per_pass = result["items"] / result["rounds"]
        rate = per_pass / (pass_ms(result, "member_cpu_ms") / 1e3)
    return {"setup_s": setup_s, "items_per_cpu_s": rate}


def wall(workload, result):
    """Wall-clock figures: diagnostics of every run, per-layer metrics of a
    traced one."""
    if workload == "topology":
        rate = result["items"] / (sum(result["round_ms"]) / 1e3)
        batch = median(result["batch_ms"])
    else:
        batch = pass_ms(result, "member_ms")
        rate = result["items"] / result["rounds"] / (batch / 1e3)
    return {"items_per_s": rate, "batch_ms_p50": batch, "query_ms_p50": median(result["query_ms"])}


def per_layer(result, e2e, walls):
    rounds = result["rounds"]
    notes = result["notes"]
    m = {k: 0.0 for k in PER_LAYER}
    m.update(result["layers"])
    for p in result["progress"]:
        d = p["durationMs"]
        for ph in STREAM_PHASES + ["triggerExecution"]:
            m[f"stream.{ph}_ms"] += d.get(ph, 0) / rounds
        for op in p.get("stateOperators", []):
            m["state.commit_ms"] += op.get("commitTimeMs", 0) / rounds
            m["state.rows"] = max(m["state.rows"], op.get("numRowsTotal", 0))
            m["state.memory_bytes"] = max(m["state.memory_bytes"], op.get("memoryUsedBytes", 0))
    m["sink.rows"] = notes.get("sink_rows", 0)
    builds = notes.get("artifact_builds", 0)
    m["artifact.builds"] = builds / rounds
    m["artifact.build_s"] = median(notes["build_ms"]) / 1e3 if builds else 0.0
    m["artifact.bytes"] = notes.get("artifact_bytes_per_build", 0)
    for fam, xs in notes.get("member_ms", {}).items():
        m[f"family.{fam}_s"] = median(xs) / 1e3
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    for k, v in walls.items():
        m[f"wall.{k}"] = v
    return m


def phase_problems(result):
    """Each micro-batch's phases must fit inside its triggerExecution;
    each phase is rounded to whole milliseconds on its own."""
    bad = []
    for p in result["progress"]:
        d = p["durationMs"]
        parts = sum(d.get(ph, 0) for ph in STREAM_PHASES)
        if parts > d.get("triggerExecution", 0) + len(STREAM_PHASES):
            bad.append(f"batch {p['batchId']} of {p['name'] or p['id']}: phases {parts} ms > "
                       f"triggerExecution {d.get('triggerExecution')} ms")
    return bad[:3]


def unit_of(name):
    if name in ("jobs", "stages", "tasks", "artifact.builds", "state.rows", "sink.rows"):
        return "count"
    if name.endswith("_bytes") or name == "artifact.bytes":
        return "bytes"
    if name.endswith("_ms") or name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_per_cpu_s"):
        return "1/cpu-s"
    if name.endswith("_per_s"):
        return "1/s"
    return "s"


def java_cmd(classpath, run, props_file):
    return (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={run / 'tmp'}",
             "-Dspark.ui.enabled=false"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", ":".join(classpath), "perfbench.Main", str(props_file)])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(ROUND_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="leave the run directory in place (for the checks' own test)")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    classpath = build.build(root)
    run = root / ".bench_run" / f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "checkpoints", "inputs", "out"):
        (run / d).mkdir(parents=True)
    proc = None
    try:
        rounds = rounds_for(a.workload, a.seconds)
        props = stage(a.workload, a.seed, rounds, run / "inputs")
        props.update(workload=a.workload, rounds=rounds, trace=a.trace, cpus=CPUS, run=run)
        props_file = run / "run.properties"
        props_file.write_text("".join(f"{k}={v}\n" for k, v in props.items()))
        host0 = host_sample()
        launched = time.time()
        with open(run / "jvm.log", "w") as log:
            proc = subprocess.Popen(java_cmd(classpath, run, props_file), stdout=log,
                                    stderr=subprocess.STDOUT, cwd=run)
            try:
                code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - T_START)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        host1 = host_sample()
        if code != 0:
            sys.stderr.write((run / "jvm.log").read_text()[-6000:])
            raise SystemExit(f"run: JVM ended with {code}")
        outputs = checks.load(a.workload, run)
        result = outputs["result"]
        problems = checks.check(a.workload, run, outputs, props)
        if a.trace:
            problems += phase_problems(result)
        e2e = end_to_end(a.workload, result, result["setup_end_ms"] / 1e3 - launched)
        walls = wall(a.workload, result)
        metrics = per_layer(result, e2e, walls) if a.trace else e2e
        diag = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": CPUS,
            "rounds": result["rounds"], "timed_s": round(result["timed_s"], 3),
            "wall": walls, "round_ms": result["round_ms"], "round_cpu_ms": result["round_cpu_ms"],
            "samples": {"batch_ms": len(result["batch_ms"]), "query_ms": len(result["query_ms"])},
            "p90": {"batch_ms": p90(result["batch_ms"]), "query_ms": p90(result["query_ms"])},
            "jvm_s": {"start": round(result["jvm_start_ms"] / 1e3 - launched, 3),
                      "session": round((result["session_ms"] - result["jvm_start_ms"]) / 1e3, 3),
                      "warmup": round((result["setup_end_ms"] - result["session_ms"]) / 1e3, 3)},
            "host": host_delta(host0, host1), "jvm_gc_ms": result["jvm_gc_ms"],
            "notes": {k: v for k, v in result["notes"].items()
                      if k not in ("input_rows_per_query", "sink_path")},
            "problems": problems,
        }
        if a.trace:
            out = root / ".bench_out"
            out.mkdir(exist_ok=True)
            spans = out / f"spans-{a.workload}-s{a.seed}.json"
            shutil.copyfile(run / "spans.json", spans)
            diag["spans"] = str(spans.relative_to(root))
        if a.keep:
            diag["kept"] = str(run)
        print(json.dumps(diag))
        print(json.dumps({
            "correct": not problems,
            "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)
            parent = run.parent
            if parent.is_dir() and not any(parent.iterdir()):
                parent.rmdir()


if __name__ == "__main__":
    main()
