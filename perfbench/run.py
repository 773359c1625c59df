#!/usr/bin/env python3
"""The repository's benchmark: both faces of the graft CDC processor.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see NOTES.md for why each was chosen and what was left out):

    batch_modules           the reference's surface as batch twins, then
                            graph, dedup, text retrieval, sim, multimodal
    stream_stateful_replay  six stateful pipelines, one event file per trigger
    stream_app_backlog      GraftApp drains a 1M-event backlog (not in
                            BENCHMARK.json: too slow for the run budget)

One run builds the program and the harness from source if a source or
build file changed (sbt, offline; the program through its own root
build), generates the workload's inputs from the seed, runs the JVM half
(`graftbench.Main`), checks the outputs (batch: against the DuckDB oracle
of every query, with scripts/check_oracle.py; streams: against the batch
twins, inside the JVM), prints one `metric` line per measured value, one
`query` line per batch query, a `stamp` line of host facts, and as its
last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (listeners attached; spans written to
perfbench/.work/<run>/spans.jsonl).

Everything the run writes stays inside the checkout: the build's target/
directories and perfbench/.work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # the whole run, build excluded

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms")]
REPLAY_PIPELINES = ["balance_updates", "rolling_spend", "twab_updates",
                    "fraud_alerts", "dormancy_alerts", "daily_spend"]
PER_LAYER = (
    [(f"{m}.query_s", "s") for m in
     ["cdc", "ops", "graph", "dedup", "text", "sim", "multimodal"]] +
    [("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
     ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.input_mb", "MB"),
     ("plan.exchanges", "count"), ("plan.reused_exchanges", "count"),
     ("plan.broadcasts", "count"), ("plan.smj", "count"),
     ("plan.inmemory_relations", "count"),
     ("plan.exchange_reuse_ratio", "ratio"),
     ("cache.leaked_plans", "count"),
     ("source.rows_read", "count"), ("source.rows_per_event", "ratio"),
     ("source.get_batch_ms", "ms"), ("source.latest_offset_ms", "ms"),
     ("state.rows_total", "count"), ("state.mem_mb", "MB"),
     ("state.commit_ms", "ms"), ("state.updates_ms", "ms"),
     ("state.removals_ms", "ms"),
     ("state.rows_dropped_by_watermark", "count"),
     ("streaming.planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.commit_offsets_ms", "ms")] +
    [(f"pipeline.{p}.{k}", u) for p in REPLAY_PIPELINES
     for k, u in [("add_batch_ms", "ms"), ("rows_out", "count")]] +
    [("traced.pass_s", "s")])
# reported beside the BENCHMARK.json metrics, by the names users know
REPORTED = {"op_p90_ms": "ms", "query_p50_s": "s", "events_per_s": "1/s",
            "microbatch_p50_ms": "ms", "microbatch_p90_ms": "ms",
            "microbatch_pairs": "count", "queries": "count",
            "events": "count"}

# replay feed: 5 files x 20k events, 10k accounts, 16 h of event time
# each: 80 h in all, so that day windows (1 day) and dormancy sessions
# (48 h gap) close and emit within the run
REPLAY = dict(n_files=5, per_file=20000, n_accounts=10000, hours_per_file=16)

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                          "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(d, f) for d in (ROOT, HERE)
                    for f in ("build.sbt", os.path.join("project",
                                                        "build.properties"))])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program (its own root build) and the harness with sbt,
    offline, and returns the runtime classpath; skipped when no source or
    build file changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources at src/main/scala; run from a checkout root")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    digest = sources_digest()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def make_inputs(workload, seed, data):
    if workload == "batch_modules":
        return gen.batch_corpus(seed, data)
    if workload == "stream_app_backlog":
        return gen.backlog_feed(seed, data)
    return gen.replay_feed(seed, os.path.join(data, "feed"),
                           os.path.join(data, "twin"), **REPLAY)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat; None
    where the host has no such file. Steal is the time the hypervisor ran
    other guests on this VM's CPUs: the co-tenant load a run shared."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return t[7], sum(t)


def prefetch(cp):
    """Reads every classpath jar once, so that the JVM's class loading is
    served from the page cache on every run rather than from disk on
    some: set-up is the program's work, not the disk's."""
    for entry in cp.split(os.pathsep):
        if entry.endswith(".jar") and os.path.isfile(entry):
            with open(entry, "rb") as f:
                while f.read(1 << 20):
                    pass


def run_jvm(cp, workload, data, work, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               GRAFT_MEDIA_PATH=os.path.join(data, "media.parquet"))
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", workload, data, work, str(trace)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"JVM overran the deadline; log in {log.name}")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_check(data, work, deadline):
    """Replays each query's DuckDB oracle over the same inputs with the
    repository's own checker (scripts/check_oracle.py: column names,
    dtypes, then the rows, order-insensitive) and returns its per-query
    verdicts, {query: {"ok", "rows" | "why"}}."""
    summary = os.path.join(work, "oracle_summary.json")
    with open(os.path.join(work, "oracle.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
             data, os.path.join(work, "out"), summary],
            cwd=work, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"oracle check overran the deadline; log in {log.name}")
    if not os.path.exists(summary):
        with open(os.path.join(work, "oracle.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die("oracle check wrote no summary")
    with open(summary) as f:
        return json.load(f)["queries"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_modules", "stream_stateful_replay",
                             "stream_app_backlog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    deadline = time.time() + DEADLINE_S
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    data = os.path.join(work, "data")
    os.makedirs(work)
    t = time.time()
    inputs = make_inputs(a.workload, a.seed, data)
    gen_s = time.time() - t

    prefetch(cp)
    ticks0 = cpu_ticks()
    res = run_jvm(cp, a.workload, data, work, a.trace, deadline)
    ticks1 = cpu_ticks()
    failed = int(res["failed"])
    notes = list(res["notes"])
    verdicts = oracle_check(data, work, deadline) if res["query_s"] else {}
    for q, seconds in res["query_s"]:
        v = verdicts.get(q, {"ok": False, "why": "not checked"})
        if v["ok"]:
            print(f"query {q} {seconds!r} s {v['rows']} rows ok")
        else:
            print(f"query {q} {seconds!r} s FAIL {v['why']}")
            failed += 1
            notes.append(f"{q}: {v['why']}")
    attempted = int(res["attempted"])

    e2e = dict(res["end_to_end"], setup_s=res["setup_s"])
    for name, unit in END_TO_END + sorted(REPORTED.items()):
        if name in e2e:
            print(f"metric {name} {e2e[name]!r} {unit}")
    print(f"metric fail_ratio {failed / max(attempted, 1)!r} ratio")
    layers = res["layers"]
    if a.trace:
        for name, unit in PER_LAYER:
            print(f"metric {name} {layers.get(name, 0.0)!r} {unit}")
    for n in notes:
        print(f"note {n}")
    stamp = dict(res["host"], workload=a.workload, seed=a.seed, sf="0.1",
                 seconds=a.seconds, trace=a.trace, gen_s=round(gen_s, 3),
                 inputs=inputs)
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        stamp["steal_pct"] = round(
            100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 2)
    print("stamp " + json.dumps(stamp, sort_keys=True))

    if a.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
