#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per run.

    python3 perfbench/run.py --workload etl_rerun --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine with the
repository's own sbt build and the harness in perfbench/harness; later
runs reuse both while the sources are unchanged. Each run then makes its
data drops from the seed, drives the workload's queries in one JVM,
checks every output against DuckDB and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything a run writes stays under .perfbench/ in the checkout and is
deleted when the run ends, except the run record (every rep, and the
spans and layers of a traced run) in .perfbench/records/.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import drop as drops  # noqa: E402

ORACLE_CHECK = os.path.join(ROOT, "tools", "oracle_check.py")

# Each registered query belongs to exactly one workload, by name prefix.
# A run drives the workload's fixed selection; --full drives every
# member. The selection is derived from a --full sweep by picks.py:
# `layers` (first match wins) split the members, each layer gets a share
# of the `n_picks` picks by its size, and the picks stratify the layer
# by per-query latency. `pass_s` is the nominal pass length that turns
# --seconds into a pass count, so every run of a workload measures the
# same number of passes. `warm_passes` untimed passes come first: after
# one, etl_rerun's first timed pass still ran a third slower than its
# second (JIT warm-up); corpus_fresh's timed passes are cold by design
# and a second warm pass on its warm drop did not steady them.
WORKLOADS = {
    "etl_rerun": dict(
        claim=r"^(etl_|tg_|wastd_|agg_|n2_|sp_|w_|a_|[acdfjopru][0-9]|dq_|src_|sql_|mm_"
              r"|ops_|sc[0-9]|st_|ivm_|scd2_)",
        layers={"reference": r"^(etl_|tg_|wastd_)", "io": r"^(src_|sql_)",
                "layout": r"^sc[0-9]", "stream": r"^(st_|ivm_|scd2_)",
                "relational": r""},
        n_picks=6,
        picks=["a14_bool_aggs", "sc8_compaction", "sql_decode_resize", "st_er_probe",
               "tg_tag_history", "w_sessionize"],
        pass_s=7.5, warm_passes=2, fresh=False),
    "corpus_fresh": dict(
        claim=r"^(dd_|t_|s_|pg_|er_|pipe_)",
        layers={"persisted_state": r"^[a-z]+_incremental", "dedup": r"^dd_",
                "text": r"^t_", "similarity": r"^s_", "graph_er_pipe": r""},
        n_picks=5,
        picks=["dd_incremental_cosine", "dd_quality_canonical", "pg_pagerank",
               "s_hard_negatives", "t_pack_chunks"],
        pass_s=7.5, warm_passes=1, fresh=True),
}

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
             "query_p90_s": "s", "stored_bytes_per_input_byte": "ratio"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 test formula: half the machine's memory, 2g to 8g."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources():
    """Every file whose change requires a rebuild, relative to ROOT."""
    picked = []
    for top in ["build.sbt", "project", "src/main", "perfbench/harness"]:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            picked.append(top)
        for d, subdirs, files in os.walk(path):
            subdirs[:] = [s for s in subdirs if s not in ("target", ".bsp")
                          and not (s == "project" and os.path.basename(d) == "project")]
            picked += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(picked)


def spark_home():
    """SPARK_HOME, or the parent of the jar directory the engine's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase")
    return os.path.dirname(m.group(1).rstrip("/"))


def jars(d):
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) \
        if os.path.isdir(d) else []


def build():
    """Builds engine and harness jars unless the sources are unchanged."""
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode() + b"\0")
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    stamp = os.path.join(STATE, "build.stamp")
    engine = os.path.join(ROOT, "target", "scala-2.13")
    harness = os.path.join(HARNESS, "target", "scala-2.13")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest() \
            and jars(engine) and jars(harness):
        return jars(engine) + jars(harness)
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    tmp = os.path.join(STATE, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    for cwd in [ROOT, HARNESS]:
        for j in jars(os.path.join(cwd, "target", "scala-2.13")):
            os.remove(j)
        with open(log, "a") as out:
            r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           f"-Djava.io.tmpdir={tmp}", "package"],
                          cwd=cwd, env=env, stdout=out, timeout=780)
        if r != 0:
            fail(f"build failed in {cwd}; see {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jars(engine) + jars(harness)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def host_loop_s():
    """Wall time of a fixed pure-Python loop. Printed with every run: on a
    shared host it shows how fast the machine was while the run measured."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i
    return time.perf_counter() - t


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(d, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def clear_stale_runs():
    """Removes run directories whose process no longer exists."""
    for name in os.listdir(STATE):
        if not name.startswith("run-"):
            continue
        pid = int(name.rsplit("-", 1)[1])
        try:
            os.kill(pid, 0)
            alive = pid != os.getpid()
        except ProcessLookupError:
            alive = False
        if not alive:
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--full", action="store_true",
                    help="run every query the workload claims, not its selection")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/oracle_check.py"]:
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")

    os.makedirs(STATE, exist_ok=True)
    cp = build()
    clear_stale_runs()
    begin = time.time()
    run = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run, k) for k in
            ["tmp", "warehouse", "checkpoint", "local", "derby", "results", "drops", "probe"]}
    for d in dirs.values():
        os.makedirs(d)
    try:
        result = measure(a, w, cp, run, dirs, begin)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(result))


def measure(a, w, cp, run, dirs, begin):
    loops = [host_loop_s()]
    # A traced run needs an untraced and a traced pass.
    passes = max(1 + a.trace, math.ceil(a.seconds / w["pass_s"]))
    # Drops: a rerun workload warms and times on one drop; a fresh one
    # warms on its own drop and gives every timed pass a new one.
    t0 = time.time()
    n_drops = 1 + passes if w["fresh"] else 1
    drop_dirs, drop_bytes = [], 0
    for i in range(n_drops):
        d = os.path.join(dirs["drops"], f"d{i}")
        drop_bytes += drops.make_drop(a.seed * 1000 + i, d)
        drop_dirs.append(d)
    gen_s = time.time() - t0
    warm_drop, timed = drop_dirs[0], drop_dirs[1:] if w["fresh"] else drop_dirs

    out = os.path.join(run, "out.json")
    props = {
        "workload": a.workload, "seed": a.seed, "cores": cores(),
        "trace": a.trace, "passes": passes, "warm_passes": w["warm_passes"], "picks": "" if a.full else ",".join(w["picks"]),
        "warm_drop": warm_drop, "timed_drops": ",".join(timed),
        "result_dir": dirs["results"], "warehouse_dir": dirs["warehouse"],
        "checkpoint_dir": dirs["checkpoint"], "tmp_dir": dirs["tmp"],
        "probe_dir": dirs["probe"], "out": out,
        **{f"claim.{k}": v["claim"] for k, v in WORKLOADS.items()},
    }
    cfg = os.path.join(run, "run.properties")
    with open(cfg, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")

    spark_jars = os.path.join(spark_home(), "jars", "*")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}",
           *[x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "--add-modules=jdk.incubator.vector",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={dirs['tmp']}", f"-Dderby.system.home={dirs['derby']}",
           "-cp", ":".join(cp + [spark_jars]), "perfbench.Harness", cfg]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    log = os.path.join(run, "jvm.log")
    spawn = time.time()
    with open(log, "w") as f:
        code = run_child(cmd, cwd=run, env=env, stdout=f,
                         timeout=3600 if a.full else max(30, 150 - (spawn - begin)))
    if code != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}")
    with open(out) as f:
        rec = json.load(f)

    reps = [r for r in rec["reps"] if r["pass"] >= 0]
    errors = [r for r in reps if r["error"]]
    for r in errors:
        print(f"perfbench: {r['query']} failed in pass {r['pass']}: {r['error']}", file=sys.stderr)

    loops.append(host_loop_s())
    # Output check, after timing: the last pass's results on its drop.
    last = max(r["pass"] for r in reps)
    ok_last = [r["query"] for r in reps if r["pass"] == last and not r["error"]]
    problems = check_outputs(timed[last % len(timed)], dirs["results"], ok_last)
    for q, p in sorted(problems.items()):
        print(f"perfbench: {q} failed the output check: {p}", file=sys.stderr)

    failed = len(errors) + len(problems)
    attempted = len(reps)
    if a.trace:
        metrics = layer_metrics(rec, reps)
        metrics["tmp_dirs_leaked"] = {"value": len(os.listdir(dirs["tmp"])), "unit": "count"}
        metrics["peak_rss_mb"] = {"value": rec["vm_hwm_kb"] / 1024, "unit": "MB"}
    else:
        passes_s = [sum(r["wall_s"] for r in reps if r["pass"] == p)
                    for p in sorted({r["pass"] for r in reps})]
        # Latency percentiles over each query's median rep, so that they
        # interpolate between the selection's queries rather than jump
        # between the reps of neighbouring ones.
        walls = [statistics.median(r["wall_s"] for r in reps if r["query"] == q)
                 for q in rec["queries"]]
        setup = gen_s + (rec["session_ready_ms"] / 1e3 - spawn) + \
            (rec["warm_end_ms"] - rec["warm_start_ms"]) / 1e3
        metrics = {
            "setup_s": setup,
            "pass_s": statistics.median(passes_s),
            "query_p50_s": statistics.median(walls),
            "query_p90_s": statistics.quantiles(walls, n=10, method="inclusive")[8],
            "stored_bytes_per_input_byte":
                sum(du(dirs[k]) for k in ["warehouse", "checkpoint", "tmp"]) / drop_bytes,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    # The run record (every rep; spans and layers when traced) is kept.
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    kind = "-full" * a.full + "-trace" * a.trace
    shutil.copy(out, os.path.join(STATE, "records", f"{a.workload}-seed{a.seed}{kind}.json"))
    print(f"perfbench: {a.workload} seed {a.seed}: {len(rec['queries'])} of "
          f"{rec['members']} queries x {passes} passes; {failed} failed of {attempted}; "
          f"drops {gen_s:.1f} s, session {rec['session_ready_ms'] / 1e3 - spawn:.1f} s, "
          f"warm passes {(rec['warm_end_ms'] - rec['warm_start_ms']) / 1e3:.1f} s, "
          f"run {time.time() - begin:.1f} s; host loop "
          f"{' / '.join(f'{x:.2f}' for x in loops)} s", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def check_outputs(drop, results, names):
    """Runs the repository's oracle gate (tools/oracle_check.py) over the
    results of `names`; returns {query: problem} for those that fail."""
    for d in os.listdir(results):
        if d not in names and os.path.isdir(os.path.join(results, d)):
            shutil.rmtree(os.path.join(results, d))  # a rep that raised
    r = subprocess.run([sys.executable, ORACLE_CHECK, drop, results],
                       capture_output=True, text=True, timeout=120)
    seen, problems = set(), {}
    for line in r.stdout.splitlines():
        m = re.match(r"  (OK|ROWS|FAIL)\s+([\w.-]+)(.*)", line)
        if m:
            seen.add(m[2])
            if m[1] == "FAIL" or "EMPTY" in m[3]:
                problems[m[2]] = m[3].strip(": ")[:600]
    for q in names:
        if q not in seen:
            problems[q] = f"not checked: {(r.stderr or r.stdout)[-300:]}"
    return problems


LAYER_UNITS = {
    "tables.load_first_ms": "ms", "tables.load_repeat_ms": "ms",
    "scan.bytes_read": "bytes", "scan.records_read": "count",
    "build.wall_s": "s", "build.jobs": "count", "build.gap_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.actions": "count", "driver.gap_s": "s",
    "exec.job_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.max_task_over_mean": "ratio", "exec.failed_tasks": "count",
    "memo.persist_fills": "count", "memo.unpersists": "count",
    "memo.cached_bytes": "bytes", "memo.checkpoint_bytes": "bytes",
    "stream.starts": "count", "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s", "stream.add_batch_s": "s",
    "stream.state_commit_ms": "ms", "stream.state_rows_total": "count",
    "stream.lifecycle_s": "s",
    "write.bytes": "bytes", "write.files": "count", "write.tmp_entries_created": "count",
    "jvm.gc_s": "s", "jvm.heap_used_peak_mb": "MB",
    "trace.overhead_s": "s", "check.layer_sum_failures": "count",
    "check.unexplained_share": "ratio",
}


def layer_metrics(rec, reps):
    """Medians over the traced passes of each layer metric, the tracing
    overhead (traced minus untraced pass wall) and the layer-sum check."""
    layers = rec["layers"]
    traced = {l["pass"] for l in layers}
    wall = {}
    for r in reps:
        wall[r["pass"]] = wall.get(r["pass"], 0.0) + r["wall_s"]
    m = {k: statistics.median([l[k] for l in layers]) for k in LAYER_UNITS
         if k not in ("trace.overhead_s", "check.layer_sum_failures")}
    m["trace.overhead_s"] = statistics.median([v for p, v in wall.items() if p in traced]) - \
        statistics.median([v for p, v in wall.items() if p not in traced])
    bad = [f for l in layers for f in l["layer_sum_failures"]]
    m["check.layer_sum_failures"] = len(bad)
    for f in bad:
        print(f"perfbench: layer sum off by more than 5%: {json.dumps(f)}", file=sys.stderr)
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in m.items()}


if __name__ == "__main__":
    main()
