#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload, end-to-end or traced.

Usage (from the repository root):
    python3 perfbench/run.py --workload <warehouse|llm_fixpoint|ann_lifecycle>
        --seed <n> --seconds <n> --trace <0|1> [--write-baseline]

The first run in a checkout compiles graft's sources with the harness
(`perfbench/harness`, sbt) and writes the input tables; later runs reuse
both from `.perfbench/`. Each run starts one JVM (Spark local mode, one
client), which sets up, runs the workload's operations one after another
for `--seconds`, and writes raw samples; this script checks the outputs,
computes the metrics and prints them as the last line of stdout.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(see perfbench/README.md). `--write-baseline` (traced runs only) records
this run's per-operation counts as the counter baseline for the workload.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("warehouse", "llm_fixpoint", "ann_lifecycle")
QUERY_WORKLOADS = ("warehouse", "llm_fixpoint")
# The tables are fixed (one data seed, one scale) so that per-operation
# counters are comparable across runs; --seed varies what the workload
# does with them: key order, the ANN seed/delta split and the probes.
DATA_SEED = 42
SCALE = 0.01
K = 10
SLOTS = min(4, os.cpu_count() or 1)  # as Harness.slots
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
BASELINE = os.path.join(HERE, "baseline_counters.json")
# counters that must repeat exactly, per operation, between runs
REPEATABLE = ("spark.jobs", "spark.stages", "plan.exchanges", "Ckpt.cut_jobs")
# the ones an ANN operation repeats whatever vectors the seed gives it;
# AQE's stage count follows the data
SEED_FREE = ("spark.jobs", "plan.exchanges", "Ckpt.cut_jobs")
# per-layer metrics summed over each traced pass's operations
PASS_SUMS = (
    ("plan.exchanges", "count"), ("plan.broadcasts", "count"),
    ("Tables.rows_read", "rows"), ("Tables.bytes_read", "bytes"), ("Tables.files_read", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.sql_executions", "count"), ("spark.sched_delay_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"), ("Ckpt.cut_jobs", "count"), ("Ckpt.cut_s", "s"),
)
JDK_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
             "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
             "sun.nio.cs sun.security.action sun.util.calendar").split()


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft plus the harness unless this exact source is built."""
    os.makedirs(STATE, exist_ok=True)
    stamp = os.path.join(STATE, "build.stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if (os.path.exists(os.path.join(CLASSES, "perfbench", "Harness.class"))
                and os.path.exists(stamp) and open(stamp).read() == digest):
            return
        env = dict(os.environ, COURSIER_MODE="offline")
        if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        print("perfbench: building graft and the harness (sbt compile)", file=sys.stderr)
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            die("build failed")
        with open(stamp, "w") as f:
            f.write(digest)


def inputs():
    """Write the fixed input tables once per checkout; returns their directory."""
    data = os.path.join(STATE, f"data-{DATA_SEED}-{SCALE}")
    with open(os.path.join(STATE, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        datagen.write(DATA_SEED, SCALE, data)
    return data


def oracle_answers(data, sqls):
    """Canonical oracle rows per key, computed once per checkout."""
    path = os.path.join(data, "oracle.json")
    with open(os.path.join(STATE, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cache = json.load(open(path)) if os.path.exists(path) else {}
        missing = {k: s for k, s in sqls.items() if cache.get(k, {}).get("sql") != s}
        for k, sql in missing.items():
            canon = oracle.canon_rows(oracle.oracle_rows(data, sql))
            cache[k] = {"sql": sql, "hash": oracle.canon_hash(canon), "rows": canon}
        if missing:
            with open(path + ".tmp", "w") as f:
                json.dump(cache, f)
            os.replace(path + ".tmp", path)
    return cache


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        die("SPARK_HOME must point at a Spark installation")
    return jars


def run_jvm(args, data, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "out.json")
    # a fixed heap, so heap sizing does not vary GC work from run to run
    cmd = [java, "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Harness", "--workload", args.workload, "--data", data, "--work", work,
            "--out", out, "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(args.trace)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log, start_new_session=True)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        try:
            while True:
                pid, status, _ = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError(f"harness timed out after {JVM_TIMEOUT_S} s")
                time.sleep(0.05)
        except BaseException:
            # never leave the JVM behind: on a timeout, ^C or SIGTERM
            os.killpg(proc.pid, signal.SIGKILL)
            os.wait4(proc.pid, 0)
            raise
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        die(f"harness exited with {code}")
    return json.load(open(out)), spawned


def checks(w, out, answers):
    """(attempted, failed, recall per checked answer, failure notes)."""
    attempted, failed, recalls, notes = 0, 0, [], []
    for o in out["ops"]:
        attempted += 1
        if o["err"]:
            failed += 1
            notes.append(f"{o['kind']} {o['key']}: {o['err']}")
    if w in QUERY_WORKLOADS:
        # both set-up rounds of every key: the cold run and the warm one
        for c in out["checked"]:
            k, where = c["key"], f"{c['key']} ({c['round']} run)"
            attempted += 1
            if c["err"] or k not in answers:
                failed += 1
                recalls.append(0.0)
                notes.append(f"{where}: {c['err'] or 'no oracle SQL'}")
                continue
            got = oracle.canon_rows(oracle.result_rows(c["dir"]))
            recalls.append(oracle.recall(got, answers[k]["rows"]))
            if oracle.canon_hash(got) != answers[k]["hash"]:
                failed += 1
                notes.append(f"{where}: result differs from the oracle")
    else:
        for s in out["serves"]:
            attempted += 1
            ids = s["served"]
            recalls.append(stats.recall_at_k(ids, s["exact"], K))
            if len(ids) != K or len(set(ids)) != K or s["store_ids_missing"]:
                failed += 1
                notes.append(f"serve {s['op']}: {len(set(ids))} distinct ids, "
                             f"{len(s['store_ids_missing'])} not in the store")
        for c in out["compact_checks"]:
            attempted += 1
            if c["before"] != c["after"] or len(c["before"]) != K:
                failed += 1
                notes.append(f"probe {c['probe']:g}: answer changed across compaction")
    return attempted, failed, recalls, notes


def end_to_end(w, out, spawned, attempted, failed, recalls):
    timed = [o for o in out["ops"] if not o["err"]]
    by_type = {}
    for o in timed:
        by_type.setdefault(o["key"] if w in QUERY_WORKLOADS else o["kind"], []).append(o["secs"])
    m = {
        "setup_s": (out["setup_end_epoch_ms"] / 1000.0 - spawned, "s"),
        "pass_s": (stats.median(out["pass_s"]), "s"),
        "op_geomean_s": (stats.geomean([stats.median(v) for v in by_type.values()]), "s"),
        "result_recall": (sum(recalls) / len(recalls), "ratio"),
        "live_heap_mb": (out["live_heap_mb"], "MB"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }
    detail = {"pass_s": stats.summary(out["pass_s"]), "pass_samples_s": out["pass_s"],
              "per_op_type_s": {k: stats.summary(v) for k, v in sorted(by_type.items())}}
    return m, detail


def per_layer(out):
    ops = out["ops"]
    c = out["counters"]
    npass = len(out["pass_s"])
    span_by_op = {}
    for s in out["spans"]:
        span_by_op.setdefault(s["op"], []).append(s)

    def span_secs(op, name):
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in span_by_op.get(op, []) if s["name"] == name)

    def counter(op, name):
        return c.get(op, {}).get(name, 0.0)

    def med(xs):
        return stats.median(xs) if xs else 0.0

    m = {name: (sum(counter(o["id"], name) for o in ops) / npass, unit) for name, unit in PASS_SUMS}
    m["SparkEntry.build_s"] = (sum(span_secs(o["id"], "build") for o in ops) / npass, "s")
    m["rules.plan_s"] = (sum(span_secs(o["id"], "plan") for o in ops) / npass, "s")
    m["spark.peak_exec_mem_bytes"] = (max([counter(o["id"], "spark.peak_exec_mem_bytes")
                                           for o in ops] or [0.0]), "bytes")
    m["spark.parallel_eff"] = (m["spark.task_run_s"][0] / (stats.median(out["pass_s"]) * SLOTS), "ratio")
    m["Graph.edge_memo_fill_s"] = (sum(v.get("Graph.edge_memo_fill_s", 0.0) for op, v in c.items()
                                       if op.startswith("setup-")), "s")
    kind = lambda k: [o for o in ops if o["kind"] == k]  # noqa: E731
    m["SimSearch.seed_s"] = (span_secs("setup-seed", "SimSearch.hnswStoreSeed"), "s")
    m["SimSearch.seed_jobs"] = (counter("setup-seed", "spark.jobs"), "count")
    m["SimSearch.serve_jobs"] = (med([counter(o["id"], "spark.jobs") for o in kind("serve")]), "count")
    m["SimSearch.delta_jobs"] = (med([counter(o["id"], "spark.jobs") for o in kind("delta")]), "count")
    m["SimSearch.rows_read_per_result"] = (
        med([counter(o["id"], "Tables.rows_read") / K for o in kind("serve")]), "rows")
    m["SimSearch.serve_s_p50"] = (
        med([span_secs(o["id"], "SimSearch.serveHnswFromStore") for o in kind("serve")]), "s")
    m["SimSearch.append_s_p50"] = (med([span_secs(o["id"], "SimSearch.hnswDelta") for o in kind("delta")]), "s")
    m["StoreCompact.compact_s"] = (
        med([span_secs(o["id"], "StoreCompact.compactHnswStore") for o in kind("compact")]), "s")
    m["StoreCompact.compact_jobs"] = (med([counter(o["id"], "spark.jobs") for o in kind("compact")]), "count")
    m["StoreCompact.bytes_rewritten"] = (
        med([counter(o["id"], "store.bytes_written") for o in kind("compact")]), "bytes")
    stores = out.get("stores", [])
    m["store.files"] = (med([s["files"] for s in stores]), "count")
    m["store.epoch_dirs"] = (med([s["epoch_dirs"] for s in stores]), "count")
    m["store.bytes"] = (med([s["bytes"] for s in stores]), "bytes")
    m["store.bytes_per_vec_byte"] = (med([s["bytes"] / s["vec_bytes"] for s in stores]), "ratio")
    m["trace.pass_s"] = (stats.median(out["pass_s"]), "s")
    m["trace.overhead_s"] = (out["tracer_s"] / npass, "s")
    return m


def repeatable_counts(w, out):
    """[(label, group, {counter: value})] for every set-up and timed
    operation, in the order they ran. A query is labelled by its key (a
    set-up run by its id) and grouped by its label. An ANN operation is
    labelled by its kind and its position among the run's operations of
    that kind, and grouped by its kind."""
    rows, seen = [], {}
    for o in out["setup_ops"] + out["ops"]:
        if w in QUERY_WORKLOADS:
            label = o["key"] if o["id"].startswith("op-") else o["id"]
            group = label
        else:
            group = o["kind"]
            label = f"{group}-{seen.get(group, 0)}"
            seen[group] = seen.get(group, 0) + 1
        rows.append((label, group, {k: out["counters"].get(o["id"], {}).get(k, 0.0) for k in REPEATABLE}))
    return rows


def drift(w, seed, rows, write):
    """Names of (operation, counter) pairs that differ within this run or
    from the recorded baseline. A query's counts must not depend on the
    seed, which only reorders keys. ann_lifecycle's seed picks the vectors
    each operation sees: every operation of one kind must repeat the
    SEED_FREE counts, within a run and against the baseline, and the stage
    count is held to the baseline only for the baseline's own seed."""
    base = json.load(open(BASELINE)) if os.path.exists(BASELINE) else {}
    ref = None if write else base.get(w)
    if ref is None and not write:
        print(f"perfbench: no counter baseline for {w}", file=sys.stderr)
    within = REPEATABLE if w in QUERY_WORKLOADS else SEED_FREE
    vs_ref = REPEATABLE if ref is not None and (w in QUERY_WORKLOADS or ref["seed"] == seed) else within
    names, groups, first = set(), {}, {}
    for label, group, c in rows:
        groups.setdefault(group, []).append(c)
        first.setdefault(label, c)
    for group, cs in groups.items():
        names |= {f"{group}:{k}" for c in cs[1:] for k in within if c[k] != cs[0][k]}
    for label, c in first.items():
        want = ref["ops"].get(label) if ref is not None else None
        if want is not None:
            names |= {f"{label}:{k}" for k in vs_ref if c[k] != want.get(k)}
    if write:
        base[w] = {"seed": seed, "ops": dict(sorted(first.items()))}
        with open(BASELINE, "w") as f:
            json.dump(base, f, indent=1, sort_keys=True)
            f.write("\n")
    return sorted(names)


def write_trace(w, seed, out):
    """Spans with their self time, for the record."""
    self_s = stats.self_times(out["spans"])
    path = os.path.join(STATE, "traces", f"{w}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": w, "seed": seed, "counters": out["counters"],
                   "spans": [dict(s, self_s=self_s[s["id"]]) for s in out["spans"]]}, f)
    return path


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-baseline", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this checkout")
    spark_jars()
    build()
    data = inputs()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out, spawned = run_jvm(args, data, work)
        answers = oracle_answers(data, out.get("oracle_sql", {}))
        attempted, failed, recalls, notes = checks(args.workload, out, answers)
    except TimeoutError as e:
        die(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for n in notes:
        print(f"perfbench: FAILED {n}", file=sys.stderr)
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "calib_s": out["calib_s"], "session_s": out["session_s"], "settle_s": out["settle_s"],
            "passes": len(out["pass_s"]), "live_heap_readings_mb": out["live_heap_readings"]}
    if args.trace:
        metrics = per_layer(out)
        names = drift(args.workload, args.seed, repeatable_counts(args.workload, out), args.write_baseline)
        metrics["counters.drift"] = (float(len(names)), "count")
        diag["drift"] = names
        diag["trace_file"] = os.path.relpath(write_trace(args.workload, args.seed, out), ROOT)
        for n in names:
            print(f"perfbench: counter drift {n}", file=sys.stderr)
    else:
        metrics, detail = end_to_end(args.workload, out, spawned, attempted, failed, recalls)
        diag["detail"] = detail
    print(json.dumps(diag))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
