#!/usr/bin/env python3
"""The engine's benchmark: one workload, one run.

    python3 perfbench/run.py --workload query_library --seed 1 --seconds 10 --trace 0

Builds the program and the harness from the checked-out source (sbt,
skipped when the sources are unchanged since the last build), derives
the seeded inputs, runs the harness JVM against local[N] with one client
thread, checks every output against computations made apart from the
program, and prints one JSON line last: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ["query_library", "daily_refresh"]
# the query families query_library covers (see Workloads.scala)
FAMILIES = ["agg", "ev", "io", "llm"]
HEAP = "2g"
SETUP_ROUNDS = 3
# the harness must end this long after it starts (a run's limit is 180 s)
HARNESS_TIMEOUT_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---- build ----------------------------------------------------------------

def source_hash():
    """Hash of everything the build reads from the checkout."""
    md = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            with open(f, "rb") as fh:
                md.update(os.path.relpath(f, REPO).encode() + b"\0" + fh.read())
    return md.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench.build")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    log("building (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    sys.stderr.write(p.stderr[-4000:])
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want + "\n" + cp)
    return cp


# ---- one run ----------------------------------------------------------------

def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def run_harness(cp, args, cores, run_dir):
    root = os.path.join(run_dir, "root")
    out = os.path.join(run_dir, "out")
    for d in ("tmp", "cwd", "scratch", "local", "warehouse"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", "-Xms256m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}/cwd",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--inputs", os.path.join(run_dir, "inputs"),
            "--root", root, "--out", out, "--setup-rounds", str(SETUP_ROUNDS)])
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=os.path.join(root, "cwd"), stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: harness timed out")
    if rc != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: harness exited {rc}")
    with open(os.path.join(out, "harness.json")) as f:
        report = json.load(f)
    # what the program left in its scratch places (the work dirs hold the
    # outputs the workload asked for and are not counted)
    report["scratch_left_bytes"] = sum(
        dir_bytes(os.path.join(root, d)) for d in ("tmp", "cwd", "scratch", "local", "warehouse"))
    return report


# ---- checks -------------------------------------------------------------------

def check_query_outputs(samples, report, table_dir):
    """Oracle or sketch check for every query sample; returns failures by
    sample index."""
    sqls = report["oracle_sql"]
    expected = checks.oracle(table_dir, sqls)
    con = checks.connect(table_dir)
    bad = {}
    for i, s in enumerate(samples):
        out = s["out"]
        if not s["ok"] or out is None or "hash" not in out:
            continue
        if s["op"] in expected:
            why = checks.check_rows(out, expected[s["op"]])
        elif s["op"] in SKETCHES:
            why = checks.sketch_checks(s["op"], out["values"], con)
        else:
            why = ["no oracle SQL and no sketch check"]
        if why:
            bad[i] = why
    return bad


SKETCHES = {"agg_approx_distinct", "agg_approx_percentile", "agg_hll_partial",
            "agg_cms_partial", "agg_bloom_partial", "llm_minhash"}


def check_daily(samples, report, facts, run_dir, bad):
    inp = os.path.join(run_dir, "inputs")
    con = duckdb.connect()
    batches = facts["batches"]

    def texts(day):
        return con.execute(
            f"SELECT doc_id, text FROM '{inp}/corpus/day_{day}.parquet'").fetchall()
    for i, s in enumerate(samples):
        if not s["ok"]:
            continue
        op, out, why = s["op"], s["out"], []
        day = out["day"]
        if op == "sync":
            want = facts["rel_changed"][day]
            if out["changed"] != want or out["stale"]:
                why.append(f"sync rewrote {out['changed']} (stale {out['stale']}), changed were {want}")
            for p in facts["year_values"]:
                pre = f"o_year={p}/"
                b = {k: v for k, v in out["before"].items() if k.startswith(pre)}
                a = {k: v for k, v in out["after"].items() if k.startswith(pre)}
                if p in want and set(a) & set(b):
                    why.append(f"partition {p} changed but kept files")
                if p not in want and a != b:
                    why.append(f"partition {p} unchanged but its files changed")
        elif op == "verify":
            if out["verified"] is not True:
                why.append("verifyDelivery returned false")
        elif op == "incremental":
            if out["appended"] != facts["inc_appended"][day]:
                why.append(f"appended {out['appended']} rows")
        elif op == "digest_refresh":
            old = {hashlib.sha256(t.encode()).hexdigest() for _, t in texts(day - 1)}
            batch = dict(con.execute(
                f"SELECT doc_id, text FROM '{inp}/batch/day_{day}.parquet'").fetchall())
            want = sorted((d, int(hashlib.sha256(t.encode()).hexdigest() in old)) for d, t in batch.items())
            got = sorted((int(d), int(x)) for d, x, k in out["rows"] if k == 1 - x)
            if got != want:
                why.append("digest verdicts differ from sha256 membership")
        elif op == "cc_auto":
            want = checks.union_find_labels([tuple(e) for e in out["edges"]])
            got = {int(n): int(l) for n, l in out["labels"]}
            if got != want:
                why.append(f"components differ from union-find ({len(got)} vs {len(want)} nodes)")
        elif op == "sig_refresh":
            kinds = batches[day]
            for d, _, keep in out["rows"]:
                if keep != (1 if kinds.get(d) == "fresh" else 0):
                    why.append(f"doc {d} ({kinds.get(d)}) keep={keep}")
            if len(out["rows"]) != len(kinds):
                why.append(f"{len(out['rows'])} verdicts for {len(kinds)} docs")
        if why:
            bad.setdefault(i, []).extend(why)

    # final state, after the last day
    fin = report["finish"]
    last = fin["last_day"]
    fails = []
    if fin["flow_fingerprint"] != fin["scratch_fingerprint"]:
        fails.append("refreshFlow delivery != from-scratch prep of the same day")
    diff = con.execute(f"""
        WITH a AS (SELECT * EXCLUDE (o_year), o_year::VARCHAR AS o_year
                   FROM read_parquet('{fin['rel_dst']}/*/*.parquet', hive_partitioning=true,
                                     hive_types_autocast=false)),
             b AS (SELECT * FROM '{inp}/rel/day_{last}.parquet')
        SELECT (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
             + (SELECT count(*) FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a))""").fetchone()[0]
    if diff:
        fails.append(f"delivered orders differ from the day-{last} source in {diff} rows")
    diff = con.execute(f"""
        WITH a AS (SELECT * FROM read_parquet('{fin['inc_dst']}/*.parquet')),
             b AS (SELECT * FROM '{inp}/inc/day_{last}.parquet')
        SELECT (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
             + (SELECT count(*) FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a))""").fetchone()[0]
    if diff:
        fails.append(f"incremental delivery differs from the day-{last} feed in {diff} rows")
    return fails


# ---- metrics --------------------------------------------------------------------

def verdict(samples, bad, fails):
    """(correct, indexes of failed samples). An operation that threw or
    whose output check failed is failed, and either makes the run
    incorrect, as does a failed check of the final state."""
    thrown = {i for i, s in enumerate(samples) if not s["ok"]}
    failed_idx = thrown | set(bad)
    return not failed_idx and not fails, failed_idx


def med(xs):
    """Median, or None when there is no sample: a metric with no
    successful sample is left out of the result, never read as 0."""
    return statistics.median(xs) if xs else None


def per_pass(samples, good, f):
    """Median over the passes without failures of the per-pass sum of f(sample)."""
    return med([sum(f(s) for s in samples if s["pass"] == p) for p in sorted(good)])


def metrics(args, report, samples, failed_idx, in_bytes, cores, facts):
    """The run's metrics, from its timed samples; warm-up samples are
    checked and counted but never timed."""
    samples = [dict(s, failed=i in failed_idx) for i, s in enumerate(samples) if s["timed"]]
    ok = [s for s in samples if not s["failed"]]
    passes = sorted({s["pass"] for s in samples})
    good = {p for p in passes if not any(s["failed"] for s in samples if s["pass"] == p)}
    wall = {p: sum(s["build_s"] + s["exec_s"] for s in samples if s["pass"] == p) for p in passes}
    run_s = med([wall[p] for p in passes if p in good])

    def result(m):
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items() if v is not None}
    if args.trace == 0:
        written = per_pass(samples, good, lambda s: s["written_bytes"])
        return result({
            "setup_s": (med(report["setup_s"]) + report["bootstrap_s"], "s"),
            "run_s": (run_s, "s"),
            "op_p50_s": (med([s["build_s"] + s["exec_s"] for s in ok]), "s"),
            "write_amp": (None if written is None else written / in_bytes, "ratio"),
            "mem_peak_mb": (report["vm_hwm_mb"], "MB"),
        })

    tr = {(t["pass"], t["op"]): t for t in report["traced"]}

    def t(key):
        return lambda s: tr.get((s["pass"], s["op"]), {}).get(key, 0)

    def fam(f, key):
        return lambda s: s[key] if s["family"] == f else 0

    def layer(name):
        return per_pass(samples, good, lambda s: s["build_s"] + s["exec_s"] if s["layer"] == name else 0)

    ops = {s["op"] for s in samples}

    def unused(op, value):
        """A layer the workload does not call reads 0; one it calls with
        no successful sample is left out."""
        return value if op in ops else 0

    def out_of(op, key):
        return unused(op, med([s["out"][key] for s in ok if s["op"] == op and s["out"]]))

    def partitions(s):
        """Partitions whose files the sync changed, from the listings."""
        b, a = s["out"]["before"], s["out"]["after"]
        return {k.split("/")[0].split("=", 1)[1] for k in set(a) | set(b)
                if "/" in k and a.get(k) != b.get(k)}

    setup = report["setup_facts"]
    task_s = per_pass(samples, good, t("task_s"))
    util = med([sum(tr.get((s["pass"], s["op"]), {}).get("task_s", 0) for s in samples
                    if s["pass"] == p) / (wall[p] * cores) for p in passes if p in good and wall[p]])
    # every timed sync that returned, a failed check too: a sync that
    # rewrites unchanged partitions lowers sync_useful in the run that
    # the check fails
    sync = [(partitions(s), s["out"]["day"]) for s in samples if s["op"] == "sync" and s["out"]]
    rewritten = [len(p) for p, _ in sync]
    useful = [len(p & set(facts["rel_changed"][d])) / len(p) for p, d in sync if p]

    def files_written(s):
        if s["op"] == "sync":
            return sum(1 for k, v in s["out"]["after"].items() if s["out"]["before"].get(k) != v)
        if s["op"] == "incremental":
            return s["out"]["files"] - s["out"]["files_before"]
        return 0

    m = {
        "tables.land_s": (med([f.get("land_s", 0) for f in setup]), "s"),
        "tables.land_bytes": (med([f.get("land_bytes", 0) for f in setup]), "bytes"),
        "tables.scratch_left_bytes": (report["scratch_left_bytes"], "bytes"),
        "queries.build_s": (per_pass(samples, good, lambda s: s["build_s"]), "s"),
        "queries.build_jobs": (per_pass(samples, good, t("build_jobs")), "count"),
        "queries.exec_s": (per_pass(samples, good, lambda s: s["exec_s"]), "s"),
    }
    for f in FAMILIES:
        m[f"queries.{f}.build_s"] = (per_pass(samples, good, fam(f, "build_s")), "s")
        m[f"queries.{f}.exec_s"] = (per_pass(samples, good, fam(f, "exec_s")), "s")
    m.update({
        "queries.conf_leaks": (per_pass(samples, good, lambda s: len(s["conf_leaks"])), "count"),
        "exec.jobs": (per_pass(samples, good, t("jobs")), "count"),
        "exec.stages": (per_pass(samples, good, t("stages")), "count"),
        "exec.tasks": (per_pass(samples, good, t("tasks")), "count"),
        "exec.idle_s": (per_pass(samples, good, t("idle_s")), "s"),
        "exec.task_s": (task_s, "s"),
        "exec.task_cpu_s": (per_pass(samples, good, t("task_cpu_s")), "s"),
        "exec.util": (util, "ratio"),
        "exec.shuffle_write_bytes": (per_pass(samples, good, t("shuffle_write_bytes")), "bytes"),
        "exec.shuffle_read_bytes": (per_pass(samples, good, t("shuffle_read_bytes")), "bytes"),
        "exec.spill_bytes": (per_pass(samples, good, t("spill_bytes")), "bytes"),
        "exec.output_bytes": (per_pass(samples, good, t("output_bytes")), "bytes"),
        "ops.cuts": (per_pass(samples, good, t("cut_jobs")), "count"),
        "ops.cc_s": (layer("ops.cc_s"), "s"),
        "ops.cc_rounds": (out_of("cc_auto", "rounds"), "count"),
    })
    for name in ("functions.minhash_s", "pipelines.refresh_flow_s",
                 "pipelines.digest_refresh_s", "pipelines.digest_extend_s",
                 "pipelines.sig_refresh_s", "pipelines.sig_extend_s",
                 "delivery.sync_s", "delivery.verify_s", "delivery.incremental_s"):
        m[name] = (layer(name), "s")
    # daily_refresh's set-up: the initial delivery in every round, then
    # once the O(corpus) builds
    m["delivery.copy_s"] = (med([f.get("copy_s", 0) for f in setup]), "s")
    boot = report["bootstrap_facts"]
    for name in ("digest_build_s", "sig_build_s", "pairs_write_s", "prep_s"):
        m[f"pipelines.{name}"] = (boot.get(name, 0), "s")
    m.update({
        "delivery.files_written": (per_pass(samples, good, files_written), "count"),
        "delivery.partitions_rewritten": (unused("sync", med(rewritten)), "count"),
        "delivery.sync_useful": (unused("sync", med(useful)), "ratio"),
        "jvm.gc_s": (report["gc_s"] / report["passes"], "s"),
        "jvm.heap_live_peak_mb": (report["heap_live_peak_mb"], "MB"),
        "trace.run_s": (run_s, "s"),
    })
    return result(m)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "build.sbt")) or \
            not os.path.isdir(os.path.join(REPO, "src", "main")):
        sys.exit("perfbench: no program source next to perfbench/ (build.sbt, src/main)")

    cp = build()
    cores = min(4, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        facts = inputs.make(args.workload, args.seed, os.path.join(run_dir, "inputs"))
        in_bytes = inputs.input_bytes(args.workload, os.path.join(run_dir, "inputs"))
        log(f"inputs ready; running {args.workload} seed={args.seed} local[{cores}]")
        report = run_harness(cp, args, cores, run_dir)
        samples = report["samples"]
        if args.workload == "query_library":
            bad = check_query_outputs(samples, report, os.path.join(run_dir, "inputs", "sf"))
            fails = []
        else:
            bad = {}
            fails = check_daily(samples, report, facts, run_dir, bad)
        for i, s in enumerate(samples):
            if not s["ok"]:
                log(f"FAILED {s['op']} (pass {s['pass']}): {s['error']}")
        for i, why in sorted(bad.items()):
            log(f"CHECK FAILED {samples[i]['op']} (pass {samples[i]['pass']}): {'; '.join(why)}")
        for f in fails:
            log(f"CHECK FAILED after the last pass: {f}")
        correct, failed_idx = verdict(samples, bad, fails)
        m = metrics(args, report, samples, failed_idx, in_bytes, cores, facts)
        keep = os.path.join(HERE, ".out", f"{args.workload}-trace{args.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        shutil.copytree(os.path.join(run_dir, "out"), keep)
        with open(os.path.join(keep, "run_report.json"), "w") as f:
            json.dump({k: report[k] for k in (
                "workload", "seed", "cores", "heap_max_mb", "jvm", "spark", "probe_start_s",
                "probe_end_s", "mem_probe_start_s", "mem_probe_end_s", "jvm_start_to_first_op_s",
                "setup_s", "warmup_s", "timed_s",
                "passes", "scratch_left_bytes")} | {
                "source_sha256": source_hash(), "git_commit": git_commit(),
                "metrics": m, "failed_ops": len(failed_idx), "attempted": len(samples)},
                f, indent=1)
        log(f"report: N={cores} heap={report['heap_max_mb']:.0f}MB {report['jvm']} "
            f"seed={args.seed} passes={report['passes']} probe start/end "
            f"{report['probe_start_s']:.3f}/{report['probe_end_s']:.3f}s, memory probe "
            f"{report['mem_probe_start_s']:.3f}/{report['mem_probe_end_s']:.3f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(samples),
                      "failed": len(failed_idx), "metrics": m}))


def git_commit():
    head = os.path.join(REPO, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    main()
