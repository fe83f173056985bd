#!/usr/bin/env python3
"""Benchmark of the graft engine through its public entry points.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload portal --seed 1 --seconds 30 --trace 0

Workloads (all closed loops with one client; see perfbench/README.md):
  portal    the QCFractal client surface: 30 record, dataset, task-claim,
            molecule, temporal, source and kNN queries
  ingest    seeded document batches with planted cross-batch copies,
            committed to three incremental indexes, probed after every
            batch and compacted after the third; then a streaming row

A run makes one pass of the workload's fixed work, sized to take about
--seconds on a 4-core host; --seconds is recorded, not used to cut the
work short, so wall_s always measures the same work.

Steps: build the library and the harness from source (sbt, cached by a
digest of the sources), generate the seeded inputs (cached per workload
and seed, not part of set-up time), run the JVM harness in a fresh run
directory, check every result (DuckDB oracle SQL of each query, ingest
invariants, a perturbation self-test), remove the run directory, and
print the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones from a traced
run, whose spans are written beside the result under perfbench/.results/;
its tracing overhead is taken against the untraced runs recorded there.
"""
import argparse
import fcntl
import hashlib
import json
import numbers
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy

sys.dont_write_bytecode = True  # importing gen and tools/check_oracle writes nothing
import gen  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

WORKLOADS = {
    # factor: row-count multiple of the sf0.1 corpus (gen.py)
    "portal": {"factor": 0.1, "heap": "2g", "batches": 0},
    "ingest": {"factor": 0.1, "heap": "2g", "batches": 3},
}

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("latency_p50_s", "s"),
    ("latency_p90_s", "s"), ("peak_live_heap_mb", "MB"),
]
MODULES = ["records", "operators", "functions", "sources", "dedup", "text",
           "similarity", "sketch", "streaming"]
INDEX_OPS = ["dedup.IncrementalDedup.addBatch", "text.PostingsIndex.addBatch",
             "sketch.Sketches.hllIndexAddBatch", "dedup.IncrementalDedup.compactIndex",
             "text.PostingsIndex.compactIndex", "text.PostingsIndex.query",
             "text.PostingsIndex.phraseQuery", "sketch.Sketches.hllIndexRead"]
SELF_LAYERS = ["harness", "qsets", "catalyst", "spark.driver", "spark.scheduler",
               "spark.executor"] + MODULES
PER_LAYER = (
    [("catalyst.plan_s", "s"), ("qsets.build_s", "s"), ("spark.action_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.max_stage_tasks", "count"), ("spark.driver_gap_s", "s"),
     ("spark.core_busy_frac", "ratio"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
     ("spark.shuffle_read_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
     ("spark.spill_memory_bytes", "B"), ("spark.spill_disk_bytes", "B"),
     ("spark.peak_exec_memory_bytes", "B"), ("spark.storage_memory_peak_bytes", "B"),
     ("spark.input_bytes", "B"), ("spark.output_bytes", "B")]
    + [(f"{m}.op_s", "s") for m in MODULES]
    + [(f"{op}_s", "s") for op in INDEX_OPS]
    + [("index.jobs_per_commit", "count"), ("index.files", "count"), ("index.bytes", "B"),
       ("index.bytes_written", "B"),
       ("ingest.commit_p50_s", "s"), ("ingest.commit_p90_s", "s"),
       ("ingest.probe_p50_s", "s"), ("ingest.probe_p90_s", "s"),
       ("ingest.docs_per_s", "docs/s"), ("ingest.written_bytes_per_input_byte", "ratio"),
       ("ingest.stream_s", "s")]
    + [("streaming.micro_batches", "count"), ("streaming.input_rows", "count"),
       ("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "B"),
       ("streaming.commit_ms", "ms"), ("streaming.add_batch_ms", "ms")]
    + [(f"{l}.self_s", "s") for l in SELF_LAYERS]
    + [("peak_rss_mb", "MB"),
       ("trace.overhead_s", "s"), ("trace.overhead_frac", "ratio"), ("trace.spans", "count"),
       ("run.scratch_bytes", "B"), ("run.leftover_bytes", "B")]
)

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_files(root):
    for dirpath, _, names in os.walk(root):
        for n in names:
            yield os.path.join(dirpath, n)


def tree_bytes(root):
    total = 0
    for f in tree_files(root):
        try:
            total += os.lstat(f).st_size
        except OSError:
            pass
    return total


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    roots += [os.path.join(BENCH, p) for p in ("build.sbt", "project/build.properties", "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(tree_files(r))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; return the runtime classpath."""
    bdir = os.path.join(BENCH, ".build")
    os.makedirs(bdir, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == digest:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the library and the harness (sbt)")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {bdir}/sbt.log", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ----------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generated input directory for (workload, seed), cached."""
    cfg = WORKLOADS[workload]
    cache = os.path.join(BENCH, ".cache")
    os.makedirs(cache, exist_ok=True)
    key = f"f{cfg['factor']}-b{cfg['batches']}-s{seed}"
    out = os.path.join(cache, key)
    man = os.path.join(out, "manifest.json")
    if os.path.exists(man) and json.load(open(man)).get("version") == gen.VERSION:
        os.utime(out)
        return out, 0.0
    t0 = time.time()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.generate(tmp, cfg["factor"], seed, cfg["batches"])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # keep the cache small: the eight most recently used datasets
    entries = sorted((e for e in os.scandir(cache) if e.is_dir() and ".tmp" not in e.name),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[8:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return out, time.time() - t0


# -------------------------------------------------------------- launching

def private_tmp_supported():
    """Whether a private mount namespace with a bind mount can be made."""
    if not shutil.which("unshare"):
        return False
    try:
        return subprocess.run(["unshare", "-m", "--propagation", "private", "mount", "--bind",
                               BENCH, BENCH], stderr=subprocess.DEVNULL,
                              timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def launch(cmd, env, run_dir, timeout):
    """Run the harness. The program writes its exports and streaming
    outputs under /tmp/graft_export; in a private mount namespace that
    path is bound to the run directory, so every byte the run writes
    stays inside the checkout and disappears with the run directory."""
    mounted = None
    if private_tmp_supported():
        real_root = os.path.realpath(ROOT)
        if real_root == "/tmp" or real_root.startswith("/tmp/"):
            target = "/tmp/graft_export"
            os.makedirs(target, exist_ok=True)
        else:
            target = "/tmp"
        src = os.path.join(run_dir, "tmproot")
        os.makedirs(src, exist_ok=True)
        cmd = ["unshare", "-m", "--propagation", "private", "sh", "-c",
               'mount --bind "$1" "$2" && shift 2 && exec "$@"', "sh", src, target] + cmd
        mounted = target
    else:
        log("no private mount namespace: program exports go to the shared /tmp/graft_export")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        # a benchmark that is stopped stops its JVM too
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    return rc, mounted


# ---------------------------------------------------------- correctness

def perturbed(df):
    """A copy of a result frame with its first value changed."""
    df = df.copy()
    v = df.iat[0, 0]
    if isinstance(v, (bool, numpy.bool_)):
        df.iat[0, 0] = not v
    elif isinstance(v, numbers.Number):
        df.iat[0, 0] = v + 1
    else:
        df[df.columns[0]] = df[df.columns[0]].astype(object)
        df.iat[0, 0] = f"{v}x"
    return df


def oracle_check(data, run_dir, oracle):
    """Compare each query's first result with its DuckDB oracle. Returns
    the names that differ, and the self-test verdict: the first matching
    result with one value perturbed must no longer match (None when no
    result had rows)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle  # the repo's type-strict comparison
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    wrong, selftest = {}, None
    for name, sql in sorted(oracle.items()):
        try:
            got = pq.read_table(os.path.join(run_dir, "check", name)).to_pandas()
            want = check_oracle.canon(con.sql(sql).df())
            if check_oracle.canon(got) != want:
                wrong[name] = f"differs from oracle ({len(got)} vs {len(want[0])} rows)"
            elif selftest is None and len(got):
                selftest = check_oracle.canon(perturbed(got)) != want
        except Exception as e:  # noqa: BLE001 - any error is a wrong result
            wrong[name] = f"compare error: {str(e)[:200]}"
    con.close()
    return wrong, selftest


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    h = (len(s) - 1) * q
    lo = int(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


def untraced_wall(results, workload, seed, stamp):
    """wall_s of untraced runs of this workload with the same stamp: the
    same seed if there is one, else the median over seeds; 0 if none."""
    same = {}
    for f in os.scandir(results):
        if f.name.startswith(f"{workload}-s") and f.name.endswith("-t0.json"):
            r = json.load(open(f.path))
            if all(r["stamp"].get(k) == v for k, v in stamp.items() if k != "seed" and
                   k != "spark_local_dirs"):
                same[r["stamp"]["seed"]] = r["end_to_end"]["wall_s"]
    if not same:
        log("no untraced run with the same stamp: tracing overhead not measured")
        return 0.0
    return same.get(str(seed), median(list(same.values())))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a repository checkout: {need} is missing")

    t_start = time.time()
    cp = build()
    data, gen_s = inputs(a.workload, a.seed)
    t_jvm = time.time()
    manifest = json.load(open(os.path.join(data, "manifest.json")))

    runs = os.path.join(BENCH, ".run")
    os.makedirs(runs, exist_ok=True)
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp", "check"):
        os.makedirs(os.path.join(run_dir, d))
    result_path = os.path.join(run_dir, "result.json")

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # only the heap's limit is fixed: the heap grows with what the run
    # touches, so peak RSS follows the program's memory use
    cmd = [java, f"-Xmx{cfg['heap']}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", cp, "perfbench.Harness",
           "--workload", a.workload, "--data", data, "--run", run_dir,
           "--seed", str(a.seed), "--trace", str(a.trace),
           "--out", result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))

    # one run at a time per input directory: the program keys some
    # scratch paths by dataset, not by run
    shared = "/tmp/graft_export"
    shared_before = set(os.listdir(shared)) if os.path.isdir(shared) else set()
    with open(os.path.join(data, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        rc, mounted = launch(cmd, env, run_dir, timeout=160)
        fcntl.flock(lock, fcntl.LOCK_UN)
    if rc != 0 or not os.path.exists(result_path):
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-4000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"harness exited with {rc}:\n{tail}", 1)

    t_check = time.time()
    res = json.load(open(result_path))
    wrong, selftest = oracle_check(data, run_dir, res["oracle"])
    selftest_ok = selftest is not False

    spans_src = result_path[:-len(".json")] + ".spans.json"
    results = os.path.join(BENCH, ".results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    if os.path.exists(spans_src):
        shutil.move(spans_src, os.path.join(results, f"{tag}.spans.json"))

    # hygiene: what the run left in its own scratch roots, then what is
    # left anywhere after the run directory is removed
    scratch = sum(tree_bytes(os.path.join(run_dir, d))
                  for d in ("tmproot", "tmp", "local", "warehouse", "checkpoints", "idx"))
    shutil.rmtree(run_dir, ignore_errors=True)
    leftover = tree_bytes(run_dir) if os.path.exists(run_dir) else 0
    if not mounted and os.path.isdir(shared):
        leftover += sum(tree_bytes(os.path.join(shared, n))
                        for n in set(os.listdir(shared)) - shared_before)

    samples = res["samples"]
    for s in samples:
        if s["name"] in wrong:
            s["ok"] = False
    failures = res["failures"] + [f"{n}: {why}" for n, why in sorted(wrong.items())]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    checks_ok = all(res["checks"].values())
    correct = failed == 0 and checks_ok and selftest_ok and attempted > 0

    # the pass's work is the summed time of its operations, without the
    # untimed checks between them
    work = sum(s["s"] for s in samples)
    lat = res["latency_s"]
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": work,
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "peak_live_heap_mb": res["peak_live_heap_mb"],
    }
    layers = dict(res["layers"])
    if a.trace:
        uw = untraced_wall(results, a.workload, a.seed, res["stamp"])
        layers["trace.overhead_s"] = work - uw if uw else 0.0
        layers["trace.overhead_frac"] = (work - uw) / uw if uw else 0.0
        sp = os.path.join(results, f"{tag}.spans.json")
        layers["trace.spans"] = len(json.load(open(sp))) if os.path.exists(sp) else 0
    layers["peak_rss_mb"] = res["peak_rss_mb"]
    layers["run.scratch_bytes"] = scratch
    layers["run.leftover_bytes"] = leftover

    timing = {"before_jvm_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
              "after_jvm_s": time.time() - t_check, "setup_s": res["setup_s"],
              "warm_up_s": res["warm_up_s"], "pass_s": res["pass_wall_s"],
              "seconds": a.seconds}
    stamp = dict(res["stamp"], git_commit=git_commit(), workload=a.workload,
                 heap=cfg["heap"], factor=cfg["factor"], rows=manifest["rows"],
                 parquet_bytes=manifest["parquet_bytes"], private_tmp=mounted or "none",
                 loop="closed", clients=1, generation_s=round(gen_s, 3))
    chosen = END_TO_END if not a.trace else PER_LAYER
    source = e2e if not a.trace else layers
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in chosen}
    record = {"stamp": stamp, "timing": timing, "end_to_end": e2e, "per_layer": layers,
              "failures": failures, "checks": res["checks"],
              "oracle_checked": len(res["oracle"]), "oracle_wrong": wrong,
              "selftest_perturbation_caught": selftest_ok, "samples": samples}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"stamp {json.dumps(stamp, sort_keys=True)}")
    for n in failures[:20]:
        print(f"FAILED {n}")
    print(f"checks: oracle {len(res['oracle']) - len(wrong)}/{len(res['oracle'])}, "
          + ", ".join(f"{k}={v}" for k, v in res["checks"].items())
          + f", perturbation caught={selftest_ok}")
    for n, m in metrics.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
