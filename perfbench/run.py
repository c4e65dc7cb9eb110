#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload curation|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds graft and the harness
from source (`perfbench/build.py`), generates the workload's inputs from
the seed out of process (`perfbench/gen.py`), runs the harness JVM with
the `javaOptions` of `build.sbt`, checks the outputs (`perfbench/checks.py`)
and prints every metric by name with its unit, then one JSON summary as
the last line of stdout. With `--trace 0` the summary carries the
end-to-end metrics; with `--trace 1` the per-layer metrics of a traced
run, whose spans land in `.bench_build/history/<workload>-spans.json`.
"""
import argparse
import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

def source(repo):
    """The sf0.1 tables' directory, as the repository's TESTDATA.md names it."""
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(os.path.join(repo, "TESTDATA.md")).read(),
                  re.M)
    if not m:
        fail("TESTDATA.md names no sf 0.1 directory")
    return m.group(1).rstrip("/")


WORKLOADS = {
    "curation": {
        "ops": ["q_text_quality", "q_dedup_minhash", "q_dedup_substrings",
                "q_simjoin_prefix", "q_sim_kmeans"],
        # nominal timed pass on a 4-core host; the window runs
        # ceil(seconds / pass_s) passes whatever the pace
        "pass_s": 6.5,
    },
    "ingest": {
        # seconds between arrival files of 32 docs: 128 docs/s, at most
        # half the capacity measured on a 4-core host (perfbench/README.md)
        "interval": 0.25,
        # single-file batches of the cold cycle: batches 0-3, through the
        # program's first maintenance fold
        "cold": 4,
        # per-source admission quota per micro-batch: high enough that the
        # quota never binds, so admissions do not depend on the batch split
        "quota": 1000000,
    },
}
# streaming metrics a closed-loop workload has none of
NO_STREAM = ["streaming.batches", "streaming.rows_per_batch", "streaming.add_batch_share",
             "streaming.planning_share", "streaming.offsets_share", "streaming.commit_share",
             "streaming.fold_probe_ratio", "streaming.backlog_end", "streaming.admit_ratio",
             "sources.write_amp", "sources.space_amp"]
SETUPS = 3
# Spark's local cores: all but one, which the JVM's JIT compiler and GC
# threads use (perfbench/README.md: with every core taken, the VM's steal
# and the compile storm tripled the cold-start spread between runs)
CPUS = max(1, os.cpu_count() - 1)
TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def tmp_stores(app_ids):
    """graft's served stores under /tmp/graft_* keyed by these applications
    (either the raw id or the id with non-alphanumerics replaced)."""
    keys = set(app_ids) | {"".join(c if c.isalnum() else "_" for c in a) for a in app_ids}
    return [p for k in keys for p in glob.glob(f"/tmp/graft_*/{k}")]


def run_jvm(repo, root, args, extra):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
               SPARK_LOCAL_DIRS=os.path.join(root, "local"))
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    cmd = (["java"] + build.java_options(repo) +
           # -UsePerfData: no hsperfdata file outside the checkout
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={root}/tmp",
            f"-Dspark.sql.warehouse.dir={root}/warehouse",
            "-cp", build.classpath(repo), "perfbench.Harness",
            "--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(CPUS), "--setups", str(SETUPS),
            "--root", root, "--data", os.path.join(root, "data"),
            "--out", os.path.join(root, "raw.json")] + extra)
    log = os.path.join(root, "jvm.log")
    t = time.time()
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(os.path.join(root, "raw.json")):
        tail = open(log, errors="replace").read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {p.returncode}")
    raw = json.load(open(os.path.join(root, "raw.json")))
    raw["jvm_s"] = time.time() - t
    return raw


def closed(args, repo, root, spec):
    raw = run_jvm(repo, root, args, ["--ops", ",".join(spec["ops"]),
                                     "--pass_s", str(spec["pass_s"])])
    bad = {k: f"error: {v}" for k, v in raw["errors"].items()}
    missing = [op for op in spec["ops"] if op not in raw["oracle"]]
    if missing:
        fail(f"ops without an oracle: {missing}")
    bad.update({k: v for k, v in checks.compare_ops(
        os.path.join(root, "data"), os.path.join(root, "out"), raw["oracle"]).items()
        if k not in bad})
    attempted = len(raw["ops"])
    # an op with a wrong result fails in every pass it ran
    failed = sum(1 for o in raw["ops"] if not o["ok"] or o["op"] in bad)
    e2e, info = metrics.closed_end_to_end(raw)
    layers = None
    if args.trace:
        layers, info["trace_sum_err_ms"] = metrics.closed_layers(raw)
        raw["spans"] = metrics.closed_spans(raw)
        # the served stores the ops built under /tmp; the closed loop has
        # no stream and writes no store of its own
        layers["sources.store_bytes"] = sum(tree_bytes(p) for p in tmp_stores(raw["app_ids"]))
        layers.update({k: 0.0 for k in NO_STREAM})
    return raw, e2e, layers, info, attempted, failed, bad


def ingest(args, repo, root, spec):
    raw = run_jvm(repo, root, args, ["--interval", str(spec["interval"]),
                                     "--cold", str(spec["cold"]),
                                     "--quota", str(spec["quota"])])
    if raw.get("stream_error"):
        fail(f"stream failed: {raw['stream_error']}")
    cp = raw["checkpoint"]
    file_batch = {}
    for f in glob.glob(os.path.join(cp, "sources", "0", "*")):
        for line in open(f):
            line = line.strip()
            if line.startswith("{"):
                e = json.loads(line)
                file_batch[os.path.basename(e["path"])] = e["batchId"]
    commits = {int(os.path.basename(f)): os.stat(f).st_mtime_ns / 1e6
               for f in glob.glob(os.path.join(cp, "commits", "*")) if os.path.basename(f).isdigit()}
    starts = {int(os.path.basename(f)): os.stat(f).st_mtime_ns / 1e6
              for f in glob.glob(os.path.join(cp, "offsets", "*")) if os.path.basename(f).isdigit()}
    batch_ms = {b: commits[b] - starts[b] for b in commits if b in starts}
    arrivals = metrics.ingest_arrivals(raw, file_batch, commits)

    import duckdb
    con = duckdb.connect()
    data = os.path.join(root, "data")
    corpus = con.execute(f"SELECT doc_id, text FROM '{data}/corpus.parquet'").fetchall()
    admitted_glob = os.path.join(raw["store"], "admitted", "*", "*.parquet")
    admitted = con.execute(f"SELECT doc_id, text FROM read_parquet('{admitted_glob}')"
                           ).fetchall() if glob.glob(admitted_glob) else []
    kinds = json.load(open(os.path.join(data, "arrivals.json")))
    violations = checks.check_ingest(corpus, admitted, kinds)
    bad = {str(d): r for d, r in violations}
    uncommitted = [i for i, _, c in arrivals if c is None]
    if uncommitted:
        bad["uncommitted"] = f"{len(uncommitted)} arrivals never committed"
    attempted = len(arrivals)
    failed = min(attempted, len(violations) + len(uncommitted))
    e2e, info = metrics.ingest_end_to_end(raw, arrivals, batch_ms, starts)
    # how late the generator landed files behind their schedule
    info["generator_late_ms"] = max(l - d for d, l in zip(raw["scheduled_ms"], raw["landed_ms"]))
    sizes = {}
    for b in file_batch.values():
        sizes[b] = sizes.get(b, 0) + 1
    info["batches"] = " ".join(f"{b}:{batch_ms[b]:.0f}ms/{sizes.get(b, 0)}f"
                               for b in sorted(batch_ms))
    layers = None
    if args.trace:
        window = [os.path.join(root, "landing", n) for n in raw["arrivals"][raw["cold"]:]]
        arriving = con.execute("SELECT sum(strlen(text)) FROM read_parquet(?)",
                               [window]).fetchone()[0]
        live = sum(len(t.encode()) for _, t in corpus) + sum(len(t.encode()) for _, t in admitted)
        layers, info["trace_sum_err_ms"] = metrics.ingest_layers(
            raw, arrivals, batch_ms, tree_bytes(raw["store"]), arriving, live, len(admitted),
            len(kinds))
        raw["spans"] = metrics.ingest_spans(raw, arrivals, file_batch)
    return raw, e2e, layers, info, attempted, failed, bad


UNITS = {"_s": "s", "_mb": "MB", "_bytes": "bytes", "_frac": "ratio", "_share": "ratio",
         "_ratio": "ratio", "_amp": "ratio", "_ms": "ms", "_est": "ms"}


def unit(name, declared):
    if name in declared:
        return declared[name]
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "build.sbt")) or \
            not os.path.isdir(os.path.join(repo, "src", "main", "scala")):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala)")
    src = source(repo)
    if not os.path.isdir(src):
        fail(f"source tables {src} not found")
    bench = json.load(open(os.path.join(repo, "BENCHMARK.json")))
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    t = time.time()
    build_s = build.build(repo)
    root = os.path.join(repo, build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    spec = WORKLOADS[args.workload]
    n_files = gen.ingest_files(args.seconds, spec["interval"], spec["cold"]) \
        if args.workload == "ingest" else None
    try:
        gen.generate(args.workload, src, os.path.join(root, "data"), args.seed, n_files)
        gen_s = time.time() - t - build_s
        run = ingest if args.workload == "ingest" else closed
        t = time.time()
        raw, e2e, layers, info, attempted, failed, bad = run(args, repo, root, spec)
        check_s = time.time() - t - raw["jvm_s"]
    finally:
        app_ids = []
        try:
            app_ids = json.load(open(os.path.join(root, "raw.json")))["app_ids"]
        except (OSError, ValueError, KeyError):
            pass
        for p in tmp_stores(app_ids):
            shutil.rmtree(p, ignore_errors=True)
        left = sum(tree_bytes(p) for p in tmp_stores(app_ids))
        shutil.rmtree(root, ignore_errors=True)

    # untraced runs leave their end-to-end figures in the checkout; a
    # traced run reports its own against their median as the overhead
    hist_dir = os.path.join(repo, build.BUILD, "history")
    os.makedirs(hist_dir, exist_ok=True)
    hist = os.path.join(hist_dir, f"{args.workload}.jsonl")
    if args.trace:
        layers["fail_ratio"] = failed / attempted
        past = [json.loads(line) for line in open(hist)] if os.path.exists(hist) else []
        overhead = {k: v / statistics.median(p[k] for p in past) - 1
                    for k, v in e2e.items() if past}
        layers["trace.overhead_frac"] = overhead.get("pass_s", 0.0)
        with open(os.path.join(hist_dir, f"{args.workload}-spans.json"), "w") as fh:
            json.dump(raw["spans"], fh)
    else:
        with open(hist, "a") as fh:
            fh.write(json.dumps(e2e) + "\n")
        with open(os.path.join(hist_dir, f"{args.workload}-last.json"), "w") as fh:
            json.dump(raw, fh)

    jf = raw["jiffies"]
    wall_s = raw["window_ms"] / 1000
    if jf[0] >= 0 and wall_s > 0:
        print(f"host.others_cores {((jf[3] - jf[0]) - (jf[5] - jf[2])) / 100 / wall_s:.3f} cores")
        print(f"host.steal_cores {(jf[4] - jf[1]) / 100 / wall_s:.3f} cores")
    print(f"run.build_s {build_s:.3f} s")
    print(f"run.gen_s {gen_s:.3f} s")
    print(f"run.jvm_s {raw['jvm_s']:.3f} s")
    print(f"run.check_s {check_s:.3f} s")
    print(f"run.tmp_left_bytes {left} bytes")
    for k, v in info.items():
        print(f"run.{k} {v}" + ("" if isinstance(v, str) else f" {unit(k, declared)}"))
    for name, reason in sorted(bad.items()):
        print(f"fail {name}: {reason}", file=sys.stderr)
    if args.trace:
        for k in sorted(e2e):
            print(f"traced.{k} {e2e[k]:.6g} {unit(k, declared)}")
        if not past:
            print("trace.overhead: no untraced run of this workload in this checkout yet")
        for k in sorted(overhead):
            print(f"trace.overhead.{k} {overhead[k]:.4f} ratio")
    m = layers if args.trace else e2e
    wanted = [x["name"] for x in (bench["per_layer"] if args.trace else bench["end_to_end"])]
    missing = [k for k in wanted if k not in m]
    if missing:
        fail(f"metrics not measured: {missing}")
    for k in sorted(m):
        print(f"{k} {m[k]:.6g} {unit(k, declared)}")
    summary = {"correct": not bad, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": m[k], "unit": unit(k, declared)} for k in wanted}}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
