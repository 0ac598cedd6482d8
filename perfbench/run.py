#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload tool-calls --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine (perfbench/build.py), writes the sf0.1-shaped tables
(perfbench/datagen.py) and fills the oracle cache, all under
`.bench_build/`. Each run then starts one JVM that sets the engine up,
runs the workload's ops for `--seconds`, and writes its records; this
script checks every op's result and prints the metrics. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see perfbench/README.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import plan as planmod  # noqa: E402
# `check` and `metrics` import the repo's scripts/oracle_check.py, so they
# are imported only after main() has found the repository around it.

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("pass_s", "s"), ("cpu_s", "s")]
PER_LAYER = [
    ("core.session_s", "s"), ("core.open_s", "s"),
    ("build.s", "s"), ("build.jobs", "count"),
    ("sql.gate_s", "s"), ("sql.rejected", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.idle_slot_s", "s"), ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.failed_tasks", "count"),
    ("index.build_s", "s"), ("index.append_s", "s"), ("index.incr_dedup_s", "s"),
    ("index.read_s", "s"), ("index.files", "count"), ("index.disk_mb_per_input_mb", "ratio"),
    ("kernel.dhash64_us", "us"), ("kernel.audiohash64_us", "us"), ("kernel.decode_us", "us"),
    ("blocks.rdds_held", "count"), ("blocks.cache_mb", "MB"), ("op.self_s", "s"), ("trace.overhead_s", "s"),
]
# cold set-ups per run, each on a fresh JVM; setup_s is their median. A
# third would bring a full evaluation too close to its time budget (README).
SETUPS = 2
SETUP_TIMEOUT_S = 60
JVM_TIMEOUT_S = 150
# traced/untraced pass pairs a traced run times after its warm-up
TRACE_PAIRS = 2
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def java_cmd(classes, run_dir, main_args):
    cp = os.pathsep.join([classes] + build.spark_jars())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the heap the engine's own run configuration (build.sbt) gives it
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    return ["java", "-XX:-UsePerfData", f"-Xmx{heap}", "-Xss8m", *opens, "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness", *main_args]


def run_jvm(cmd, run_dir, timeout):
    """Run the harness JVM inside run_dir; kill it (and wait) on timeout or
    on any interruption. Returns its exit code; output goes to jvm.log."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: harness exceeded {timeout}s, killed", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def ensure_data(work):
    with open(datagen.__file__, "rb") as fh:
        st = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(work, "data", f"sf0.1-{datagen.DATA_SEED}-{st}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        datagen.write(path)
    return path, st


def ensure_meta(work, classes):
    """Registry names and oracle SQL, read from the compiled engine once."""
    with open(os.path.join(classes, ".stamp")) as fh:
        st = fh.read().strip()
    path = os.path.join(work, f"meta-{st}.json")
    if not os.path.exists(path):
        tmp_dir = os.path.join(work, f"meta-run-{os.getpid()}")
        os.makedirs(tmp_dir, exist_ok=True)
        try:
            code = run_jvm(java_cmd(classes, tmp_dir, ["meta", path + ".tmp"]), tmp_dir, 120)
            if code != 0:
                raise SystemExit("perfbench: reading the registry failed\n" +
                                 tail(os.path.join(tmp_dir, "jvm.log")))
            os.replace(path + ".tmp", path)
            for stale in glob.glob(os.path.join(work, "meta-*.json")):
                if stale != path:
                    os.remove(stale)
        finally:
            shutil.rmtree(tmp_dir, ignore_errors=True)
    with open(path) as fh:
        return json.load(fh)


def read_records(paths):
    recs = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                r = json.loads(line)
                recs.setdefault(r["type"], []).append(r)
    return recs


def judge(recs, ops, batches, corpus_texts, oracle_sql, oracle):
    """Mark every op record ok/failed. Returns {op id: reason} of failures."""
    import check
    by_id = {o["id"]: o for o in ops}
    results = {r["op"]: r for r in recs.get("result", [])}
    digests = {}
    reasons = {}
    texts_by_id = dict(enumerate(corpus_texts or []))
    for b in batches:
        texts_by_id.update(zip(b["ids"], b["texts"]))
    verdict = {}
    for rec in recs.get("op", []):
        op = by_id[rec["op"]]
        why = rec["error"]
        if why is None and "digest" in rec:
            first = digests.setdefault(op["id"], rec["digest"])
            if rec["digest"] != first:
                why = "result differs between occurrences"
            elif op["id"] not in verdict:
                sql = oracle_sql.get(op["name"]) if op["kind"] == "registry" else op["sql"]
                verdict[op["id"]] = check.check_query(oracle, sql, results[op["id"]])
            why = why or verdict[op["id"]]
        if why is None and op["kind"] == "ingest":
            why = check.check_ingest(rec, batches[op["cycle"]], texts_by_id)
        rec["failed"] = why is not None
        if why is not None:
            reasons.setdefault(op["id"], why)
    return reasons


def end_to_end(recs, warm_pass):
    import metrics
    setups = [s["setup_s"] for s in recs["setup"]]
    # Every run is timed on the same pass, warm_pass: the passes before it
    # still pay JIT and codegen warm-up, whose share varies from JVM to JVM
    # (it moved the median op latency of tool-calls passes 0-2 by up to
    # 30% between repeats of one seed, against 7% for the warm pass alone).
    # Ops after it, run when the window outlasts it, are checked but not
    # timed, so a faster box does not change what is timed.
    warm = [p for p in recs["pass"] if p["pass"] == warm_pass] or recs["pass"][:1]
    lat = [o["lat_s"] for o in recs["op"] if o["pass"] == warm[0]["pass"]]
    p90, n_beyond, rule = metrics.p90(lat)
    vals = {
        "setup_s": metrics.median(setups),
        "op_p50_s": metrics.percentile(lat, 0.5),
        "op_p90_s": p90,
        "pass_s": metrics.median([p["wall_s"] for p in warm]),
        "cpu_s": metrics.median([p["cpu_s"] for p in warm]),
    }
    notes = {
        "setup_s": f"median of {len(setups)} cold set-ups: " + ", ".join(f"{s:.3f}" for s in setups),
        "op_p50_s": f"n={len(lat)} ops",
        "op_p90_s": f"n={len(lat)} ops, {n_beyond} beyond" +
                    ("" if rule else "; fewer than 10 beyond, so not a BENCHMARK.json metric"),
        "pass_s": f"{len(warm)} warm pass", "cpu_s": f"{len(warm)} warm pass",
    }
    return vals, notes


def overhead_pairs(passes, warm_pass):
    """traced minus untraced wall time of each complete pass pair
    (see plan.traced_passes)."""
    wall = {p["pass"]: p for p in passes}
    diffs = []
    for a in range(warm_pass, max(wall, default=0), 2):
        pair = [wall.get(a), wall.get(a + 1)]
        if None not in pair and pair[0]["traced"] != pair[1]["traced"]:
            t, u = sorted(pair, key=lambda p: not p["traced"])
            diffs.append(t["wall_s"] - u["wall_s"])
    return diffs


def per_layer(recs, cores, corpus_mb, warm_pass):
    """Per-layer figures per traced pass (see README for each definition)."""
    import metrics
    passes = recs.get("pass", [])
    traced_passes = {p["pass"] for p in passes if p["traced"]}
    n = max(1, len(traced_passes))
    ops = [o for o in recs["op"] if o["pass"] in traced_passes]
    seqs = {o["seq"] for o in ops}
    v = {name: 0.0 for name, _ in PER_LAYER}
    spans_by_seq = {}
    for s in recs.get("span", []):
        if s["seq"] in seqs:
            spans_by_seq.setdefault(s["seq"], []).append(s)
    exec_wall = 0.0
    for spans in spans_by_seq.values():
        for span, self_s in metrics.self_times(spans):
            key = metrics.LAYER_OF_SPAN.get(span["name"])
            if key is None:
                continue
            if span["name"].startswith("catalyst."):
                v[key] += span["end"] - span["start"]
            else:
                v[key] += self_s
            if span["name"] == "exec":
                exec_wall += span["end"] - span["start"]
    exec_run = 0.0
    for g in recs.get("group", []):
        seq, phase = g["group"].split("|", 1)
        if int(seq) not in seqs:
            continue
        for f in ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            v[f"exec.{f}"] += g[f]
        if phase == "build":
            v["build.jobs"] += g["jobs"]
        if phase == "exec":
            exec_run += g["run_s"]
    v["exec.idle_slot_s"] = cores * exec_wall - exec_run
    v["sql.rejected"] = sum(1 for o in ops if o.get("rejected"))
    for k in list(v):
        v[k] /= n
    v["core.session_s"] = metrics.median([s["session_s"] for s in recs["setup"]])
    v["core.open_s"] = metrics.median([s["open_s"] for s in recs["setup"]])
    v["index.build_s"] = metrics.median([s["index_s"] for s in recs["setup"]])
    ingest = [o for o in recs["op"] if "index_files" in o]
    if ingest:
        last = max(ingest, key=lambda o: o["seq"])
        v["index.files"] = float(last["index_files"])
        v["index.disk_mb_per_input_mb"] = last["index_mb"] / (corpus_mb + sum(o["input_mb"] for o in ingest))
    v["blocks.rdds_held"] = float(max((o.get("rdds_held", 0) for o in ops), default=0))
    v["blocks.cache_mb"] = metrics.median([p["cache_mb"] for p in passes if p["pass"] >= warm_pass])
    for k in recs.get("kernel", []):
        v[k["name"]] = k["us"]
    diffs = overhead_pairs(passes, warm_pass)
    if diffs:
        v["trace.overhead_s"] = metrics.median(diffs)
    return v, diffs


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=planmod.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sample", choices=("default", "all"), default="default",
                    help="'all' runs every registry query of the workload's class once: "
                         "the full-coverage result check, not a timed run")
    args = ap.parse_args(argv)
    cores = min(4, os.cpu_count() or 1)
    warm_pass = planmod.WARM_PASS[args.workload]

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print(f"perfbench: engine sources not found under {ROOT}/src/main/scala", file=sys.stderr)
        return 2
    load_start = loadavg()
    import check
    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classes = build.ensure_built(work)
    data_dir, data_stamp = ensure_data(work)
    meta = ensure_meta(work, classes)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)
    oracle = check.Oracle(data_dir, os.path.join(work, "oracle-cache.json"), data_stamp)
    # Fill the cache for every registry query a default run can meet, so
    # only the first run in a checkout pays for the slow oracle queries.
    for w in planmod.WORKLOADS:
        for q in planmod.registry_ops(w, meta["queries"]):
            if q in meta["oracle_sql"]:
                oracle.digest(meta["oracle_sql"][q])
    oracle.save()
    try:
        corpus_texts = None
        if args.workload == "corpus-batch":
            import pandas as pd
            docs = pd.read_parquet(os.path.join(data_dir, "documents.parquet"))
            corpus_texts = docs.sort_values("doc_id")["text"].tolist()
        ops, passes, batches = planmod.make(args.workload, args.seed, meta["queries"],
                                            corpus_texts, args.sample)
        batches_file = ""
        if batches:
            batches_file = os.path.join(run_dir, "batches.jsonl")
            with open(batches_file, "w") as fh:
                for b in batches:
                    fh.write(json.dumps({"ids": b["ids"], "texts": b["texts"]}) + "\n")
        plan_file = os.path.join(run_dir, "plan.json")
        with open(plan_file, "w") as fh:
            json.dump({"workload": args.workload, "cores": cores,
                       "seconds": args.seconds, "trace": bool(args.trace), "data_dir": data_dir,
                       "scratch_dir": run_dir, "ops": ops, "passes": passes,
                       "traced": planmod.traced_passes(len(passes), warm_pass) if args.trace
                                 else [False] * len(passes),
                       # a traced run adds traced/untraced pairs from warm_pass on
                       "min_passes": 1 if args.sample == "all" else
                                     warm_pass + (2 * TRACE_PAIRS if args.trace else 1),
                       "batches": batches_file,
                       "kernel_assets": "fixture" if args.workload == "tool-calls" else "corpus"}, fh)
        # set-ups 0 .. SETUPS-2 each on a JVM of their own; the last one on
        # the JVM that then runs the ops
        outs = [os.path.join(run_dir, f"records-{i}.jsonl") for i in range(SETUPS)]
        run_timeout = JVM_TIMEOUT_S if args.sample == "default" else 1800  # all: one long pass
        for i, out_file in enumerate(outs):
            mode, timeout = ("setup", SETUP_TIMEOUT_S) if i < SETUPS - 1 else ("run", run_timeout)
            code = run_jvm(java_cmd(classes, run_dir, [mode, plan_file, out_file, str(i)]), run_dir, timeout)
            if code != 0:
                print(f"perfbench: harness {mode} {i} failed (exit {code})\n" +
                      tail(os.path.join(run_dir, "jvm.log")), file=sys.stderr)
                return 1
        load_end = loadavg()
        recs = read_records(outs)
        if not recs.get("op") or not recs.get("pass"):
            print("perfbench: the run completed no pass\n" + tail(os.path.join(run_dir, "jvm.log")),
                  file=sys.stderr)
            return 1
        reasons = judge(recs, ops, batches, corpus_texts, meta["oracle_sql"], oracle)
        attempted = len(recs["op"])
        failed = sum(1 for o in recs["op"] if o["failed"])
        env = recs["env"][0]
        print(f"perfbench workload={args.workload} seed={args.seed} k={env['k']} nproc={env['nproc']} "
              f"loadavg=[{load_start}, {load_end}] spin_s=[{env['spin_start']:.3f}, {env['spin_end']:.3f}] "
              f"ops={attempted} passes={env['passes_completed']} window_s={env['measured_s']:.1f} "
              f"trace={args.trace}")
        if args.trace:
            corpus_mb = 0.0
            if corpus_texts:
                corpus_mb = sum(len(t.encode()) for t in corpus_texts) / 1e6
            vals, diffs = per_layer(recs, cores, corpus_mb, warm_pass)
            units = PER_LAYER
            for name, unit in units:
                print(f"  {name:28s} {vals[name]:.6g} {unit}")
            print(f"  trace.overhead_s is the median of {len(diffs)} traced-minus-untraced pass pairs: " +
                  ", ".join(f"{d:.3f}" for d in diffs))
        else:
            vals, notes = end_to_end(recs, warm_pass)
            units = END_TO_END
            for name, unit in units + [("op_p90_s", "s")]:
                print(f"  {name:28s} {vals[name]:.6g} {unit}  ({notes[name]})")
        print(f"  {'failed_frac':28s} {failed / attempted:.6g} ratio  ({failed} of {attempted} ops)")
        for op_id, why in sorted(reasons.items()):
            print(f"  FAILED {op_id}: {why}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": vals[n], "unit": u} for n, u in units}}))
        return 0
    finally:
        oracle.close()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
