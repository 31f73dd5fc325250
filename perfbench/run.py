"""Flow benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness
(perfbench/build.py), generates the workload's inputs from --seed
(perfbench/gen.py), runs one JVM that drives the workload for --seconds
(perfbench/src/perfbench/FlowBench.scala), checks every output outside
the measured window (perfbench/check.py) and prints one JSON result as
the last line of stdout. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("upload_browse", "registry_heavy")
# Set-up repetitions: a reload costs about 8 s, a registry set-up (cache
# reset and table resolution) about 0.3 s, so the latter affords more.
SETUP_REPS = {"upload_browse": 3, "registry_heavy": 9}
JVM_TIMEOUT_S = 165
# The registry slice: the heaviest query, materialized (sf0.1, 4 cores),
# of five of the fourteen registry modules, picked to span the web
# codecs, market-basket pair expansion, graph iteration, set-similarity
# dedup and a global window. The run budget leaves no room for the other
# nine. q88_profile is left out: its rounded mean disagrees with its
# DuckDB oracle on about one seed in six (README.md, "Known defect").
REGISTRY_QUERIES = [
    "q306_crawl_spine", "q128_basket_pairs", "q100_pagerank",
    "q75_jaccard_prefix", "q224_weighted_median"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_sample():
    """(steal jiffies, total jiffies, load1) for contamination labels."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return v[7], sum(v), load1
    except (OSError, ValueError, IndexError):
        return 0, 0, -1.0


def inputs(workload, seed, work, seconds):
    """Generate the workload's inputs; returns (harness config, expected
    run counters)."""
    cfg = {"workload": workload, "seconds": seconds, "cores": cores(),
           "work": work, "setup_reps": SETUP_REPS[workload]}
    if workload == "registry_heavy":
        gen.registry_tables(seed, os.path.join(work, "tables"))
        gen.registry_tables(seed, os.path.join(work, "warm_tables"),
                            gen.WARM_SCALE)
        cfg.update(queries=REGISTRY_QUERIES, warm_tables_dir=os.path.join(
            work, "warm_tables"), tables_dir=os.path.join(
            work, "tables"), tables=sorted(gen.REG_ROWS), min_passes=1)
        return cfg, {}
    env, status, vocab = gen.bronze(seed)
    raw = os.path.join(work, "raw_data.parquet")
    gen.write_bronze_parquet(env[:gen.RELOAD_ROWS], raw)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    files = []
    for k, part in enumerate(gen.split_uploads(env[gen.RELOAD_ROWS:])):
        files.append(os.path.join(staged, f"upload-{k:03d}.jsonl"))
        gen.write_bronze_jsonl(part, files[-1])
    cfg.update(raw_data=raw, upload_files=files,
               file_rows=len(env[gen.RELOAD_ROWS:]) // len(files),
               requests=gen.sessions(seed, vocab, len(files)),
               warm_files=2, warm_pages=gen.PAGES_PER_FILE,
               pages_per_file=gen.PAGES_PER_FILE, min_files=3)
    per = cfg["file_rows"]
    truth = {"reload": gen.expected(status[:gen.RELOAD_ROWS]),
             "loaded": gen.loaded_rows(env, status),
             "loaded_after_files": [
                 status[:gen.RELOAD_ROWS + k * per].count("loaded")
                 for k in range(len(files) + 1)]}
    return cfg, truth


def run_jvm(root, classes, cfg, work):
    cfg_path = os.path.join(work, "config.json")
    res_path = os.path.join(work, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(root), "*")
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.FlowBench", cfg_path, res_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(res_path):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    with open(res_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        cfg, expected = inputs(a.workload, a.seed, work, a.seconds)
        cfg["trace"] = bool(a.trace)
        h0 = host_sample()
        t1 = time.time()
        res = run_jvm(root, classes, cfg, work)
        t2 = time.time()
        h1 = host_sample()
        verdict = check.check(a.workload, res, expected, cfg)
        rec = metrics.record(a.workload, res, cfg, verdict)
        rec["phases_s"] = {"inputs": round(t1 - t0, 3),
                           "jvm": round(t2 - t1, 3),
                           "check": round(time.time() - t2, 3)}
        rec["contamination"] = {
            "steal_pct": round(100.0 * (h1[0] - h0[0]) / (h1[1] - h0[1]), 3)
            if h1[1] > h0[1] else 0.0,
            "load1_before": h0[2], "load1_after": h1[2],
            "jvm_gc_s": res["gc_s"]}
        rec["seed"], rec["trace"] = a.seed, a.trace
        os.makedirs(os.path.join(base, "records"), exist_ok=True)
        with open(os.path.join(base, "records",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as f:
            json.dump(rec, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in metrics.summary(rec):
        print(line)
    keys = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    out = {"correct": rec["correct"], "attempted": rec["attempted"],
           "failed": rec["failed"],
           "metrics": {k: {"value": rec["metrics"][k], "unit": u}
                       for k, u in keys.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
